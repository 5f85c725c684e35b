package graft.index

import java.io.{DataInputStream, DataOutputStream}
import scala.collection.mutable
import scala.util.Random

import graft.expressions.VectorMath

/**
 * A pure-JVM HNSW (Hierarchical Navigable Small World) graph — the engine's
 * ANN index structure, re-implemented from the published algorithm
 * (Malkov & Yashunin, "Efficient and robust approximate nearest neighbor
 * search using HNSW graphs", IEEE TPAMI 2018).
 *
 * Plays the role the vendored usearch `index_dense_gt` plays in the
 * reference (/root/reference/src/hnsw/hnsw_index.hpp:30-45): keys are table
 * row ids, values are FLOAT vectors, and the supported metrics are exactly
 * the reference's exposed set {l2sq, cosine, ip}
 * (/root/reference/src/hnsw/hnsw_index.cpp:262-275). Parameter names and
 * defaults (M=16, M0=2M, efConstruction=128, efSearch=64) follow the
 * reference's option surface (hnsw_index.cpp:198-217).
 *
 * A graph is append-only: it has no delete. A written graph is an immutable
 * segment file, so the index records deletes as catalog tombstones next to
 * its segments ([[IndexCatalog.tombstones]]), search drops them, and
 * `Hnsw.compactIndex` rebuilds segments without them — the reference's
 * delete-then-`PRAGMA hnsw_compact_index` contract (README.md:67-69).
 *
 * Batch build, multi-reader. [[addAll]] inserts in batches on a fixed
 * schedule — prefix doubling (1, 2, 4, …) capped at [[HnswGraph.MaxBatchFraction]]
 * of the graph being built — and spreads each batch over up to `threads`
 * threads, the way the reference's N construction threads share one usearch
 * graph (hnsw_index_physical_create.cpp:235-247), but deterministic: within
 * a batch every new node searches the graph as it stood when the batch
 * began, so the written graph is the same for any thread count
 * ([[insertBatch]]). `add` is a batch of one, the paper's sequential insert.
 * Calls that insert must not overlap each other or a search; searches on a
 * graph that is no longer being mutated may run concurrently. In the Spark
 * engine each build task builds one graph per partition inside
 * `mapPartitions`, and served graphs are immutable artifacts — so no locking
 * is needed (unlike the reference's StorageLock, hnsw_index.cpp:440-478).
 */
final class HnswGraph(
    val dim: Int,
    val metric: String,
    val m: Int = 16,
    val m0: Int = 32,
    val efConstruction: Int = 128,
    seed: Long = 42L) extends Serializable {

  import HnswGraph._

  require(dim > 0, "vector dimension must be positive")
  require(MetricNames.contains(metric), s"HNSW index 'metric' must be one of: ${MetricNames.mkString(", ")}")
  require(m >= 2, "HNSW index 'M' must be at least 2")
  require(m0 >= 2, "HNSW index 'M0' must be at least 2")
  require(efConstruction >= 1, "HNSW index 'ef_construction' must be at least 1")

  // Level multiplier from the paper: mL = 1 / ln(M).
  private val levelMult = 1.0 / math.log(m.toDouble)
  private val rng = new Random(seed)

  // Node storage (node id = insertion position).
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val nodeLevels = mutable.ArrayBuffer.empty[Int]
  // links(node)(level) = growable adjacency list.
  private val links = mutable.ArrayBuffer.empty[Array[IntBuf]]
  private val keyToNode = mutable.LongMap.empty[Int]

  private var entryPoint: Int = -1
  private var topLevel: Int = -1

  def size: Int = keys.length
  def maxLevel: Int = topLevel
  def contains(key: Long): Boolean = keyToNode.contains(key)

  // Fixed dispatch code: a per-call string match on the metric name costs
  // more than the distance loop itself at build rates.
  private val metricCode: Int = metric match {
    case "l2sq" => 0
    case "cosine" => 1
    case "ip" => 2
  }

  @inline private def dist(a: Array[Float], b: Array[Float]): Double = metricCode match {
    case 0 => VectorMath.l2Squared(a, b)
    case 1 => VectorMath.cosineDistance(a, b)
    case _ => VectorMath.negativeDot(a, b)
  }

  @inline private def distTo(node: Int, q: Array[Float]): Double = dist(vecs(node), q)

  private def capAt(level: Int): Int = if (level == 0) m0 else m

  /** Insert a (rowid key, vector) pair; a key already present is rejected.
    * A batch of one: the sequential insert of the paper. */
  def add(key: Long, vec: Array[Float]): Unit = addAll(Array(key), Array(vec))

  /**
   * Insert `newKeys(i)` → `newVecs(i)` in order, in batches of a fixed
   * schedule ([[HnswGraph.batchSize]]), each built on up to `threads`
   * threads: the calling thread and daemon threads of a shared pool
   * ([[HnswGraph.parallelFor]]). The graph is the same for any `threads`.
   * A batch is checked (dimension, duplicate keys) before any of it is
   * inserted; the batches before a failing one stay inserted.
   */
  def addAll(newKeys: Array[Long], newVecs: Array[Array[Float]], threads: Int = 1): Unit = {
    require(newKeys.length == newVecs.length,
      s"${newKeys.length} keys for ${newVecs.length} vectors")
    var from = 0
    while (from < newKeys.length) {
      val n = batchSize(size, newKeys.length - from, size + newKeys.length - from)
      insertBatch(newKeys, newVecs, from, n, threads)
      from += n
    }
  }

  /**
   * Insert `newKeys`/`newVecs` [from, from + n) as one batch — the
   * deterministic batch insertion of ParlayANN (Manohar et al., PPoPP 2024):
   *  1. In input order, each new node draws its level from the seeded RNG
   *     and is appended with empty adjacency.
   *  2. In parallel, each new node descends and beam-searches the graph as
   *     it stood when the batch began (no old node links to a new one yet)
   *     and keeps the heuristic's neighbours as its own adjacency.
   *  3. The reverse edges are grouped by (target, level), sources ascending.
   *     In parallel, each target appends its group and, when over the level
   *     cap, is pruned by [[shrink]].
   * Each parallel step reads only the frozen graph and writes only its own
   * node's (or target's) adjacency, so the graph does not depend on the
   * thread count. An empty graph takes a batch of one (the schedule's first),
   * which becomes the entry point.
   */
  private def insertBatch(newKeys: Array[Long], newVecs: Array[Array[Float]], from: Int,
      n: Int, threads: Int): Unit = {
    val inBatch = if (n > 1) new mutable.LongMap[Unit](n) else null
    var j = from
    while (j < from + n) {
      val key = newKeys(j)
      require(newVecs(j).length == dim,
        s"HNSW index vector dimension mismatch: expected $dim, got ${newVecs(j).length}")
      if (keyToNode.contains(key) || (inBatch != null && inBatch.contains(key)))
        throw new IllegalArgumentException(s"duplicate key $key in HNSW index")
      if (inBatch != null) inBatch(key) = ()
      j += 1
    }
    val first = size
    val (ep0, top0) = (entryPoint, topLevel)
    j = from
    while (j < from + n) {
      val level = (-math.log(rng.nextDouble()) * levelMult).toInt
      keyToNode(newKeys(j)) = keys.length
      keys += newKeys(j)
      vecs += newVecs(j)
      nodeLevels += level
      links += Array.fill(level + 1)(new IntBuf(capAt(0) min 8))
      j += 1
    }

    if (ep0 >= 0) parallelFor(n, threads) { i =>
      val node = first + i
      val vec = vecs(node)
      val level = nodeLevels(node)
      var ep = ep0
      // Greedy descent through levels above the insertion level.
      var lc = top0
      while (lc > level) {
        ep = greedyClosest(vec, ep, lc)
        lc -= 1
      }
      // Beam search + select at each level from min(top, level) down to 0.
      lc = math.min(top0, level)
      var eps = Array(ep)
      while (lc >= 0) {
        val (foundD, foundN) = searchLayer(vec, eps, efConstruction, lc)
        links(node)(lc).reset(selectNeighbors(vec, foundD, foundN, capAt(lc)))
        eps = foundN
        lc -= 1
      }
    }

    // Reverse edges keyed (target << 8 | level); levels stay below 64.
    val reverse = mutable.LongMap.empty[IntBuf]
    var node = first
    while (node < first + n) {
      var lc = math.min(top0, nodeLevels(node))
      while (lc >= 0) {
        val nbs = links(node)(lc)
        var i = 0
        while (i < nbs.size) {
          reverse.getOrElseUpdate(nbs(i).toLong << 8 | lc, new IntBuf(4)).add(node)
          i += 1
        }
        lc -= 1
      }
      node += 1
    }
    val groups = reverse.toArray
    parallelFor(groups.length, threads) { g =>
      val (key, sources) = groups(g)
      val target = (key >>> 8).toInt
      val level = (key & 0xff).toInt
      val back = links(target)(level)
      var i = 0
      while (i < sources.size) { back.add(sources(i)); i += 1 }
      if (back.size > capAt(level)) shrink(target, level)
    }

    node = first
    while (node < first + n) {
      if (nodeLevels(node) > topLevel) { topLevel = nodeLevels(node); entryPoint = node }
      node += 1
    }
  }

  /** Greedy single-entry descent used above the target level. */
  private def greedyClosest(q: Array[Float], start: Int, level: Int): Int = {
    var cur = start
    var curDist = distTo(cur, q)
    var changed = true
    while (changed) {
      changed = false
      val nbs = links(cur)(level)
      var i = 0
      while (i < nbs.size) {
        val cand = nbs(i)
        val d = distTo(cand, q)
        if (d < curDist) { curDist = d; cur = cand; changed = true }
        i += 1
      }
    }
    cur
  }

  /**
   * Beam search at one level: returns up to `ef` nearest (dists, nodes)
   * parallel arrays, sorted ascending by distance. Primitive binary heaps
   * and an epoch-stamped visited array, reused per thread
   * ([[HnswGraph.Scratch]]) — the hot path of both build and search; no
   * boxing, no per-call allocation beyond the result.
   *
   * `allowed` (null = every node) bounds what enters the result: the
   * traversal still expands a disallowed node closer than the ef-th allowed
   * result, so a filter never cuts the graph's paths — the
   * predicate-agnostic filtered search of ACORN (Patel et al., SIGMOD 2024).
   */
  private def searchLayer(q: Array[Float], eps: Array[Int], ef: Int, level: Int,
      allowed: java.util.BitSet = null): (Array[Double], Array[Int]) = {
    val scratch = HnswGraph.scratch.get()
    scratch.begin(size)
    val candidates = scratch.candidates
    val results = scratch.results // root = worst kept
    var i = 0
    while (i < eps.length) {
      val ep = eps(i)
      if (scratch.visit(ep)) {
        val d = distTo(ep, q)
        candidates.push(d, ep)
        if (allowed == null || allowed.get(ep)) {
          results.push(d, ep)
          if (results.size > ef) results.pop()
        }
      }
      i += 1
    }
    var done = false
    while (!done && candidates.size > 0) {
      val cd = candidates.topDist
      val c = candidates.topNode
      candidates.pop()
      if (cd > results.topDist && results.size >= ef) {
        done = true // all remaining candidates are farther
      } else {
        val nbs = links(c)(level)
        var j = 0
        while (j < nbs.size) {
          val nb = nbs(j)
          if (scratch.visit(nb)) {
            val d = distTo(nb, q)
            if (results.size < ef || d < results.topDist) {
              candidates.push(d, nb)
              if (allowed == null || allowed.get(nb)) {
                results.push(d, nb)
                if (results.size > ef) results.pop()
              }
            }
          }
          j += 1
        }
      }
    }
    results.drainSortedAsc()
  }

  /**
   * Neighbor selection heuristic from the paper (Algorithm 4): keep a
   * candidate only if it is closer to the query than to every already-kept
   * neighbor — yields diverse edges and navigable graphs. `cands` arrives
   * as distance-ascending parallel arrays.
   */
  private def selectNeighbors(q: Array[Float], dists: Array[Double], nodes: Array[Int], k: Int): Array[Int] = {
    if (nodes.length <= k) return nodes
    val out = new IntBuf(k)
    var i = 0
    while (i < nodes.length && out.size < k) {
      val d = dists(i)
      val c = nodes(i)
      var good = true
      var j = 0
      while (good && j < out.size) {
        if (dist(vecs(c), vecs(out(j))) < d) good = false
        j += 1
      }
      if (good) out.add(c)
      i += 1
    }
    // Backfill with the nearest skipped candidates if the heuristic was too strict.
    i = 0
    while (out.size < k && i < nodes.length) {
      val c = nodes(i)
      if (!out.containsVal(c)) out.add(c)
      i += 1
    }
    out.toArray
  }

  /** Prune a node's adjacency at `level` back to the level cap. */
  private def shrink(node: Int, level: Int): Unit = {
    val lb = links(node)(level)
    val v = vecs(node)
    val n = lb.size
    val dists = new Array[Double](n)
    val nodes = new Array[Int](n)
    var i = 0
    while (i < n) { dists(i) = distTo(lb(i), v); nodes(i) = lb(i); i += 1 }
    HnswGraph.sortPairsAsc(dists, nodes, n)
    val kept = selectNeighbors(v, dists, nodes, capAt(level))
    lb.reset(kept)
  }

  /**
   * Top-k nearest (key, distance) pairs by the index metric, ascending.
   * `ef` is the base-layer beam width (reference default 64,
   * `SET hnsw_ef_search`, hnsw_index.cpp:318-329). Only nodes in `allowed`
   * ([[allowedNodes]]; null = every node) enter the result; the traversal
   * walks the others too, so with a sparse filter it may return fewer than
   * k — [[exact]] answers then.
   */
  def search(q: Array[Float], k: Int, ef: Int = 64,
      allowed: java.util.BitSet = null): Array[(Long, Double)] = {
    if (entryPoint < 0) return Array.empty
    checkDim(q)
    var ep = entryPoint
    var lc = topLevel
    while (lc > 0) { ep = greedyClosest(q, ep, lc); lc -= 1 }
    val (foundD, foundN) = searchLayer(q, Array(ep), math.max(ef, k), 0, allowed)
    val n = math.min(k, foundN.length)
    Array.tabulate(n)(i => (keys(foundN(i)), foundD(i)))
  }

  /** Top-k by exact distances over the `allowed` nodes (null = every
    * node), ascending: no traversal, so nothing allowed is missed. */
  def exact(q: Array[Float], k: Int, allowed: java.util.BitSet): Array[(Long, Double)] = {
    if (size == 0 || k <= 0) return Array.empty
    checkDim(q)
    val best = new HnswGraph.Heap(k + 1, minHeap = false)
    var i = if (allowed == null) 0 else allowed.nextSetBit(0)
    while (i >= 0 && i < size) {
      val d = distTo(i, q)
      if (best.size < k || d < best.topDist) {
        best.push(d, i)
        if (best.size > k) best.pop()
      }
      i = if (allowed == null) i + 1 else allowed.nextSetBit(i + 1)
    }
    val (ds, ns) = best.drainSortedAsc()
    Array.tabulate(ns.length)(j => (keys(ns(j)), ds(j)))
  }

  /** The nodes a filtered search may return: those whose key is in `allow`
    * (sorted ascending; null = every key) and not in `deleted`, as node
    * positions. Null when neither excludes anything. Costs
    * min(allow size, graph size) lookups. */
  def allowedNodes(allow: Array[Long], deleted: Array[Long]): java.util.BitSet = {
    if (allow == null && deleted.isEmpty) return null
    val bits = new java.util.BitSet(size)
    if (allow == null) bits.set(0, size)
    else if (allow.length <= size) allow.foreach { key =>
      val node = keyToNode.getOrElse(key, -1)
      if (node >= 0) bits.set(node)
    } else {
      var i = 0
      while (i < size) {
        if (java.util.Arrays.binarySearch(allow, keys(i)) >= 0) bits.set(i)
        i += 1
      }
    }
    deleted.foreach { key =>
      val node = keyToNode.getOrElse(key, -1)
      if (node >= 0) bits.clear(node)
    }
    bits
  }

  private def checkDim(q: Array[Float]): Unit =
    require(q.length == dim,
      s"HNSW query vector dimension mismatch: expected $dim, got ${q.length}")

  /** All (key, vector) pairs — what compaction rebuilds segments from. */
  def entries: Iterator[(Long, Array[Float])] =
    (0 until size).iterator.map(i => (keys(i), vecs(i)))

  /** Per-level (nodes, edges, maxEdges, allocatedBytes) for
    * pragma_hnsw_index_info parity
    * (/root/reference/src/hnsw/hnsw_index_pragmas.cpp:73-77,110-135).
    * Level 0 carries the node payload (vector + key + level tag); every
    * level adds its adjacency storage — levels sum to [[approxMemoryBytes]]. */
  def levelStats: Seq[(Long, Long, Long, Long)] =
    (0 to math.max(topLevel, 0)).map { lvl =>
      var nodes = 0L
      var edges = 0L
      var bytes = 0L
      var i = 0
      while (i < size) {
        if (nodeLevels(i) >= lvl) {
          nodes += 1
          edges += links(i)(lvl).size
          bytes += 4L * links(i)(lvl).size + 8
          if (lvl == 0) bytes += 4L * dim + 8 + 4
        }
        i += 1
      }
      (nodes, edges, nodes * capAt(lvl), bytes)
    }

  /** (min key, max key) over all stored entries, or None when empty — used
    * for per-segment pruning of key probes (segments are range-partitioned
    * on the key at build time). */
  def keyRange: Option[(Long, Long)] = {
    if (size == 0) return None
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var i = 0
    while (i < size) {
      val k = keys(i)
      if (k < mn) mn = k
      if (k > mx) mx = k
      i += 1
    }
    Some((mn, mx))
  }

  def approxMemoryBytes: Long = {
    var bytes = 0L
    var i = 0
    while (i < size) {
      bytes += 4L * dim + 8 + 4 // vector + key + level
      var l = 0
      while (l <= nodeLevels(i)) { bytes += 4L * links(i)(l).size + 8; l += 1 }
      i += 1
    }
    bytes
  }

  def write(out: DataOutputStream): Unit = {
    out.writeInt(Magic)
    out.writeInt(1) // version
    out.writeInt(dim)
    out.writeUTF(metric)
    out.writeInt(m); out.writeInt(m0); out.writeInt(efConstruction)
    out.writeLong(seed)
    out.writeInt(size)
    out.writeInt(entryPoint); out.writeInt(topLevel)
    var i = 0
    while (i < size) {
      out.writeLong(keys(i))
      out.writeInt(nodeLevels(i))
      val v = vecs(i)
      var d = 0
      while (d < dim) { out.writeFloat(v(d)); d += 1 }
      var l = 0
      while (l <= nodeLevels(i)) {
        val lb = links(i)(l)
        out.writeInt(lb.size)
        var j = 0
        while (j < lb.size) { out.writeInt(lb(j)); j += 1 }
        l += 1
      }
      i += 1
    }
    // Version 1's tombstone-count tail: always 0 (deletes are catalog
    // tombstones), kept so the format stays version 1.
    out.writeInt(0)
  }
}

object HnswGraph {
  /** The reference's exposed metric set (hnsw_index.cpp:262-275). */
  val MetricNames: Seq[String] = Seq("l2sq", "cosine", "ip")
  private val Magic = 0x484e5357 // "HNSW"

  def read(in: DataInputStream): HnswGraph = {
    require(in.readInt() == Magic, "not an HNSW graph file")
    val version = in.readInt()
    require(version == 1, s"unsupported HNSW graph file version $version")
    val dim = in.readInt()
    val metric = in.readUTF()
    val m = in.readInt(); val m0 = in.readInt(); val efc = in.readInt()
    val seed = in.readLong()
    val n = in.readInt()
    val ep = in.readInt(); val top = in.readInt()
    val g = new HnswGraph(dim, metric, m, m0, efc, seed)
    g.entryPoint = ep
    g.topLevel = top
    var i = 0
    while (i < n) {
      val key = in.readLong()
      val level = in.readInt()
      val v = new Array[Float](dim)
      var d = 0
      while (d < dim) { v(d) = in.readFloat(); d += 1 }
      val ls = new Array[IntBuf](level + 1)
      var l = 0
      while (l <= level) {
        val sz = in.readInt()
        val lb = new IntBuf(math.max(sz, 4))
        var j = 0
        while (j < sz) { lb.add(in.readInt()); j += 1 }
        ls(l) = lb
        l += 1
      }
      g.keys += key
      g.vecs += v
      g.nodeLevels += level
      g.links += ls
      g.keyToNode(key) = i
      i += 1
    }
    val nRemoved = in.readInt()
    require(nRemoved == 0, s"HNSW graph file has $nRemoved in-graph tombstones; " +
      "in-graph deletes are not supported (deletes are catalog tombstones) — rebuild the index")
    g
  }

  /** Largest insertion batch, as a fraction of the graph an [[HnswGraph.addAll]]
    * call ends with — ParlayANN's default (Manohar et al., PPoPP 2024). */
  val MaxBatchFraction = 0.02

  /** The next batch of an insertion that has `remaining` vectors left and
    * ends with a graph of `total`: as many as the graph holds (prefix
    * doubling; one into an empty graph), at most [[MaxBatchFraction]] of
    * `total`, at least one. */
  private[index] def batchSize(size: Int, remaining: Int, total: Int): Int =
    math.min(remaining, math.max(1, math.min(size, (total * MaxBatchFraction).toInt)))

  /** The build's worker threads: daemon threads shared by every build in the
    * JVM, created on demand and retired after a minute idle. */
  private lazy val pool: java.util.concurrent.ExecutorService = {
    val made = new java.util.concurrent.atomic.AtomicInteger
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"hnsw-build-${made.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** `body(i)` for every i in [0, n), on the calling thread and up to
    * `threads - 1` pool threads, each taking the next index in turn. The
    * first error stops every worker from taking another index and is
    * rethrown here once the pool threads have stopped; an interrupt of the
    * calling thread is rethrown at once, the workers stopping after their
    * current index. */
  private[graft] def parallelFor(n: Int, threads: Int)(body: Int => Unit): Unit = {
    val workers = math.min(threads, n)
    if (workers <= 1) {
      var i = 0
      while (i < n) { body(i); i += 1 }
      return
    }
    val next = new java.util.concurrent.atomic.AtomicInteger
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val work: Runnable = () => {
      var i = next.getAndIncrement()
      while (i < n && failure.get == null) {
        try body(i) catch { case t: Throwable => failure.compareAndSet(null, t) }
        i = next.getAndIncrement()
      }
    }
    val helpers = Seq.fill[java.util.concurrent.Future[_]](workers - 1)(pool.submit(work))
    work.run()
    helpers.foreach { f =>
      try f.get() catch {
        case e: InterruptedException => failure.compareAndSet(null, e); throw e
      }
    }
    val t = failure.get
    if (t != null) throw t
  }

  /** One thread's search state, reused by every search the thread runs:
    * an epoch-stamped visited array (a node is visited when its stamp is
    * the current epoch, so starting a search clears nothing) and the two
    * heaps. It grows to at most twice the largest graph the thread has
    * searched (4 bytes a node). */
  private final class Scratch {
    private var stamps = new Array[Int](0)
    private var epoch = 0
    val candidates = new Heap(16, minHeap = true)
    val results = new Heap(16, minHeap = false)

    /** Start a search of a graph of `nodes` nodes: nothing visited, heaps empty. */
    def begin(nodes: Int): Unit = {
      if (stamps.length < nodes) {
        stamps = new Array[Int](math.max(nodes, 2 * stamps.length))
        epoch = 0
      } else if (epoch == Int.MaxValue) {
        java.util.Arrays.fill(stamps, 0)
        epoch = 0
      }
      epoch += 1
      candidates.clear()
      results.clear()
    }

    /** Mark `node` visited; false when it already was. */
    def visit(node: Int): Boolean =
      if (stamps(node) == epoch) false else { stamps(node) = epoch; true }
  }

  private val scratch: ThreadLocal[Scratch] = ThreadLocal.withInitial(() => new Scratch)

  /**
   * Primitive binary heap over (dist, node) parallel arrays. `minHeap=true`
   * pops the smallest distance (candidate frontier); `minHeap=false` pops
   * the largest (bounded best-results set, root = worst kept).
   */
  private[index] final class Heap(initialCapacity: Int, minHeap: Boolean) {
    private var ds = new Array[Double](math.max(initialCapacity, 4))
    private var ns = new Array[Int](ds.length)
    private var n = 0
    @inline private def better(a: Double, b: Double): Boolean =
      if (minHeap) a < b else a > b
    def size: Int = n
    def clear(): Unit = n = 0
    def topDist: Double = ds(0)
    def topNode: Int = ns(0)
    def push(d: Double, node: Int): Unit = {
      if (n == ds.length) {
        ds = java.util.Arrays.copyOf(ds, n * 2)
        ns = java.util.Arrays.copyOf(ns, n * 2)
      }
      var i = n
      n += 1
      while (i > 0 && better(d, ds((i - 1) >> 1))) {
        val p = (i - 1) >> 1
        ds(i) = ds(p); ns(i) = ns(p)
        i = p
      }
      ds(i) = d; ns(i) = node
    }
    def pop(): Unit = {
      n -= 1
      val d = ds(n); val node = ns(n)
      var i = 0
      var continue = true
      while (continue) {
        val l = 2 * i + 1
        if (l >= n) continue = false
        else {
          var c = l
          if (l + 1 < n && better(ds(l + 1), ds(l))) c = l + 1
          if (better(ds(c), d)) { ds(i) = ds(c); ns(i) = ns(c); i = c }
          else continue = false
        }
      }
      if (n > 0) { ds(i) = d; ns(i) = node }
    }
    /** Empty the heap into ascending-distance parallel arrays. */
    def drainSortedAsc(): (Array[Double], Array[Int]) = {
      val outD = new Array[Double](n)
      val outN = new Array[Int](n)
      if (minHeap) {
        var i = 0
        while (n > 0) { outD(i) = topDist; outN(i) = topNode; pop(); i += 1 }
      } else {
        var i = n - 1
        while (n > 0) { outD(i) = topDist; outN(i) = topNode; pop(); i -= 1 }
      }
      (outD, outN)
    }
  }

  /** In-place stable insertion sort of parallel arrays by ascending
    * distance (adjacency lists are short — the level cap plus one batch's
    * reverse edges). */
  private[index] def sortPairsAsc(ds: Array[Double], ns: Array[Int], n: Int): Unit = {
    var i = 1
    while (i < n) {
      val d = ds(i); val node = ns(i)
      var j = i - 1
      while (j >= 0 && ds(j) > d) { ds(j + 1) = ds(j); ns(j + 1) = ns(j); j -= 1 }
      ds(j + 1) = d; ns(j + 1) = node
      i += 1
    }
  }

  /** Minimal growable int array — adjacency-list storage without boxing. */
  final class IntBuf(initialCapacity: Int) extends Serializable {
    private var arr = new Array[Int](math.max(initialCapacity, 4))
    private var n = 0
    def size: Int = n
    def apply(i: Int): Int = arr(i)
    def add(v: Int): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(n) = v
      n += 1
    }
    def containsVal(v: Int): Boolean = {
      var i = 0
      while (i < n) { if (arr(i) == v) return true; i += 1 }
      false
    }
    def reset(vs: Array[Int]): Unit = {
      arr = if (vs.length == 0) new Array[Int](4) else vs.clone()
      n = vs.length
    }
    def toArray: Array[Int] = java.util.Arrays.copyOf(arr, n)
  }
}
