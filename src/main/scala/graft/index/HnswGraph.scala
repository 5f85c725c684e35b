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
 * Single-writer, multi-reader: `add` is not thread-safe; searches on a graph
 * that is no longer being mutated are. In the Spark engine each executor
 * builds one graph per partition inside `mapPartitions`, and served graphs
 * are immutable artifacts — so no locking is needed (unlike the reference's
 * StorageLock, hnsw_index.cpp:440-478).
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

  /** Insert a (rowid key, vector) pair; a key already present is rejected. */
  def add(key: Long, vec: Array[Float]): Unit = {
    require(vec.length == dim,
      s"HNSW index vector dimension mismatch: expected $dim, got ${vec.length}")
    if (keyToNode.contains(key))
      throw new IllegalArgumentException(s"duplicate key $key in HNSW index")

    val level = (-math.log(rng.nextDouble()) * levelMult).toInt
    val node = keys.length
    keys += key
    vecs += vec
    nodeLevels += level
    links += Array.fill(level + 1)(new IntBuf(capAt(0) min 8))
    keyToNode(key) = node

    if (entryPoint < 0) { entryPoint = node; topLevel = level; return }

    var ep = entryPoint
    // Greedy descent through levels above the insertion level.
    var lc = topLevel
    while (lc > level) {
      ep = greedyClosest(vec, ep, lc)
      lc -= 1
    }
    // Beam search + connect at each level from min(topLevel, level) down to 0.
    lc = math.min(topLevel, level)
    var eps = Array(ep)
    while (lc >= 0) {
      val (foundD, foundN) = searchLayer(vec, eps, efConstruction, lc)
      val selected = selectNeighbors(vec, foundD, foundN, capAt(lc))
      val lb = links(node)(lc)
      var i = 0
      while (i < selected.length) {
        val nb = selected(i)
        lb.add(nb)
        val back = links(nb)(lc)
        back.add(node)
        if (back.size > capAt(lc)) shrink(nb, lc)
        i += 1
      }
      eps = foundN
      lc -= 1
    }
    if (level > topLevel) { topLevel = level; entryPoint = node }
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
   * parallel arrays, sorted ascending by distance. Primitive binary heaps —
   * the hot path of both build and search; no boxing.
   */
  private def searchLayer(q: Array[Float], eps: Array[Int], ef: Int, level: Int): (Array[Double], Array[Int]) = {
    val visited = new java.util.BitSet(size)
    val candidates = new HnswGraph.Heap(math.max(ef, 16), minHeap = true)
    val results = new HnswGraph.Heap(ef + 1, minHeap = false) // root = worst kept
    var i = 0
    while (i < eps.length) {
      val ep = eps(i)
      if (!visited.get(ep)) {
        visited.set(ep)
        val d = distTo(ep, q)
        candidates.push(d, ep)
        results.push(d, ep)
        if (results.size > ef) results.pop()
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
          if (!visited.get(nb)) {
            visited.set(nb)
            val d = distTo(nb, q)
            if (results.size < ef || d < results.topDist) {
              candidates.push(d, nb)
              results.push(d, nb)
              if (results.size > ef) results.pop()
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
   * `SET hnsw_ef_search`, hnsw_index.cpp:318-329).
   */
  def search(q: Array[Float], k: Int, ef: Int = 64): Array[(Long, Double)] = {
    if (entryPoint < 0) return Array.empty
    require(q.length == dim,
      s"HNSW query vector dimension mismatch: expected $dim, got ${q.length}")
    var ep = entryPoint
    var lc = topLevel
    while (lc > 0) { ep = greedyClosest(q, ep, lc); lc -= 1 }
    val (foundD, foundN) = searchLayer(q, Array(ep), math.max(ef, k), 0)
    val n = math.min(k, foundN.length)
    Array.tabulate(n)(i => (keys(foundN(i)), foundD(i)))
  }

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

  /** In-place insertion sort of parallel arrays by ascending distance
    * (adjacency lists are tiny — at most M0+1 entries). */
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
