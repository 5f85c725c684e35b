package graft.index

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{AtomicMoveNotSupportedException, Files, Paths, StandardCopyOption}
import java.util.Properties
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/**
 * Durable metadata for one HNSW index. The Spark analogue of the reference's
 * catalog entry + serialized usearch blob
 * (/root/reference/src/hnsw/hnsw_index.cpp:532-585): an index is a directory
 * of immutable graph segment files plus a properties file, on storage shared
 * by driver and executors (local FS here; an object store on a real cluster).
 *
 * `paths` records the root file paths of the indexed relation — our
 * substitute for DuckDB's table binding (hnsw_optimize_scan.cpp:91-98): the
 * optimizer rules match a parquet scan to an index by comparing root paths.
 * `idColumn` is the explicit BIGINT rowid analogue (Spark has no system
 * rowid; SURVEY §1.4).
 */
case class HnswIndexMeta(
    name: String,
    paths: Seq[String],
    column: String,
    idColumn: String,
    metric: String,
    dim: Int,
    m: Int,
    m0: Int,
    efConstruction: Int,
    efSearch: Int,
    count: Long,
    segments: Seq[String],
    /** Per-segment (min key, max key), aligned with `segments` — written at
      * build time (segments are range-partitioned on the key) so key probes
      * (delete, contains) prune driver-side without loading any graph.
      * Empty = unknown (pre-range artifact): probe every segment. */
    segmentRanges: Seq[(Long, Long)] = Seq.empty,
    /** Per-segment mean vector, aligned with `segments` — written at build
      * time for query→segment ROUTING (probe the p nearest segments
      * instead of all; [[routedSegments]]). Empty or misaligned (pre-r12
      * artifact, or an insert onto one) = unknown: route to every segment,
      * which is always correct. */
    centroids: Seq[Array[Float]] = Seq.empty) {
  def dir(base: String): String = s"$base/$name"

  /** The `p` segments whose centroids are nearest `q` by the index metric
    * — the conf-gated sublinear scaling path for many-segment indexes
    * (every-segment fan-out grows ∝ segments while the answer needs k).
    * All segments when routing can't apply: p ≤ 0 (the default — exact
    * parity with the reference's one-graph search), p ≥ segments, or
    * unknown/misaligned centroids. Routing quality is the layout's job:
    * vector-clustered segments (build option) give IVF-like recall at
    * p ≪ segments; key-ranged segments have near-identical centroids and
    * routing degrades toward arbitrary pruning — keep p = 0 there. */
  def routedSegments(q: Array[Float], p: Int): Seq[String] =
    routedSegments(q, p, 0.0)

  /** [[routedSegments]] with an ADAPTIVE width (r16, the F10b follow-up):
    * the nearest segment is always probed; segments 2..p are probed only
    * when their centroid distance is within `margin` × the nearest's —
    * interior queries (decisive nearest centroid) pay p = 1 latency,
    * boundary queries (close margins, where F10b measured p = 1 losing
    * 14 recall points) escalate toward p. `margin` is a TRUE-distance
    * ratio (> 1; squared internally for the l2 metric); ≤ 1 = fixed-p
    * routing. Inner-product margins have no scale-free ratio (negative
    * distances), so "ip" indexes keep fixed p. */
  def routedSegments(q: Array[Float], p: Int, margin: Double): Seq[String] = {
    val adaptive = margin > 1.0 && metric != "ip"
    // Fixed-p routing is pointless at p >= segments (probe all); ADAPTIVE
    // still prunes there (escalate toward all only when margins are close).
    if (p <= 0 || centroids.size != segments.size ||
        (p >= segments.size && !adaptive)) segments
    else {
      val d: (Array[Float], Array[Float]) => Double = metric match {
        case "cosine" => graft.expressions.VectorMath.cosineDistance
        case "ip" => graft.expressions.VectorMath.negativeDot
        case _ => graft.expressions.VectorMath.l2Squared
      }
      val ranked = segments.zip(centroids)
        .map { case (s, c) => (s, d(q, c)) }.sortBy(_._2)
      val pp = math.min(p, segments.size)
      if (!adaptive || pp <= 1) ranked.take(pp).map(_._1)
      else {
        val m = metric match {
          case "cosine" => margin
          case _ => margin * margin // l2 centroids rank by SQUARED distance
        }
        val cut = ranked.head._2 * m
        ranked.head._1 +: ranked.slice(1, pp)
          .takeWhile(_._2 <= cut).map(_._1)
      }
    }
  }

  /** Segments that could contain `key` — range-pruned when ranges are known
    * and aligned, every segment otherwise. */
  def segmentsForKey(key: Long): Seq[String] =
    if (segmentRanges.size == segments.size && segments.nonEmpty)
      segments.zip(segmentRanges).collect {
        case (s, (lo, hi)) if key >= lo && key <= hi => s
      }
    else segments
}

object IndexCatalog {

  val DefaultM = 16
  val DefaultM0 = 32
  val DefaultEfConstruction = 128
  val DefaultEfSearch = 64

  private val MetaFile = "meta.properties"
  private[index] val TombFile = "tombstones.txt"

  def indexDir(base: String, name: String): File = new File(base, name)

  def exists(base: String, name: String): Boolean =
    new File(indexDir(base, name), MetaFile).isFile

  def list(base: String): Seq[HnswIndexMeta] = {
    val root = new File(base)
    if (!root.isDirectory) return Seq.empty
    root.listFiles().toSeq
      .filter(d => new File(d, MetaFile).isFile)
      .map(d => load(base, d.getName))
      .sortBy(_.name)
  }

  def load(base: String, name: String): HnswIndexMeta = {
    val p = new Properties()
    val in = new FileInputStream(new File(indexDir(base, name), MetaFile))
    try p.load(in) finally in.close()
    HnswIndexMeta(
      name = p.getProperty("name"),
      paths = split(p.getProperty("paths")),
      column = p.getProperty("column"),
      idColumn = p.getProperty("idColumn"),
      metric = p.getProperty("metric"),
      dim = p.getProperty("dim").toInt,
      m = p.getProperty("m").toInt,
      m0 = p.getProperty("m0").toInt,
      efConstruction = p.getProperty("efConstruction").toInt,
      efSearch = p.getProperty("efSearch").toInt,
      count = p.getProperty("count").toLong,
      segments = split(p.getProperty("segments")),
      segmentRanges = Option(p.getProperty("segmentRanges"))
        .filter(_.nonEmpty)
        .map(_.split(";", -1).toSeq.map { r =>
          val i = r.indexOf(':')
          (r.substring(0, i).toLong, r.substring(i + 1).toLong)
        })
        .getOrElse(Seq.empty),
      centroids = Option(p.getProperty("centroids"))
        .filter(_.nonEmpty)
        .map(_.split(";", -1).toSeq.map(_.split(",").map(_.toFloat)))
        .getOrElse(Seq.empty))
  }

  def save(base: String, meta: HnswIndexMeta): Unit = {
    val dir = indexDir(base, meta.name)
    dir.mkdirs()
    val p = new Properties()
    p.setProperty("name", meta.name)
    p.setProperty("paths", join(meta.paths))
    p.setProperty("column", meta.column)
    p.setProperty("idColumn", meta.idColumn)
    p.setProperty("metric", meta.metric)
    p.setProperty("dim", meta.dim.toString)
    p.setProperty("m", meta.m.toString)
    p.setProperty("m0", meta.m0.toString)
    p.setProperty("efConstruction", meta.efConstruction.toString)
    p.setProperty("efSearch", meta.efSearch.toString)
    p.setProperty("count", meta.count.toString)
    p.setProperty("segments", join(meta.segments))
    if (meta.segmentRanges.nonEmpty) {
      p.setProperty("segmentRanges",
        meta.segmentRanges.map { case (lo, hi) => s"$lo:$hi" }.mkString(";"))
    }
    if (meta.centroids.nonEmpty) {
      // Float.toString round-trips exactly through toFloat.
      p.setProperty("centroids",
        meta.centroids.map(_.mkString(",")).mkString(";"))
    }
    // Write-then-rename so a concurrent reader never sees a torn meta file.
    val tmp = new File(dir, MetaFile + ".tmp")
    val out = new FileOutputStream(tmp)
    try p.store(out, "graft hnsw index") finally out.close()
    Files.move(tmp.toPath, new File(dir, MetaFile).toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def drop(base: String, name: String): Boolean = {
    val dir = indexDir(base, name)
    if (!dir.isDirectory) return false
    dir.listFiles().foreach(_.delete())
    dir.delete()
    GraphCache.invalidate(dir.getAbsolutePath)
    true
  }

  /** Tombstones are (segment file, key) pairs: a delete hides the key copy
    * in the segments that existed at delete time, so a later re-insert (a
    * fresh delta segment) is naturally visible again. */
  def tombstones(base: String, name: String): Set[(String, Long)] = {
    val f = new File(indexDir(base, name), TombFile)
    if (!f.isFile) Set.empty
    else Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map { line =>
        val i = line.lastIndexOf(',')
        (line.substring(0, i), line.substring(i + 1).toLong)
      }.toSet
  }

  def writeTombstones(base: String, name: String, entries: Set[(String, Long)]): Unit = {
    val f = new File(indexDir(base, name), TombFile)
    // Write-then-rename like save(): an in-place truncate+write lets a
    // concurrent reader see a torn file — a cut last line crashes the
    // parser, a cleanly-truncated one silently resurrects deleted keys
    // (and TombstoneCache would pin the bad set under its mtime/size).
    val tmp = new File(f.getParentFile, TombFile + ".tmp")
    Files.write(tmp.toPath,
      entries.toSeq.sorted.map { case (s, k) => s"$s,$k" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    try Files.move(tmp.toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: AtomicMoveNotSupportedException =>
      Files.move(tmp.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def writeGraph(file: File, g: HnswGraph): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(file), 1 << 16))
    try g.write(out) finally out.close()
  }

  def readGraph(file: File): HnswGraph = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(file), 1 << 16))
    try HnswGraph.read(in) finally in.close()
  }

  private def join(xs: Seq[String]): String =
    xs.map(x => x.replace("\\", "\\\\").replace(",", "\\,")).mkString(",")

  private def split(s: String): Seq[String] = {
    if (s == null || s.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var esc = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (esc) { cur += c; esc = false }
      else if (c == '\\') esc = true
      else if (c == ',') { out += cur.result(); cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.result()
    out.toSeq
  }
}

/**
 * Per-JVM segment-graph cache, keyed by (absolute path, mtime, size) — the
 * analogue of the reference's lazy `load_from_stream` on first use
 * (hnsw_index.cpp:223-239). Executors and the driver each warm it once per
 * segment; immutable segment files make staleness checks trivial.
 *
 * Bounded by BYTES (graph `approxMemoryBytes`, computed once at admission),
 * not entry count: 256 small segments and 256 × 256k-vector × high-dim
 * segments differ by orders of magnitude, and it's heap bytes that kill an
 * executor. LRU eviction runs until the total fits the budget
 * (`graft.graphCache.maxBytes`, default a quarter of the JVM's max heap,
 * the way `RowGroupCache` sizes itself; override per executor via
 * `spark.executor.extraJavaOptions=-Dgraft...`); [[MaxEntries]] caps the
 * entry count as a secondary bound. A single graph larger than the budget
 * is still served (admit-then-evict-others): refusing to cache it would
 * re-read it every call.
 */
object GraphCache {
  private case class Key(path: String, mtime: Long, size: Long)
  private case class Entry(graph: HnswGraph, bytes: Long)

  val MaxEntries = 256
  def MaxBytes: Long = sys.props.get("graft.graphCache.maxBytes").map(_.toLong)
    .getOrElse(Runtime.getRuntime.maxMemory / 4)

  private val cache = new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true)
  private var totalBytes = 0L

  // Hit/miss/load-time counters (diagnostic; the r15 verdict's
  // hnsw_recall_ann audit needs cache behavior to be observable, not
  // guessed). Monotonic since JVM start; read via [[stats]].
  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong
  private val loadNanos = new java.util.concurrent.atomic.AtomicLong

  def get(file: File): HnswGraph = load(file)._1

  /** The graph of `file` and the nanoseconds this call spent loading it
    * from the file: 0 when the cache served it. */
  def load(file: File): (HnswGraph, Long) = {
    val k = Key(file.getAbsolutePath, file.lastModified(), file.length())
    cache.synchronized {
      val hit = cache.get(k)
      if (hit != null) { hitCount.incrementAndGet(); return (hit.graph, 0L) }
    }
    // Load outside the lock; duplicate loads are benign (immutable files).
    missCount.incrementAndGet()
    val t0 = System.nanoTime()
    val g = IndexCatalog.readGraph(file)
    val nanos = math.max(1L, System.nanoTime() - t0)
    loadNanos.addAndGet(nanos)
    val e = Entry(g, g.approxMemoryBytes)
    cache.synchronized {
      val prev = cache.put(k, e)
      totalBytes += e.bytes - (if (prev == null) 0L else prev.bytes)
      evictLocked()
    }
    (g, nanos)
  }

  /** (hits, misses, total load millis) since JVM start. */
  def stats: (Long, Long, Long) =
    (hitCount.get(), missCount.get(), loadNanos.get() / 1000000L)

  /** Evict least-recently-used entries until both bounds hold. Iteration is
    * LRU-first and stops before the last (most-recent) entry, so the graph
    * just admitted is never evicted. Caller holds the lock. */
  private def evictLocked(): Unit = {
    val it = cache.entrySet().iterator()
    while ((totalBytes > MaxBytes || cache.size() > MaxEntries) && cache.size() > 1
        && it.hasNext) {
      val eldest = it.next()
      totalBytes -= eldest.getValue.bytes
      it.remove()
    }
  }

  /** Total cached graph bytes — test/diagnostic introspection. */
  def currentBytes: Long = cache.synchronized(totalBytes)
  def currentEntries: Int = cache.synchronized(cache.size())

  def invalidate(dirPrefix: String): Unit = cache.synchronized {
    // Match the DIRECTORY, not a raw string prefix: dropping index "foo"
    // must not evict sibling "foobar"'s warm graphs.
    val dir = if (dirPrefix.endsWith(File.separator)) dirPrefix
      else dirPrefix + File.separator
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.path.startsWith(dir) || e.getKey.path == dirPrefix) {
        totalBytes -= e.getValue.bytes; it.remove()
      }
    }
  }
}

/** Per-JVM tombstone cache, one entry per file path validated by
  * (mtime, size) — search consults tombstones per query, which must not
  * mean a file read per call. Replacing the entry on staleness (rather than
  * keying by version) keeps old versions from accumulating across repeated
  * deletes. */
object TombstoneCache {
  private case class Versioned(mtime: Long, size: Long, bySegment: Map[String, Array[Long]])
  private val cache = TrieMap.empty[String, Versioned]

  /** The index's tombstoned keys, by segment file. */
  def bySegment(base: String, name: String): Map[String, Array[Long]] = {
    val f = new File(IndexCatalog.indexDir(base, name), IndexCatalog.TombFile)
    if (!f.isFile) return Map.empty
    val (path, mtime, size) = (f.getAbsolutePath, f.lastModified(), f.length())
    cache.get(path) match {
      case Some(v) if v.mtime == mtime && v.size == size => v.bySegment
      case _ =>
        val grouped = IndexCatalog.tombstones(base, name).groupBy(_._1)
          .map { case (s, ks) => s -> ks.iterator.map(_._2).toArray }
        cache.put(path, Versioned(mtime, size, grouped))
        grouped
    }
  }
}
