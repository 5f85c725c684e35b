package graft.index

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException}
import java.util.Properties
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/**
 * Durable metadata for one HNSW index. The Spark analogue of the reference's
 * catalog entry + serialized usearch blob
 * (/root/reference/src/hnsw/hnsw_index.cpp:532-585): an index is a directory
 * of immutable graph segment files plus numbered manifests ([[IndexCatalog]]),
 * on storage shared by driver and executors (local FS here; an object store
 * on a real cluster). `version` is the manifest version it was read at (0:
 * not committed yet); [[IndexCatalog.save]] commits `version + 1`. `uid` is
 * drawn when the index is created, so a dropped and re-created index of the
 * same name is a different index to a commit.
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
    centroids: Seq[Array[Float]] = Seq.empty,
    version: Long = 0L,
    uid: String = "") {
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

/** One committed version of an index: its metadata and its tombstoned keys,
  * sorted, by segment file. */
final case class IndexManifest(meta: HnswIndexMeta, tombstones: Map[String, Array[Long]])

/** A commit refused because version `base` of index `index`, which the
  * change was made on, is no longer its newest: another writer committed
  * first, or the index was dropped. The refused change is not visible; its
  * writer has nothing to undo but the segment files it wrote itself. */
final class ConcurrentIndexChangeException(val index: String, val base: Long)
  extends IllegalStateException(s"HNSW index '$index' was changed concurrently: " +
    s"version $base, which this change was made on, is no longer the newest")

/**
 * The index catalog. Each commit of an index is one immutable manifest,
 * `<index>/_manifest/<version>.properties`: segments, key ranges, centroids,
 * count, tombstones and a format number. The newest version is the index;
 * a segment file no manifest names (a crashed or losing writer's) is never
 * read. A commit checks that its base version N is still the newest version
 * of the same index (same `uid`), writes a temporary file and publishes it
 * as version N + 1 with a hard link, which fails when that name exists —
 * put-if-absent log entries, as Delta Lake commits a table (Armbrust et al.,
 * VLDB 2020). Readers never see a partial manifest; a writer whose base is
 * no longer the newest gets a [[ConcurrentIndexChangeException]]. Each
 * commit then deletes the manifests older than the newest two, oldest first.
 *
 * The link alone would accept a base older than the two manifests kept (the
 * trimmed names are free again) or a change to a dropped index; the check
 * refuses both. In one JVM the check, link and trim run under one lock, so
 * the refusal is exact. Across processes the link still refuses two writers
 * on one base; a stale base slips through only if other writers commit and
 * trim three versions between its check and its link.
 *
 * A version is parsed once per JVM: [[current]] lists a couple of names and
 * returns the cached parse of the newest. The cache also checks the file's
 * mtime, so a dropped and re-created index, whose versions restart at 1, is
 * never served an old parse.
 */
object IndexCatalog {

  val DefaultM = 16
  val DefaultM0 = 32
  val DefaultEfConstruction = 128
  val DefaultEfSearch = 64

  private val ManifestDir = "_manifest"
  private val Format = "1"
  private val VersionName = """(\d+)\.properties""".r
  private val DeletedPrefix = "deleted."
  /** Separates paths and segment names: no file path holds a NUL. */
  private val Sep = "\u0000"

  def indexDir(base: String, name: String): File = new File(base, name)

  private def manifestFile(dir: File, version: Long): File =
    new File(new File(dir, ManifestDir), f"$version%020d.properties")

  private def versions(dir: File): Seq[Long] =
    Option(new File(dir, ManifestDir).list()).toSeq.flatten.collect {
      case VersionName(v) => v.toLong
    }

  /** The parse of each index's newest manifest, by index directory. */
  private final case class Parsed(version: Long, mtime: Long, manifest: IndexManifest)
  private val parsedCache = TrieMap.empty[String, Parsed]
  /** Serializes this JVM's commits and drops: base check, link and trim. */
  private val commitLock = new Object
  private val parseCount = new java.util.concurrent.atomic.AtomicLong

  /** Manifests parsed since JVM start (diagnostic, like `GraphCache.stats`). */
  def manifestParses: Long = parseCount.get()

  def exists(base: String, name: String): Boolean = versions(indexDir(base, name)).nonEmpty

  def list(base: String): Seq[HnswIndexMeta] =
    Option(new File(base).listFiles()).toSeq.flatten
      .flatMap(latest).map(_.meta).sortBy(_.name)

  def load(base: String, name: String): HnswIndexMeta = current(base, name).meta

  /** The newest committed version of index `name`. */
  def current(base: String, name: String): IndexManifest =
    latest(indexDir(base, name)).getOrElse(throw new java.io.FileNotFoundException(
      s"HNSW index '$name' not found in $base"))

  /** Tombstones are (segment file, key) pairs: a delete hides the key copy
    * in the segments that existed at delete time, so a later re-insert (a
    * fresh delta segment) is naturally visible again. */
  def tombstones(base: String, name: String): Set[(String, Long)] =
    current(base, name).tombstones.iterator
      .flatMap { case (s, ks) => ks.iterator.map(k => (s, k)) }.toSet

  /** The newest manifest in `dir`, None when it has none. A version that a
    * newer commit deleted between the listing and the read sends the read
    * to the newer one. */
  @scala.annotation.tailrec
  private def latest(dir: File): Option[IndexManifest] = {
    val vs = versions(dir)
    if (vs.isEmpty) None
    else read(dir, vs.max) match {
      case None => latest(dir)
      case found => found
    }
  }

  /** Version `version` of the index in `dir`; None when its file is gone. */
  private def read(dir: File, version: Long): Option[IndexManifest] = {
    val f = manifestFile(dir, version)
    val key = dir.getAbsolutePath
    val mtime = f.lastModified()
    parsedCache.get(key) match {
      case Some(c) if c.version == version && c.mtime == mtime => Some(c.manifest)
      case cached =>
        val p = new Properties()
        try {
          val in = Files.newInputStream(f.toPath)
          try p.load(in) finally in.close()
        } catch { case _: NoSuchFileException => return None }
        parseCount.incrementAndGet()
        val m = parse(p, version)
        if (cached.forall(_.version <= version)) parsedCache.put(key, Parsed(version, mtime, m))
        Some(m)
    }
  }

  private def parse(p: Properties, version: Long): IndexManifest = {
    def get(k: String) = p.getProperty(k, "")
    if (get("format") != Format) {
      throw new IllegalStateException(
        s"HNSW index '${get("name")}': unsupported manifest format '${get("format")}'")
    }
    def pairs(k: String) = seq(get(k), ";")
    val meta = HnswIndexMeta(name = get("name"), paths = seq(get("paths"), Sep),
      column = get("column"), idColumn = get("idColumn"), metric = get("metric"),
      dim = get("dim").toInt, m = get("m").toInt, m0 = get("m0").toInt,
      efConstruction = get("efConstruction").toInt, efSearch = get("efSearch").toInt,
      count = get("count").toLong, segments = seq(get("segments"), Sep),
      segmentRanges = pairs("segmentRanges").map { r =>
        val i = r.indexOf(':')
        (r.substring(0, i).toLong, r.substring(i + 1).toLong)
      },
      centroids = pairs("centroids").map(_.split(",").map(_.toFloat)),
      version = version, uid = get("uid"))
    val tombstones = p.stringPropertyNames.asScala.iterator.filter(_.startsWith(DeletedPrefix))
      .map(k => k.stripPrefix(DeletedPrefix) -> seq(get(k), ",").map(_.toLong).toArray).toMap
    IndexManifest(meta, tombstones)
  }

  /** Commit `meta` with `tombstones` (sorted keys by segment file; none by
    * default) as version `meta.version + 1`, and return the committed meta.
    * Version 1 gets a fresh `uid`. Throws [[ConcurrentIndexChangeException]]
    * when `meta.version` is not the newest version of the index. */
  def save(base: String, meta: HnswIndexMeta,
      tombstones: Map[String, Array[Long]] = Map.empty): HnswIndexMeta = {
    val dir = indexDir(base, meta.name)
    val committed = meta.copy(version = meta.version + 1,
      uid = if (meta.version == 0) java.util.UUID.randomUUID().toString else meta.uid)
    val kept = tombstones.filter(_._2.nonEmpty)
    val p = new Properties()
    (Seq("format" -> Format, "name" -> meta.name, "paths" -> meta.paths.mkString(Sep),
      "column" -> meta.column, "idColumn" -> meta.idColumn, "metric" -> meta.metric,
      "dim" -> meta.dim.toString, "m" -> meta.m.toString, "m0" -> meta.m0.toString,
      "efConstruction" -> meta.efConstruction.toString, "efSearch" -> meta.efSearch.toString,
      "uid" -> committed.uid, "count" -> meta.count.toString, "segments" -> meta.segments.mkString(Sep),
      "segmentRanges" -> meta.segmentRanges.map { case (lo, hi) => s"$lo:$hi" }.mkString(";"),
      // Float.toString round-trips exactly through toFloat.
      "centroids" -> meta.centroids.map(_.mkString(",")).mkString(";")) ++
      kept.map { case (s, ks) => (DeletedPrefix + s) -> ks.mkString(",") })
      .foreach { case (k, v) => p.setProperty(k, v) }
    val target = manifestFile(dir, committed.version)
    // Not Files.createTempFile: its owner-only mode would hide the manifest
    // from executors running as another user.
    val tmp = new File(target.getParentFile, s".commit-${java.util.UUID.randomUUID()}.tmp").toPath
    def refused = new ConcurrentIndexChangeException(meta.name, meta.version)
    commitLock.synchronized {
      val onBase = versions(dir).maxOption match {
        case None => meta.version == 0
        case Some(v) => v == meta.version && read(dir, v).exists(_.meta.uid == meta.uid)
      }
      if (!onBase) throw refused
      target.getParentFile.mkdirs()
      try {
        val out = Files.newOutputStream(tmp)
        try p.store(out, "graft hnsw index") finally out.close()
        Files.createLink(target.toPath, tmp)
      } catch { case _: FileAlreadyExistsException => throw refused }
      finally Files.deleteIfExists(tmp)
      parsedCache.put(dir.getAbsolutePath,
        Parsed(committed.version, target.lastModified(), IndexManifest(committed, kept)))
      versions(dir).filter(_ < committed.version - 1).sorted.foreach(v => manifestFile(dir, v).delete())
    }
    committed
  }

  def drop(base: String, name: String): Boolean = {
    val dir = indexDir(base, name)
    if (!dir.isDirectory) return false
    commitLock.synchronized {
      Option(new File(dir, ManifestDir).listFiles()).toSeq.flatten.foreach(_.delete())
      dir.listFiles().foreach(_.delete())
      dir.delete()
      parsedCache.remove(dir.getAbsolutePath)
    }
    GraphCache.invalidate(dir.getAbsolutePath)
    true
  }

  def writeGraph(file: File, g: HnswGraph): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(file), 1 << 16))
    try g.write(out) finally out.close()
  }

  def readGraph(file: File): HnswGraph = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(file), 1 << 16))
    try HnswGraph.read(in) finally in.close()
  }

  /** `s` split at `sep`; no element when `s` is empty. */
  private def seq(s: String, sep: String): Seq[String] =
    if (s.isEmpty) Seq.empty else s.split(java.util.regex.Pattern.quote(sep), -1).toSeq
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
