package graft

import java.io.File

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._

import graft.index.{ConcurrentIndexChangeException, GraphCache, HnswGraph, HnswIndexMeta, IndexCatalog, IndexManifest}
import graft.plans.RowidFetch
import graft.spark.ExecTuning

/**
 * Public index-management API — the Spark re-expression of the reference's
 * DDL + pragma surface:
 *
 *   - [[createIndex]]  ≙ `CREATE INDEX … USING HNSW (vec) WITH (…)`
 *                        (/root/reference/src/hnsw/hnsw_index_plan.cpp:16-140)
 *   - [[dropIndex]]    ≙ `DROP INDEX`
 *   - [[insert]]       ≙ index maintenance on INSERT (hnsw_index.cpp:421-478)
 *   - [[delete]]       ≙ mark-only delete (hnsw_index.cpp:496-512)
 *   - [[compactIndex]] ≙ `PRAGMA hnsw_compact_index` (hnsw_index_pragmas.cpp:179-220)
 *   - [[indexInfo]]    ≙ `pragma_hnsw_index_info()` (hnsw_index_pragmas.cpp:41-173)
 *
 * Architecture (SURVEY §2 O1/O11-O15): an index is a directory of immutable
 * HNSW segment files on shared storage. CREATE builds one graph per Spark
 * partition in parallel executors (`mapPartitions`), each on its share of
 * the session's cores — the reference's N construction threads over one
 * shared graph (hnsw_index_physical_create.cpp:235-247), as a deterministic
 * batch build ([[HnswGraph.addAll]]). INSERT appends new
 * delta segments; DELETE appends tombstone keys; COMPACT rebuilds. Each
 * write commits one numbered manifest ([[IndexCatalog]]); a write that
 * loses to a concurrent one throws [[ConcurrentIndexChangeException]] and
 * deletes the segment files it wrote. Search
 * fans out over segments and merges top-k — per-segment recall at equal ef
 * is ≥ a single graph's, so partitioning is correctness-safe (SURVEY §7.3).
 */
object Hnsw {

  val LocationKey = "spark.graft.index.location"
  val EfSearchKey = "spark.graft.hnsw.efSearch"
  val RewriteEnabledKey = "spark.graft.hnsw.rewrite.enabled"
  /** Parity no-op: files are always persistent (SURVEY §2 O17). */
  val PersistenceKey = "spark.graft.hnsw.enableExperimentalPersistence"
  val MaxVectorsPerPartitionKey = "spark.graft.hnsw.build.maxVectorsPerPartition"
  /** Query→segment routing width p: search only the p segments whose
    * centroids are nearest the query (the sublinear many-segment path —
    * see HnswIndexMeta.routedSegments). 0 (default) = all segments, the
    * exact-parity behavior. Pair p ≪ segments with a vector-clustered
    * layout ([[BuildPartitionByKey]] = "vector"); on key-ranged layouts
    * routing prunes blindly. */
  val ProbeSegmentsKey = "spark.graft.hnsw.probeSegments"
  /** Build-time segment placement: "key" (default, range-partitioned ids)
    * or "vector" (deterministic k-means clusters — the routable layout). */
  val BuildPartitionByKey = "spark.graft.hnsw.build.partitionBy"

  /** Session routing width (0 = search every segment). */
  def probeSegments(spark: SparkSession): Int =
    ExecTuning.confLong(spark, ProbeSegmentsKey, 0, Int.MinValue, Int.MaxValue).toInt

  /** Adaptive routing margin (true-distance ratio > 1; 0/<=1 = fixed-p
    * routing — the default). With probeSegments = p and margin = m, the
    * nearest segment is always probed and segments 2..p only when their
    * centroid distance is within m x the nearest's — interior queries pay
    * p = 1 latency, boundary queries recover p = 2+ recall
    * ([[graft.index.HnswIndexMeta.routedSegments]]; F10c curve in
    * ANN_CURVE_BOUNDARY.md). */
  val AdaptiveProbeMarginKey = "spark.graft.hnsw.adaptiveProbeMargin"

  /** Session adaptive-routing margin (0 = off, fixed-p). */
  def adaptiveProbeMargin(spark: SparkSession): Double =
    ExecTuning.confDouble(spark, AdaptiveProbeMarginKey, 0.0, min = 0.0)

  def baseDir(spark: SparkSession): String =
    spark.conf.get(LocationKey,
      new File(sys.props("java.io.tmpdir"), "graft-indexes").getAbsolutePath)

  /** Query-time beam width: session conf overrides the index default
    * (`SET hnsw_ef_search`, hnsw_index.cpp:318-329). */
  def efSearch(spark: SparkSession, meta: HnswIndexMeta): Int =
    ExecTuning.confLong(spark, EfSearchKey, meta.efSearch, 1, Int.MaxValue).toInt

  /** The index rewrites' kill switch (on by default): the optimizer rules
    * and `Vss.lateralTopK`'s index join. */
  def rewriteEnabled(spark: SparkSession): Boolean = flag(spark, RewriteEnabledKey, default = true)

  private def flag(spark: SparkSession, key: String, default: Boolean): Boolean =
    ExecTuning.confChoice(spark, key, default.toString, "true", "false") == "true"

  // ---------------------------------------------------------------- create

  /**
   * Build an HNSW index over `df`'s `column` (ArrayType(FloatType)), keyed by
   * the BIGINT `idColumn`. Options: metric ∈ {l2sq, cosine, ip},
   * ef_construction, ef_search, M, M0 — names, bounds, and error messages
   * mirror the reference binder (hnsw_index_plan.cpp:33-80, hnsw_options.test).
   */
  def createIndex(
      spark: SparkSession,
      name: String,
      df: DataFrame,
      column: String,
      idColumn: String,
      options: Map[String, String] = Map.empty,
      overwrite: Boolean = false): HnswIndexMeta = {
    // O17 parity: the reference gates CREATE INDEX on disk-backed databases
    // behind `SET hnsw_enable_experimental_persistence = true`
    // (hnsw_index_plan.cpp:21-30). Our artifacts are always files, so the
    // conf defaults to enabled; setting it false reproduces the gate error.
    if (!flag(spark, PersistenceKey, default = true)) {
      throw new IllegalStateException(
        "HNSW indexes can only be created in in-memory databases, or when the " +
          s"configuration option '$PersistenceKey' is set to true.")
    }
    val base = baseDir(spark)
    val dir = IndexCatalog.indexDir(base, name)
    // An index of the older format (meta.properties, no manifest) is not
    // read, but it still exists to a create that may not overwrite.
    if (!overwrite && (IndexCatalog.exists(base, name) || new File(dir, "meta.properties").isFile)) {
      throw new IllegalArgumentException(s"Index '$name' already exists")
    }
    // Also clears files no manifest names: a failed build's, or an older
    // format's under overwrite.
    IndexCatalog.drop(base, name)
    val opts = validateOptions(options)

    val field = df.schema.fields.find(_.name == column)
      .getOrElse(throw new IllegalArgumentException(s"Column '$column' not found"))
    field.dataType match {
      case ArrayType(FloatType, _) => ()
      case _ => throw new IllegalArgumentException("HNSW index keys must be of type FLOAT[N]")
    }
    require(df.schema.fieldNames.contains(idColumn), s"Column '$idColumn' not found")

    // IS NOT NULL under the build, like the reference's planned pipeline
    // (hnsw_index_plan.cpp:118-133).
    import spark.implicits._
    val data = df.select(col(idColumn).cast(LongType).as("_1"), col(column).as("_2"))
      .where(col("_2").isNotNull)
      .as[(Long, Array[Float])]

    dir.mkdirs()
    // An empty source builds no segment: a valid, zero-count index.
    val segments = buildSegments(spark, data, dir, "part", None, opts)
    val dim = segmentDim(dir, segments)
    val meta = HnswIndexMeta(
      name = name, paths = relationPaths(df), column = column, idColumn = idColumn,
      metric = opts.metric, dim = dim, m = opts.m, m0 = opts.m0,
      efConstruction = opts.efConstruction, efSearch = opts.efSearch,
      count = segments.map(_._2).sum, segments = segments.map(_._1),
      segmentRanges = segments.map(s => (s._3, s._4)),
      centroids = segments.map(_._5))
    IndexCatalog.save(base, meta)
  }

  def dropIndex(spark: SparkSession, name: String): Boolean =
    IndexCatalog.drop(baseDir(spark), name)

  /** Build one immutable graph segment per partition; returns
    * (file, count, min key, max key, centroid) per segment. The centroid
    * (mean vector, accumulated in doubles) feeds query→segment routing
    * ([[graft.index.HnswIndexMeta.routedSegments]]); its length is the
    * segment's dimension — `dim` when given, else its first vector's.
    *
    * Each task inserts its rows in key order, so its graph depends only on
    * which rows it holds, not on the order its input delivers them. It
    * builds on [[buildThreads]] threads ([[HnswGraph.addAll]]): the
    * session's cores shared among the segments, so with as many segments as
    * cores each task builds on one thread.
    *
    * Sizing: an upper bound on the input's rows — `rowsAtMost`, else
    * [[rowsFromMetadata]] — that is at most
    * [[MaxVectorsPerPartitionKey]] proves one segment without a job;
    * otherwise a `count()` sizes the build. A bound only decides "one
    * segment", so NULL vectors and filters never add a segment.
    *
    * Placement. One segment needs none: a bare scan, a local relation or
    * compaction's old segments are read by one task (`coalesce(1)`), so the
    * whole build is one job with no shuffle; any other input keeps its
    * map-side parallelism and meets one plain single-partition exchange.
    * Several segments ([[BuildPartitionByKey]]):
    *  - "key" (default): range-partition on the id — deterministic
    *    placement, co-located id ranges keep the rowid fetch-back join
    *    prunable and key probes (delete) segment-prunable via the recorded
    *    (min, max). Centroids of key-ranged segments are near-identical,
    *    so routing can't prune — keep probeSegments = 0.
    *  - "vector": IVF-style — deterministic integer-Lloyd k-means over the
    *    vectors, one segment per cluster (exact partitioner, no hash
    *    collisions merging clusters). Segments become vector-local, so
    *    routing reaches IVF-like recall at p ≪ segments; key ranges are
    *    recorded but overlap, so key probes degrade (stay correct). */
  private def buildSegments(
      spark: SparkSession,
      data: Dataset[(Long, Array[Float])],
      dir: File,
      prefix: String,
      dim: Option[Int],
      opts: Options,
      rowsAtMost: Option[Long] = None): Seq[(String, Long, Long, Long, Array[Float])] = {
    val maxPer = ExecTuning.confLong(spark, MaxVectorsPerPartitionKey, 262144L, min = 1)
    val byVector = ExecTuning.confChoice(spark, BuildPartitionByKey, "key", "key", "vector") == "vector"
    val bound = rowsAtMost.orElse(rowsFromMetadata(data))
    val numParts =
      if (bound.exists(_ <= maxPer)) 1
      else math.max(1L, (data.count() + maxPer - 1) / maxPer).toInt
    val dirPath = dir.getAbsolutePath
    val (metric, m, m0, efc) = (opts.metric, opts.m, opts.m0, opts.efConstruction)
    val parted: org.apache.spark.rdd.RDD[(Long, Array[Float])] =
      if (numParts == 1) {
        (if (bound.isDefined) data.coalesce(1) else data.repartition(1)).rdd
      } else if (byVector) {
        import spark.implicits._
        graft.embedding.Cluster.kmeansAssign(
            data.toDF("_1", "_2"), "_2", "_1", k = numParts, iters = 3)
          .select(col("cluster").cast("int"), col("_1"), col("_2"))
          .as[(Int, Long, Array[Float])].rdd
          .map { case (c, k, v) => (c, (k, v)) }
          .partitionBy(new org.apache.spark.Partitioner {
            override def numPartitions: Int = numParts
            override def getPartition(key: Any): Int = key.asInstanceOf[Int]
          })
          .map(_._2)
      } else data.repartitionByRange(numParts, col("_1")).rdd
    val parallelism = spark.sparkContext.defaultParallelism
    parted
      .mapPartitionsWithIndex { (i, rows) =>
        val sorted = rows.toArray.sortBy(_._1)
        if (sorted.isEmpty) Iterator.empty
        else {
          val vecs = sorted.map(_._2)
          val d = dim.getOrElse(vecs.head.length)
          val g = new HnswGraph(d, metric, m, m0, efc, seed = 42L + i)
          g.addAll(sorted.map(_._1), vecs,
            buildThreads(parallelism, numParts, Runtime.getRuntime.availableProcessors))
          val sum = new Array[Double](d)
          vecs.foreach { v =>
            var j = 0
            while (j < d) { sum(j) += v(j); j += 1 }
          }
          val f = f"$prefix-$i%05d.hnsw"
          IndexCatalog.writeGraph(new File(dirPath, f), g)
          val (lo, hi) = g.keyRange.get
          Iterator.single((f, g.size.toLong, lo, hi,
            sum.map(x => (x / g.size).toFloat)))
        }
      }
      .collect().toSeq.sortBy(_._1)
  }

  /** An upper bound on `data`'s rows from metadata alone, when its
    * optimized plan is a bare scan: only projections and filters over one
    * parquet relation (the row counts of its footers, [[RowidFetch.rowCount]])
    * or over a local relation. None for any other plan. */
  private def rowsFromMetadata(data: Dataset[_]): Option[Long] = {
    @scala.annotation.tailrec
    def leaf(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => leaf(child)
      case Filter(_, child) => leaf(child)
      case other => other
    }
    leaf(data.queryExecution.optimizedPlan) match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        RowidFetch.rowCount(data.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], fs)
      case local: LocalRelation => Some(local.data.length.toLong)
      case _ => None
    }
  }

  /** Threads for one build task: `parallelism` cores shared among
    * `segments` tasks, at least one and at most the executor's
    * `processors`. */
  private[graft] def buildThreads(parallelism: Int, segments: Int, processors: Int): Int =
    math.max(1, math.min(parallelism / segments, processors))

  /** The dimension of freshly built `segments` (0 when there are none).
    * Segments that disagree are deleted from `dir` and fail the build. */
  private def segmentDim(dir: File, segments: Seq[(String, Long, Long, Long, Array[Float])]): Int =
    segments.map(_._5.length).distinct match {
      case Seq() => 0
      case Seq(d) => d
      case dims =>
        segments.foreach(s => new File(dir, s._1).delete())
        throw new IllegalArgumentException(
          s"HNSW index vector dimension mismatch: segments hold ${dims.sorted.mkString(", ")}")
    }

  /** Root paths of the scanned file relation — the index↔scan binding the
    * optimizer rules use (analogue of IsDuckTable + column binding checks,
    * hnsw_optimize_scan.cpp:91-148). */
  def relationPaths(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten.distinct.sorted

  // ----------------------------------------------------------------- search

  /** Most segments a driver-side call touches in the calling thread; with
    * more, a Spark job (one task per segment) is cheaper than the loop. */
  private val DriverLocalSegments = 4

  /**
   * Raw ANN search in the calling thread: top-k (rowid, internal-metric
   * distance) ascending. Distances are the index metric's
   * (l2sq/cosine/ip ordering — monotone with the SQL-surface functions;
   * SURVEY §7.3 item 5).
   */
  def searchRaw(spark: SparkSession, name: String, q: Array[Float], k: Int,
      efOverride: Option[Int] = None): Array[(Long, Double)] = {
    val meta = IndexCatalog.load(baseDir(spark), name)
    searchOne(spark, meta, q, k, efOverride.getOrElse(efSearch(spark, meta)))
  }

  private def searchOne(spark: SparkSession, meta: HnswIndexMeta, q: Array[Float], k: Int,
      ef: Int): Array[(Long, Double)] =
    searchBatch(None, baseDir(spark), meta, Array(q), k, ef,
      probeSegments(spark), adaptiveProbeMargin(spark)).hits.head

  /**
   * Run `body` on one committed version of index `name`, the newest: its
   * segments, centroids and tombstones come from one manifest, so a reader
   * never pairs one version's segments with another's tombstones.
   * Compaction-race shield: when a segment file has vanished underneath
   * it, read the newest version again and retry once. [[compactIndex]]
   * writes the new segments completely and commits its manifest BEFORE
   * deleting the old files, and segment names are never reused — so a
   * reader that read the version before can only fail with missing-file,
   * and the version read after is always servable. A task-side missing
   * file surfaces wrapped in SparkException; isMissingFile walks the cause
   * chain.
   */
  private def withCurrentVersion[T](base: String, name: String)(body: IndexManifest => T): T =
    try body(IndexCatalog.current(base, name)) catch {
      case e: Exception if isMissingFile(e) => body(IndexCatalog.current(base, name))
    }

  @scala.annotation.tailrec
  private def isMissingFile(e: Throwable): Boolean = e match {
    case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException => true
    case other if other.getCause != null && (other.getCause ne other) => isMissingFile(other.getCause)
    case _ => false
  }

  /** Apply `f` to each per-segment item, in order. Without a session
    * (executor side) or with at most [[DriverLocalSegments]] items it runs
    * in the calling thread; otherwise as one Spark task per item, each
    * task reading its segment through its executor's GraphCache. */
  private def perSegment[A: ClassTag, B: ClassTag](spark: Option[SparkSession],
      items: Seq[A])(f: A => B): Iterator[B] = spark match {
    case Some(s) if items.size > DriverLocalSegments =>
      s.sparkContext.parallelize(items, items.size).map(f).collect().iterator
    case _ => items.iterator.map(f)
  }

  /** What [[searchBatch]] found: per query, the ascending top-k (rowid,
    * index-metric distance); how many segment searches were answered by
    * exact distances over their allowed nodes; how many segments were
    * searched; and how many of their graphs this call loaded from files
    * (GraphCache misses, in tasks too) and the nanoseconds that took. */
  private[graft] final case class Found(hits: Array[Array[(Long, Double)]], exactSearches: Int,
      segments: Int, graphLoads: Int, loadNanos: Long)

  /** One segment's answer: its live allowed nodes, per routed query the
    * hits, how many of them exact distances gave, and the nanoseconds its
    * graph took to load (0 from the cache). */
  private final case class SegmentHits(allowed: Int, hits: Array[Array[(Long, Double)]],
      exact: Int, loadNanos: Long)

  /**
   * The index's one search: for each query (null → empty), the ascending
   * top-k (rowid, index-metric distance) over the routed segments
   * ([[graft.index.HnswIndexMeta.routedSegments]] at `probe`, `margin`) of
   * the newest version of `index` ([[withCurrentVersion]]), not of the
   * version `index` was read at, which a plan may hold from before a
   * compaction.
   *
   * Segment-outer: each routed segment is loaded once through GraphCache
   * and serves every query routed to it before the next segment is
   * touched — per-query segment loops would reload every segment per query
   * whenever the byte-bounded cache is smaller than the index. Routing
   * happens before the fan-out decision, so a 1000-segment index routed to
   * p = 8 never becomes a 1000-task job; a segment no query routed to is
   * never loaded. `spark` picks where the segments run ([[perSegment]]):
   * the SQL index scan passes its session; executor-side callers (the
   * index join) and single-thread callers pass None.
   *
   * Only allowed nodes enter a segment's result ([[HnswGraph.search]]):
   * those not tombstoned in that version and, when `allow`
   * is given (sorted rowids, the filtered scan's allow-list), whose rowid it
   * holds. A segment with no more allowed nodes than the candidate width
   * max(ef, k), or whose traversal returns fewer than k while at least k
   * are allowed, is answered by exact distances over its allowed nodes
   * ([[HnswGraph.exact]]). With `allow`, a query whose routed segments hold
   * fewer than k allowed rows also searches every other segment. So a
   * filtered search returns k rows whenever k indexed rows are allowed.
   * The allow-list ships inside the per-segment function, which a Spark
   * job broadcasts once with its task binary.
   */
  private[graft] def searchBatch(spark: Option[SparkSession], base: String,
      index: HnswIndexMeta, queries: Array[Array[Float]], k: Int, ef: Int,
      probe: Int, margin: Double, allow: Option[Array[Long]] = None): Found =
    withCurrentVersion(base, index.name) { case IndexManifest(meta, tombs) =>
      val dirPath = IndexCatalog.indexDir(base, meta.name).getAbsolutePath
      val allowIds = allow.orNull
      val width = math.max(ef, k)
      // Search each segment for the queries routed to it: segment → (query
      // indices, hits).
      def searchSegments(routes: Array[Seq[String]]): Map[String, (Array[Int], SegmentHits)] = {
        val routed = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofInt]
        routes.indices.foreach { i =>
          routes(i).foreach(s => routed.getOrElseUpdate(s, new mutable.ArrayBuilder.ofInt) += i)
        }
        val work = meta.segments.flatMap(s => routed.get(s).map(qs =>
          (s, qs.result(), tombs.getOrElse(s, Array.emptyLongArray))))
        val found = perSegment(spark, work) { case (s, qs, deleted) =>
          val (g, loadNanos) = GraphCache.load(new File(dirPath, s))
          val allowed = g.allowedNodes(allowIds, deleted)
          val n = if (allowed == null) g.size else allowed.cardinality
          var exact = 0
          val hits = qs.map { i =>
            val traversed = if (allowed != null && n <= width) null
              else g.search(queries(i), k, ef, allowed)
            if (traversed != null && traversed.length >= math.min(k, n)) traversed
            else { exact += 1; g.exact(queries(i), k, allowed) }
          }
          SegmentHits(n, hits, exact, loadNanos)
        }
        work.iterator.zip(found).map { case ((s, qs, _), h) => s -> (qs, h) }.toMap
      }
      val routes = queries.map(q =>
        if (q == null) Seq.empty[String] else meta.routedSegments(q, probe, margin))
      val first = searchSegments(routes)
      val widened = if (allow.isEmpty) Map.empty[String, (Array[Int], SegmentHits)] else {
        searchSegments(routes.map { rs =>
          if (rs.isEmpty || rs.map(first(_)._2.allowed).sum >= k) Seq.empty
          else meta.segments.filterNot(rs.contains)
        })
      }
      // Merge in catalog segment order, so equal distances break alike on
      // every path.
      val acc = Array.fill(queries.length)(mutable.ArrayBuffer.empty[(Long, Double)])
      for (s <- meta.segments; (qs, h) <- first.get(s) ++ widened.get(s); j <- qs.indices) {
        val buf = acc(qs(j))
        buf ++= h.hits(j)
        // Keep each accumulator bounded: only the best k can survive.
        if (buf.length > 4 * k) {
          val best = buf.sortBy(_._2).take(k)
          buf.clear(); buf ++= best
        }
      }
      val searched = (first.valuesIterator ++ widened.valuesIterator).map(_._2).toSeq
      Found(acc.map(_.sortBy(_._2).take(k).toArray), searched.map(_.exact).sum,
        searched.size, searched.count(_.loadNanos > 0), searched.map(_.loadNanos).sum)
    }

  /** Top-k as a DataFrame (id, distance) — the `hnsw_index_scan` surface. */
  def topK(spark: SparkSession, name: String, q: Array[Float], k: Int): DataFrame = {
    val meta = IndexCatalog.load(baseDir(spark), name)
    val hits = searchOne(spark, meta, q, k, efSearch(spark, meta))
    spark.createDataFrame(
      java.util.Arrays.asList(hits.map(h => Row(h._1, h._2)): _*),
      StructType(Seq(
        StructField(meta.idColumn, LongType, nullable = false),
        StructField("distance", DoubleType, nullable = false))))
  }

  // ------------------------------------------------------------------ CRUD

  /**
   * Append new vectors as delta segments (O11). Spark storage is immutable,
   * so "insert" is segment append — search transparently fans out over all
   * segments; staleness semantics match the reference's incremental adds.
   */
  def insert(spark: SparkSession, name: String, df: DataFrame): HnswIndexMeta = {
    val base = baseDir(spark)
    val IndexManifest(meta, tombs) = IndexCatalog.current(base, name)
    import spark.implicits._
    val data = df.select(col(meta.idColumn).cast(LongType).as("_1"), col(meta.column).as("_2"))
      .where(col("_2").isNotNull)
      .as[(Long, Array[Float])]
    val dir = IndexCatalog.indexDir(base, name)
    val opts = Options(meta.metric, meta.efConstruction, meta.efSearch, meta.m, meta.m0)
    val segs = buildSegments(spark, data, dir, s"delta-${writeToken()}",
      Some(meta.dim).filter(_ > 0), opts)
    if (segs.isEmpty) return meta
    val dim = segmentDim(dir, segs)
    // A previously deleted key re-inserted here lives in the new segment;
    // per-segment tombstones keep only the old copies hidden.
    val updated = meta.copy(
      dim = dim,
      count = meta.count + segs.map(_._2).sum,
      segments = meta.segments ++ segs.map(_._1),
      segmentRanges = meta.segmentRanges ++ segs.map(s => (s._3, s._4)),
      centroids = meta.centroids ++ segs.map(_._5))
    committing(dir, segs.map(_._1))(IndexCatalog.save(base, updated, tombs))
  }

  /** A name part no other write uses, so concurrent writes never write
    * the same segment file. */
  private def writeToken(): String = java.util.UUID.randomUUID().toString

  /** Run `commit`; when it is refused, delete `written`, this write's own
    * segment files (no manifest names them), and rethrow. */
  private def committing(dir: File, written: Seq[String])(commit: => HnswIndexMeta): HnswIndexMeta =
    try commit catch {
      case e: ConcurrentIndexChangeException =>
        written.foreach(s => new File(dir, s).delete())
        throw e
    }

  /** Delete rowids (O12) by recording catalog tombstones — search drops
    * them until [[compactIndex]] rebuilds without them, matching the
    * reference's mark-then-compact contract (README.md:67-69).
    *
    * Scale shape: the membership probe is pruned driver-side by the
    * per-segment key ranges recorded at build (segments are
    * range-partitioned on the key), then runs as a Spark job over the
    * surviving (segment, keys) pairs — the driver never deserializes a
    * graph, no matter how many segments the index has. */
  def delete(spark: SparkSession, name: String, keys: Seq[Long]): HnswIndexMeta = {
    val base = baseDir(spark)
    val IndexManifest(meta, existing) = IndexCatalog.current(base, name)
    val dirPath = IndexCatalog.indexDir(base, name).getAbsolutePath
    val distinctKeys = keys.distinct
    // Range-pruned probe plan: which keys could live in which segment.
    val probes: Seq[(String, Seq[Long])] = distinctKeys
      .flatMap(k => meta.segmentsForKey(k).map(s => (s, k)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
    val hits = perSegment(Some(spark), probes) { case (s, ks) =>
      val g = GraphCache.get(new File(dirPath, s))
      ks.filter(g.contains).map(k => (s, k))
    }.flatten.toSeq
    recordTombstones(base, meta, existing, hits)
  }

  /**
   * Delete-by-DataFrame (the 100 TB shape of O12): the key set never lives
   * on the driver as a collection — it is range-joined against a broadcast
   * of the per-segment key ranges, shuffled on segment, and each task probes
   * its segment's graph for membership. Only the HITS (keys actually present,
   * = rows the manifest must record anyway) return to the driver.
   * The Seq overload above keeps its direct path: for row-at-a-time deletes
   * (the reference's DELETE semantics) a Spark job costs more than the probe.
   */
  def delete(spark: SparkSession, name: String, keyDf: DataFrame): HnswIndexMeta = {
    val base = baseDir(spark)
    val IndexManifest(meta, existing) = IndexCatalog.current(base, name)
    val dirPath = IndexCatalog.indexDir(base, name).getAbsolutePath
    import spark.implicits._
    val keyCol = keyDf.columns.head
    // (segment, lo, hi) is tiny (one row per segment) — broadcast it so the
    // range join never shuffles the key set by anything but its hash.
    val ranges = meta.segments.zip(meta.segmentRanges).map { case (s, (lo, hi)) => (s, lo, hi) }
    val rangeDf = broadcast(ranges.toDF("_seg", "_lo", "_hi"))
    val hits = keyDf.select(col(keyCol).cast(LongType).as("_k")).where(col("_k").isNotNull)
      .distinct()
      .join(rangeDf, col("_k") >= col("_lo") && col("_k") <= col("_hi"))
      .select(col("_seg"), col("_k"))
      .repartition(col("_seg"))
      .mapPartitions { rows =>
        // One graph lookup per candidate, grouped so each task touches few
        // segments; GraphCache makes repeated segment loads per-JVM cheap.
        rows.map(r => (r.getString(0), r.getLong(1)))
          .filter { case (s, k) => GraphCache.get(new File(dirPath, s)).contains(k) }
      }.collect().toSeq
    recordTombstones(base, meta, existing, hits)
  }

  /** Commit `hits`, the (segment, key) copies found, as tombstones on top
    * of `existing`; `count` drops by the copies newly tombstoned. A delete
    * that hides nothing new commits nothing. */
  private def recordTombstones(base: String, meta: HnswIndexMeta,
      existing: Map[String, Array[Long]], hits: Seq[(String, Long)]): HnswIndexMeta = {
    val old = (s: String) => existing.getOrElse(s, Array.emptyLongArray)
    val added = hits.groupBy(_._1).map { case (s, hs) =>
      s -> hs.map(_._2).distinct.filter(java.util.Arrays.binarySearch(old(s), _) < 0)
    }.filter(_._2.nonEmpty)
    if (added.isEmpty) meta
    else IndexCatalog.save(base, meta.copy(count = meta.count - added.valuesIterator.map(_.size).sum),
      existing ++ added.map { case (s, ks) => s -> (old(s) ++ ks).sorted })
  }

  /** Rebuild segments without catalog-tombstoned entries (O13).
    * The live entries never touch the driver: tasks read the old segments'
    * graphs from shared storage and emit survivors, and the normal build
    * path writes the fresh segments — for one segment, the same task. */
  def compactIndex(spark: SparkSession, name: String): HnswIndexMeta = {
    val base = baseDir(spark)
    val IndexManifest(meta, tombs) = IndexCatalog.current(base, name)
    val dir = IndexCatalog.indexDir(base, name)
    val dirPath = dir.getAbsolutePath
    import spark.implicits._
    val live = spark.sparkContext
      .parallelize(meta.segments.map(s => (s, tombs.getOrElse(s, Array.emptyLongArray))),
        math.max(1, meta.segments.size))
      .flatMap { case (s, deleted) =>
        GraphCache.get(new File(dirPath, s)).entries
          .filter { case (k, _) => java.util.Arrays.binarySearch(deleted, k) < 0 }
      }.toDS()
    val opts = Options(meta.metric, meta.efConstruction, meta.efSearch, meta.m, meta.m0)
    val segs =
      if (meta.segments.isEmpty) Seq.empty
      else buildSegments(spark, live, dir, s"part-c${writeToken()}", Some(meta.dim), opts,
        rowsAtMost = Some(meta.count))
    val updated = committing(dir, segs.map(_._1))(IndexCatalog.save(base,
      meta.copy(count = segs.map(_._2).sum, segments = segs.map(_._1),
        segmentRanges = segs.map(s => (s._3, s._4)), centroids = segs.map(_._5))))
    // The old segments go only after the commit, so the newest manifest
    // never names a deleted file.
    meta.segments.foreach(s => new File(dir, s).delete())
    GraphCache.invalidate(dirPath)
    updated
  }

  // ------------------------------------------------------------------ info

  /** Per-segment stats needed by [[indexInfo]] — computed where the graph
    * already lives (executor GraphCache) so the driver never deserializes a
    * graph; a few segments stay driver-local ([[perSegment]]). */
  private case class SegStats(maxLevel: Int, memBytes: Long,
      levels: Seq[(Long, Long, Long, Long)])

  private def segmentStats(spark: SparkSession, dirPath: String,
      segments: Seq[String]): Seq[SegStats] =
    perSegment(Some(spark), segments) { s =>
      val g = GraphCache.get(new File(dirPath, s))
      SegStats(g.maxLevel, g.approxMemoryBytes, g.levelStats)
    }.toSeq

  /** One row per index — `pragma_hnsw_index_info()` parity
    * (hnsw_index_pragmas.cpp:41-173), including per-level allocated_bytes
    * (hnsw_index_pragmas.cpp:73-77). */
  def indexInfo(spark: SparkSession): DataFrame = {
    val base = baseDir(spark)
    val rows = IndexCatalog.list(base).map { listed =>
      val dirPath = IndexCatalog.indexDir(base, listed.name).getAbsolutePath
      // Segments, count and deleted_count of one version.
      val (meta, stats, deleted) = withCurrentVersion(base, listed.name) {
        case IndexManifest(m, tombs) => (m, segmentStats(spark, dirPath, m.segments),
          tombs.valuesIterator.map(_.length.toLong).sum)
      }
      val levels = if (stats.isEmpty) 0 else stats.map(_.maxLevel).max + 1
      val mergedStats = (0 until levels).map { lvl =>
        val per = stats.map(_.levels.lift(lvl).getOrElse((0L, 0L, 0L, 0L)))
        Row(per.map(_._1).sum, per.map(_._2).sum, per.map(_._3).sum, per.map(_._4).sum)
      }
      Row(meta.name, meta.paths.mkString(","), meta.column, meta.idColumn,
        meta.metric, meta.dim, meta.count, deleted,
        meta.segments.size, levels,
        stats.map(_.memBytes).sum, mergedStats)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), InfoSchema)
  }

  val InfoSchema: StructType = StructType(Seq(
    StructField("index_name", StringType),
    StructField("paths", StringType),
    StructField("column_name", StringType),
    StructField("id_column", StringType),
    StructField("metric", StringType),
    StructField("dimensions", IntegerType),
    StructField("count", LongType),
    StructField("deleted_count", LongType),
    StructField("segment_count", IntegerType),
    StructField("levels", IntegerType),
    StructField("approx_memory", LongType),
    StructField("level_stats", ArrayType(StructType(Seq(
      StructField("nodes", LongType),
      StructField("edges", LongType),
      StructField("max_edges", LongType),
      StructField("allocated_bytes", LongType)))))))

  // --------------------------------------------------------------- options

  private[graft] case class Options(
      metric: String, efConstruction: Int, efSearch: Int, m: Int, m0: Int)

  /** Mirrors the reference binder's option checks + messages
    * (hnsw_index_plan.cpp:33-80; verified against hnsw_options.test). */
  private[graft] def validateOptions(options: Map[String, String]): Options = {
    def intOpt(key: String, default: Int, minVal: Int): Int =
      options.get(key).map { v =>
        val n = try v.trim.toInt catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(s"HNSW index '$key' must be an integer")
        }
        if (n < minVal) throw new IllegalArgumentException(
          s"HNSW index '$key' must be at least $minVal")
        n
      }.getOrElse(default)

    val known = Set("metric", "ef_construction", "ef_search", "M", "M0")
    options.keys.find(k => !known.contains(k)).foreach { k =>
      throw new IllegalArgumentException(s"Unknown option for HNSW index: '$k'")
    }
    val metric = options.getOrElse("metric", "l2sq").toLowerCase
    if (!HnswGraph.MetricNames.contains(metric)) {
      throw new IllegalArgumentException(
        s"HNSW index 'metric' must be one of: ${HnswGraph.MetricNames.mkString(", ")}")
    }
    val m = intOpt("M", IndexCatalog.DefaultM, 2)
    Options(
      metric = metric,
      efConstruction = intOpt("ef_construction", IndexCatalog.DefaultEfConstruction, 1),
      efSearch = intOpt("ef_search", IndexCatalog.DefaultEfSearch, 1),
      m = m,
      m0 = intOpt("M0", if (options.contains("M")) 2 * m else IndexCatalog.DefaultM0, 2))
  }
}
