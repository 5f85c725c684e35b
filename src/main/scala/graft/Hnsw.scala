package graft

import java.io.File

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._

import graft.index.{GraphCache, HnswGraph, HnswIndexMeta, IndexCatalog, TombstoneCache}

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
 * partition in parallel executors (`mapPartitions` — the Spark-native
 * analogue of the reference's N construction threads over a shared
 * collection, hnsw_index_physical_create.cpp:235-247). INSERT appends new
 * delta segments; DELETE appends tombstone keys; COMPACT rebuilds. Search
 * fans out over segments and merges top-k — per-segment recall at equal ef
 * is ≥ a single graph's, so partitioning is correctness-safe (SURVEY §7.3).
 */
object Hnsw {

  val LocationKey = "spark.graft.index.location"
  val EfSearchKey = "spark.graft.hnsw.efSearch"
  val RewriteEnabledKey = "spark.graft.hnsw.rewrite.enabled"
  /** Opt-in: let the lateral-top-k rewrite fire on hand-written
    * `Filter(rn <= k, Window(row_number))` SQL whose partition key the USER
    * asserts is unique per outer row (the reference accelerates any
    * decorrelated LATERAL, where `delim_get` proves per-row grouping
    * structurally — hnsw_optimize_join.cpp:349-697; Spark plans carry no
    * such proof, hence the assertion). With duplicate keys the window
    * semantics differ (top-k per GROUP), so this defaults to off. */
  val AssumeUniqueWindowKeyKey = "spark.graft.hnsw.rewrite.assumeUniqueWindowKey"
  /** Parity no-op: files are always persistent (SURVEY §2 O17). */
  val PersistenceKey = "spark.graft.hnsw.enableExperimentalPersistence"
  val MaxVectorsPerPartitionKey = "spark.graft.hnsw.build.maxVectorsPerPartition"
  /** Initial candidate multiplier for filtered top-k index scans. */
  val FilteredOverfetchKey = "spark.graft.hnsw.filteredScan.overfetch"
  /** Widest filtered-scan candidate fetch before brute force takes over. */
  val FilteredMaxFetchKey = "spark.graft.hnsw.filteredScan.maxFetch"
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
    spark.conf.getOption(ProbeSegmentsKey).map(_.trim.toInt).getOrElse(0)

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
    spark.conf.getOption(AdaptiveProbeMarginKey).map(_.trim.toDouble).getOrElse(0.0)

  def baseDir(spark: SparkSession): String =
    spark.conf.get(LocationKey,
      new File(sys.props("java.io.tmpdir"), "graft-indexes").getAbsolutePath)

  /** Query-time beam width: session conf overrides the index default
    * (`SET hnsw_ef_search`, hnsw_index.cpp:318-329). */
  def efSearch(spark: SparkSession, meta: HnswIndexMeta): Int =
    spark.conf.getOption(EfSearchKey).map(_.toInt).getOrElse(meta.efSearch)

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
    if (!spark.conf.get(PersistenceKey, "true").toBoolean) {
      throw new IllegalStateException(
        "HNSW indexes can only be created in in-memory databases, or when the " +
          s"configuration option '$PersistenceKey' is set to true.")
    }
    val base = baseDir(spark)
    if (IndexCatalog.exists(base, name)) {
      if (!overwrite) throw new IllegalArgumentException(s"Index '$name' already exists")
      IndexCatalog.drop(base, name)
    }
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

    val dim = data.head(1).headOption.map(_._2.length).getOrElse(0)
    val dir = IndexCatalog.indexDir(base, name)
    dir.mkdirs()
    val segments =
      if (dim == 0) Seq.empty // empty source: valid, zero-count index
      else buildSegments(spark, data, dir, "part", dim, opts)
    val meta = HnswIndexMeta(
      name = name, paths = relationPaths(df), column = column, idColumn = idColumn,
      metric = opts.metric, dim = dim, m = opts.m, m0 = opts.m0,
      efConstruction = opts.efConstruction, efSearch = opts.efSearch,
      count = segments.map(_._2).sum, segments = segments.map(_._1),
      segmentRanges = segments.map(s => (s._3, s._4)),
      centroids = segments.map(_._5))
    IndexCatalog.save(base, meta)
    meta
  }

  def dropIndex(spark: SparkSession, name: String): Boolean =
    IndexCatalog.drop(baseDir(spark), name)

  /** Build one immutable graph segment per partition; returns
    * (file, count, min key, max key, centroid) per segment. The centroid
    * (mean vector, accumulated in doubles) feeds query→segment routing
    * ([[graft.index.HnswIndexMeta.routedSegments]]).
    *
    * Partition placement ([[BuildPartitionByKey]]):
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
      data: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      dir: File,
      prefix: String,
      dim: Int,
      opts: Options): Seq[(String, Long, Long, Long, Array[Float])] = {
    val maxPer = spark.conf.getOption(MaxVectorsPerPartitionKey).map(_.toLong).getOrElse(262144L)
    val total = data.count()
    val numParts = math.max(1L, (total + maxPer - 1) / maxPer).toInt
    val dirPath = dir.getAbsolutePath
    val (metric, m, m0, efc) = (opts.metric, opts.m, opts.m0, opts.efConstruction)
    val byVector = numParts > 1 &&
      spark.conf.getOption(BuildPartitionByKey).exists(_.equalsIgnoreCase("vector"))
    val parted: org.apache.spark.rdd.RDD[(Long, Array[Float])] =
      if (byVector) {
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
    parted
      .mapPartitionsWithIndex { (i, rows) =>
        val g = new HnswGraph(dim, metric, m, m0, efc, seed = 42L + i)
        val sum = new Array[Double](dim)
        var n = 0L
        rows.foreach { case (k, v) =>
          g.add(k, v)
          var j = 0
          while (j < dim) { sum(j) += v(j); j += 1 }
          n += 1
        }
        if (g.size == 0) Iterator.empty
        else {
          val f = f"$prefix-$i%05d.hnsw"
          IndexCatalog.writeGraph(new File(dirPath, f), g)
          val (lo, hi) = g.keyRange.get
          Iterator.single((f, g.size.toLong, lo, hi,
            sum.map(x => (x / n).toFloat)))
        }
      }
      .collect().toSeq.sortBy(_._1)
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

  /** Per-segment tombstone over-fetch cap: every segment search fetches
    * k + min(catalog tombstones, this) candidates, so dropped tombstones
    * cannot starve the merged top-k. Bounded because compaction, not
    * over-fetch, is the fix for large tombstone sets; the filtered index
    * scan's exhaustion proof ([[graft.plans.HnswIndexScanExec]]) relies on
    * this cap. */
  private[graft] val MaxTombstoneOverfetch = 1024

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
    val base = baseDir(spark)
    val meta = IndexCatalog.load(base, name)
    searchBatch(None, base, meta, Array(q), k, efOverride.getOrElse(efSearch(spark, meta)),
      probeSegments(spark), adaptiveProbeMargin(spark)).head
  }

  /**
   * Compaction-race shield: run `body` against `meta`, and when a segment
   * file has vanished underneath it, reload the catalog entry and retry
   * once. [[compactIndex]] writes the new generation completely and saves
   * the catalog entry BEFORE deleting the old files, and generation-stamped
   * names are never reused — so a reader that loaded meta pre-swap can only
   * fail with missing-file, and the reloaded meta is always servable.
   * Post-compaction contents are search-equivalent (compaction removes only
   * tombstoned entries, which search filters anyway). A task-side missing
   * file surfaces wrapped in SparkException; isMissingFile walks the cause
   * chain.
   */
  private def withFreshMeta[T](base: String, meta: HnswIndexMeta)(
      body: HnswIndexMeta => T): T =
    try body(meta) catch {
      case e: Exception if isMissingFile(e) => body(IndexCatalog.load(base, meta.name))
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

  /**
   * The index's one search: for each query (null → empty), the ascending
   * top-k (rowid, index-metric distance) over its routed segments
   * ([[graft.index.HnswIndexMeta.routedSegments]] at `probe`, `margin`).
   *
   * Segment-outer: each routed segment is loaded once through GraphCache
   * and serves every query routed to it before the next segment is
   * touched — per-query segment loops would reload every segment per query
   * whenever the byte-bounded cache is smaller than the index. Routing
   * happens before the fan-out decision, so a 1000-segment index routed to
   * p = 8 never becomes a 1000-task job; a segment no query routed to is
   * never loaded. Catalog tombstones are dropped from each segment's hits,
   * then each query's partial top-ks are merged. `spark` picks where the
   * segments run ([[perSegment]]): the SQL index scan passes its session;
   * executor-side callers (the index join) and single-thread callers pass
   * None.
   */
  private[graft] def searchBatch(spark: Option[SparkSession], base: String,
      meta: HnswIndexMeta, queries: Array[Array[Float]], k: Int, ef: Int,
      probe: Int, margin: Double): Array[Array[(Long, Double)]] =
    withFreshMeta(base, meta) { meta =>
      val dirPath = IndexCatalog.indexDir(base, meta.name).getAbsolutePath
      val tombs = TombstoneCache.get(base, meta.name)
      val fetch = k + math.min(tombs.size, MaxTombstoneOverfetch)
      val routed = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofInt]
      queries.indices.foreach { i =>
        if (queries(i) != null) meta.routedSegments(queries(i), probe, margin)
          .foreach(s => routed.getOrElseUpdate(s, new mutable.ArrayBuilder.ofInt) += i)
      }
      val work = meta.segments.flatMap(s => routed.get(s).map(qs => (s, qs.result())))
      val hits = perSegment(spark, work) { case (s, qs) =>
        val g = GraphCache.get(new File(dirPath, s))
        qs.map(i => g.search(queries(i), fetch, ef))
      }
      val acc = Array.fill(queries.length)(mutable.ArrayBuffer.empty[(Long, Double)])
      work.iterator.zip(hits).foreach { case ((s, qs), segHits) =>
        qs.indices.foreach { j =>
          val buf = acc(qs(j))
          buf ++= segHits(j).filterNot { case (key, _) => tombs.contains((s, key)) }
          // Keep each accumulator bounded: only the best k can survive.
          if (buf.length > 4 * fetch) {
            val best = buf.sortBy(_._2).take(k)
            buf.clear(); buf ++= best
          }
        }
      }
      acc.map(_.sortBy(_._2).take(k).toArray)
    }

  /** Top-k as a DataFrame (id, distance) — the `hnsw_index_scan` surface. */
  def topK(spark: SparkSession, name: String, q: Array[Float], k: Int): DataFrame = {
    val meta = IndexCatalog.load(baseDir(spark), name)
    val hits = searchRaw(spark, name, q, k)
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
    val meta = IndexCatalog.load(base, name)
    import spark.implicits._
    val data = df.select(col(meta.idColumn).cast(LongType).as("_1"), col(meta.column).as("_2"))
      .where(col("_2").isNotNull)
      .as[(Long, Array[Float])]
    val dim =
      if (meta.dim > 0) meta.dim
      else data.head(1).headOption.map(_._2.length).getOrElse(0)
    if (dim == 0) return meta
    val dir = IndexCatalog.indexDir(base, name)
    val opts = Options(meta.metric, meta.efConstruction, meta.efSearch, meta.m, meta.m0)
    // Monotonic stamp: max existing delta number + 1, never the segment
    // count (compaction shrinks it, which would recycle live file names).
    val stamp = meta.segments
      .flatMap(s => DeltaName.findFirstMatchIn(s).map(_.group(1).toInt))
      .foldLeft(meta.segments.size)(math.max) + 1
    val segs = buildSegments(spark, data, dir, f"delta-$stamp%05d", dim, opts)
    // A previously deleted key re-inserted here lives in the new segment;
    // per-segment tombstones keep only the old copies hidden.
    val haveRanges = meta.segmentRanges.size == meta.segments.size
    val haveCentroids = meta.centroids.size == meta.segments.size
    val updated = meta.copy(
      dim = dim,
      count = meta.count + segs.map(_._2).sum,
      segments = meta.segments ++ segs.map(_._1),
      // Only extend ranges/centroids when the existing ones are complete —
      // a partial list would misalign and break pruning/routing.
      segmentRanges =
        if (haveRanges) meta.segmentRanges ++ segs.map(s => (s._3, s._4))
        else Seq.empty,
      centroids =
        if (haveCentroids) meta.centroids ++ segs.map(_._5)
        else Seq.empty)
    IndexCatalog.save(base, updated)
    updated
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
    val meta = IndexCatalog.load(base, name)
    val dirPath = IndexCatalog.indexDir(base, name).getAbsolutePath
    val existing = IndexCatalog.tombstones(base, name)
    val distinctKeys = keys.distinct
    // Range-pruned probe plan: which keys could live in which segment.
    val probes: Seq[(String, Seq[Long])] = distinctKeys
      .flatMap(k => meta.segmentsForKey(k).map(s => (s, k)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
    val hits = perSegment(Some(spark), probes) { case (s, ks) =>
      val g = GraphCache.get(new File(dirPath, s))
      ks.filter(g.contains).map(k => (s, k))
    }.flatten.toSeq
    recordTombstones(base, name, meta, existing, hits)
  }

  /**
   * Delete-by-DataFrame (the 100 TB shape of O12): the key set never lives
   * on the driver as a collection — it is range-joined against a broadcast
   * of the per-segment key ranges, shuffled on segment, and each task probes
   * its segment's graph for membership. Only the HITS (keys actually present,
   * = rows the tombstone file must record anyway) return to the driver.
   * The Seq overload above keeps its direct path: for row-at-a-time deletes
   * (the reference's DELETE semantics) a Spark job costs more than the probe.
   */
  def delete(spark: SparkSession, name: String, keyDf: DataFrame): HnswIndexMeta = {
    val base = baseDir(spark)
    val meta = IndexCatalog.load(base, name)
    val dirPath = IndexCatalog.indexDir(base, name).getAbsolutePath
    val existing = IndexCatalog.tombstones(base, name)
    import spark.implicits._
    val keyCol = keyDf.columns.head
    // (segment, lo, hi) is tiny (one row per segment) — broadcast it so the
    // range join never shuffles the key set by anything but its hash.
    // Incomplete range metadata (possible on legacy artifacts) degrades to
    // probe-everywhere, the same fallback segmentsForKey uses.
    val ranges =
      if (meta.segmentRanges.size == meta.segments.size)
        meta.segments.zip(meta.segmentRanges).map { case (s, (lo, hi)) => (s, lo, hi) }
      else meta.segments.map(s => (s, Long.MinValue, Long.MaxValue))
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
    recordTombstones(base, name, meta, existing, hits)
  }

  private def recordTombstones(base: String, name: String, meta: HnswIndexMeta,
      existing: Set[(String, Long)], hits: Seq[(String, Long)]): HnswIndexMeta = {
    val added = hits.toSet -- existing
    IndexCatalog.writeTombstones(base, name, existing ++ added)
    val updated = meta.copy(count = meta.count - added.map(_._2).size)
    IndexCatalog.save(base, updated)
    updated
  }

  /** Rebuild segments without catalog-tombstoned entries (O13).
    * The live entries never touch the driver: a task per old segment reads
    * its graph from shared storage and emits survivors, and the normal
    * partitioned build path writes the fresh segments. */
  def compactIndex(spark: SparkSession, name: String): HnswIndexMeta = {
    val base = baseDir(spark)
    val meta = IndexCatalog.load(base, name)
    val dir = IndexCatalog.indexDir(base, name)
    val dirPath = dir.getAbsolutePath
    val tombs = IndexCatalog.tombstones(base, name)
    import spark.implicits._
    val live = spark.sparkContext
      .parallelize(meta.segments, math.max(1, meta.segments.size))
      .flatMap { s =>
        GraphCache.get(new File(dirPath, s)).entries
          .filterNot { case (k, _) => tombs.contains((s, k)) }
      }.toDS()
    val opts = Options(meta.metric, meta.efConstruction, meta.efSearch, meta.m, meta.m0)
    // Build the replacement segments first under a fresh generation prefix
    // (max existing generation + 1 — a repeated count would reuse a live
    // file name: the build would overwrite a segment the entries tasks
    // are reading, then the cleanup below would delete it), then atomically
    // swap via the metadata file.
    val gen = meta.segments
      .flatMap(s => CompactName.findFirstMatchIn(s).map(_.group(1).toInt))
      .foldLeft(0)(math.max) + 1
    val segs =
      if (meta.segments.isEmpty) Seq.empty
      else buildSegments(spark, live, dir, f"part-c$gen%03d", meta.dim, opts)
    // Commit order: the new meta first, so a reader never reloads a meta
    // that names deleted files (withFreshMeta's retry). Old tombstones name
    // only old-generation segments, so a reader between the save and the
    // clear drops nothing from the new generation.
    val updated = meta.copy(count = segs.map(_._2).sum, segments = segs.map(_._1),
      segmentRanges = segs.map(s => (s._3, s._4)), centroids = segs.map(_._5))
    IndexCatalog.save(base, updated)
    IndexCatalog.writeTombstones(base, name, Set.empty)
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
    val rows = IndexCatalog.list(base).map { meta =>
      val dirPath = IndexCatalog.indexDir(base, meta.name).getAbsolutePath
      val stats = withFreshMeta(base, meta)(m => segmentStats(spark, dirPath, m.segments))
      val tombs = IndexCatalog.tombstones(base, meta.name)
      val levels = if (stats.isEmpty) 0 else stats.map(_.maxLevel).max + 1
      val mergedStats = (0 until levels).map { lvl =>
        val per = stats.map(_.levels.lift(lvl).getOrElse((0L, 0L, 0L, 0L)))
        Row(per.map(_._1).sum, per.map(_._2).sum, per.map(_._3).sum, per.map(_._4).sum)
      }
      Row(meta.name, meta.paths.mkString(","), meta.column, meta.idColumn,
        meta.metric, meta.dim, meta.count,
        tombs.size.toLong,
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

  private val DeltaName = """delta-(\d+)""".r
  private val CompactName = """part-c(\d+)""".r

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
