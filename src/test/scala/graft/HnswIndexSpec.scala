package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.index.IndexCatalog

/** Index lifecycle: create/options/persist/insert/delete/compact/info —
  * ports of hnsw_options.test, hnsw_insert.test, hnsw_crud.test semantics. */
class HnswIndexSpec extends SparkSuite {

  // Strict val: the conf must be set before any test calls createIndex.
  private val base: String = {
    val d = Files.createTempDirectory("graft-idx").toFile.getAbsolutePath
    spark.conf.set(Hnsw.LocationKey, d)
    d
  }

  private def gridDf = {
    import spark.implicits._
    val rows = for (a <- 1 to 9; b <- 1 to 9; c <- 1 to 9)
      yield ((a - 1) * 81L + (b - 1) * 9 + (c - 1), Array(a.toFloat, b.toFloat, c.toFloat))
    rows.toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
  }

  test("option validation errors mirror the reference binder (hnsw_options.test)") {
    def err(opts: Map[String, String]): String =
      intercept[IllegalArgumentException](Hnsw.validateOptions(opts)).getMessage
    assert(err(Map("ef_construction" -> "foo")) == "HNSW index 'ef_construction' must be an integer")
    assert(err(Map("ef_construction" -> "0")) == "HNSW index 'ef_construction' must be at least 1")
    assert(err(Map("ef_search" -> "foo")) == "HNSW index 'ef_search' must be an integer")
    assert(err(Map("ef_search" -> "0")) == "HNSW index 'ef_search' must be at least 1")
    assert(err(Map("M" -> "foo")) == "HNSW index 'M' must be an integer")
    assert(err(Map("M" -> "0")) == "HNSW index 'M' must be at least 2")
    assert(err(Map("M0" -> "foo")) == "HNSW index 'M0' must be an integer")
    assert(err(Map("M0" -> "0")) == "HNSW index 'M0' must be at least 2")
    assert(err(Map("metric" -> "nope")) == "HNSW index 'metric' must be one of: l2sq, cosine, ip")
    assert(err(Map("bogus" -> "1")) == "Unknown option for HNSW index: 'bogus'")
    // All parameters in range — ok (hnsw_options.test:52)
    val ok = Hnsw.validateOptions(Map(
      "ef_construction" -> "100", "ef_search" -> "100", "M" -> "3", "M0" -> "3"))
    assert(ok == Hnsw.Options("l2sq", 100, 100, 3, 3))
    // Defaults match BASELINE.md: M=16, M0=32, efc=128, efs=64
    assert(Hnsw.validateOptions(Map.empty) == Hnsw.Options("l2sq", 128, 64, 16, 32))
    // M0 defaults to 2*M when only M is given (usearch convention)
    assert(Hnsw.validateOptions(Map("M" -> "8")).m0 == 16)
  }

  test("a bad spark.graft.hnsw.* value fails with IllegalArgumentException naming its key") {
    val dir = Files.createTempDirectory("graft-idx-conf").toFile.getAbsolutePath
    gridDf.write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir)
    Hnsw.createIndex(spark, "conf_grid", table, "vec", "id", overwrite = true)
    val q = graft.functions.lit_vector(Array(1f, 2f, 3f))
    def topK() = table.orderBy(graft.functions.array_distance(col("vec"), q)).limit(3).collect()
    // A hand-written top-k-per-row window: the lateral rule reads its
    // opt-in key before anything else.
    def perRow() = {
      import spark.implicits._
      Seq((1L, Array(1f, 2f, 3f))).toDF("qid", "q").crossJoin(table)
        .withColumn("d", graft.functions.array_distance(col("vec"), col("q")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid").orderBy("d")))
        .where(col("rn") <= 3).collect()
    }
    def build() = Hnsw.createIndex(spark, "conf_build", gridDf, "vec", "id", overwrite = true)
    def failsNaming(key: String, value: String)(body: => Any): Unit = {
      spark.conf.set(key, value)
      try {
        val e = intercept[Exception](body)
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
          t.getMessage.contains(key) && t.getMessage.contains(value)),
          chain.map(_.toString).mkString(" <- "))
      } finally spark.conf.unset(key)
    }
    failsNaming(Hnsw.EfSearchKey, "abc")(topK())
    failsNaming(Hnsw.EfSearchKey, "0")(topK())
    failsNaming(Hnsw.ProbeSegmentsKey, "two")(topK())
    failsNaming(Hnsw.AdaptiveProbeMarginKey, "-1.5")(topK())
    failsNaming(Hnsw.AdaptiveProbeMarginKey, "Infinity")(topK())
    failsNaming(Hnsw.RewriteEnabledKey, "maybe")(topK())
    failsNaming(Hnsw.AssumeUniqueWindowKeyKey, "maybe")(perRow())
    failsNaming(Hnsw.PersistenceKey, "maybe")(build())
    failsNaming(Hnsw.MaxVectorsPerPartitionKey, "0")(build())
    failsNaming(Hnsw.BuildPartitionByKey, "vectors")(build())
    // Good values still serve.
    spark.conf.set(Hnsw.BuildPartitionByKey, "VECTOR")
    try assert(build().segments.size == 1) finally spark.conf.unset(Hnsw.BuildPartitionByKey)
    assert(topK().head.getLong(0) == 11L)
    Hnsw.dropIndex(spark, "conf_grid")
    Hnsw.dropIndex(spark, "conf_build")
  }

  test("non-FLOAT[] key column rejected (hnsw_index_plan.cpp:88)") {
    import spark.implicits._
    val bad = Seq((1L, Array(1.0, 2.0))).toDF("id", "vec") // array<double>
    val e = intercept[IllegalArgumentException](
      Hnsw.createIndex(spark, "bad_idx", bad, "vec", "id"))
    assert(e.getMessage == "HNSW index keys must be of type FLOAT[N]")
  }

  test("create + search grid exactly (hnsw_result.test) and survive 'restart'") {
    Hnsw.createIndex(spark, "grid_idx", gridDf, "vec", "id", overwrite = true)
    val hits = Hnsw.searchRaw(spark, "grid_idx", Array(1f, 2f, 3f), 3)
    assert(hits.map(h => math.sqrt(h._2)).toSeq == Seq(0.0, 1.0, 1.0))
    // "restart": reload purely from disk artifacts (fresh catalog read +
    // invalidated cache), as the driver's restart directive does.
    graft.index.GraphCache.invalidate(base)
    val meta2 = IndexCatalog.load(base, "grid_idx")
    assert(meta2.count == 729 && meta2.dim == 3 && meta2.metric == "l2sq")
    val hits2 = Hnsw.searchRaw(spark, "grid_idx", Array(1f, 2f, 3f), 3)
    assert(hits2.map(h => math.sqrt(h._2)).toSeq == Seq(0.0, 1.0, 1.0))
  }

  test("multi-segment build searches across segments") {
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, "100") // force 8 segments
    try {
      Hnsw.createIndex(spark, "grid_seg", gridDf, "vec", "id", overwrite = true)
      val meta = IndexCatalog.load(base, "grid_seg")
      assert(meta.segments.size == 8)
      val hits = Hnsw.searchRaw(spark, "grid_seg", Array(9f, 9f, 9f), 4)
      assert(math.sqrt(hits.head._2) == 0.0)
      assert(hits.map(h => math.sqrt(h._2)).toSeq == Seq(0.0, 1.0, 1.0, 1.0))
    } finally spark.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
  }

  test("multi-segment delete: range-pruned distributed probe (no driver graph load)") {
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, "100")
    try {
      Hnsw.createIndex(spark, "grid_del", gridDf, "vec", "id", overwrite = true)
      val meta = IndexCatalog.load(base, "grid_del")
      assert(meta.segments.size == 8)
      // Build records one (min,max) key range per segment; ranges are
      // disjoint (range partitioning on the key), so any key probes
      // exactly one segment — driver-side pruning needs no graph load.
      assert(meta.segmentRanges.size == meta.segments.size)
      assert(meta.segmentRanges.forall { case (lo, hi) => lo <= hi })
      assert((0L until 729L).forall(k => meta.segmentsForKey(k).size == 1))
      assert(meta.segmentsForKey(5000L).isEmpty)
      // Delete keys spanning several segments (+ one absent key): the probe
      // set exceeds the local threshold, exercising the distributed path.
      val victims = Seq(0L, 100L, 200L, 300L, 400L, 500L, 600L, 700L, 5000L)
      val updated = Hnsw.delete(spark, "grid_del", victims)
      assert(updated.count == 729L - 8)
      val hits = Hnsw.searchRaw(spark, "grid_del", Array(1f, 1f, 1f), 729)
      assert(victims.toSet.intersect(hits.map(_._1).toSet).isEmpty)
      assert(hits.length == 721)
      Hnsw.dropIndex(spark, "grid_del")
    } finally spark.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
  }

  test("delete-by-DataFrame: 100k-key set never collected on the driver") {
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, "100")
    try {
      Hnsw.createIndex(spark, "grid_del_df", gridDf, "vec", "id", overwrite = true)
      // 100k candidate keys as a distributed Dataset — the overload range-
      // joins them against broadcast segment ranges and probes per segment;
      // only actual hits (even ids < 729) reach the driver's manifest.
      val victims = spark.range(0L, 100000L).withColumn("id", col("id") * 2)
      val updated = Hnsw.delete(spark, "grid_del_df", victims.toDF("id"))
      val expectedHits = (0L until 729L).count(_ % 2 == 0)
      assert(updated.count == 729L - expectedHits)
      val hits = Hnsw.searchRaw(spark, "grid_del_df", Array(1f, 1f, 1f), 729)
      assert(hits.length == 729 - expectedHits)
      assert(hits.forall(_._1 % 2 == 1))
      // Dedup inside the overload: deleting the same keys again is a no-op.
      assert(Hnsw.delete(spark, "grid_del_df", victims.toDF("id")).count
        == 729L - expectedHits)
      Hnsw.dropIndex(spark, "grid_del_df")
    } finally spark.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
  }

  test("insert tracks count (hnsw_insert.test) and delete+compact (hnsw_crud.test)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    Hnsw.createIndex(spark, "crud_idx", empty, "vec", "id", overwrite = true)
    assert(IndexCatalog.load(base, "crud_idx").count == 0)

    def ins(id: Long, v: Array[Float]) = Hnsw.insert(spark, "crud_idx",
      Seq((id, v)).toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>")))
    ins(1L, Array(1f, 2f, 3f))
    ins(2L, Array(4f, 5f, 6f))
    assert(IndexCatalog.load(base, "crud_idx").count == 2)
    ins(3L, Array(7f, 8f, 9f))
    assert(IndexCatalog.load(base, "crud_idx").count == 3)
    assert(Hnsw.searchRaw(spark, "crud_idx", Array(4f, 5f, 6f), 1).head._1 == 2L)

    // delete marks only; search excludes; compact rebuilds
    Hnsw.delete(spark, "crud_idx", Seq(2L, 99L)) // 99 not present — no-op
    assert(IndexCatalog.load(base, "crud_idx").count == 2)
    assert(!Hnsw.searchRaw(spark, "crud_idx", Array(4f, 5f, 6f), 3).map(_._1).contains(2L))
    Hnsw.compactIndex(spark, "crud_idx")
    val meta = IndexCatalog.load(base, "crud_idx")
    assert(meta.count == 2)
    assert(IndexCatalog.tombstones(base, "crud_idx").isEmpty)
    assert(Hnsw.searchRaw(spark, "crud_idx", Array(1f, 2f, 3f), 2).map(_._1).toSet == Set(1L, 3L))

    // re-insert a deleted key revives it
    Hnsw.delete(spark, "crud_idx", Seq(1L))
    assert(IndexCatalog.load(base, "crud_idx").count == 1)
    ins(1L, Array(1f, 2f, 3f))
    assert(IndexCatalog.load(base, "crud_idx").count == 2)
    assert(Hnsw.searchRaw(spark, "crud_idx", Array(1f, 2f, 3f), 1).head._1 == 1L)
  }

  test("indexInfo reports catalog + graph stats (pragma_hnsw_index_info)") {
    Hnsw.createIndex(spark, "grid_info", gridDf, "vec", "id",
      Map("metric" -> "cosine", "M" -> "8"), overwrite = true)
    val info = Hnsw.indexInfo(spark)
    val row = info.where(col("index_name") === "grid_info").collect().head
    assert(row.getAs[String]("metric") == "cosine")
    assert(row.getAs[Int]("dimensions") == 3)
    assert(row.getAs[Long]("count") == 729L)
    assert(row.getAs[Int]("levels") >= 1)
    val stats = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("level_stats")
    val lvl0 = stats.head
    assert(lvl0.getAs[Long]("nodes") == 729L)
    assert(lvl0.getAs[Long]("edges") > 0L)
    assert(row.getAs[Long]("approx_memory") > 0L)
    // Per-level allocated_bytes (hnsw_index_pragmas.cpp:73-77): positive at
    // every level and summing to the index's total memory estimate.
    assert(stats.forall(_.getAs[Long]("allocated_bytes") > 0L))
    assert(stats.map(_.getAs[Long]("allocated_bytes")).sum ==
      row.getAs[Long]("approx_memory"))
  }

  test("ANN recall@10 at default ef on real embeddings >= 0.9") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    Hnsw.createIndex(spark, "recall_idx", emb, "embedding", "vec_id", overwrite = true)
    import spark.implicits._
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    var recallSum = 0.0
    val queries = vecs.take(20)
    queries.foreach { case (_, q) =>
      val exact = vecs.map { case (id, v) =>
        (id, graft.expressions.VectorMath.l2Squared(q, v))
      }.sortBy(_._2).take(10).map(_._1).toSet
      val approx = Hnsw.searchRaw(spark, "recall_idx", q, 10).map(_._1).toSet // ef=64 default
      recallSum += (exact & approx).size / 10.0
    }
    val recall = recallSum / queries.length
    assert(recall >= 0.9, s"recall@10 = $recall")
    Hnsw.dropIndex(spark, "recall_idx")
  }

  test("build threads: the session's cores shared among segments, one each when segments >= cores") {
    assert(Hnsw.buildThreads(parallelism = 4, segments = 1, processors = 4) == 4)
    assert(Hnsw.buildThreads(parallelism = 4, segments = 2, processors = 4) == 2)
    assert(Hnsw.buildThreads(parallelism = 4, segments = 3, processors = 4) == 1)
    assert(Hnsw.buildThreads(parallelism = 4, segments = 4, processors = 4) == 1)
    assert(Hnsw.buildThreads(parallelism = 4, segments = 9, processors = 4) == 1)
    // Capped at the executor's processors.
    assert(Hnsw.buildThreads(parallelism = 16, segments = 1, processors = 4) == 4)
  }

  test("createIndex takes the dimension from its segments: no job before the build") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dim").toFile
    val path = new java.io.File(dir, "t").getAbsolutePath
    (0 until 300).map(i => (i.toLong, Array.fill(4)(i.toFloat))).toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>")).write.parquet(path)
    val df = spark.read.parquet(path)
    val (meta, jobs) = jobsOf(Hnsw.createIndex(spark, "dim_idx", df, "vec", "id", overwrite = true))
    assert(meta.dim == 4 && meta.count == 300)
    // The footers size the build, so the build is the only job; a head(1)
    // for the dimension would be a second.
    assert(jobs == 1, s"createIndex ran $jobs jobs")
    Hnsw.dropIndex(spark, "dim_idx")
  }

  /** Jobs `body` starts and the shuffle bytes its tasks write. */
  private def jobsAndShuffle[T](body: => T): (T, Int, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.graftbridge.Bridge
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    Bridge.drainListenerBus(spark, 60000)
    spark.sparkContext.addSparkListener(listener)
    try {
      val (r, jobs) = jobsOf(body)
      (r, jobs, bytes.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `n` rows of (id, 8-dim vec), every `nullEvery`-th vector NULL (0: none),
    * written as `files` parquet files. */
  private def vectorTable(n: Int, files: Int, nullEvery: Int = 0) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val path = new java.io.File(Files.createTempDirectory("graft-build").toFile, "t").getAbsolutePath
    (0 until n).map { i =>
      (i.toLong, if (nullEvery > 0 && i % nullEvery == 0) null
        else Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
      .repartition(files).write.parquet(path)
    val t = spark.read.parquet(path)
    assert(t.inputFiles.length == files)
    t
  }

  private def segmentBytes(name: String): Array[Byte] = {
    val meta = IndexCatalog.load(base, name)
    assert(meta.segments == Seq("part-00000.hnsw"), meta.segments)
    Files.readAllBytes(new java.io.File(IndexCatalog.indexDir(base, name), meta.segments.head).toPath)
  }

  test("a one-segment build is one job with no shuffle, and its file does not depend on the input plan") {
    val t = vectorTable(600, files = 3)
    val (meta, jobs, shuffled) = jobsAndShuffle(
      Hnsw.createIndex(spark, "one_scan", t, "vec", "id", overwrite = true))
    assert(meta.count == 600 && meta.segments.size == 1)
    assert(jobs == 1, s"createIndex ran $jobs jobs")
    assert(shuffled == 0L, s"createIndex wrote $shuffled shuffle bytes")
    val scanned = segmentBytes("one_scan")

    // The same rows as a local relation: also one job, no shuffle.
    val local = spark.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
    val (_, localJobs, localShuffled) = jobsAndShuffle(
      Hnsw.createIndex(spark, "one_local", local, "vec", "id", overwrite = true))
    assert(localJobs == 1 && localShuffled == 0L, s"$localJobs jobs, $localShuffled bytes")
    assert(java.util.Arrays.equals(segmentBytes("one_local"), scanned))

    // Behind a join the input keeps its own partitions and meets one
    // single-partition exchange: the same rows make the same file.
    val joined = t.join(spark.range(0, 600).toDF("id"), "id")
    val (_, _, joinShuffled) = jobsAndShuffle(
      Hnsw.createIndex(spark, "one_join", joined, "vec", "id", overwrite = true))
    assert(joinShuffled > 0L)
    assert(java.util.Arrays.equals(segmentBytes("one_join"), scanned))
    Seq("one_scan", "one_local", "one_join").foreach(Hnsw.dropIndex(spark, _))
  }

  test("NULL vectors count in the footer bound but not in the index") {
    val t = vectorTable(300, files = 2, nullEvery = 3)
    val fs = t.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
        r: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) => r
    }.get
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(graft.plans.RowidFetch.rowCount(session, fs) == Some(300L))
    val (meta, jobs) = jobsOf(Hnsw.createIndex(spark, "nulls_idx", t, "vec", "id", overwrite = true))
    assert(meta.count == 200 && meta.segments.size == 1 && jobs == 1, s"$meta, $jobs jobs")
    Hnsw.dropIndex(spark, "nulls_idx")
  }

  test("a filtered scan whose footer bound exceeds a segment is counted, and builds one segment") {
    val t = vectorTable(3000, files = 3)
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, "1000")
    try {
      val (meta, jobs) = jobsOf(
        Hnsw.createIndex(spark, "filtered_idx", t.where(col("id") < 500), "vec", "id", overwrite = true))
      assert(meta.count == 500 && meta.segments.size == 1, meta)
      // The count (two jobs under AQE), then the build.
      assert(jobs == 3, s"createIndex ran $jobs jobs")
      // Unfiltered, the bound is exact and the build takes three segments.
      val all = Hnsw.createIndex(spark, "filtered_idx", t, "vec", "id", overwrite = true)
      assert(all.count == 3000 && all.segments.size == 3, all)
    } finally {
      spark.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
      Hnsw.dropIndex(spark, "filtered_idx")
    }
  }

  test("insert of a local frame and compactIndex are sized without a count job") {
    import spark.implicits._
    val t = vectorTable(400, files = 2)
    Hnsw.createIndex(spark, "maint_idx", t, "vec", "id", overwrite = true)
    val extra = (1000 until 1050).map(i => (i.toLong, Array.fill(8)(i.toFloat))).toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    val (inserted, insertJobs, insertShuffled) = jobsAndShuffle(Hnsw.insert(spark, "maint_idx", extra))
    assert(inserted.count == 450 && inserted.segments.size == 2)
    assert(insertJobs == 1 && insertShuffled == 0L, s"$insertJobs jobs, $insertShuffled bytes")
    Hnsw.delete(spark, "maint_idx", Seq(0L, 1L, 1000L))
    // One task reads every old segment and builds: one job, no shuffle.
    val (compacted, compactJobs, compactShuffled) = jobsAndShuffle(Hnsw.compactIndex(spark, "maint_idx"))
    assert(compacted.count == 447 && compacted.segments.size == 1, compacted)
    assert(compactJobs == 1 && compactShuffled == 0L, s"$compactJobs jobs, $compactShuffled bytes")
    val hits = Hnsw.searchRaw(spark, "maint_idx", Array.fill(8)(1001f), 1)
    assert(hits.head._1 == 1001L)
    // The compacted segment is the file a fresh build of the live rows makes.
    val live = t.where(!col("id").isin(0L, 1L)).unionByName(extra.where(col("id") =!= 1000L))
    Hnsw.createIndex(spark, "maint_ref", live, "vec", "id", overwrite = true)
    val compactedFile = new java.io.File(IndexCatalog.indexDir(base, "maint_idx"), compacted.segments.head)
    assert(java.util.Arrays.equals(Files.readAllBytes(compactedFile.toPath), segmentBytes("maint_ref")))
    Seq("maint_idx", "maint_ref").foreach(Hnsw.dropIndex(spark, _))
  }

  test("segments that disagree on the dimension fail the build") {
    import spark.implicits._
    val mixed = Seq((1L, Array(1f, 2f, 3f)), (2L, Array(2f, 3f, 4f)),
      (3L, Array(1f, 2f, 3f, 4f)), (4L, Array(2f, 3f, 4f, 5f))).toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, "2") // ids 1-2 and 3-4
    try {
      val e = intercept[IllegalArgumentException](
        Hnsw.createIndex(spark, "mixed_idx", mixed, "vec", "id", overwrite = true))
      assert(e.getMessage.contains("dimension mismatch"), e.getMessage)
      assert(!IndexCatalog.exists(base, "mixed_idx"))
      assert(IndexCatalog.indexDir(base, "mixed_idx").list().forall(!_.endsWith(".hnsw")))
    } finally spark.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
  }

  test("dropIndex removes artifacts") {
    Hnsw.createIndex(spark, "tmp_idx", gridDf, "vec", "id", overwrite = true)
    assert(Hnsw.dropIndex(spark, "tmp_idx"))
    assert(!IndexCatalog.exists(base, "tmp_idx"))
    assert(!Hnsw.dropIndex(spark, "tmp_idx"))
  }
}
