package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.index.IndexCatalog
import graft.streaming.StreamingIndex

/** Streaming surface: index maintenance via foreachBatch delta segments and
  * stateful exact dedup. */
class StreamingIndexSpec extends SparkSuite {

  private val base: String = {
    val d = Files.createTempDirectory("graft-stream").toFile.getAbsolutePath
    spark.conf.set(Hnsw.LocationKey, d)
    d
  }

  test("maintainIndex appends micro-batches as delta segments") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    Hnsw.createIndex(spark, "stream_idx", empty, "vec", "id", overwrite = true)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    val query = StreamingIndex.maintainIndex(stream, spark, "stream_idx")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt").toString)
      .start()
    try {
      mem.addData((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      query.processAllAvailable()
      assert(IndexCatalog.load(base, "stream_idx").count == 2)
      mem.addData((3L, Array(1f, 1f)))
      query.processAllAvailable()
      val meta = IndexCatalog.load(base, "stream_idx")
      assert(meta.count == 3)
      assert(meta.segments.count(_.startsWith("delta-")) == 2)
      assert(Hnsw.searchRaw(spark, "stream_idx", Array(1f, 1f), 1).head._1 == 3L)
    } finally query.stop()
  }

  test("text-pipeline ops compose on streams: quality filter + langid + dedup on a doc stream") {
    import spark.implicits._
    import graft.text.{TextFunctions => TF}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // Stateless curation (quality + langid + stats) runs unchanged on a
    // stream — codegen'd Catalyst expressions have no batch dependency;
    // exact dedup across batches is the stateful piece (dropDuplicates
    // keyed on content hash, state retained per watermarkless run).
    val stream = mem.toDF().toDF("doc_id", "text")
    val curated = stream
      .withColumn("quality", TF.qualityScore(col("text")))
      .withColumn("lang_pred", TF.langId(col("text")))
      .where(col("quality") >= 0.35)
      .withColumn("text_hash", md5(col("text")))
      .dropDuplicates("text_hash")
    val query = curated.writeStream.format("memory").queryName("curated_docs")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-t").toString)
      .start()
    try {
      val clean = "the quiet morning light settled over the harbor while the fishing boats returned with their catch"
      mem.addData((1L, clean), (2L, "@@ ## !! %% ^^ && ** (("), (3L, clean))
      query.processAllAvailable()
      mem.addData((4L, clean), (5L, "the quiet evening light settled over the harbor while the fishing boats returned with their catch"))
      query.processAllAvailable()
      val out = spark.table("curated_docs")
        .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
      // 2 dropped by quality (scores 0.30 < 0.35); 3, 4 deduped against 1 across batches.
      assert(out.keySet == Set(1L, 5L), out.toString)
      assert(out(1L) == "en")
    } finally query.stop()
  }

  test("streamingSessionStats: closed sessions emit once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (user_id, epoch seconds)
    val stream = mem.toDF().toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    val sessions = StreamingIndex.streamingSessionStats(
      stream, Seq("user_id"), "ts", gap = "4 hours", watermark = "10 minutes")
    val query = sessions.writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-s").toString)
      .start()
    try {
      val H = 3600L
      // user 1: two events 1h apart (one session), then one event 10h later
      // (a second session) — same construction as the batch operator's spec.
      mem.addData((1L, 0L), (1L, H))
      query.processAllAvailable()
      mem.addData((1L, 10 * H))
      query.processAllAvailable()
      // Watermark now trails the 10h event by 10 min — past session 1's
      // end (1h + 4h gap = 5h), so session 1 is final and emitted;
      // session 2 (ends 14h) is still open.
      var out = spark.table("stream_sessions")
        .select($"user_id", $"n_events", unix_timestamp($"start_ts"), unix_timestamp($"end_ts"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(out == Set((1L, 2L, 0L, H + 4 * H)), out.toString)
      // another user far in the future pushes the watermark past session 2
      mem.addData((2L, 100 * H))
      query.processAllAvailable()
      out = spark.table("stream_sessions")
        .select($"user_id", $"n_events", unix_timestamp($"start_ts"), unix_timestamp($"end_ts"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(out == Set(
        (1L, 2L, 0L, H + 4 * H),
        (1L, 1L, 10 * H, 14 * H)), out.toString)
    } finally query.stop()
  }

  test("maintainIndex auto-compacts: segment count stays bounded across many batches") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    Hnsw.createIndex(spark, "stream_cmp", empty, "vec", "id", overwrite = true)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    val query = StreamingIndex.maintainIndex(stream, spark, "stream_cmp", maxSegments = 3)
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-c").toString)
      .start()
    try {
      (1 to 10).foreach { i =>
        mem.addData((i.toLong, Array(i.toFloat, -i.toFloat)))
        query.processAllAvailable()
        val segs = IndexCatalog.load(base, "stream_cmp").segments.size
        assert(segs <= 4, s"batch $i left $segs segments") // compact fires above 3
      }
      val meta = IndexCatalog.load(base, "stream_cmp")
      assert(meta.count == 10)
      // all rows remain searchable through the compacted segments
      assert(Hnsw.searchRaw(spark, "stream_cmp", Array(7f, -7f), 1).head._1 == 7L)
      assert(Hnsw.searchRaw(spark, "stream_cmp", Array(1f, -1f), 10).length == 10)
    } finally query.stop()
  }

  test("compaction race: a reader holding a pre-compaction segment list survives auto-compaction") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    Hnsw.createIndex(spark, "stream_race", empty, "vec", "id", overwrite = true)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    // maxSegments = 1: every batch after the first triggers compaction.
    val query = StreamingIndex.maintainIndex(stream, spark, "stream_race", maxSegments = 1)
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-r").toString)
      .start()
    try {
      mem.addData((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      query.processAllAvailable()
      // A mid-flight reader resolves the segment list NOW...
      val staleMeta = IndexCatalog.load(base, "stream_race")
      assert(staleMeta.segments.nonEmpty)
      // ...then auto-compaction swaps in a fresh generation and deletes the
      // files that list names.
      mem.addData((3L, Array(1f, 1f)))
      query.processAllAvailable()
      val dir = IndexCatalog.indexDir(base, "stream_race")
      val fresh = IndexCatalog.load(base, "stream_race")
      assert(fresh.segments != staleMeta.segments)
      assert(staleMeta.segments.exists(s => !new java.io.File(dir, s).exists()),
        s"expected compaction to delete ${staleMeta.segments}")
      // The stale reader must not crash on the deleted files: the
      // missing-file retry reloads the catalog entry and serves the search
      // from the new generation (contents are search-equivalent).
      val hits = Hnsw.searchBatch(None, base, staleMeta, Array(Array(1f, 1f)), 3,
        ef = 1000000, probe = 0, margin = 0.0).head
      assert(hits.map(_._1).toSet == Set(1L, 2L, 3L))
      assert(hits.head._1 == 3L)
    } finally query.stop()
  }

  test("annTopK enriches a stream with index neighbors (stream-static ANN join)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-ann").toFile.getAbsolutePath
    val items = (for (a <- 1 to 9; b <- 1 to 9; c <- 1 to 9)
      yield ((a - 1) * 81L + (b - 1) * 9 + (c - 1), Array(a.toFloat, b.toFloat, c.toFloat)))
      .toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    items.write.mode("overwrite").parquet(dir)
    Hnsw.createIndex(spark, "stream_ann", spark.read.parquet(dir), "vec", "id",
      Map("ef_search" -> "100000"), overwrite = true)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("q_id", "q_vec")
      .withColumn("q_vec", col("q_vec").cast("array<float>"))
    val enriched = graft.api.Vss.annTopK(stream, "stream_ann", "q_vec", k = 2)
    assert(enriched.isStreaming)
    val query = enriched.writeStream.format("memory").queryName("ann_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, Array(1f, 2f, 3f)), (2L, Array(9f, 9f, 9f)))
      query.processAllAvailable()
      val rows = spark.table("ann_out")
        .select("q_id", "neighbor_id", "distance", "rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(rows.length == 4) // 2 queries x k=2
      val best = rows.filter(_._4 == 1L).map(r => (r._1, r._2, r._3)).sortBy(_._1)
      assert(best.toSeq == Seq((1L, 11L, 0.0), (2L, 728L, 0.0))) // exact grid hits
      // batch parity: the same call on a static frame
      val batch = graft.api.Vss.annTopK(
        Seq((1L, Array(1f, 2f, 3f))).toDF("q_id", "q_vec")
          .withColumn("q_vec", col("q_vec").cast("array<float>")),
        "stream_ann", "q_vec", k = 2).collect()
      assert(batch.length == 2 && batch.head.getAs[Long]("neighbor_id") == 11L)
    } finally {
      query.stop()
      Hnsw.dropIndex(spark, "stream_ann")
    }
  }

  test("session_window streaming aggregation — the streaming analogue of ops.Sessionize") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val sessions = mem.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user"))
      .agg(count(lit(1)).as("n_events"))
    val query = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // u1: two bursts 30 min apart -> two sessions; u2: one session.
      mem.addData(
        (t("2026-01-01 10:00:00"), "u1"), (t("2026-01-01 10:02:00"), "u1"),
        (t("2026-01-01 10:30:00"), "u1"), (t("2026-01-01 10:31:00"), "u2"))
      query.processAllAvailable()
      mem.addData((t("2026-01-01 12:00:00"), "u1")) // advances watermark, closes sessions
      query.processAllAvailable()
      val out = spark.table("sess_out")
        .select(col("user"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(out == Seq(("u1", 1L), ("u1", 2L), ("u2", 1L)), out.toString)
    } finally query.stop()
  }

  test("watermarked tumbling-window aggregation over an event stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val windowed = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    val query = windowed.writeStream.format("memory").queryName("win_out")
      .outputMode("update").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(
        (t("2026-01-01 10:05:00"), "click", 1.0),
        (t("2026-01-01 10:45:00"), "click", 2.0),
        (t("2026-01-01 11:05:00"), "click", 4.0),
        (t("2026-01-01 10:20:00"), "view", 8.0))
      query.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("window.start").cast("string"), col("event_type"), col("n"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains(("2026-01-01 10:00:00", "click", 2L, 3.0)))
      assert(rows.contains(("2026-01-01 11:00:00", "click", 1L, 4.0)))
      assert(rows.contains(("2026-01-01 10:00:00", "view", 1L, 8.0)))
    } finally query.stop()
  }

  test("streamingExactDedup drops duplicate texts within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = StreamingIndex.streamingExactDedup(
      mem.toDF().toDF("ts", "text"), "text", "ts")
    val query = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      mem.addData((t0, "hello world"), (t0, "hello world"), (t0, "other"))
      query.processAllAvailable()
      val got = spark.table("dedup_out").select("text").as[String].collect().sorted
      assert(got.toSeq == Seq("hello world", "other"))
    } finally query.stop()
  }
}
