package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{array_cosine_similarity, array_distance, array_negative_inner_product, lit_vector}

/** O2/O3/O7: TopN → HNSW index scan rewrite + cosine expression rewrite.
  * Ports the EXPLAIN-regex and labeled-equality posture of hnsw_basic.test,
  * hnsw_metrics.test, hnsw_rewrite.test, where_clause_segfault.test. */
class HnswRewriteSpec extends SparkSuite {

  private val base: String = {
    val d = Files.createTempDirectory("graft-rw").toFile.getAbsolutePath
    spark.conf.set(Hnsw.LocationKey, d)
    d
  }

  /** 9³ grid written to parquet (rewrites need a file relation). */
  private lazy val grid: DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-grid").toFile.getAbsolutePath
    val rows = for (a <- 1 to 9; b <- 1 to 9; c <- 1 to 9)
      yield ((a - 1) * 81L + (b - 1) * 9 + (c - 1), Array(a.toFloat, b.toFloat, c.toFloat))
    rows.toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("TopN over indexed relation uses HnswIndexScan (hnsw_basic.test:22-25)") {
    Hnsw.createIndex(spark, "rw_l2", grid, "vec", "id", overwrite = true)
    val q = grid.select(col("id"), array_distance(col("vec"), lit_vector(Array(1f, 2f, 3f))).as("d"))
      .orderBy("d").limit(3)
    assert(planOf(q).contains("HnswIndexScan"), planOf(q))
    // exact on the deterministic grid (hnsw_result.test:23-28)
    assert(q.collect().map(_.getDouble(1)).toSeq == Seq(0.0, 1.0, 1.0))
    assert(q.collect().head.getLong(0) == 11L)
  }

  test("rewrite also fires without a projection (Sort directly over scan)") {
    val q = grid.orderBy(array_distance(col("vec"), lit_vector(Array(9f, 9f, 9f)))).limit(2)
    assert(planOf(q).contains("HnswIndexScan"), planOf(q))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(728L, 727L).take(2).sorted.reverse
      || q.collect().head.getLong(0) == 728L)
  }

  test("kill switch disables the rewrite; results identical (hnsw_rewrite.test)") {
    def q = grid.select(col("id"), array_distance(col("vec"), lit_vector(Array(5f, 5f, 5f))).as("d"))
      .orderBy("d").limit(1)
    val withIndex = q.collect()
    assert(planOf(q).contains("HnswIndexScan"))
    spark.conf.set(Hnsw.RewriteEnabledKey, "false")
    try {
      assert(!planOf(q).contains("HnswIndexScan"))
      assert(q.collect().toSeq == withIndex.toSeq)
    } finally spark.conf.set(Hnsw.RewriteEnabledKey, "true")
  }

  test("per-metric index selection (hnsw_metrics.test:26-39)") {
    Hnsw.createIndex(spark, "rw_cos", grid, "vec", "id", Map("metric" -> "cosine"), overwrite = true)
    Hnsw.createIndex(spark, "rw_ip", grid, "vec", "id", Map("metric" -> "ip"), overwrite = true)
    val qv = lit_vector(Array(1f, 0f, 0f))
    val l2Plan = planOf(grid.orderBy(array_distance(col("vec"), qv)).limit(3))
    assert(l2Plan.contains("index=rw_l2"), l2Plan)
    val cosPlan = planOf(grid.orderBy(lit(1.0) - array_cosine_similarity(col("vec"), qv)).limit(3))
    assert(cosPlan.contains("index=rw_cos"), cosPlan) // via CosineDistanceRewrite (O7)
    val ipPlan = planOf(grid.orderBy(array_negative_inner_product(col("vec"), qv)).limit(3))
    assert(ipPlan.contains("index=rw_ip"), ipPlan)
  }

  test("guards: DESC, multi-key, non-deterministic filter, non-literal query, big k → no rewrite") {
    val qv = lit_vector(Array(1f, 2f, 3f))
    val d = array_distance(col("vec"), qv)
    assert(!planOf(grid.orderBy(d.desc).limit(3)).contains("HnswIndexScan"))
    assert(!planOf(grid.orderBy(d, col("id")).limit(3)).contains("HnswIndexScan"))
    // dynamic-filter analogue (hnsw_optimize_scan.cpp:82-85): a
    // non-deterministic predicate blocks the filtered-scan rewrite
    assert(!planOf(grid.where(rand() < 0.5).orderBy(d).limit(3)).contains("HnswIndexScan"))
    assert(!planOf(grid.orderBy(array_distance(col("vec"), col("vec"))).limit(3)).contains("HnswIndexScan"))
    assert(!planOf(grid.orderBy(d).limit(3000)).contains("HnswIndexScan"))
  }

  test("filtered TopN uses a filtered index scan, exact SQL semantics (where_clause_segfault.test)") {
    val qv = lit_vector(Array(1f, 2f, 3f))
    val d = array_distance(col("vec"), qv)
    // WHERE id > 0 ORDER BY dist LIMIT 3 (where_clause_segfault.test:23-38):
    // index path fires and the plan shows the residual predicate.
    def q1 = grid.where(col("id") > 0).select(col("id"), d.as("dd")).orderBy("dd").limit(3)
    assert(planOf(q1).contains("HnswIndexScan"), planOf(q1))
    assert(planOf(q1).contains("filtered="), planOf(q1))
    assert(q1.collect().forall(r => r.getLong(0) > 0 && r.getDouble(1) <= 1.0))
    // Selective filter forces over-fetch escalation; equals brute force
    // (compare distance multisets — grid ties make ids ambiguous).
    def q2 = grid.where(col("id") % 7 === 0).select(col("id"), d.as("dd")).orderBy("dd").limit(5)
    spark.conf.set(Hnsw.RewriteEnabledKey, "false")
    val brute = try q2.collect().toSeq finally spark.conf.set(Hnsw.RewriteEnabledKey, "true")
    assert(planOf(q2).contains("filtered="), planOf(q2))
    val indexed = q2.collect().toSeq
    assert(indexed.map(_.getDouble(1)) == brute.map(_.getDouble(1)))
    assert(indexed.forall(_.getLong(0) % 7 == 0))
    // Starvation: fewer matching rows than k returns them all — standard
    // SQL semantics, not the reference's fewer-than-k post-filter cut.
    def q3 = grid.where(col("id") === 728).select(col("id"), d.as("dd")).orderBy("dd").limit(3)
    assert(planOf(q3).contains("filtered="), planOf(q3))
    val r3 = q3.collect()
    assert(r3.length == 1 && r3.head.getLong(0) == 728L)
    // Filter over a pruned projection under the sort also fires.
    def q4 = grid.where(col("id") > 100).orderBy(d).limit(3)
    assert(planOf(q4).contains("filtered="), planOf(q4))
    val r4 = q4.collect()
    assert(r4.length == 3 && r4.forall(_.getLong(0) > 100))
  }

  test("filtered TopN, starved predicate: one search answers as brute force does") {
    val qv = lit_vector(Array(1f, 2f, 3f))
    val d = array_distance(col("vec"), qv)
    // The 9 rows that pass sit in the grid's far corner, and 9 is under the
    // candidate width (ef 64), so the segment is answered by exact
    // distances over its allowed nodes: one search, one fetch.
    def q = grid.where(col("id") >= 720).select(col("id"), d.as("dd")).orderBy("dd").limit(5)
    spark.conf.set(Hnsw.RewriteEnabledKey, "false")
    val brute = try q.collect().toSeq finally spark.conf.set(Hnsw.RewriteEnabledKey, "true")
    assert(planOf(q).contains("filtered="), planOf(q))
    val starved = q
    val rows = starved.collect().toSeq
    assert(rows.map(_.getDouble(1)) == brute.map(_.getDouble(1)))
    assert(rows.forall(_.getLong(0) >= 720))
    assert(rows.length == 5)
    val m = scanOf(starved).metrics
    assert(Seq("rowsAllowed", "exactSearches", "fetchRounds").map(m(_).value) == Seq(9L, 1L, 1L))
  }

  test("SQL surface: ORDER BY array_distance LIMIT k uses the index") {
    grid.createOrReplaceTempView("grid_t")
    val q = spark.sql(
      """SELECT id, array_distance(vec, CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>)) AS d
         FROM grid_t ORDER BY d LIMIT 3""")
    assert(planOf(q).contains("HnswIndexScan"), planOf(q))
    assert(q.collect().map(_.getDouble(1)).toSeq == Seq(0.0, 1.0, 1.0))
  }

  test("min_by(col, dist, k) rewrite feeds the aggregate from the index (hnsw_topk.test:18-31)") {
    import graft.functions.min_by_k
    val qv = lit_vector(Array(1f, 2f, 3f))
    // def, not val: each reference re-plans, so conf changes take effect
    def q = grid.agg(min_by_k(col("id"), array_distance(col("vec"), qv), 3).as("ids"))
    assert(planOf(q).contains("HnswIndexScan"), planOf(q))
    val ids = q.collect().head.getSeq[Long](0)
    assert(ids.length == 3 && ids.head == 11L) // nearest is (1,2,3) itself
    // same result with the rewrite off
    spark.conf.set(Hnsw.RewriteEnabledKey, "false")
    try {
      assert(!planOf(q).contains("HnswIndexScan"))
      assert(q.collect().head.getSeq[Long](0).head == 11L)
    } finally spark.conf.set(Hnsw.RewriteEnabledKey, "true")
    // max_by (keepLargest) must NOT be rewritten
    val qMax = grid.agg(graft.functions.max_by_k(col("id"), array_distance(col("vec"), qv), 3))
    assert(!planOf(qMax).contains("HnswIndexScan"))
    // dist computed in a projection below the aggregate also matches
    val qProj = grid.withColumn("d", array_distance(col("vec"), qv))
      .agg(min_by_k(col("id"), col("d"), 3).as("ids"))
    assert(planOf(qProj).contains("HnswIndexScan"), planOf(qProj))
    assert(qProj.collect().head.getSeq[Long](0).head == 11L)
  }

  test("projection permutations all work on the index path (hnsw_projection.test:20-37)") {
    val qv = lit_vector(Array(1f, 2f, 3f))
    val d = array_distance(col("vec"), qv)
    val variants = Seq(
      grid.orderBy(d).limit(1),
      grid.select(col("vec"), col("id")).orderBy(d).limit(1),
      grid.orderBy(array_distance(col("vec"), qv)).limit(1).select(col("id")),
      grid.select(col("id"), col("vec")).orderBy(d).limit(1),
      grid.select(col("id"), col("vec"), d.as("dist")).orderBy("dist").limit(1),
      grid.select(d.as("dist"), col("id")).orderBy("dist").limit(1))
    variants.foreach { q =>
      val rows = q.collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Any]("id") == 11L)
    }
  }

  // Port of hnsw_experimental_persistence.test (binder error parity);
  // hnsw_insert_wal.test is N/A here — file-backed segment artifacts have
  // no WAL, every committed segment IS durable (SURVEY §2 O15).
  test("persistence gate conf blocks createIndex when disabled (O17)") {
    spark.conf.set(Hnsw.PersistenceKey, "false")
    try {
      val e = intercept[IllegalStateException](
        Hnsw.createIndex(spark, "gate_blocked", grid, "vec", "id", overwrite = true))
      assert(e.getMessage.contains("hnsw") || e.getMessage.contains(Hnsw.PersistenceKey))
    } finally spark.conf.set(Hnsw.PersistenceKey, "true")
  }

  test("SQL registration of pipeline functions") {
    val r = spark.sql(
      """SELECT lang_id('the cat is on the table and it is here') AS l,
                simhash64(array('a', 'b')) AS s,
                fingerprint64('abc') AS f,
                size(minhash_signature(array('x'), 8)) AS m""").collect().head
    assert(r.getString(0) == "en")
    assert(r.getLong(2) == ((97L * 1000003L + 98L) * 1000003L + 99L))
    assert(r.getInt(3) == 8)
    val t = spark.sql(
      """SELECT token_count('a b c') AS n, token_count_bpe('ab12!') AS b,
                quality_score('the quiet morning light settled over the harbor while boats returned') AS q,
                word_shingles('a b c d', 3) AS w,
                jaccard_sim(array('x', 'y'), array('y', 'z')) AS j,
                text_stats('ab cd').n_tokens AS st""").collect().head
    assert(t.getInt(0) == 3 && t.getInt(1) == 3)
    assert(t.getDouble(2) > 0.5)
    assert(t.getSeq[String](3) == Seq("a b c", "b c d"))
    assert(math.abs(t.getDouble(4) - 1.0 / 3.0) < 1e-9)
    assert(t.getInt(5) == 2)
  }

  test("many-segment index scans via the distributed segment fan-out") {
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, "100") // 8 segments
    try {
      Hnsw.createIndex(spark, "rw_seg", grid, "vec", "id",
        Map("ef_search" -> "100000"), overwrite = true)
      // rw_l2 (1 segment) also matches this relation; drop it so the
      // many-segment index is the one selected.
      Hnsw.dropIndex(spark, "rw_l2")
      try {
        val q = grid.select(col("id"), array_distance(col("vec"), lit_vector(Array(1f, 2f, 3f))).as("d"))
          .orderBy("d").limit(3)
        assert(planOf(q).contains("index=rw_seg"), planOf(q))
        assert(q.collect().map(_.getDouble(1)).toSeq == Seq(0.0, 1.0, 1.0))
      } finally {
        Hnsw.dropIndex(spark, "rw_seg")
        Hnsw.createIndex(spark, "rw_l2", grid, "vec", "id", overwrite = true)
      }
    } finally spark.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
  }

  test("graph-cache metrics: segments searched, graph loads and load time on the scan") {
    import graft.index.{GraphCache, IndexCatalog}
    val dir = Files.createTempDirectory("graft-loads").toFile.getAbsolutePath
    grid.write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, "100") // 8 segments
    try Hnsw.createIndex(spark, "rw_loads", t, "vec", "id", overwrite = true)
    finally spark.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
    try {
      def run(): Map[String, Long] = {
        val q = t.select(col("id"), array_distance(col("vec"), lit_vector(Array(1f, 2f, 3f))).as("d"))
          .orderBy("d").limit(3)
        assert(q.collect().map(_.getDouble(1)).toSeq == Seq(0.0, 1.0, 1.0))
        scanOf(q).metrics.map { case (k, m) => k -> m.value }
      }
      // More segments than the driver searches itself: the loads happen in
      // tasks and are counted there too.
      GraphCache.invalidate(IndexCatalog.indexDir(base, "rw_loads").getAbsolutePath)
      val cold = run()
      assert(cold("segmentsSearched") == 8 && cold("graphLoads") == 8, cold)
      assert(cold("graphLoadTime") > 0, cold)
      val warm = run()
      assert(warm("segmentsSearched") == 8 && warm("graphLoads") == 0, warm)
      assert(warm("graphLoadTime") == 0, warm)
    } finally Hnsw.dropIndex(spark, "rw_loads")
  }

  test("fetch projection pushdown: scan outputs only consumed columns (hnsw_index_scan.cpp:95-121)") {
    val qv = lit_vector(Array(1f, 2f, 3f))
    // Outer projection keeps only `id`: the sort key's vector column is
    // served by the index, so the rowid fetch must not read `vec`.
    val q = grid.orderBy(array_distance(col("vec"), qv)).limit(3).select("id")
    val scans = q.queryExecution.executedPlan.collect {
      case e: graft.plans.HnswIndexScanExec => e
    }
    assert(scans.nonEmpty, q.queryExecution.executedPlan.toString)
    assert(scans.head.fetchColumns.map(_.name) == Seq("id"), scans.head.fetchColumns.toString)
    assert(q.collect().head.getLong(0) == 11L)
    // When the projection recomputes the distance, the vector column stays.
    // The scan computes that projection itself, so its output is (id, d)
    // and the columns its fetch reads are exactly (id, vec).
    val q2 = grid.select(col("id"), array_distance(col("vec"), qv).as("d"))
      .orderBy("d").limit(3)
    val scan2 = q2.queryExecution.executedPlan.collect {
      case e: graft.plans.HnswIndexScanExec => e
    }.head
    assert(scan2.output.map(_.name) == Seq("id", "d"))
    assert(scan2.fetchColumns.map(_.name).toSet == Set("id", "vec"))
    assert(q2.collect().map(_.getDouble(1)).toSeq == Seq(0.0, 1.0, 1.0))
  }

  /** 2,000 random 8-dim vectors with a `sel` column whose values 0..999
    * each occur twice, so `sel < 5` keeps 0.5% of the rows. */
  private lazy val served: DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-served").toFile.getAbsolutePath
    val rnd = new scala.util.Random(7)
    val sel = rnd.shuffle((0 until 2000).map(_ % 1000))
    (0 until 2000).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), sel(i)))
      .toDF("id", "vec", "sel").repartition(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    Hnsw.createIndex(spark, "rw_served", df, "vec", "id", overwrite = true)
    df
  }

  /** The rows of `served` as two parquet files (ids below 1,000, then the
    * rest) with an index of their own: a fetch over two partitions. */
  private lazy val servedTwoFiles: DataFrame = {
    val dir = Files.createTempDirectory("graft-served2").toFile.getAbsolutePath
    served.where(col("id") < 1000).write.mode("overwrite").parquet(dir)
    served.where(col("id") >= 1000).write.mode("append").parquet(dir)
    val df = spark.read.parquet(dir)
    Hnsw.createIndex(spark, "rw_served2", df, "vec", "id", overwrite = true)
    df
  }

  private def servedQuery(seed: Int, where: Option[Int] = None,
      table: => DataFrame = served): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val q = lit_vector(Array.fill(8)(rnd.nextGaussian().toFloat))
    where.fold(table)(t => table.where(col("sel") < t))
      .select(col("id"), col("sel"), array_distance(col("vec"), q).as("d"))
      .orderBy("d").limit(10)
  }

  private def scanOf(df: DataFrame): graft.plans.HnswIndexScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case e: graft.plans.HnswIndexScanExec => e
    }.getOrElse(fail(df.queryExecution.executedPlan.toString))

  test("scan is top-k plan root: 0 jobs on 1-2 files, 1 per split round, no compile") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val first = servedQuery(1)
    assert(first.queryExecution.executedPlan.isInstanceOf[graft.plans.HnswIndexScanExec],
      first.queryExecution.executedPlan.toString)
    // One file: the one-partition fetch runs in the calling thread.
    val (rows, jobs) = jobsOf(first.collect())
    assert(rows.length == 10 && jobs == 0, s"$jobs jobs")
    // A new query vector: same generated code, so nothing compiles.
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (rows2, jobs2) = jobsOf(servedQuery(2).collect())
    assert(rows2.length == 10 && jobs2 == 0, s"$jobs2 jobs")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles == 0)
    // Filtered to 0.5%: the allow-list pass and the fetch both read in the
    // calling thread, so still no job, and there is one fetch round.
    val filtered = servedQuery(3, where = Some(5))
    val (frows, fjobs) = jobsOf(filtered.collect())
    val rounds = scanOf(filtered).metrics("fetchRounds").value
    assert(frows.length == 10 && frows.forall(_.getInt(1) < 5))
    assert(rounds == 1 && fjobs == 0, s"$fjobs jobs, $rounds rounds")
    // Two files: their row-group splits pack into one partition, so no job
    // either. Splits larger than maxPartitionBytes each get a partition, and
    // then every read is one job: the fetch, and a filtered query's
    // allow-list pass. Both answer as the one-file table does.
    def idDist(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getDouble(2))).toSeq
    def counts(q: DataFrame): (Seq[Long], Array[org.apache.spark.sql.Row]) = {
      val (rs, jobs) = jobsOf(q.collect())
      val m = scanOf(q).metrics
      (Seq(jobs.toLong, m("fetchRounds").value, m("fetchJobs").value), rs)
    }
    for ((seed, where, oneFile) <- Seq((1, None, rows), (3, Some(5), frows))) {
      val passJobs = where.size.toLong
      val (packed, two) = counts(servedQuery(seed, where, servedTwoFiles))
      assert(packed == Seq(0L, 1L, 0L), "jobs, rounds, fetch jobs")
      assert(idDist(two) == idDist(oneFile))
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      try {
        val (split, twoSplit) = counts(servedQuery(seed, where, servedTwoFiles))
        assert(split == Seq(passJobs + 1, 1L, 1L), s"jobs, rounds, fetch jobs; pass jobs $passJobs")
        assert(idDist(twoSplit) == idDist(oneFile))
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("a failed in-thread fetch raises the file-read error, leaves no task context") {
    val dir = Files.createTempDirectory("graft-gone").toFile
    served.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val gone = spark.read.parquet(dir.getAbsolutePath)
    Hnsw.createIndex(spark, "rw_gone", gone, "vec", "id", overwrite = true)
    try {
      dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
      val e = intercept[Exception](servedQuery(8, table = gone).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(!chain.exists(_.isInstanceOf[NullPointerException]), chain.mkString("\n"))
      assert(chain.exists {
        case t: org.apache.spark.SparkThrowable => t.getCondition == "FAILED_READ_FILE.FILE_NOT_EXIST"
        case _ => false
      }, chain.mkString("\n"))
      assert(org.apache.spark.TaskContext.get() == null)
      // Queries after the failure keep working.
      (1 to 50).foreach(i => assert(servedQuery(100 + i).collect().length == 10))
    } finally Hnsw.dropIndex(spark, "rw_gone")
  }

  test("a projection without the id column still returns rows in rank order") {
    val withId = servedQuery(4).collect()
    val rnd = new scala.util.Random(4)
    val q = lit_vector(Array.fill(8)(rnd.nextGaussian().toFloat))
    val noId = served.select(col("sel"), array_distance(col("vec"), q).as("d"))
      .orderBy("d").limit(10)
    assert(scanOf(noId).output.map(_.name) == Seq("sel", "d"))
    val rows = noId.collect()
    assert(rows.map(_.getDouble(1)).toSeq == withId.map(_.getDouble(2)).toSeq)
    assert(rows.map(_.getInt(0)).toSeq == withId.map(_.getInt(1)).toSeq)
    assert(rows.map(_.getDouble(1)).toSeq == rows.map(_.getDouble(1)).sorted.toSeq)
  }

  test("scan SQL metrics: fetch rounds, rows fetched, allow-list, search time") {
    import org.apache.spark.sql.execution.ExplainMode
    def formatted(df: DataFrame) = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // Cold: the one row group is decoded from the file.
    graft.plans.RowidFetch.rowGroupCache.clear()
    val plain = servedQuery(5)
    plain.collect()
    val m = scanOf(plain).metrics
    assert(m("fetchRounds").value == 1)
    assert(m("fetchJobs").value == 0)
    assert(m("rowsFetched").value == 10)
    assert(m("rowsAllowed").value == 0 && m("allowTime").value == 0)
    assert(m("exactSearches").value == 0)
    val explained = formatted(plain)
    Seq("fetch rounds: 1, fetch jobs: 0", "rows fetched: 10", "rows allowed: 0",
      "exact segment searches: 0", "allow-list time", "search time", "fetch time",
      "row groups read: 1, row groups cached: 0").foreach(s => assert(explained.contains(s), explained))
    assert(!explained.contains("brute-force"), explained)
    // The second query of a shape reads its row group from memory: no file
    // read, no reader built, no job.
    val second = servedQuery(7)
    val (_, jobs2) = jobsOf(second.collect())
    val m2 = scanOf(second).metrics
    assert(m2("readerBuilds").value == 0 && m2("rowGroupsRead").value == 0)
    assert(m2("rowGroupsCached").value == 1 && jobs2 == 0, s"$jobs2 jobs")
    assert(m2("fetchTime").value > 0)
    assert(formatted(second).contains("row groups read: 0, row groups cached: 1, reader builds: 0"))
    // Every selectivity: one allow-list pass (rows allowed = the rows that
    // pass, counted once) and one fetch round. 2% and 0.5% allow no more
    // nodes than the candidate width (ef 64), so exact distances answer.
    // The pass's row group is decoded once, at the first selectivity; the
    // fetch's is the unfiltered queries'. Later selectivities read both from
    // memory: no file read, no reader built, no job.
    for ((t, exact) <- Seq((500, 0L), (100, 0L), (20, 1L), (5, 1L))) {
      val filtered = servedQuery(6, where = Some(t))
      val (frows, fjobs) = jobsOf(filtered.collect())
      assert(frows.length == 10 && fjobs == 0)
      val fm = scanOf(filtered).metrics
      val at = s"sel < $t"
      val read = if (t == 500) 1L else 0L
      assert(fm("rowGroupsRead").value == read && fm("rowGroupsCached").value == 2 - read, at)
      if (t != 500) assert(fm("readerBuilds").value == 0, at)
      assert(fm("rowsAllowed").value == 2L * t, at)
      assert(fm("fetchRounds").value == 1 && fm("fetchJobs").value == 0, at)
      assert(fm("rowsFetched").value == 10 && fm("exactSearches").value == exact, at)
      assert(fm("allowTime").value > 0, at)
      assert(formatted(filtered).contains("fetch rounds: 1, fetch jobs: 0"), at)
      assert(formatted(filtered).contains(s"rows allowed: ${2 * t}"), at)
    }
  }

  test("filtered scan: fewer qualifying rows than k, none, and the allow-list bound") {
    // Fewer rows pass than k: all of them come back, nearest first, as the
    // plan without the index returns them.
    val rnd = new scala.util.Random(9)
    val qv = lit_vector(Array.fill(8)(rnd.nextGaussian().toFloat))
    def few = served.where(col("sel") < 5 && col("id") < 1000)
      .select(col("id"), array_distance(col("vec"), qv).as("d")).orderBy("d").limit(10)
    spark.conf.set(Hnsw.RewriteEnabledKey, "false")
    val want = try few.collect().toSeq finally spark.conf.set(Hnsw.RewriteEnabledKey, "true")
    assert(want.nonEmpty && want.length < 10, s"${want.length} rows pass")
    assert(planOf(few).contains("filtered="), planOf(few))
    assert(few.collect().toSeq == want)
    // No row passes: no rows, no search result, no fetch.
    graft.plans.RowidFetch.rowGroupCache.clear()
    val none = servedQuery(9, where = Some(0))
    assert(planOf(none).contains("filtered="), planOf(none))
    assert(none.collect().isEmpty)
    val m = scanOf(none).metrics
    assert(Seq("rowsAllowed", "fetchRounds", "rowsFetched").map(m(_).value) == Seq(0L, 0L, 0L))
    // That pass cached its row group whole, though `sel < 0` excludes it by
    // its statistics: a wider predicate served from it still sees every row.
    val wide = servedQuery(9, where = Some(500))
    assert(wide.collect().length == 10)
    assert(scanOf(wide).metrics("rowsAllowed").value == 1000)
    assert(scanOf(wide).metrics("rowGroupsCached").value >= 1)
    // The bound: 8 bytes per rowid, an eighth of the max heap.
    assert(graft.plans.HnswIndexScanExec.maxAllowedIds(64L << 20) == (1 << 20))
    assert(graft.plans.HnswIndexScanExec.maxAllowedIds(Long.MaxValue) < Int.MaxValue)
  }

  test("gate-shaped filtered TopN on real embeddings rides the index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Hnsw.createIndex(spark, "rw_emb_filter", emb, "embedding", "vec_id",
      Map("ef_search" -> "1000000"), overwrite = true)
    try {
      val q = emb.where(col("label") % 3 === 0)
        .select(col("vec_id"), col("label"),
          array_distance(col("embedding"), lit_vector(Array.fill(64)(0f))).as("d"))
        .orderBy("d").limit(10)
      assert(planOf(q).contains("filtered="), planOf(q))
      val rows = q.collect()
      assert(rows.length == 10 && rows.forall(_.getInt(1) % 3 == 0))
    } finally Hnsw.dropIndex(spark, "rw_emb_filter")
  }

  test("ef_search session conf reaches the scan (O16)") {
    spark.conf.set(Hnsw.EfSearchKey, "123")
    try {
      val p = planOf(grid.orderBy(array_distance(col("vec"), lit_vector(Array(1f, 2f, 3f)))).limit(3))
      assert(p.contains("ef=123"), p)
    } finally spark.conf.unset(Hnsw.EfSearchKey)
  }
}
