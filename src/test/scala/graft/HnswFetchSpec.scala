package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._

import graft.functions.{array_distance, lit_vector}

/** The SQL top-k scan's rowid fetch: a cached file reader over the row
  * groups that can hold a hit. Every answer equals the brute-force plan's,
  * across row groups, partitions, a rewritten table, a conf change,
  * concurrent queries and a new SparkContext (the last test: it stops the
  * shared session, and later suites get a new one). */
class HnswFetchSpec extends SparkSuite {

  private val base: String = {
    val d = Files.createTempDirectory("graft-fetch").toFile.getAbsolutePath
    spark.conf.set(Hnsw.LocationKey, d)
    d
  }

  /** 2,000 random 8-dim vectors in id order, `sel` in 0..999 plus
    * `selOffset` (to tell a rewritten table's rows apart), `part` = id % 3. */
  private def rows(selOffset: Int = 0): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (0 until 2000).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat),
        rnd.nextInt(1000) + selOffset, i % 3))
      .toDF("id", "vec", "sel", "part").coalesce(1).sortWithinPartitions("id")
  }

  /** `rows` written to a new directory and indexed as `name`; the index's
    * ef is large enough that its search is exact. */
  private def indexed(name: String,
      write: DataFrameWriter[Row] => DataFrameWriter[Row] = identity): (String, DataFrame) = {
    val dir = Files.createTempDirectory(s"graft-$name").toFile.getAbsolutePath
    write(rows().write.mode("overwrite")).parquet(dir)
    val t = spark.read.parquet(dir)
    Hnsw.createIndex(spark, name, t, "vec", "id", Map("ef_search" -> "100000"), overwrite = true)
    (dir, t)
  }

  private def query(t: DataFrame, seed: Int, where: Option[Column] = None,
      extra: Seq[String] = Nil): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val q = lit_vector(Array.fill(8)(rnd.nextGaussian().toFloat))
    where.fold(t)(t.where)
      .select((Seq("id", "sel") ++ extra).map(col) :+ array_distance(col("vec"), q).as("d"): _*)
      .orderBy("d").limit(10)
  }

  private def scanOf(df: DataFrame): graft.plans.HnswIndexScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case e: graft.plans.HnswIndexScanExec => e
    }.getOrElse(fail(df.queryExecution.executedPlan.toString))

  private def idDist(rs: Array[Row]): Seq[(Long, Double)] =
    rs.map(r => (r.getLong(0), r.getDouble(r.fieldIndex("d")))).toSeq

  /** The query's rows from the ordinary plan, without the index. */
  private def bruteForce(q: => DataFrame): Array[Row] = {
    spark.conf.set(Hnsw.RewriteEnabledKey, "false")
    try {
      val df = q
      assert(!df.queryExecution.executedPlan.toString.contains("HnswIndexScan"))
      df.collect()
    } finally spark.conf.unset(Hnsw.RewriteEnabledKey)
  }

  test("a multi-row-group file: a k=10 fetch reads at most 10 of its row groups") {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val (dir, t) = indexed("fetch_groups", _.option("parquet.block.size", "4096"))
    try {
      val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
      val groups = org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
        .readFooter(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.toURI),
          spark.sparkContext.hadoopConfiguration), ParquetMetadataConverter.NO_FILTER)
        .getBlocks.size
      assert(groups > 10, s"$groups row groups")
      for (seed <- 1 to 3) {
        val q = query(t, seed)
        val got = q.collect()
        val read = scanOf(q).metrics("rowGroupsRead").value
        assert(read <= 10 && read < groups, s"$read of $groups row groups read")
        assert(idDist(got) == idDist(bruteForce(query(t, seed))))
      }
    } finally Hnsw.dropIndex(spark, "fetch_groups")
  }

  test("a partitioned table, the partition column in the projection and the condition") {
    val (_, t) = indexed("fetch_parts", _.partitionBy("part"))
    try {
      val conds = Seq(col("part") =!= 1, col("part") === 2 && col("sel") < 300,
        col("part") + col("sel") < 100)
      for ((cond, seed) <- conds.zipWithIndex) {
        val q = query(t, seed, Some(cond), extra = Seq("part"))
        val got = q.collect()
        assert(got.length == 10 && scanOf(q).metrics("fetchRounds").value >= 1)
        val want = bruteForce(query(t, seed, Some(cond), extra = Seq("part")))
        assert(idDist(got) == idDist(want), cond.toString)
        assert(got.map(_.getInt(2)).toSeq == want.map(_.getInt(2)).toSeq)
        assert(got.toSeq.map(_.getLong(0) % 3) == got.toSeq.map(_.getInt(2).toLong))
      }
    } finally Hnsw.dropIndex(spark, "fetch_parts")
  }

  test("the table rewritten under the same path: a new DataFrame fetches the new rows") {
    val (dir, t) = indexed("fetch_rewrite")
    try {
      val before = query(t, 1).collect()
      assert(before.forall(_.getInt(1) < 1000))
      rows(selOffset = 5000).write.mode("overwrite").parquet(dir)
      val t2 = spark.read.parquet(dir)
      val after = query(t2, 1).collect()
      assert(idDist(after) == idDist(before))
      assert(after.map(_.getInt(1)).toSeq == before.map(_.getInt(1) + 5000).toSeq)
      assert(idDist(after) == idDist(bruteForce(query(t2, 1))))
    } finally Hnsw.dropIndex(spark, "fetch_rewrite")
  }

  test("a SQL conf change builds one more reader and returns the same rows") {
    val (_, t) = indexed("fetch_conf")
    val key = "spark.sql.parquet.enableVectorizedReader"
    try {
      def run(seed: Int): (Seq[(Long, Double)], Long) = {
        val q = query(t, seed, Some(col("sel") < 500))
        val got = idDist(q.collect())
        (got, scanOf(q).metrics("readerBuilds").value)
      }
      val (first, _) = run(1)
      assert(run(2)._2 == 0)
      spark.conf.set(key, "false")
      val (rowReader, builds3) = try run(1) finally spark.conf.unset(key)
      // One more reader per read shape: the allow-list pass and the fetch.
      assert(builds3 == 2 && rowReader == first)
      assert(run(1) == (first, 0L))
      assert(first == idDist(bruteForce(query(t, 1, Some(col("sel") < 500)))))
    } finally Hnsw.dropIndex(spark, "fetch_conf")
  }

  test("four threads querying at once each get their own rows") {
    val (_, t) = indexed("fetch_threads")
    try {
      val seeds = 1 to 24
      val want = seeds.map(s => s -> idDist(bruteForce(query(t, s)))).toMap
      val pool = Executors.newFixedThreadPool(4)
      try {
        val got = seeds.map(s => pool.submit(new Callable[(Int, Seq[(Long, Double)])] {
          override def call() = (s, idDist(query(t, s).collect()))
        })).map(_.get(5, TimeUnit.MINUTES))
        got.foreach { case (s, rs) => assert(rs == want(s), s"seed $s") }
      } finally pool.shutdown()
    } finally Hnsw.dropIndex(spark, "fetch_threads")
  }

  test("a query that reads _metadata keeps its ordinary plan and answer") {
    val (_, t) = indexed("fetch_metadata")
    try {
      val q = query(t, 1, extra = Seq("_metadata.file_name"))
      assert(!q.queryExecution.executedPlan.toString.contains("HnswIndexScan"))
      val got = q.collect()
      assert(got.length == 10 && got.forall(_.getString(2).endsWith(".parquet")))
      assert(idDist(got) == idDist(bruteForce(query(t, 1))))
    } finally Hnsw.dropIndex(spark, "fetch_metadata")
  }

  // Keep last: it stops the shared session.
  test("a query after spark.stop() and a new session builds a new reader, same rows") {
    val (dir, t) = indexed("fetch_stop")
    val before = idDist(query(t, 1).collect())
    spark.stop()
    val s2 = SparkSuite.spark
    assert(s2.sparkContext ne spark.sparkContext)
    s2.conf.set(Hnsw.LocationKey, base)
    try {
      val q = query(s2.read.parquet(dir), 1)
      assert(idDist(q.collect()) == before)
      assert(scanOf(q).metrics("readerBuilds").value == 1)
    } finally Hnsw.dropIndex(s2, "fetch_stop")
  }
}
