package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._

import graft.functions.{array_distance, lit_vector}
import graft.plans.{RowGroupCache, RowidFetch}

/** The SQL top-k scan's rowid fetch: the row groups that can hold a hit,
  * read through a cached file reader or served from the driver's row-group
  * cache. Every answer equals the brute-force plan's, across row groups,
  * partitions, a rewritten or replaced table, a conf change, row groups over
  * the cache's entry cap, concurrent queries and a new SparkContext (the
  * last test: it stops the shared session, and later suites get a new one). */
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

  /** `rows` (with `extend` applied) written to a new directory and indexed
    * as `name`; the index's ef is large enough that its search is exact. */
  private def indexed(name: String,
      write: DataFrameWriter[Row] => DataFrameWriter[Row] = identity,
      extend: DataFrame => DataFrame = identity): (String, DataFrame) = {
    val dir = Files.createTempDirectory(s"graft-$name").toFile.getAbsolutePath
    write(extend(rows()).write.mode("overwrite")).parquet(dir)
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

  private def metric(q: DataFrame, name: String): Long = scanOf(q).metrics(name).value

  /** Runs `body` with a fresh row-group cache of `budget` bytes in place of
    * the driver's. */
  private def withCache[T](budget: Long)(body: RowGroupCache => T): T = {
    val saved = RowidFetch.rowGroupCache
    val cache = new RowGroupCache(budget)
    RowidFetch.rowGroupCache = cache
    try body(cache) finally RowidFetch.rowGroupCache = saved
  }

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
        val read = metric(q, "rowGroupsRead") + metric(q, "rowGroupsCached")
        assert(read <= 10 && read < groups, s"$read of $groups row groups read")
        // The same query again: every row group it reads comes from memory.
        val again = query(t, seed)
        assert(idDist(again.collect()) == idDist(got))
        assert(metric(again, "rowGroupsRead") == 0 && metric(again, "rowGroupsCached") == read)
        assert(metric(again, "readerBuilds") == 0)
        assert(idDist(got) == idDist(bruteForce(query(t, seed))))
      }
    } finally Hnsw.dropIndex(spark, "fetch_groups")
  }

  test("indexes keyed by two id columns of one file each prune by their own id's statistics") {
    // id2 runs opposite to id, so a row group's id and id2 ranges differ.
    val (_, t) = indexed("fetch_id", _.option("parquet.block.size", "4096"),
      _.withColumn("id2", lit(1999L) - col("id")))
    def byId2(seed: Int) = {
      val rnd = new scala.util.Random(seed)
      t.select(col("id2"), array_distance(col("vec"),
        lit_vector(Array.fill(8)(rnd.nextGaussian().toFloat))).as("d")).orderBy("d").limit(10)
    }
    try {
      query(t, 1).collect() // the footers are summarized for the id index's fetch
      Hnsw.dropIndex(spark, "fetch_id")
      Hnsw.createIndex(spark, "fetch_id2", t, "vec", "id2", Map("ef_search" -> "100000"),
        overwrite = true)
      for (seed <- 1 to 3) {
        val q = byId2(seed)
        val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(metric(q, "rowGroupsRead") + metric(q, "rowGroupsCached") <= 10)
        assert(got == bruteForce(byId2(seed)).map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      }
    } finally Hnsw.dropIndex(spark, "fetch_id2")
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

  test("a spark.graft.* conf change keeps the warm reader and row groups") {
    val (_, t) = indexed("fetch_graft_conf")
    try {
      val warm = query(t, 4).collect()
      val again = query(t, 4).tap(_.collect())
      assert(metric(again, "rowGroupsRead") == 0 && metric(again, "readerBuilds") == 0)
      spark.conf.set(Hnsw.RewriteEnabledKey, "true")
      try {
        val after = query(t, 4)
        assert(idDist(after.collect()) == idDist(warm))
        assert(metric(after, "rowGroupsRead") == 0, "row groups read")
        assert(metric(after, "readerBuilds") == 0, "reader builds")
      } finally spark.conf.unset(Hnsw.RewriteEnabledKey)
    } finally Hnsw.dropIndex(spark, "fetch_graft_conf")
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

  test("a file replaced in place: a new length or mtime returns the file's new rows") {
    val (dir, t) = indexed("fetch_replace")
    try {
      val file = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
      val before = query(t, 1).collect()
      assert(metric(query(t, 1).tap(_.collect()), "rowGroupsCached") == 1)
      // The same bytes under a new mtime: a new key, so read from the file.
      assert(file.setLastModified(file.lastModified() + 10000))
      val touched = query(spark.read.parquet(dir), 1)
      assert(idDist(touched.collect()) == idDist(before))
      assert(metric(touched, "rowGroupsRead") == 1 && metric(touched, "rowGroupsCached") == 0)
      // New rows copied over the same name: a new length (or mtime).
      val next = Files.createTempDirectory("graft-replace-next").toFile
      rows(selOffset = 5000).write.mode("overwrite").parquet(next.getAbsolutePath)
      val replacement = next.listFiles().filter(_.getName.endsWith(".parquet")).head
      // The file and its checksum, which the local file system checks.
      def crc(f: java.io.File) = new java.io.File(f.getParentFile, s".${f.getName}.crc").toPath
      for ((from, to) <- Seq((replacement.toPath, file.toPath), (crc(replacement), crc(file))))
        Files.copy(from, to, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(file.setLastModified(file.lastModified() + 20000))
      val t2 = spark.read.parquet(dir)
      val after = query(t2, 1).collect()
      assert(idDist(after) == idDist(before))
      assert(after.map(_.getInt(1)).toSeq == before.map(_.getInt(1) + 5000).toSeq)
      assert(idDist(after) == idDist(bruteForce(query(t2, 1))))
      val cond = col("sel") < 5500
      val filtered = query(t2, 2, Some(cond)).collect()
      assert(filtered.forall(r => r.getInt(1) >= 5000 && r.getInt(1) < 5500))
      assert(idDist(filtered) == idDist(bruteForce(query(t2, 2, Some(cond)))))
    } finally Hnsw.dropIndex(spark, "fetch_replace")
  }

  test("row groups over the entry cap are streamed: brute-force rows, no bytes cached") {
    // A constant 1,000-character string: dictionary-encoded, its footer size
    // is small, but it decodes to about 2 MB.
    val (_, t) = indexed("fetch_cap", extend = _.withColumn("pad", repeat(lit("x"), 1000)))
    try {
      // The pass reads `pad` too, so both reads are over the cap.
      val cond = col("sel") < 200 && col("pad") =!= "y"
      val want = Seq(None, Some(cond)).map(c => idDist(bruteForce(query(t, 3, c))))
      // Budget 64 KB: the footer puts the row group's columns over the
      // 16 KB cap, so it is never decoded into the cache. Budget 1 MB: under
      // the 256 KB cap by the footer, over it decoded.
      for (budget <- Seq(64L << 10, 1L << 20)) withCache(budget) { cache =>
        for (round <- 1 to 2; (c, w) <- Seq(None, Some(cond)).zip(want)) {
          val q = query(t, 3, c, extra = Seq("pad"))
          val got = q.collect()
          val at = s"budget $budget, round $round, $c"
          assert(idDist(got) == w && got.forall(_.getString(2).length == 1000), at)
          assert(metric(q, "rowGroupsRead") >= 1 && metric(q, "rowGroupsCached") == 0, at)
          assert(cache.bytes == 0, at)
        }
      }
    } finally Hnsw.dropIndex(spark, "fetch_cap")
  }

  test("the cache's bytes stay within its budget under concurrent fills; " +
      "a duplicate fill counts once") {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.StructType
    withCache(1000) { cache =>
      def key(i: Int) = RowGroupCache.Key(RowidFetch.ReaderKey(spark.sparkContext,
        classOf[ParquetFileFormat], new StructType(), new StructType(), Map.empty, Seq("id"),
        None, Map.empty), RowidFetch.FileKey("f", 1L, 1L), i.toLong)
      val rows = Array.empty[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
      // Eight threads fill the same key at once: it is counted once.
      val pool = Executors.newFixedThreadPool(8)
      try {
        val start = new java.util.concurrent.CountDownLatch(1)
        (1 to 8).map(_ => pool.submit(new Runnable {
          override def run(): Unit = { start.await(); cache.put(key(0), rows, 200) }
        })).tap(_ => start.countDown()).foreach(_.get(1, TimeUnit.MINUTES))
        assert(cache.bytes == 200)
        // Then 2,000 fills of 100 keys, each 1 to 250 bytes (the cap), while
        // a reader samples the total.
        @volatile var done = false
        var most = 0L
        val sampler = new Thread(() => while (!done) most = math.max(most, cache.bytes))
        sampler.start()
        (0 until 8).map(w => pool.submit(new Runnable {
          override def run(): Unit = {
            val rnd = new scala.util.Random(w)
            (1 to 250).foreach(_ => cache.put(key(rnd.nextInt(100)), rows, 1 + rnd.nextInt(250)))
          }
        })).foreach(_.get(1, TimeUnit.MINUTES))
        done = true
        sampler.join()
        assert(most <= cache.budget && cache.bytes <= cache.budget, s"$most bytes held")
      } finally pool.shutdown()
    }
    // End to end: a budget of a few row groups, 4 threads over a file of
    // many, unfiltered and filtered: every answer as brute force gives it.
    val (_, t) = indexed("fetch_fills", _.option("parquet.block.size", "4096"))
    try {
      val cond = col("sel") < 300
      val seeds = 1 to 12
      val want = seeds.map(s => s -> (idDist(bruteForce(query(t, s))),
        idDist(bruteForce(query(t, s, Some(cond)))))).toMap
      withCache(64L << 10) { cache =>
        val pool = Executors.newFixedThreadPool(4)
        try {
          seeds.map(s => pool.submit(new Callable[(Int, Seq[(Long, Double)], Seq[(Long, Double)])] {
            override def call() = {
              val got = (s, idDist(query(t, s).collect()), idDist(query(t, s, Some(cond)).collect()))
              assert(cache.bytes <= cache.budget)
              got
            }
          })).map(_.get(5, TimeUnit.MINUTES)).foreach { case (s, plain, filtered) =>
            assert((plain, filtered) == want(s), s"seed $s")
          }
        } finally pool.shutdown()
        assert(cache.bytes > 0 && cache.bytes <= cache.budget)
      }
    } finally Hnsw.dropIndex(spark, "fetch_fills")
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
      RowidFetch.rowGroupCache.clear()
      val pool = Executors.newFixedThreadPool(4)
      try {
        for (round <- Seq("cold", "warm")) {
          val got = seeds.map(s => pool.submit(new Callable[(Int, Seq[(Long, Double)], Long)] {
            override def call() = {
              val q = query(t, s)
              (s, idDist(q.collect()), metric(q, "rowGroupsRead"))
            }
          })).map(_.get(5, TimeUnit.MINUTES))
          got.foreach { case (s, rs, read) =>
            assert(rs == want(s), s"$round, seed $s")
            if (round == "warm") assert(read == 0, s"$round, seed $s")
          }
        }
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
    val old = spark.sparkContext
    assert(RowidFetch.rowGroupCache.contexts.contains(old))
    spark.stop()
    val s2 = SparkSuite.spark
    assert(s2.sparkContext ne old)
    s2.conf.set(Hnsw.LocationKey, base)
    try {
      // The stopped context's cached row group is not served: the new one
      // reads the file, and its fill drops the stopped context's entries.
      val q = query(s2.read.parquet(dir), 1)
      assert(idDist(q.collect()) == before)
      assert(metric(q, "readerBuilds") == 1)
      assert(metric(q, "rowGroupsRead") == 1 && metric(q, "rowGroupsCached") == 0)
      assert(RowidFetch.rowGroupCache.contexts == Set(s2.sparkContext))
    } finally Hnsw.dropIndex(s2, "fetch_stop")
  }
}
