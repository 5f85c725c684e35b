package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{array_distance, lit_vector}
import graft.index.{ConcurrentIndexChangeException, HnswIndexMeta, IndexCatalog}

/** Holds the inserts of the concurrent-insert spec between their catalog
  * read and their commit, so all of them commit on top of one version. A
  * top-level object: task closures reach it statically, not as a copy. */
object IndexCatalogSpecGate {
  @volatile var latch = new CountDownLatch(0)
  def pass(id: Long): Long = { latch.countDown(); latch.await(60, TimeUnit.SECONDS); id }
}

/** The catalog's commit protocol: one numbered manifest per commit,
  * published put-if-absent, each version parsed once. */
class IndexCatalogSpec extends SparkSuite {

  private val base: String = {
    val d = Files.createTempDirectory("graft-catalog").toFile.getAbsolutePath
    spark.conf.set(Hnsw.LocationKey, d)
    d
  }

  /** 9³ grid written to parquet, so the top-k rewrite can fire on it. */
  private lazy val grid: DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-catalog-grid").toFile.getAbsolutePath
    val rows = for (a <- 1 to 9; b <- 1 to 9; c <- 1 to 9)
      yield ((a - 1) * 81L + (b - 1) * 9 + (c - 1), Array(a.toFloat, b.toFloat, c.toFloat))
    rows.toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def rows(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, Array(i.toFloat, -i.toFloat, 0.5f))).toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
  }

  private def manifests(name: String): Seq[String] =
    Option(new File(IndexCatalog.indexDir(base, name), "_manifest").list()).toSeq.flatten
      .filter(_.endsWith(".properties")).sorted

  private def hnswFiles(name: String): Set[String] =
    IndexCatalog.indexDir(base, name).list().filter(_.endsWith(".hnsw")).toSet

  private def nearest(name: String, q: Array[Float], k: Int): Seq[Long] =
    Hnsw.searchRaw(spark, name, q, k).map(_._1).toSeq

  test("two commits from one version: the second is refused, and the index serves the first") {
    val v1 = Hnsw.createIndex(spark, "cat_twice", grid, "vec", "id", overwrite = true)
    assert(v1.version == 1)
    val v2 = IndexCatalog.save(base, v1.copy(efSearch = 100))
    assert(v2.version == 2)
    val e = intercept[ConcurrentIndexChangeException](IndexCatalog.save(base, v1.copy(efSearch = 200)))
    assert(e.getMessage.contains("'cat_twice'") && e.getMessage.contains("changed concurrently"),
      e.getMessage)
    assert(IndexCatalog.load(base, "cat_twice") == v2)
    assert(nearest("cat_twice", Array(1f, 2f, 3f), 1) == Seq(11L))
    Hnsw.dropIndex(spark, "cat_twice")
  }

  test("a delete committed on a pre-compaction version is refused and leaves the compacted index") {
    Hnsw.createIndex(spark, "cat_race", grid, "vec", "id", overwrite = true)
    Hnsw.delete(spark, "cat_race", Seq(11L))
    val before = IndexCatalog.current(base, "cat_race")
    val compacted = Hnsw.compactIndex(spark, "cat_race")
    // What a delete that read `before` commits: a tombstone on an old segment.
    val seg = before.meta.segments.head
    intercept[ConcurrentIndexChangeException](IndexCatalog.save(base,
      before.meta.copy(count = before.meta.count - 1),
      before.tombstones + (seg -> (before.tombstones(seg) :+ 12L).sorted)))
    val now = IndexCatalog.current(base, "cat_race")
    assert(now.meta == compacted && now.meta.segments != before.meta.segments)
    assert(now.tombstones.isEmpty && now.meta.count == 728L)
    assert(now.meta.segments.forall(s => new File(IndexCatalog.indexDir(base, "cat_race"), s).isFile))
    assert(!nearest("cat_race", Array(1f, 2f, 3f), 5).contains(11L))
    // The delete, re-run on the current version, commits.
    assert(Hnsw.delete(spark, "cat_race", Seq(12L)).count == 727L)
    Hnsw.dropIndex(spark, "cat_race")
  }

  test("a delete made on a version three commits old is refused, and loses no tombstone") {
    Hnsw.createIndex(spark, "cat_stale", grid, "vec", "id", overwrite = true)
    // A keyDf delete held between its catalog read (version 1) and its commit.
    IndexCatalogSpecGate.latch = new CountDownLatch(2)
    val gate = udf((id: Long) => IndexCatalogSpecGate.pass(id)).asNondeterministic()
    import spark.implicits._
    val keys = Seq(40L).toDF("k").select(gate(col("k")).as("k"))
    implicit val ec: ExecutionContext = ExecutionContext.global
    val held = Future(scala.util.Try(Hnsw.delete(spark, "cat_stale", keys)))
    val deadline = System.nanoTime() + 60.seconds.toNanos
    while (IndexCatalogSpecGate.latch.getCount > 1 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(IndexCatalogSpecGate.latch.getCount == 1, "the held delete never reached its job")
    // Versions 2-4: versions 1 and 2 are trimmed, so the name 2 is free again.
    Seq(41L, 42L, 43L).foreach(k => Hnsw.delete(spark, "cat_stale", Seq(k)))
    assert(manifests("cat_stale").size == 2)
    IndexCatalogSpecGate.latch.countDown()
    val outcome = Await.result(held, 5.minutes)
    assert(outcome.failed.toOption.exists(_.isInstanceOf[ConcurrentIndexChangeException]), outcome)
    assert(IndexCatalog.load(base, "cat_stale").version == 4)
    assert(IndexCatalog.tombstones(base, "cat_stale").map(_._2) == Set(41L, 42L, 43L))
    assert(nearest("cat_stale", Array(1f, 5f, 5f), 1) == Seq(40L))
    Hnsw.dropIndex(spark, "cat_stale")
  }

  test("a compaction made on a version three commits old is refused, and every named segment stays") {
    Hnsw.createIndex(spark, "cat_old", grid, "vec", "id", overwrite = true)
    val before = IndexCatalog.current(base, "cat_old")
    (1L to 3L).foreach(k => Hnsw.delete(spark, "cat_old", Seq(k)))
    // What a compaction that read `before` commits: new segments, no tombstones.
    intercept[ConcurrentIndexChangeException](IndexCatalog.save(base,
      before.meta.copy(segments = Seq("part-cstale-00000.hnsw")), Map.empty))
    val now = IndexCatalog.current(base, "cat_old")
    assert(now.meta.version == 4 && now.meta.segments == before.meta.segments)
    assert(now.meta.segments.forall(s => new File(IndexCatalog.indexDir(base, "cat_old"), s).isFile))
    assert(IndexCatalog.tombstones(base, "cat_old").map(_._2) == Set(1L, 2L, 3L))
    assert(!nearest("cat_old", Array(1f, 1f, 2f), 3).exists(Set(1L, 2L, 3L)))
    Hnsw.dropIndex(spark, "cat_old")
  }

  test("a change made on a dropped index is refused, also when a re-created one reached its version") {
    Hnsw.createIndex(spark, "cat_gone", grid, "vec", "id", overwrite = true)
    val stale = Hnsw.delete(spark, "cat_gone", Seq(1L))
    assert(stale.version == 2)
    Hnsw.createIndex(spark, "cat_gone", rows(0L until 5L), "vec", "id", overwrite = true)
    intercept[ConcurrentIndexChangeException](IndexCatalog.save(base, stale))
    // The new index at version 2 too: only its uid tells the two apart.
    assert(Hnsw.delete(spark, "cat_gone", Seq(0L)).version == 2)
    intercept[ConcurrentIndexChangeException](IndexCatalog.save(base, stale))
    val now = IndexCatalog.load(base, "cat_gone")
    assert(now.count == 4L && now.uid != stale.uid)
    Hnsw.dropIndex(spark, "cat_gone")
    intercept[ConcurrentIndexChangeException](IndexCatalog.save(base, now))
    assert(!IndexCatalog.indexDir(base, "cat_gone").exists())
  }

  test("a create that may not overwrite refuses an index of the older format and keeps its files") {
    val dir = IndexCatalog.indexDir(base, "cat_legacy")
    dir.mkdirs()
    Files.write(new File(dir, "meta.properties").toPath, "name=cat_legacy\n".getBytes("UTF-8"))
    Files.write(new File(dir, "part-00000.hnsw").toPath, Array[Byte](1, 2, 3))
    val e = intercept[IllegalArgumentException](Hnsw.createIndex(spark, "cat_legacy", grid, "vec", "id"))
    assert(e.getMessage.contains("already exists"))
    assert(dir.list().toSet == Set("meta.properties", "part-00000.hnsw"))
    assert(Hnsw.createIndex(spark, "cat_legacy", grid, "vec", "id", overwrite = true).version == 1)
    assert(dir.list().toSet == Set("_manifest", "part-00000.hnsw"))
    Hnsw.dropIndex(spark, "cat_legacy")
  }

  test("concurrent inserts: one wins, the others are refused and leave no segment file") {
    Hnsw.createIndex(spark, "cat_conc", rows(0L until 20L), "vec", "id", overwrite = true)
    val threads = 4
    IndexCatalogSpecGate.latch = new CountDownLatch(threads)
    val gate = udf((id: Long) => IndexCatalogSpecGate.pass(id)).asNondeterministic()
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(java.util.concurrent.Executors.newFixedThreadPool(threads))
    val batches = (1 to threads).map(t => (t * 100L) until (t * 100L + 10))
    val outcomes = batches.map { ids =>
      Future(scala.util.Try(Hnsw.insert(spark, "cat_conc", rows(ids).withColumn("id", gate(col("id"))))))
    }.map(Await.result(_, 5.minutes))
    ec.asInstanceOf[java.util.concurrent.ExecutorService].shutdown()
    val won = batches.zip(outcomes).collect { case (ids, scala.util.Success(_)) => ids }
    val lost = outcomes.collect { case scala.util.Failure(e) => e }
    // Every insert read version 1 before any committed: exactly one commits 2.
    assert(won.size == 1, outcomes)
    assert(lost.size == threads - 1 && lost.forall(_.isInstanceOf[ConcurrentIndexChangeException]), lost)
    val meta = IndexCatalog.load(base, "cat_conc")
    assert(meta.version == 2 && meta.count == 20L + won.flatten.size)
    assert(hnswFiles("cat_conc") == meta.segments.toSet)
    won.flatten.foreach(id => assert(nearest("cat_conc", Array(id.toFloat, -id.toFloat, 0.5f), 1) == Seq(id)))
    Hnsw.dropIndex(spark, "cat_conc")
  }

  test("crash leftovers: an unlisted segment file and a temporary manifest change nothing") {
    val meta = Hnsw.createIndex(spark, "cat_crash", grid, "vec", "id", overwrite = true)
    val before = nearest("cat_crash", Array(4f, 4f, 4f), 5)
    val dir = IndexCatalog.indexDir(base, "cat_crash")
    // An insert that wrote its segment and died before its commit...
    Files.copy(new File(dir, meta.segments.head).toPath, new File(dir, "delta-crashed-00000.hnsw").toPath)
    // ...and a commit that died before publishing its manifest.
    Files.write(new File(new File(dir, "_manifest"), ".commit-123.tmp").toPath,
      "format=1\nname=cat_crash\nsegments=delta-crashed-00000.hnsw\n".getBytes("UTF-8"))
    assert(IndexCatalog.load(base, "cat_crash") == meta)
    assert(IndexCatalog.list(base).filter(_.name == "cat_crash") == Seq(meta))
    assert(nearest("cat_crash", Array(4f, 4f, 4f), 5) == before)
    // The next commit goes on top of the committed version.
    assert(Hnsw.delete(spark, "cat_crash", Seq(before.head)).version == 2)
    Hnsw.dropIndex(spark, "cat_crash")
  }

  test("a collected top-k Dataset, collected again after a delete, no longer holds the deleted id") {
    Hnsw.createIndex(spark, "cat_recollect", grid, "vec", "id", overwrite = true)
    val q = grid.select(col("id"), array_distance(col("vec"), lit_vector(Array(1f, 2f, 3f))).as("d"))
      .orderBy("d").limit(3)
    assert(q.queryExecution.executedPlan.toString.contains("HnswIndexScan"))
    assert(q.collect().map(_.getLong(0)).contains(11L))
    Hnsw.delete(spark, "cat_recollect", Seq(11L))
    val again = q.collect().map(_.getLong(0))
    assert(again.length == 3 && !again.contains(11L), again.toSeq)
    Hnsw.dropIndex(spark, "cat_recollect")
  }

  test("planning a top-k parses no manifest once warm, beside an index of 1,000 segments") {
    Hnsw.createIndex(spark, "cat_small", grid, "vec", "id", overwrite = true)
    val rnd = new scala.util.Random(3)
    val segs = (0 until 1000).map(i => f"part-$i%05d.hnsw")
    IndexCatalog.save(base, HnswIndexMeta(
      name = "cat_big", paths = Seq("file:/nonexistent/big"), column = "vec", idColumn = "id",
      metric = "l2sq", dim = 64, m = 16, m0 = 32, efConstruction = 128, efSearch = 64,
      count = 1000L * 262144, segments = segs,
      segmentRanges = segs.indices.map(i => (i * 262144L, i * 262144L + 262143)),
      centroids = segs.map(_ => Array.fill(64)(rnd.nextFloat()))))
    val big = IndexCatalog.load(base, "cat_big")
    assert(big.segments.size == 1000 && big.centroids.head.length == 64)
    def plan(): String =
      grid.select(col("id"), array_distance(col("vec"), lit_vector(Array(1f, 2f, 3f))).as("d"))
        .orderBy("d").limit(3).queryExecution.optimizedPlan.toString
    assert(plan().contains("HnswIndexScan"))
    val parsed = IndexCatalog.manifestParses
    (1 to 5).foreach(_ => assert(plan().contains("HnswIndexScan")))
    assert(IndexCatalog.manifestParses == parsed)
    // A commit caches its own manifest: the next plan parses nothing either.
    Hnsw.delete(spark, "cat_small", Seq(0L))
    assert(plan().contains("HnswIndexScan"))
    assert(IndexCatalog.manifestParses == parsed)
    Seq("cat_small", "cat_big").foreach(Hnsw.dropIndex(spark, _))
  }

  test("after five deletes at most two manifests remain, and the newest holds every tombstone") {
    Hnsw.createIndex(spark, "cat_trim", grid, "vec", "id", overwrite = true)
    (1L to 5L).foreach(k => Hnsw.delete(spark, "cat_trim", Seq(k)))
    assert(manifests("cat_trim").size <= 2, manifests("cat_trim"))
    assert(IndexCatalog.load(base, "cat_trim").version == 6)
    assert(IndexCatalog.tombstones(base, "cat_trim").map(_._2) == Set(1L, 2L, 3L, 4L, 5L))
    Hnsw.dropIndex(spark, "cat_trim")
  }

  test("deleting an id inserted twice tombstones both copies, and count drops by both") {
    Hnsw.createIndex(spark, "cat_twins", rows(0L until 10L), "vec", "id", overwrite = true)
    Hnsw.insert(spark, "cat_twins", rows(Seq(3L)))
    assert(IndexCatalog.load(base, "cat_twins").count == 11L)
    val deleted = Hnsw.delete(spark, "cat_twins", Seq(3L))
    assert(IndexCatalog.tombstones(base, "cat_twins").size == 2)
    assert(deleted.count == 9L)
    val info = Hnsw.indexInfo(spark).where(col("index_name") === "cat_twins").head()
    assert(info.getAs[Long]("deleted_count") == 2L && info.getAs[Long]("count") == 9L)
    assert(Hnsw.compactIndex(spark, "cat_twins").count == deleted.count)
    Hnsw.dropIndex(spark, "cat_twins")
  }

  test("a dropped and re-created index is read afresh, not from the old parse") {
    Hnsw.createIndex(spark, "cat_again", grid, "vec", "id", overwrite = true)
    Hnsw.createIndex(spark, "cat_again", rows(0L until 5L), "vec", "id", overwrite = true)
    val meta = IndexCatalog.load(base, "cat_again")
    assert(meta.version == 1 && meta.count == 5L)
    Hnsw.dropIndex(spark, "cat_again")
  }
}
