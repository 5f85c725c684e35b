package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.index.HnswGraph

/** Unit tests for the pure-JVM HNSW graph (SURVEY §2.4). Recall posture
  * follows the reference tests: exact assertions only on deterministic
  * fixtures (hnsw_result.test), closeness/recall bounds otherwise
  * (hnsw_basic.test:28-34). */
class HnswGraphSpec extends AnyFunSuite {

  /** The 9³ grid from hnsw_result.test:12 (range(1,10)³). */
  private def gridGraph(): HnswGraph = {
    val g = new HnswGraph(dim = 3, metric = "l2sq")
    var key = 0L
    for (a <- 1 to 9; b <- 1 to 9; c <- 1 to 9) {
      g.add(key, Array(a.toFloat, b.toFloat, c.toFloat))
      key += 1
    }
    g
  }

  test("grid top-3 distances are exact: 0, 1, 1 (hnsw_result.test:23-28)") {
    val g = gridGraph()
    assert(g.size == 729)
    val hits = g.search(Array(1f, 2f, 3f), k = 3, ef = 64)
    // internal metric is l2sq; sqrt matches DuckDB's array_distance output
    assert(hits.map(h => math.sqrt(h._2)).toSeq == Seq(0.0, 1.0, 1.0))
    assert(hits(0)._1 == 0L * 81 + 1 * 9 + 2) // (1,2,3) itself
  }

  test("high recall vs brute force on random vectors") {
    val rnd = new Random(7)
    val n = 2000
    val dim = 16
    val vecs = Array.fill(n)(Array.fill(dim)(rnd.nextFloat()))
    val sequential = new HnswGraph(dim, "l2sq")
    vecs.zipWithIndex.foreach { case (v, i) => sequential.add(i.toLong, v) }
    val batched = new HnswGraph(dim, "l2sq")
    batched.addAll(vecs.indices.map(_.toLong).toArray, vecs, threads = 4)
    val queries = Array.fill(20)(Array.fill(dim)(rnd.nextFloat()))
    for ((name, g) <- Seq("sequential" -> sequential, "batch" -> batched)) {
      var recallSum = 0.0
      for (q <- queries) {
        val exact = vecs.zipWithIndex
          .map { case (v, i) => (i.toLong, graft.expressions.VectorMath.l2Squared(q, v)) }
          .sortBy(_._2).take(10).map(_._1).toSet
        val approx = g.search(q, 10, ef = 64).map(_._1).toSet
        recallSum += (exact & approx).size / 10.0
      }
      val recall = recallSum / queries.length
      assert(recall >= 0.95, s"$name recall $recall < 0.95")
    }
  }

  test("cosine and ip metrics order correctly") {
    for (metric <- Seq("cosine", "ip")) {
      val g = new HnswGraph(2, metric)
      g.add(1L, Array(1f, 0f))
      g.add(2L, Array(0f, 1f))
      g.add(3L, Array(0.9f, 0.1f))
      val hits = g.search(Array(1f, 0f), 3, ef = 16)
      assert(hits.head._1 == (if (metric == "cosine") 1L else 1L))
      assert(hits.map(_._1).toSet == Set(1L, 2L, 3L))
    }
  }

  test("duplicate live key rejected; dim mismatch rejected") {
    val g = new HnswGraph(3, "l2sq")
    g.add(1L, Array(1f, 2f, 3f))
    intercept[IllegalArgumentException](g.add(1L, Array(1f, 2f, 3f)))
    intercept[IllegalArgumentException](g.add(2L, Array(1f, 2f)))
  }

  test("serialization round-trip preserves structure and results") {
    val g = gridGraph()
    val bos = new ByteArrayOutputStream()
    g.write(new DataOutputStream(bos))
    val g2 = HnswGraph.read(new DataInputStream(new ByteArrayInputStream(bos.toByteArray)))
    assert(g2.size == g.size && g2.maxLevel == g.maxLevel)
    val q = Array(3f, 4f, 5f)
    assert(g2.search(q, 10, 64).toSeq == g.search(q, 10, 64).toSeq)
    assert(g2.levelStats == g.levelStats)
  }

  test("read rejects a file whose tombstone tail is non-zero") {
    val bos = new ByteArrayOutputStream()
    gridGraph().write(new DataOutputStream(bos))
    // Version 1 ends with a tombstone count followed by that many node ids;
    // rewrite the (always 0) count as one tombstone on node 42.
    val body = bos.toByteArray.dropRight(4)
    val tail = new ByteArrayOutputStream()
    val out = new DataOutputStream(tail)
    out.writeInt(1); out.writeInt(42); out.flush()
    val e = intercept[IllegalArgumentException](HnswGraph.read(
      new DataInputStream(new ByteArrayInputStream(body ++ tail.toByteArray))))
    assert(e.getMessage.contains("tombstone"), e.getMessage)
  }

  test("GraphCache reloads after invalidate and caps at MaxEntries") {
    import graft.index.{GraphCache, IndexCatalog}
    val dir = java.nio.file.Files.createTempDirectory("graft-cache").toFile
    val g = new HnswGraph(2, "l2sq")
    g.add(1L, Array(1f, 2f))
    val f = new java.io.File(dir, "seg.hnsw")
    IndexCatalog.writeGraph(f, g)
    val loaded1 = GraphCache.get(f)
    assert(GraphCache.get(f) eq loaded1) // cached instance
    GraphCache.invalidate(dir.getAbsolutePath)
    assert(!(GraphCache.get(f) eq loaded1)) // reloaded after invalidate
    assert(GraphCache.MaxEntries > 0)
  }

  test("GraphCache evicts by bytes, not entry count") {
    import graft.index.{GraphCache, IndexCatalog}
    val dir = java.nio.file.Files.createTempDirectory("graft-cache-b").toFile
    def seg(name: String, n: Int): java.io.File = {
      val g = new HnswGraph(32, "l2sq")
      val rnd = new Random(name.hashCode)
      (0 until n).foreach(i => g.add(i.toLong, Array.fill(32)(rnd.nextFloat())))
      val f = new java.io.File(dir, name)
      IndexCatalog.writeGraph(f, g)
      f
    }
    val files = (0 until 6).map(i => seg(s"seg-$i.hnsw", 200))
    val perGraphBytes = IndexCatalog.readGraph(files.head).approxMemoryBytes
    // Budget fits ~3 graphs — far below the 256-entry cap, so any eviction
    // observed is byte-driven.
    val budget = perGraphBytes * 3 + perGraphBytes / 2
    System.setProperty("graft.graphCache.maxBytes", budget.toString)
    try {
      GraphCache.invalidate(dir.getAbsolutePath)
      files.foreach(GraphCache.get)
      assert(GraphCache.currentBytes <= budget,
        s"cache ${GraphCache.currentBytes} bytes exceeds budget $budget")
      // LRU order: the last-loaded segment must still be cached.
      val last = GraphCache.get(files.last)
      assert(GraphCache.get(files.last) eq last)
      // Evicted segments reload on demand and re-enter within budget.
      GraphCache.get(files.head)
      assert(GraphCache.currentBytes <= budget)
      // A graph larger than the budget is still served (admit + evict others).
      System.setProperty("graft.graphCache.maxBytes", (perGraphBytes / 2).toString)
      val big = GraphCache.get(files(1))
      assert(big.size == 200)
      assert(GraphCache.get(files(1)) eq big) // most-recent entry survives
    } finally {
      System.clearProperty("graft.graphCache.maxBytes")
      GraphCache.invalidate(dir.getAbsolutePath)
    }
  }

  /** `n` serve-shaped vectors: 32 Gaussian clusters in a 12-dim latent
    * space, projected to `dim` dimensions, plus a little noise. Streams
    * differ by `stream` and share the clusters of `seed`. */
  private def clustered(seed: Long, stream: Long, n: Int, dim: Int): Array[Array[Float]] = {
    val init = new Random(seed)
    val latent = 12
    val proj = Array.fill(latent, dim)((init.nextGaussian() / math.sqrt(latent)).toFloat)
    val centers = Array.fill(32, latent)((init.nextGaussian() * 2.0).toFloat)
    val r = new Random(seed * 1000003L + stream)
    Array.fill(n) {
      val c = centers(r.nextInt(centers.length))
      val z = Array.tabulate(latent)(i => c(i) + r.nextGaussian().toFloat)
      Array.tabulate(dim)(j =>
        (0 until latent).map(i => z(i) * proj(i)(j)).sum + 0.05f * r.nextGaussian().toFloat)
    }
  }

  private def bytesOf(g: HnswGraph): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    g.write(new DataOutputStream(bos))
    bos.toByteArray
  }

  private def batchBuilt(vecs: Array[Array[Float]], threads: Int): HnswGraph = {
    val g = new HnswGraph(vecs.head.length, "l2sq")
    g.addAll(vecs.indices.map(_.toLong).toArray, vecs, threads)
    g
  }

  test("batch build: the same 3,000 vectors give byte-identical files on 1 and 4 threads") {
    val vecs = clustered(5, 1, 3000, 32)
    val one = batchBuilt(vecs, threads = 1)
    assert(one.size == 3000)
    assert(java.util.Arrays.equals(bytesOf(one), bytesOf(batchBuilt(vecs, threads = 4))))
  }

  test("batch build keeps recall@10 at ef=64 within 0.005 of the sequential build") {
    val vecs = clustered(9, 1, 3000, 32)
    val queries = clustered(9, 2, 200, 32)
    val sequential = new HnswGraph(32, "l2sq")
    vecs.indices.foreach(i => sequential.add(i.toLong, vecs(i)))
    def recall(g: HnswGraph): Double = queries.map { q =>
      val exact = vecs.indices
        .sortBy(i => graft.expressions.VectorMath.l2Squared(q, vecs(i))).take(10).map(_.toLong).toSet
      g.search(q, 10, ef = 64).count(h => exact.contains(h._1)) / 10.0
    }.sum / queries.length
    val seq = recall(sequential)
    val batch = recall(batchBuilt(vecs, threads = 4))
    assert(batch >= seq - 0.005, s"batch recall $batch vs sequential $seq")
  }

  test("a worker's error fails the build with that error; build threads are daemons") {
    val boom = new IllegalStateException("worker failed")
    val ran = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[IllegalStateException](HnswGraph.parallelFor(64, 4) { _ =>
      Thread.sleep(1)
      ran.incrementAndGet()
      if (Thread.currentThread.getName.startsWith("hnsw-build-")) throw boom
    })
    assert(e eq boom)
    assert(ran.get < 64, "workers kept taking indices after the error")
    import scala.jdk.CollectionConverters._
    val builders = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("hnsw-build-"))
    assert(builders.nonEmpty && builders.forall(_.isDaemon))
    // The pool still serves the next build.
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    HnswGraph.parallelFor(100, 4)(i => seen.add(i))
    assert(seen.asScala.toSeq.sorted == (0 until 100))
  }

  test("exhaustive beam (ef >= n) on connected graph is exact") {
    val rnd = new Random(3)
    val vecs = Array.fill(300)(Array.fill(8)(rnd.nextFloat()))
    val g = new HnswGraph(8, "l2sq")
    vecs.zipWithIndex.foreach { case (v, i) => g.add(i.toLong, v) }
    val q = Array.fill(8)(rnd.nextFloat())
    val exact = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, graft.expressions.VectorMath.l2Squared(q, v)) }
      .sortBy(_._2).take(5).map(_._1).toSeq
    assert(g.search(q, 5, ef = 300).map(_._1).toSeq == exact)
  }
}
