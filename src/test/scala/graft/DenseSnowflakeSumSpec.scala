package graft

import org.apache.spark.sql.functions._

import graft.ops.DenseSnowflakeSum

/** The dense-key broadcast-probe kernel (r16, flat-layout sibling of
  * BucketedSnowflakeSum): value-identity with its own declarative fallback
  * across randomized flat corpora — nulls, dim misses, build misses, both
  * measure shapes, negative/offset key ranges — plus kernel-path
  * engagement, the bare-lineage / group-width / key-span guards, and loud
  * contract failures. */
class DenseSnowflakeSumSpec extends SparkSuite {
  import spark.implicits._

  private def collectGrid(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0),
      r.getDecimal(1).stripTrailingZeros(), r.getLong(2))).toSet

  private def isLocal(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("kernel path == declarative fallback on randomized flat corpora " +
      "(nulls, dim misses, build misses, offset+gapped keys, both measures)") {
    val rnd = new scala.util.Random(17)
    val dim = (0 until 30).map(i => (i.toLong * 53 + 7, i % 9)).toDF("dk", "g")
    val dimKeys = (0 until 30).map(_.toLong * 53 + 7)
    // build keys: offset negative base, stride-3 gaps — dense-ENOUGH span
    // (2400 slots for 800 keys), unique.
    def bkey(i: Int): Long = -1000L + i * 3L
    val buildRows = (1 to 800).map { i =>
      val ref: java.lang.Long =
        if (i % 41 == 0) null
        else if (rnd.nextInt(6) == 0) Long.box(424242L) // dim miss
        else Long.box(dimKeys(rnd.nextInt(dimKeys.length)))
      (bkey(i), ref)
    }
    // fact: many rows per build key, some keys missing from build (off-
    // stride and out-of-span values), some null.
    val factRows = (1 to 6000).map { i =>
      val key: java.lang.Long =
        if (i % 73 == 0) null
        else Long.box(-1000L + rnd.nextInt(3000).toLong) // 2/3 miss the stride
      val a: java.lang.Double =
        if (i % 67 == 0) null else Double.box(rnd.nextInt(20000) / 100.0)
      val b: java.lang.Double =
        if (i % 71 == 0) null else Double.box(rnd.nextInt(100) / 100.0)
      (key, a, b)
    }
    val buildMem = buildRows.toDF("bk", "ref")
    val factMem = factRows.toDF("fk", "a", "b")
    val flat = java.nio.file.Files.createTempDirectory("dss-flat").toString
    factMem.write.mode("overwrite").parquet(s"$flat/f")
    buildMem.write.mode("overwrite").parquet(s"$flat/b")

    for (mb <- Seq(None, Some((100L, "b", 2)))) {
      val os = if (mb.isEmpty) 2 else 4
      val viaKernel = DenseSnowflakeSum.groupSum(
        spark.read.parquet(s"$flat/f"), "fk", ("a", 2), mb, os,
        spark.read.parquet(s"$flat/b"), "bk", "ref", dim, "dk", "g")
      assert(isLocal(viaKernel), "flat parquet did not take the kernel path")
      val viaFallback = DenseSnowflakeSum.groupSum(
        factMem, "fk", ("a", 2), mb, os,
        buildMem, "bk", "ref", dim, "dk", "g")
      assert(!isLocal(viaFallback))
      assert(collectGrid(viaKernel) == collectGrid(viaFallback), s"measureB=$mb")
      assert(collectGrid(viaKernel).nonEmpty)
    }
  }

  test("block-sparse keys (replica/shard offsets) ENGAGE the paged kernel " +
      "and match the fallback — the derived-scale key layout") {
    val rnd = new scala.util.Random(23)
    val dim = (0 until 10).map(i => (i.toLong, i % 4)).toDF("dk", "g")
    // 3 replicas of 500 dense keys at 100M offsets: span 200M+500 but
    // only 6 pages allocate (2 per block edge) — the make_scale layout.
    val buildRows = for (rep <- 0 until 3; i <- 0 until 500)
      yield (rep * 100000000L + i, rnd.nextInt(12).toLong) // some dim-miss
    val factRows = (1 to 4000).map { _ =>
      (buildRows(rnd.nextInt(buildRows.length))._1, rnd.nextInt(5000) / 100.0)
    }
    val buildMem = buildRows.toDF("bk", "ref")
    val factMem = factRows.toDF("fk", "a")
    val flat = java.nio.file.Files.createTempDirectory("dss-block").toString
    factMem.write.mode("overwrite").parquet(s"$flat/f")
    buildMem.write.mode("overwrite").parquet(s"$flat/b")
    val viaKernel = DenseSnowflakeSum.groupSum(
      spark.read.parquet(s"$flat/f"), "fk", ("a", 2), None, 2,
      spark.read.parquet(s"$flat/b"), "bk", "ref", dim, "dk", "g")
    assert(isLocal(viaKernel), "block-sparse keys did not take the kernel")
    val viaFallback = DenseSnowflakeSum.groupSum(
      factMem, "fk", ("a", 2), None, 2, buildMem, "bk", "ref", dim, "dk", "g")
    assert(collectGrid(viaKernel) == collectGrid(viaFallback))
    assert(collectGrid(viaKernel).nonEmpty)
  }

  test("guards: filtered lineage, in-memory input, wide groups, and a " +
      "sparse key span all fall back; duplicate keys fail loudly") {
    val dim = Seq((1L, 0)).toDF("dk", "g")
    val buildMem = Seq((10L, 1L), (11L, 1L)).toDF("bk", "ref")
    val factMem = Seq((10L, 2.0), (10L, 3.0), (11L, 4.0)).toDF("fk", "a")
    val flat = java.nio.file.Files.createTempDirectory("dss-guard").toString
    factMem.write.mode("overwrite").parquet(s"$flat/f")
    buildMem.write.mode("overwrite").parquet(s"$flat/b")
    def f = spark.read.parquet(s"$flat/f")
    def b = spark.read.parquet(s"$flat/b")

    // Baseline: kernel engages and is right.
    val viaKernel = DenseSnowflakeSum.groupSum(
      f, "fk", ("a", 2), None, 2, b, "bk", "ref", dim, "dk", "g")
    assert(isLocal(viaKernel))
    assert(viaKernel.collect().head.getLong(2) == 3L)

    // Filtered fact lineage: fallback, filter honored.
    val viaFiltered = DenseSnowflakeSum.groupSum(
      f.where(col("a") > 2.5), "fk", ("a", 2), None, 2,
      b, "bk", "ref", dim, "dk", "g")
    assert(!isLocal(viaFiltered))
    assert(viaFiltered.collect().head.getLong(2) == 2L)

    // Filtered BUILD lineage: fallback, filter honored (only bk=10 joins).
    val viaBFiltered = DenseSnowflakeSum.groupSum(
      f, "fk", ("a", 2), None, 2,
      b.where(col("bk") === 10L), "bk", "ref", dim, "dk", "g")
    assert(!isLocal(viaBFiltered))
    assert(viaBFiltered.collect().head.getLong(2) == 2L)

    // In-memory input: fallback, same answer.
    val viaMem = DenseSnowflakeSum.groupSum(
      factMem, "fk", ("a", 2), None, 2, buildMem, "bk", "ref", dim, "dk", "g")
    assert(!isLocal(viaMem))
    assert(viaMem.collect().head.getLong(2) == 3L)

    // > 254 groups: byte map can't hold them — fallback, same answer.
    val wideDim = ((1 to 400).map(i => (i.toLong + 100, i - 1)) :+ (1L, 0))
      .toDF("dk", "g")
    val viaWide = DenseSnowflakeSum.groupSum(
      f, "fk", ("a", 2), None, 2, b, "bk", "ref", wideDim, "dk", "g")
    assert(!isLocal(viaWide))
    assert(viaWide.collect().filter(_.getInt(0) == 0).head.getLong(2) == 3L)

    // Allocation past maxKeySpan (any occupied page costs 128 KiB against
    // a 1 KiB ceiling): post-build-job fallback, same answer.
    val sparse = Seq((10L, 1L), (11L, 1L), (10000000L, 1L)).toDF("bk", "ref")
    sparse.write.mode("overwrite").parquet(s"$flat/sb")
    val viaSparse = DenseSnowflakeSum.groupSum(
      f, "fk", ("a", 2), None, 2,
      spark.read.parquet(s"$flat/sb"), "bk", "ref", dim, "dk", "g",
      maxKeySpan = 1024L)
    assert(!isLocal(viaSparse))
    assert(viaSparse.collect().head.getLong(2) == 3L)

    // Duplicate dim key: loud on both paths.
    def causeChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val dupDim = Seq((1L, 0), (1L, 1)).toDF("dk", "g")
    val e1 = intercept[Throwable](DenseSnowflakeSum.groupSum(
      f, "fk", ("a", 2), None, 2, b, "bk", "ref", dupDim, "dk", "g"))
    assert(causeChain(e1).exists(_.contains("duplicate dim key")), causeChain(e1))
    val e1f = intercept[IllegalArgumentException](DenseSnowflakeSum.groupSum(
      factMem, "fk", ("a", 2), None, 2, buildMem, "bk", "ref", dupDim, "dk", "g"))
    assert(e1f.getMessage.contains("duplicate dim key"))

    // Duplicate build key: the driver fill fails loudly at call time.
    val dupB = Seq((10L, 1L), (10L, 1L)).toDF("bk", "ref")
    dupB.write.mode("overwrite").parquet(s"$flat/db")
    val e2 = intercept[IllegalArgumentException](DenseSnowflakeSum.groupSum(
      f, "fk", ("a", 2), None, 2,
      spark.read.parquet(s"$flat/db"), "bk", "ref", dim, "dk", "g"))
    assert(e2.getMessage.contains("duplicate build key"))

    // Empty build (every ref misses the dim): empty grid, no crash.
    val missB = Seq((10L, 99L)).toDF("bk", "ref")
    missB.write.mode("overwrite").parquet(s"$flat/mb")
    val viaEmpty = DenseSnowflakeSum.groupSum(
      f, "fk", ("a", 2), None, 2,
      spark.read.parquet(s"$flat/mb"), "bk", "ref", dim, "dk", "g")
    assert(viaEmpty.collect().isEmpty)
  }

  test("q2 shape on the fixture: kernel grid == the tuned shuffle gate spelling") {
    val dir = sf("0.001")
    val viaKernel = graft.queries.RelationalQueries
      .queries("q2_join_agg")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(viaKernel.nonEmpty)
    assert(viaKernel == Q2Reference.rows(spark, dir, "shuffle_hash"))
  }
}
