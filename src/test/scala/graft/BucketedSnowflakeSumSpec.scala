package graft

import org.apache.spark.sql.functions._

import graft.ops.BucketedSnowflakeSum

/** The bucket-local hash-probe kernel (r16): value-identity with its own
  * declarative fallback across randomized co-bucketed corpora — nulls, dim
  * misses, both measure shapes — plus kernel-path engagement, the
  * bare-lineage/layout guards, and loud contract failures. */
class BucketedSnowflakeSumSpec extends SparkSuite {
  import spark.implicits._

  private def collectGrid(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0),
      r.getDecimal(1).stripTrailingZeros(), r.getLong(2))).toSet

  private def isLocal(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Write `df` as a bucketed table, return its catalog name. */
  private def bucketed(df: org.apache.spark.sql.DataFrame, name: String,
      key: String, buckets: Int): String = {
    val tbl = s"bss_spec_$name"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // A prior aborted run can leave an orphan managed-table location the
    // DROP (on an unregistered name) never saw.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl))
    df.repartition(buckets, col(key)).write
      .bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").format("parquet").saveAsTable(tbl)
    tbl
  }

  test("kernel path == declarative fallback on randomized co-bucketed " +
      "corpora (nulls, dim misses, both measure shapes)") {
    val rnd = new scala.util.Random(11)
    val dim = (0 until 30).map(i => (i.toLong * 53 + 7, i % 9)).toDF("dk", "g")
    val dimKeys = (0 until 30).map(_.toLong * 53 + 7)
    // build: key (unique), ref (may be null / dim-miss)
    val buildRows = (1 to 800).map { i =>
      val ref: java.lang.Long =
        if (i % 41 == 0) null
        else if (rnd.nextInt(6) == 0) Long.box(424242L) // dim miss
        else Long.box(dimKeys(rnd.nextInt(dimKeys.length)))
      (i.toLong, ref)
    }
    // fact: many rows per build key, some keys missing from build
    val factRows = (1 to 6000).map { i =>
      val key: java.lang.Long =
        if (i % 73 == 0) null else Long.box(rnd.nextInt(1000).toLong) // 800..999 miss
      val a: java.lang.Double =
        if (i % 67 == 0) null else Double.box(rnd.nextInt(20000) / 100.0)
      val b: java.lang.Double =
        if (i % 71 == 0) null else Double.box(rnd.nextInt(100) / 100.0)
      (key, a, b)
    }
    val buildMem = buildRows.toDF("bk", "ref")
    val factMem = factRows.toDF("fk", "a", "b")
    val bT = bucketed(buildMem, "build", "bk", 8)
    val fT = bucketed(factMem, "fact", "fk", 8)

    for (mb <- Seq(None, Some((100L, "b", 2)))) {
      val os = if (mb.isEmpty) 2 else 4
      val viaKernel = BucketedSnowflakeSum.groupSum(
        spark.table(fT), "fk", ("a", 2), mb, os,
        spark.table(bT), "bk", "ref", dim, "dk", "g")
      assert(isLocal(viaKernel),
        "co-bucketed layout did not take the kernel path")
      val viaFallback = BucketedSnowflakeSum.groupSum(
        factMem, "fk", ("a", 2), mb, os,
        buildMem, "bk", "ref", dim, "dk", "g")
      assert(!isLocal(viaFallback))
      assert(collectGrid(viaKernel) == collectGrid(viaFallback), s"measureB=$mb")
      assert(collectGrid(viaKernel).nonEmpty)
    }
  }

  test("guards: flat (non-bucketed) parquet, mismatched bucket counts, and " +
      "filtered lineage all fall back; duplicate keys fail loudly") {
    val dim = Seq((1L, 0)).toDF("dk", "g")
    val buildMem = Seq((10L, 1L), (11L, 1L)).toDF("bk", "ref")
    val factMem = Seq((10L, 2.0), (10L, 3.0), (11L, 4.0)).toDF("fk", "a")

    // Flat parquet: correct via fallback, NOT the kernel.
    val flat = java.nio.file.Files.createTempDirectory("bss-flat").toString
    factMem.write.mode("overwrite").parquet(s"$flat/f")
    buildMem.write.mode("overwrite").parquet(s"$flat/b")
    val viaFlat = BucketedSnowflakeSum.groupSum(
      spark.read.parquet(s"$flat/f"), "fk", ("a", 2), None, 2,
      spark.read.parquet(s"$flat/b"), "bk", "ref", dim, "dk", "g")
    assert(!isLocal(viaFlat))
    val rows = viaFlat.collect()
    assert(rows.length == 1 && rows.head.getLong(2) == 3L)

    // Mismatched bucket counts: fallback, same answer.
    val fT8 = bucketed(factMem, "g_fact8", "fk", 8)
    val bT4 = bucketed(buildMem, "g_build4", "bk", 4)
    val viaMismatch = BucketedSnowflakeSum.groupSum(
      spark.table(fT8), "fk", ("a", 2), None, 2,
      spark.table(bT4), "bk", "ref", dim, "dk", "g")
    assert(!isLocal(viaMismatch))
    assert(viaMismatch.collect().head.getLong(2) == 3L)

    // Filtered lineage over a proper co-bucketed pair: fallback, filter honored.
    val bT8 = bucketed(buildMem, "g_build8", "bk", 8)
    val viaFiltered = BucketedSnowflakeSum.groupSum(
      spark.table(fT8).where(col("a") > 2.5), "fk", ("a", 2), None, 2,
      spark.table(bT8), "bk", "ref", dim, "dk", "g")
    assert(!isLocal(viaFiltered))
    assert(viaFiltered.collect().head.getLong(2) == 2L)

    // Duplicate dim key: loud on BOTH paths. Kernel: the first task
    // forcing the lazy per-JVM map throws (surfaces as a wrapped task
    // failure from the eager zip job); fallback: forced at construction.
    def causeChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    val dupDim = Seq((1L, 0), (1L, 1)).toDF("dk", "g")
    val e1 = intercept[Throwable](BucketedSnowflakeSum.groupSum(
      spark.table(fT8), "fk", ("a", 2), None, 2,
      spark.table(bT8), "bk", "ref", dupDim, "dk", "g"))
    assert(causeChain(e1).exists(_.contains("duplicate dim key")), causeChain(e1))
    val e1f = intercept[IllegalArgumentException](BucketedSnowflakeSum.groupSum(
      factMem, "fk", ("a", 2), None, 2,
      buildMem, "bk", "ref", dupDim, "dk", "g"))
    assert(e1f.getMessage.contains("duplicate dim key"))

    // Duplicate BUILD key on the kernel path: loud task failure.
    val dupBuild = bucketed(Seq((10L, 1L), (10L, 1L)).toDF("bk", "ref"),
      "g_dupbuild", "bk", 8)
    val e2 = intercept[Exception] {
      BucketedSnowflakeSum.groupSum(
        spark.table(fT8), "fk", ("a", 2), None, 2,
        spark.table(dupBuild), "bk", "ref", dim, "dk", "g").collect()
    }
    assert(e2.getMessage != null)
  }

  test("q2 shape on the fixture: kernel grid == the SMJ gate spelling") {
    // The gate reads the co-bucketed layout; the sort-merge reference reads
    // the flat files, which hold row-identical data.
    val dir = sf("0.001")
    val viaKernel = graft.queries.RelationalQueries
      .queries("q2_bucketed")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(viaKernel.nonEmpty)
    assert(viaKernel == Q2Reference.rows(spark, dir, "merge"))
  }

  test("128-bit accumulation: sums past Long.MaxValue are exact") {
    val dim = Seq((1L, 0)).toDF("dk", "g")
    val build = bucketed(Seq((5L, 1L)).toDF("bk", "ref"), "ovf_build", "bk", 4)
    val fact = bucketed(
      (1 to 30000).map(_ => (5L, 9.0e14)).toDF("fk", "a"), "ovf_fact", "fk", 4)
    val got = BucketedSnowflakeSum.groupSum(
      spark.table(fact), "fk", ("a", 0), None, 0,
      spark.table(build), "bk", "ref", dim, "dk", "g").collect()
    assert(got.length == 1)
    assert(got.head.getDecimal(1) ==
      new java.math.BigDecimal("27000000000000000000"))
    assert(got.head.getLong(2) == 30000L)
  }
}
