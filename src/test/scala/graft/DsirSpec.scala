package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.text.Dsir

/** DSIR importance-weighted selection: bucket-hash contract, weight math,
  * selection behavior on a planted distribution shift, and edge cases. */
class DsirSpec extends SparkSuite {
  import spark.implicits._

  /** Independent reimplementation of the bucket contract (DuckDB's
    * md5_number_upper % B): first 8 md5 bytes little-endian, unsigned mod. */
  private def refBucket(s: String, b: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val out = d.digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 7
    while (i >= 0) { h = (h << 8) | (out(i) & 0xffL); i -= 1 }
    java.lang.Long.remainderUnsigned(h, b)
  }

  test("bucket ids match the md5_number_upper contract, per n-gram in order") {
    val got = graft.expressions.DsirKernel
      .buckets(UTF8String.fromString("a bb ccc dd"), 2, 97L).toLongArray().toSeq
    assert(got == Seq("a bb", "bb ccc", "ccc dd").map(refBucket(_, 97L)))
    // Empty tokens kept (split(' ') convention): double space = empty token.
    val got2 = graft.expressions.DsirKernel
      .buckets(UTF8String.fromString("a  b"), 2, 97L).toLongArray().toSeq
    assert(got2 == Seq("a ", " b").map(refBucket(_, 97L)))
  }

  test("short docs and nulls: no n-grams, score 0, rows survive") {
    val df = Seq((1L, Some("one")), (2L, None: Option[String]), (3L, Some("a b")))
      .toDF("id", "text")
    val counts = Dsir.bucketCounts(df, "text", n = 2, buckets = 13)
    assert(counts.agg(sum("n")).collect().head.getLong(0) == 1L) // only "a b"
    val w = Array.fill(13)(0.5)
    val scored = df.where(col("text").isNotNull)
      .select(col("id"), Dsir.scoreColumn(col("text"), w, 2, 13).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(scored(1L) == 0.0) // 1 token, no bigram
    assert(scored(3L) == 0.5) // 1 bigram
  }

  test("fitWeights: hand-checked smoothed log ratios on a tiny corpus") {
    val B = 7
    val target = Seq("x y").toDF("text") // 1 bigram
    val raw = Seq("x y", "p q").toDF("text") // 2 bigrams
    val w = Dsir.fitWeights(target, raw, "text", n = 2, buckets = B, alpha = 1.0)
    val bXY = refBucket("x y", B).toInt
    val bPQ = refBucket("p q", B).toInt
    // tt=1, rt=2: w(xy) = ((1+1)/(1+7)) / ((1+1)/(2+7)); w(pq) = ((0+1)/8)/((1+1)/9)
    assert(math.abs(w(bXY) - math.log((2.0 / 8) / (2.0 / 9))) < 1e-12)
    assert(math.abs(w(bPQ) - math.log((1.0 / 8) / (2.0 / 9))) < 1e-12)
    // Unseen buckets: pure smoothing ratio.
    val empty = (0 until B).toSet -- Set(bXY, bPQ)
    empty.foreach(b => assert(math.abs(w(b) - math.log((1.0 / 8) / (1.0 / 9))) < 1e-12))
  }

  test("select: a planted target-like sublanguage is chosen out of a mixed corpus") {
    val rnd = new scala.util.Random(5)
    def doc(vocab: Seq[String]) =
      (1 to 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val targetVocab = Seq("alpha", "beta", "gamma", "delta")
    val otherVocab = Seq("uno", "dos", "tres", "quatro")
    val target = (1 to 20).map(_ => doc(targetVocab)).toDF("text")
    val raw = ((1L to 10L).map(i => (i, doc(targetVocab))) ++
      (11L to 60L).map(i => (i, doc(otherVocab)))).toDF("id", "text")
    val picked = Dsir.select(raw, target, "text", "id", k = 10, buckets = 101)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(picked == (1L to 10L).toSet) // exactly the target-like docs
  }

  test("select: an id column named doc.id gives the same rows as doc_id") {
    val raw = ((1L to 8L).map(i => (i, s"alpha beta gamma doc$i")) ++
      (9L to 20L).map(i => (i, s"uno dos tres doc$i"))).toDF("doc_id", "text")
    val target = Seq("alpha beta gamma", "beta gamma alpha").toDF("text")
    def rows(df: org.apache.spark.sql.DataFrame, id: String) = {
      val out = Dsir.select(df, target, "text", id, k = 5, buckets = 101)
      assert(out.columns.toSeq == Seq(id, "score"))
      out.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val plain = rows(raw, "doc_id")
    assert(plain.length == 5)
    assert(rows(raw.withColumnRenamed("doc_id", "doc.id"), "doc.id") == plain)
  }

  test("fitWeightsWithin (one-pass labeled-subset fit) equals fitWeights exactly") {
    val raw = ((1L to 5L).map(i => (i, s"alpha beta doc$i", true)) ++
      (6L to 12L).map(i => (i, s"uno dos doc$i", false))).toDF("id", "text", "isT")
    val twoPass = Dsir.fitWeights(raw.where(col("isT")), raw, "text", buckets = 53)
    val onePass = Dsir.fitWeightsWithin(raw, col("isT"), "text", buckets = 53)
    assert(twoPass.toSeq == onePass.toSeq) // same doubles, bit-exact
  }

  test("fitWeights and fitWeightsWithin reject a non-positive or non-finite alpha") {
    val target = Seq("alpha beta gamma").toDF("text")
    val raw = Seq("alpha beta gamma", "delta epsilon zeta").toDF("text")
    val empty = Seq.empty[String].toDF("text")
    for (alpha <- Seq(-1.0, -0.5, 0.0, Double.NaN, Double.PositiveInfinity)) {
      val fits = Seq(
        () => Dsir.fitWeights(target, raw, "text", buckets = 13, alpha = alpha),
        () => Dsir.fitWeights(empty, raw, "text", buckets = 13, alpha = alpha),
        () => Dsir.fitWeightsWithin(raw, col("text").startsWith("alpha"), "text",
          buckets = 13, alpha = alpha))
      fits.foreach { fit =>
        val e = intercept[IllegalArgumentException](fit())
        assert(e.getMessage == s"DSIR smoothing alpha must be a finite number > 0, got $alpha")
      }
    }
    // A small positive alpha on an empty target still gives finite weights.
    assert(Dsir.fitWeights(empty, raw, "text", buckets = 13, alpha = 1e-9).forall(!_.isNaN))
    assert(Dsir.fitWeights(empty, raw, "text", buckets = 13, alpha = 1e-9).forall(!_.isInfinite))
  }

  test("dsir_buckets SQL surface parses with and without literal args") {
    Seq((1L, "a b c")).toDF("id", "text").createOrReplaceTempView("dsir_t")
    val n3 = spark.sql("SELECT size(dsir_buckets(text)) AS n FROM dsir_t")
      .collect().head.getInt(0)
    assert(n3 == 2) // bigrams of 3 tokens
    val n1 = spark.sql("SELECT size(dsir_buckets(text, 1, 13)) AS n FROM dsir_t")
      .collect().head.getInt(0)
    assert(n1 == 3)
  }
}
