package graft

import org.apache.spark.sql.functions._

import graft.functions._

class VectorFunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def grid729 = {
    // F1 fixture: 9^3 deterministic grid (hnsw_basic.test / hnsw_result.test).
    val r = spark.range(1, 10).select(col("id").cast("int"))
    r.select(col("id").as("a"))
      .crossJoin(r.select(col("id").as("b")))
      .crossJoin(r.select(col("id").as("c")))
      .select(array(col("a").cast("float"), col("b").cast("float"), col("c").cast("float")).as("vec"))
  }

  test("array_distance grid top-3 = 0.0, 1.0, 1.0 (hnsw_result.test:23-28)") {
    val got = grid729
      .select(array_distance(col("vec"), lit_vector(Array(1f, 2f, 3f))).as("d"))
      .orderBy("d").limit(3).as[Double].collect()
    assert(got.toSeq == Seq(0.0, 1.0, 1.0))
  }

  test("lit_vector is one ARRAY<FLOAT> literal over a copy of its input, named by its SQL") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val v = Array(1f, 2f, 3f)
    val c = lit_vector(v)
    v(0) = 9f
    functions.expr(c) match {
      case Literal(a: org.apache.spark.sql.catalyst.util.ArrayData, t) =>
        assert(t == ArrayType(FloatType, containsNull = true))
        assert(a.toFloatArray().toSeq == Seq(1f, 2f, 3f))
      case other => fail(s"not one literal: $other")
    }
    val names = Seq.fill(2)(grid729.select(array_distance(col("vec"), lit_vector(Array(1f, 2f, 3f))))
      .columns.head)
    assert(names.distinct.size == 1 && names.head.startsWith("array_distance(vec, ARRAY("), names.head)
  }

  test("distance functions: known values") {
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 6f, 8f))).toDF("a", "b")
    val row = df.select(
      array_distance($"a", $"b"),
      array_squared_distance($"a", $"b"),
      array_inner_product($"a", $"b"),
      array_negative_inner_product($"a", $"b"),
      array_cosine_similarity($"a", $"b"),
      array_cosine_distance($"a", $"b")).head()
    assert(math.abs(row.getDouble(0) - math.sqrt(50.0)) < 1e-12)
    assert(row.getDouble(1) == 50.0)
    assert(row.getDouble(2) == 4.0 + 12.0 + 24.0)
    assert(row.getDouble(3) == -40.0)
    val cos = 40.0 / (math.sqrt(14.0) * math.sqrt(116.0))
    assert(math.abs(row.getDouble(4) - cos) < 1e-12)
    assert(math.abs(row.getDouble(5) - (1.0 - cos)) < 1e-12)
  }

  test("cosine zero-vector semantics (usearch index_plugins.hpp:1002-1030)") {
    val df = Seq(
      (Array(0f, 0f), Array(0f, 0f)),
      (Array(0f, 0f), Array(1f, 2f)),
      (Array(1f, 2f), Array(0f, 0f))).toDF("a", "b")
    val got = df.select(array_cosine_distance($"a", $"b").as("d")).as[Double].collect()
    assert(got.toSeq == Seq(0.0, 1.0, 1.0))
  }

  test("null vector -> null result") {
    val df = Seq((Some(Array(1f, 2f)), None: Option[Array[Float]])).toDF("a", "b")
    val got = df.select(array_distance($"a", $"b")).head()
    assert(got.isNullAt(0))
  }

  test("SQL registration via extensions") {
    val d = spark.sql(
      "SELECT array_distance(array(1.0f, 2.0f), array(1.0f, 2.0f)) AS d").head().getDouble(0)
    assert(d == 0.0)
    val c = spark.sql(
      "SELECT array_cosine_similarity(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c").head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("properties: symmetry, non-negativity, self-distance zero (seeded)") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(50)((
      Array.fill(8)(rnd.nextFloat() * 200f - 100f),
      Array.fill(8)(rnd.nextFloat() * 200f - 100f)))
    val rows = pairs.toDF("a", "b").select(
      array_distance($"a", $"b"), array_distance($"b", $"a"),
      array_distance($"a", $"a"), array_cosine_distance($"a", $"b")).collect()
    rows.foreach { row =>
      assert(row.getDouble(0) == row.getDouble(1))
      assert(row.getDouble(0) >= 0.0)
      assert(row.getDouble(2) == 0.0)
      assert(row.getDouble(3) >= -1e-12 && row.getDouble(3) <= 2.0 + 1e-12)
    }
  }

  test("dimension mismatch raises") {
    val df = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    val e = intercept[Exception](df.select(array_distance($"a", $"b")).head())
    assert(e.getMessage != null)
  }

  test("l2_normalize yields unit vectors; zero vector unchanged") {
    val rnd = new scala.util.Random(5)
    val vecs = Seq.fill(40)(Array.fill(8)(rnd.nextFloat() * 20f - 10f)) :+
      Array.fill(8)(0f)
    val rows = vecs.toDF("v")
      .select($"v", array_l2_normalize($"v").as("n"))
      .select(array_inner_product($"n", $"n").as("u"), $"n", $"v").collect()
    rows.dropRight(1).foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-6, "unit norm")
    }
    assert(rows.last.getSeq[Float](1).forall(_ == 0f), "zero vector stays zero")
    // SQL surface
    val viaSql = spark.sql(
      "SELECT array_l2_normalize(array(3.0f, 4.0f)) AS n").head().getSeq[Float](0)
    assert(viaSql == Seq(0.6f, 0.8f))
  }

  test("int8 quantize/dequantize: codes bounded, reconstruction within half-step") {
    val rnd = new scala.util.Random(6)
    val vecs = Seq.fill(40)(Array.fill(16)(rnd.nextFloat() * 6f - 3f)) :+
      Array.fill(16)(0f)
    val rows = vecs.toDF("v")
      .withColumn("q", array_quantize_i8($"v"))
      .select($"v", $"q.scale".as("s"), $"q.codes".as("c"),
        array_dequantize_i8($"q.codes", $"q.scale").as("r")).collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0)
      val s = r.getFloat(1)
      val c = r.getSeq[Byte](2)
      val rec = r.getSeq[Float](3)
      assert(c.forall(b => b >= -127 && b <= 127))
      val maxAbs = v.map(math.abs).max
      if (maxAbs == 0f) {
        assert(s == 0f && c.forall(_ == 0) && rec.forall(_ == 0f))
      } else {
        // symmetric quantization: |x - code*scale| <= scale/2 (+ float eps)
        v.zip(rec).foreach { case (x, y) =>
          assert(math.abs(x - y) <= s / 2 + 1e-4f, s"x=$x y=$y scale=$s")
        }
        assert(c.map(math.abs(_)).max == 127, "max-|x| element uses the full range")
      }
    }
  }
}
