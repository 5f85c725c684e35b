package graft

import org.apache.spark.sql.functions._

import graft.text.TextClassifier

/** Learned hashed-ngram classifier: the codegen scorer must replicate the
  * Spark ML pipeline bit-for-bit (same murmur3 buckets, same linear
  * model), and training must actually separate separable classes. */
class TextClassifierSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(sf("0.001") + "/documents.parquet")
      .where(col("text").isNotNull)
      .withColumn("label", (col("lang") === "en").cast("int"))

  /** Spark ML keeps the training summary — which captures the live
    * SparkSession — on a fitted model, and TASK-serializing such a model
    * only succeeds while the session's lazy ObservationManager is still
    * un-forced (any `df.observe` anywhere in the shared-JVM session breaks
    * it — surfaced r16 by Bm25.fit's Observation running in an earlier
    * suite). A save/load roundtrip is the public API that drops the
    * summary, making the ML reference transform serialization-safe
    * regardless of suite order. */
  private def stripSummary[M <: org.apache.spark.ml.util.MLWritable](
      m: M)(load: String => M): M = {
    val dir = java.nio.file.Files.createTempDirectory("tc-ml")
      .resolve("m").toString
    m.write.overwrite().save(dir)
    load(dir)
  }

  test("codegen scorer == ML transform probability to 1e-9 on fixture docs") {
    import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
    import org.apache.spark.ml.feature.HashingTF
    val numFeatures = 1 << 14
    val prepared = docs.select(col("doc_id"), col("text"),
      split(coalesce(col("text"), lit("")), " ").as("_tc_tokens"),
      col("label").cast("double").as("_tc_label"))
    val tf = new HashingTF().setInputCol("_tc_tokens")
      .setOutputCol("_tc_features").setNumFeatures(numFeatures)
    val lr = new LogisticRegression().setFeaturesCol("_tc_features")
      .setLabelCol("_tc_label").setMaxIter(50).setRegParam(0.01)
    val mlModel = stripSummary(lr.fit(tf.transform(prepared)))(
      LogisticRegressionModel.load)
    val model = TextClassifier.Model(mlModel.coefficients.toArray, mlModel.intercept)

    val viaMl = mlModel.transform(tf.transform(prepared))
      .select(col("doc_id"),
        org.apache.spark.ml.functions.vector_to_array(col("probability"))
          .getItem(1).as("p"))
    val viaKernel = prepared
      .select(col("doc_id"), TextClassifier.score(col("text"), model).as("k"))
    val joined = viaMl.join(viaKernel, "doc_id")
      .select(max(abs(col("p") - col("k"))).as("mx")).collect().head
    assert(joined.getDouble(0) < 1e-9, s"max |ml - kernel| = ${joined.getDouble(0)}")
  }

  test("train() learns a separable class (token presence) to >=0.95; the " +
      "shared-vocabulary fixture languages are correctly NOT separable") {
    // The fixture corpus draws every language from ONE vocabulary, so
    // lang-vs-text carries almost no signal — a learned classifier
    // hovering near the base rate there is correct behavior, not a bug.
    val langAcc = {
      val m = TextClassifier.train(docs, "text", "label", numFeatures = 1 << 14)
      docs.select(col("label"),
          (TextClassifier.score(col("text"), m) >= 0.5).cast("int").as("pred"))
        .agg(avg((col("label") === col("pred")).cast("double")))
        .collect().head.getDouble(0)
    }
    assert(langAcc < 0.9, s"shared-vocab langs unexpectedly separable: $langAcc")
    // A class that IS in the bag (token presence) must be learned.
    val labeled = docs.withColumn("has_vec",
      array_contains(split(col("text"), " "), "vector").cast("int"))
    val m = TextClassifier.train(labeled, "text", "has_vec", numFeatures = 1 << 14)
    val acc = labeled.select(col("has_vec"),
        (TextClassifier.score(col("text"), m) >= 0.5).cast("int").as("pred"))
      .agg(avg((col("has_vec") === col("pred")).cast("double")))
      .collect().head.getDouble(0)
    assert(acc >= 0.95, s"separable-class accuracy $acc")
  }

  test("multiclass: codegen softmax scorer == ML transform (argmax label + " +
      "probability to 1e-9) on fixture docs") {
    import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
    import org.apache.spark.ml.feature.HashingTF
    val numFeatures = 1 << 14
    // 3-class weak label injected as a marker token — each doc carries
    // exactly one, so the classes are separable and every class occurs.
    val markers = Seq("qmarkzero", "qmarkone", "qmarktwo")
    val labeled = docs
      .withColumn("cls", (col("doc_id") % 3).cast("int"))
      .withColumn("text2", concat(
        element_at(typedLit(markers), (col("doc_id") % 3 + 1).cast("int")),
        lit(" "), col("text")))
    val model = TextClassifier.trainMulticlass(labeled, "text2", "cls",
      numFeatures = numFeatures, maxIter = 20)
    assert(model.labels.toSeq == Seq("0", "1", "2")) // sorted distinct

    // Reference: the same ML pipeline, probabilities + prediction.
    val prepared = labeled.select(col("doc_id"), col("text2"),
      split(col("text2"), " ").as("_tc_tokens"),
      col("cls").cast("double").as("_tc_label"))
    val tf = new HashingTF().setInputCol("_tc_tokens")
      .setOutputCol("_tc_features").setNumFeatures(numFeatures)
    val lr = new LogisticRegression().setFeaturesCol("_tc_features")
      .setLabelCol("_tc_label").setMaxIter(20).setRegParam(0.01)
      .setFamily("multinomial")
    val mlModel = stripSummary(lr.fit(tf.transform(prepared)))(
      LogisticRegressionModel.load)
    val refModel = TextClassifier.MulticlassModel(
      Array("0", "1", "2"),
      Array.tabulate(3)(c => Array.tabulate(numFeatures)(i =>
        mlModel.coefficientMatrix(c, i))),
      mlModel.interceptVector.toArray)
    val viaMl = mlModel.transform(tf.transform(prepared))
      .select(col("doc_id"), col("prediction"),
        org.apache.spark.ml.functions.vector_to_array(col("probability")).as("p"))
    val viaKernel = prepared.select(col("doc_id"),
      TextClassifier.scoreMulticlass(col("text2"), refModel).as("k"))
    val joined = viaMl.join(viaKernel, "doc_id")
      .select(col("doc_id"), col("prediction"),
        col("k.label").cast("double").as("klabel"),
        abs(element_at(col("p"), (col("prediction") + 1).cast("int"))
          - col("k.prob")).as("d"))
      .agg(max((col("prediction") =!= col("klabel")).cast("int")).as("mismatch"),
        max(col("d")).as("maxd"))
      .collect().head
    assert(joined.getInt(0) == 0, "argmax label diverged from ML prediction")
    assert(joined.getDouble(1) < 1e-9, s"max |ml - kernel| = ${joined.getDouble(1)}")
    // And the fit itself must separate the marker classes.
    val acc = labeled.select(col("cls"),
        TextClassifier.scoreMulticlass(col("text2"), model).as("k"))
      .agg(avg((col("k.label") === col("cls").cast("string")).cast("double")))
      .collect().head.getDouble(0)
    assert(acc >= 0.95, s"marker-class accuracy $acc")
  }

  test("driver-local fit == ml.fit: binary and multinomial coefficients " +
      "match to numerical noise; predictions identical") {
    // Same objective + same initial point + same breeze LBFGS => the only
    // divergence is floating-point summation order (local loop vs
    // treeAggregate). LocalFitMaxBytesKey=0 forces the distributed path on
    // the identical input.
    val labeled = docs
      .withColumn("has_vec",
        array_contains(split(col("text"), " "), "vector").cast("int"))
      .withColumn("cls", (col("doc_id") % 3).cast("int"))
      .withColumn("text2", concat(
        element_at(typedLit(Seq("qmarkzero", "qmarkone", "qmarktwo")),
          (col("doc_id") % 3 + 1).cast("int")),
        lit(" "), col("text")))
    def both[T](fit: => T): (T, T) = {
      val local = fit // default conf: tiny fixture takes the local path
      spark.conf.set(TextClassifier.LocalFitMaxBytesKey, "0")
      val ml = try fit
      finally spark.conf.unset(TextClassifier.LocalFitMaxBytesKey)
      (local, ml)
    }
    val (bLocal, bMl) = both(TextClassifier.train(
      labeled, "text", "has_vec", numFeatures = 1 << 14, maxIter = 8))
    val bMaxD = math.max(
      bLocal.weights.zip(bMl.weights).map(p => math.abs(p._1 - p._2)).max,
      math.abs(bLocal.intercept - bMl.intercept))
    assert(bMaxD < 1e-4, s"binary local-vs-ml max coefficient delta $bMaxD")
    val bPredDiff = labeled.select(
        ((TextClassifier.score(col("text"), bLocal) >= 0.5) =!=
          (TextClassifier.score(col("text"), bMl) >= 0.5)).cast("int").as("d"))
      .agg(sum(col("d"))).collect().head.getLong(0)
    assert(bPredDiff == 0, s"$bPredDiff binary predictions diverged")

    val (mLocal, mMl) = both(TextClassifier.trainMulticlass(
      labeled, "text2", "cls", numFeatures = 1 << 14, maxIter = 8))
    assert(mLocal.labels.toSeq == mMl.labels.toSeq)
    val mMaxD = math.max(
      mLocal.weights.zip(mMl.weights).map { case (a, b) =>
        a.zip(b).map(p => math.abs(p._1 - p._2)).max }.max,
      mLocal.intercepts.zip(mMl.intercepts).map(p => math.abs(p._1 - p._2)).max)
    assert(mMaxD < 1e-4, s"multiclass local-vs-ml max coefficient delta $mMaxD")
    val mPredDiff = labeled.select(
        (TextClassifier.scoreMulticlass(col("text2"), mLocal).getField("label") =!=
          TextClassifier.scoreMulticlass(col("text2"), mMl).getField("label"))
          .cast("int").as("d"))
      .agg(sum(col("d"))).collect().head.getLong(0)
    assert(mPredDiff == 0, s"$mPredDiff multiclass predictions diverged")
  }

  test("train(): a null or NaN label fails with ml.fit's error on both the " +
      "driver-local and the distributed fit") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    Seq(Some(Double.NaN), None).foreach { bad =>
      val df = Seq(("a b", Some(1.0)), ("c d", Some(0.0)), ("e f", bad),
        ("a c", Some(1.0))).toDF("text", "label")
      def fail(): String = messages(intercept[Exception](
        TextClassifier.train(df, "text", "label", numFeatures = 1 << 10, maxIter = 2)))
      val local = fail() // default conf: the tiny frame takes the local path
      spark.conf.set(TextClassifier.LocalFitMaxBytesKey, "0")
      val distributed = try fail()
      finally spark.conf.unset(TextClassifier.LocalFitMaxBytesKey)
      Seq(local, distributed).foreach(m =>
        assert(m.contains("Labels MUST NOT be Null or NaN"), s"label $bad: $m"))
    }
  }

  test("trainMulticlass(): the driver-local and the distributed fit order labels alike " +
      "(UTF-8 byte order)") {
    // UTF-16 puts the surrogate pair of U+1F600 before U+FF21; UTF-8 bytes
    // (F0 vs EF) put it after.
    val df = Seq(("a b", "\uFF21"), ("c d", "\uD83D\uDE00"), ("a c", "\uFF21"),
      ("d e", "\uD83D\uDE00"), ("b f", "z")).toDF("text", "label")
    def fit() = TextClassifier.trainMulticlass(df, "text", "label", numFeatures = 1 << 10,
      maxIter = 2).labels.toSeq
    val local = fit() // default conf: the tiny frame takes the local path
    spark.conf.set(TextClassifier.LocalFitMaxBytesKey, "0")
    val distributed = try fit() finally spark.conf.unset(TextClassifier.LocalFitMaxBytesKey)
    assert(local == Seq("z", "\uFF21", "\uD83D\uDE00"))
    assert(distributed == local)
  }

  test("multiclass scorer edge cases: null -> null; k probabilities sum " +
      "context (winner prob in (0,1]); strict codegen; value-based model " +
      "equality dedups plans") {
    val m = TextClassifier.MulticlassModel(
      Array("x", "y", "z"),
      Array(Array.fill(16)(0.5), Array.fill(16)(0.25), Array.fill(16)(0.0)),
      Array(0.0, 0.1, 0.2))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val rows = Seq((1L, "a b c"), (2L, ""), (3L, null: String))
        .toDF("id", "text")
        .select(col("id"), TextClassifier.scoreMulticlass(col("text"), m).as("k"))
        .collect()
      val byId = rows.map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getStruct(1)))).toMap
      // "a b c": margins = (1.5, 0.85, 0.2) -> class x wins.
      assert(byId(1L).get.getString(0) == "x")
      val z = Array(1.5, 0.85, 0.2)
      val expect = 1.0 / z.map(v => math.exp(v - 1.5)).sum
      assert(math.abs(byId(1L).get.getDouble(1) - expect) < 1e-12)
      assert(byId(2L).get.getString(0) == "x") // one empty token: 0.5 > 0.35
      assert(byId(3L).isEmpty)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    // Value-based equality (r14 advice): separately-constructed identical
    // models -> equal expressions, so CSE/plan-dedup can fire.
    val m2 = TextClassifier.MulticlassModel(
      Array("x", "y", "z"),
      Array(Array.fill(16)(0.5), Array.fill(16)(0.25), Array.fill(16)(0.0)),
      Array(0.0, 0.1, 0.2))
    assert(m == m2 && m.hashCode == m2.hashCode)
    val b1 = TextClassifier.Model(Array(1.0, 2.0), 0.5)
    val b2 = TextClassifier.Model(Array(1.0, 2.0), 0.5)
    assert(b1 == b2 && b1.hashCode == b2.hashCode)
    // Over a resolved child (a Column-built child wraps a lazy
    // ColumnNodeExpression whose Origin defeats equality — harness noise,
    // not the model): identical models => semantically equal expressions.
    val ref = org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.StringType, nullable = true)
    assert(graft.text.HashedLinearScore(ref, b1).semanticEquals(
      graft.text.HashedLinearScore(ref, b2)))
    assert(graft.text.HashedSoftmaxScore(ref, m).semanticEquals(
      graft.text.HashedSoftmaxScore(ref, m2)))
    assert(!graft.text.HashedLinearScore(ref, b1).semanticEquals(
      graft.text.HashedLinearScore(ref,
        TextClassifier.Model(Array(1.0, 3.0), 0.5))))
  }

  test("scorer edge cases: null -> null; empty string hashes one empty token " +
      "exactly like the training pipeline; strict codegen") {
    val m = TextClassifier.Model(Array.fill(16)(0.25), intercept = -1.0)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val rows = Seq((1L, "a b"), (2L, ""), (3L, null: String)).toDF("id", "text")
        .select(col("id"), TextClassifier.score(col("text"), m).as("s")).collect()
      val byId = rows.map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      // every bucket weighs 0.25: "a b" = 2 tokens -> sigmoid(-0.5);
      // "" = 1 empty token -> sigmoid(-0.75)
      assert(math.abs(byId(1L).get - 1.0 / (1.0 + math.exp(0.5))) < 1e-12)
      assert(math.abs(byId(2L).get - 1.0 / (1.0 + math.exp(0.75))) < 1e-12)
      assert(byId(3L).isEmpty)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
