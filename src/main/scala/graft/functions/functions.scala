package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.expressions._

/**
 * Public Column API for the engine's scalar vector functions — the Spark
 * analogue of the distance scalar surface the reference consumes by name
 * (/root/reference/src/hnsw/hnsw_index.cpp:659-689).
 *
 * Usage:
 * {{{
 *   import graft.functions._
 *   df.orderBy(array_distance($"vec", lit_vector(Array(1f,2f,3f)))).limit(3)
 * }}}
 */
object functions {

  private def col(e: Expression): Column = Bridge.column(e)
  private[graft] def expr(c: Column): Expression = Bridge.expression(c)
  /** Full conversion for Columns composed from `functions._` builders. */
  private def cexpr(c: Column): Expression = Bridge.composedExpression(c)
  private def vec(c: Column): Column = c.cast(ArrayType(FloatType))

  /** Euclidean distance sqrt(sum (a-b)^2) between two float vectors. */
  def array_distance(a: Column, b: Column): Column =
    col(ArrayDistance(expr(vec(a)), expr(vec(b))))

  /** Squared Euclidean distance (the index's internal `l2sq` metric). */
  def array_squared_distance(a: Column, b: Column): Column =
    col(ArraySquaredDistance(expr(vec(a)), expr(vec(b))))

  /** Cosine similarity in [-1, 1]. */
  def array_cosine_similarity(a: Column, b: Column): Column =
    col(ArrayCosineSimilarity(expr(vec(a)), expr(vec(b))))

  /** Cosine distance 1 - cos(a, b). */
  def array_cosine_distance(a: Column, b: Column): Column =
    col(ArrayCosineDistance(expr(vec(a)), expr(vec(b))))

  /** Inner (dot) product. */
  def array_inner_product(a: Column, b: Column): Column =
    col(ArrayInnerProduct(expr(vec(a)), expr(vec(b))))

  /** Negated inner product (a distance-like ordering for `ip` indexes). */
  def array_negative_inner_product(a: Column, b: Column): Column =
    col(ArrayNegativeInnerProduct(expr(vec(a)), expr(vec(b))))

  /** Unit-L2-normalized copy of a float vector (zero vector unchanged). */
  def array_l2_normalize(a: Column): Column =
    col(ArrayL2Normalize(expr(vec(a))))

  /** Symmetric int8 quantization: struct(scale FLOAT, codes ARRAY<TINYINT>)
    * with code_i = floor(x_i * 127 / maxabs + 0.5) — 4x smaller embedding
    * storage for the 100 TB corpus; pair with [[array_dequantize_i8]]. */
  def array_quantize_i8(a: Column): Column =
    col(ArrayQuantizeI8(expr(vec(a))))

  /** Lossy reconstruction codes_i * scale of [[array_quantize_i8]] output. */
  def array_dequantize_i8(codes: Column, scale: Column): Column =
    col(ArrayDequantizeI8(expr(codes.cast(ArrayType(org.apache.spark.sql.types.ByteType))),
      expr(scale.cast(FloatType))))

  /** A float-vector literal column: one ARRAY<FLOAT> literal over a copy
    * of `v` — no per-element literals or cast for the analyzer to resolve.
    * A column left unnamed is named by the literal's SQL,
    * `ARRAY(CAST('1.0' AS FLOAT), …)`. */
  def lit_vector(v: Array[Float]): Column =
    col(Literal(new GenericArrayData(v), ArrayType(FloatType)))

  /** k-arg min_by: values for the k smallest orders, best first (LIST). */
  def min_by_k(value: Column, order: Column, k: Int): Column =
    col(graft.aggregates.MinMaxByK(expr(value), expr(order),
      Literal(k), keepSmallest = true)
      .toAggregateExpression())

  /** k-arg max_by: values for the k largest orders, best first (LIST). */
  def max_by_k(value: Column, order: Column, k: Int): Column =
    col(graft.aggregates.MinMaxByK(expr(value), expr(order),
      Literal(k), keepSmallest = false)
      .toAggregateExpression())

  /** Exact COUNT(DISTINCT x) for an integral column as one ObjectHashAgg —
    * no Expand row replication for multi-distinct GROUP BYs, no per-row
    * boxing (primitive open-addressing set):
    * see [[graft.aggregates.CountDistinctLong]]. */
  def count_distinct_long(x: Column): Column =
    col(graft.aggregates.CountDistinctLong(expr(x)).toAggregateExpression())

  /** Exact COUNT(DISTINCT x) over a self-discovering containered bitmap:
    * container-compact key domains (surrogate / block-allocated ids) cost
    * containers × 8 KiB per task with word-wise-OR merges; scattered keys
    * degrade to an exact stray set with [[count_distinct_long]]'s
    * asymptotics — exact on any input, no salting needed:
    * see [[graft.aggregates.BitmapDistinctAgg]]. */
  def bitmap_count_distinct(x: Column): Column =
    col(graft.aggregates.BitmapDistinctAgg(expr(x)).toAggregateExpression())

  /** [[bitmap_count_distinct]] with an explicit per-buffer container cap.
    * Sizing rule: a task's transient memory is live-groups × cap × 8 KiB
    * (the update path demotes sparse blocks at its first cap-hit, but the
    * first fill is real allocation — measured to OOM a 4.6 GB heap at 96
    * live scattered groups × the default 4096). High-group-count
    * aggregations over possibly-scattered keys should lower the cap;
    * exactness never depends on it. */
  def bitmap_count_distinct(x: Column, maxContainers: Int): Column =
    col(graft.aggregates.BitmapDistinctAgg(expr(x), maxContainers)
      .toAggregateExpression())

  /** Exact SUM of pre-scaled integer units ("cents") in a 128-bit two-long
    * accumulator → DECIMAL(38, scale). The scale-out-safe replacement for
    * `sum(decimal)` (per-row BigDecimal) and `sum(long)` (wraps at ~1e18):
    * see [[graft.aggregates.Sum128]]. */
  def sum128(units: Column, scale: Int): Column =
    col(graft.aggregates.Sum128(expr(units), scale).toAggregateExpression())

  /** The unscaled integer units of `x` as DECIMAL(precision, scale) — e.g.
    * cents for scale=2. Rounding matches `CAST(x AS DECIMAL(p, s))`
    * (HALF_UP over the shortest decimal representation), so sums of these
    * units reproduce decimal-cast arithmetic exactly. */
  def decimal_units(x: Column, precision: Int, scale: Int): Column =
    col(org.apache.spark.sql.catalyst.expressions.UnscaledValue(
      org.apache.spark.sql.catalyst.expressions.Cast(expr(x),
        org.apache.spark.sql.types.DecimalType(precision, scale))))

  /** Fast [[decimal_units]] for DOUBLE columns holding exact ≤`scale`-digit
    * decimal values (the usual lakehouse money shape): one multiply +
    * nearest-int per row instead of a per-row Decimal cast. Identical
    * results on that domain: see [[graft.expressions.DoubleUnits]]. */
  def double_units(x: Column, scale: Int): Column =
    col(graft.expressions.DoubleUnits(expr(x), scale))

  /** BIGINT value of a top-level JSON object field — the one-pass kernel for
    * `CAST(get_json_object(j, '$.key') AS BIGINT)` (no per-row Jackson
    * parse): see [[graft.expressions.JsonGetLong]]. */
  def json_get_long(json: Column, key: String): Column =
    col(JsonGetLong(expr(json), key))

  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }
  private def litLong(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }

  /** SQL function names -> builders, for FunctionRegistry registration. */
  private[graft] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // text / pipeline surface
    "lang_id" -> (es => LangId(es(0))),
    "simhash64" -> (es => SimHash64(es(0))),
    "fingerprint64" -> (es => Fingerprint64(es(0))),
    "repetition_stats" -> (es => RepetitionStats(es(0))),
    "chunk_tokens" -> (es => ChunkTokens(es(0),
      litInt(es(1), "chunk size"), litInt(es(2), "chunk stride"))),
    "minhash_signature" -> (es => MinHashSignature(es(0),
      if (es.length > 1) litInt(es(1), "minhash k") else 64,
      if (es.length > 2) litLong(es(2), "minhash seed") else 42L)),
    "minhash_text" -> (es => MinHashText(es(0),
      if (es.length > 1) litInt(es(1), "shingle n") else 3,
      if (es.length > 2) litInt(es(2), "minhash k") else 64,
      if (es.length > 3) litLong(es(3), "minhash seed") else 42L)),
    "sign_projection" -> (es => SignRandomProjection(es(0),
      if (es.length > 1) litInt(es(1), "planes") else 16,
      if (es.length > 2) litLong(es(2), "seed") else 42L)),
    "dsir_buckets" -> (es => graft.expressions.DsirBuckets(es(0),
      if (es.length > 1) litInt(es(1), "dsir n") else graft.text.Dsir.DefaultN,
      if (es.length > 2) litInt(es(2), "dsir buckets") else graft.text.Dsir.DefaultBuckets)),
    // Composed Column functions exposed to SQL by building their expression
    // trees over the argument expressions.
    "quality_score" -> (es =>
      cexpr(graft.text.TextFunctions.qualityScore(col(es(0))))),
    "text_stats" -> (es =>
      cexpr(graft.text.TextFunctions.textStats(col(es(0))))),
    "token_count" -> (es =>
      cexpr(graft.text.TextFunctions.tokenCount(col(es(0))))),
    "token_count_bpe" -> (es =>
      cexpr(graft.text.TextFunctions.tokenCountBpe(col(es(0))))),
    "word_shingles" -> (es =>
      cexpr(graft.text.TextFunctions.wordShingles(col(es(0)),
        if (es.length > 1) litInt(es(1), "shingle n") else 3))),
    "jaccard_sim" -> (es =>
      cexpr(graft.text.TextFunctions.jaccard(col(es(0)), col(es(1))))),
    "redact_pii" -> (es =>
      cexpr(graft.text.TextFunctions.redactPii(col(es(0))))),
    "pii_stats" -> (es =>
      cexpr(graft.text.TextFunctions.piiStats(col(es(0))))),
    "extract_domain" -> (es =>
      cexpr(graft.text.TextFunctions.extractDomain(col(es(0))))),
    "json_get_long" -> (es => JsonGetLong(es(0), es(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null => s.toString
      case _ => throw new IllegalArgumentException("json_get_long key must be a string literal")
    })),
    // vector surface
    "array_distance" -> (es => ArrayDistance(es(0), es(1))),
    "array_squared_distance" -> (es => ArraySquaredDistance(es(0), es(1))),
    "array_cosine_similarity" -> (es => ArrayCosineSimilarity(es(0), es(1))),
    "array_cosine_distance" -> (es => ArrayCosineDistance(es(0), es(1))),
    "array_inner_product" -> (es => ArrayInnerProduct(es(0), es(1))),
    "array_negative_inner_product" -> (es => ArrayNegativeInnerProduct(es(0), es(1))),
    "array_l2_normalize" -> (es => ArrayL2Normalize(es(0))),
    "array_quantize_i8" -> (es => ArrayQuantizeI8(es(0))),
    "array_dequantize_i8" -> (es => ArrayDequantizeI8(es(0), es(1))),
    "count_distinct_long" -> (es => graft.aggregates.CountDistinctLong(es(0))),
    "bitmap_count_distinct" -> (es => graft.aggregates.BitmapDistinctAgg(es(0))),
    // 3-arg forms extend the built-ins (DuckDB-core k-arg semantics, O10);
    // 2-arg falls through to Spark's own MinBy/MaxBy.
    "min_by" -> (es =>
      if (es.length == 3) graft.aggregates.MinMaxByK(es(0), es(1), es(2), keepSmallest = true)
      else org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(es(0), es(1))),
    "max_by" -> (es =>
      if (es.length == 3) graft.aggregates.MinMaxByK(es(0), es(1), es(2), keepSmallest = false)
      else org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(es(0), es(1)))
  )

  /** Register all engine SQL functions on an existing session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
