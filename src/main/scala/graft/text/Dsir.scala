package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.QuotingUtils.quoteIdentifier
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.Bridge

/**
 * DSIR-style importance-weighted data selection (Xie et al. 2023): pick
 * the raw-corpus documents whose hashed-n-gram distribution looks most
 * like a TARGET corpus. The standard curation move for "give me more data
 * like my high-quality set" at pre-training scale.
 *
 * Three stages, all one-pass shapes:
 *  1. FIT — per-bucket n-gram counts over target and raw
 *     ([[bucketCounts]]: kernel featurizer → explode → one count shuffle
 *     each; the bucket table is `buckets` rows, driver-collectible by
 *     construction).
 *  2. WEIGHTS — smoothed log importance ratios, computed once driver-side
 *     ([[fitWeights]]: log(((tc+α)/(tt+αB)) / ((rc+α)/(rt+αB)))).
 *  3. SCORE/SELECT — a fused per-document kernel sums the doc's n-gram
 *     log-weights ([[graft.expressions.DsirScore]] — the table rides the
 *     task binary, so the 100 TB scoring pass is scan + one codegen'd
 *     expression, no join, no explode); [[select]] keeps the top-k by
 *     (score, id) — deterministic under ties.
 *
 * Scale note: fit cost is one explode+count over each corpus — paid once
 * per target distribution; scoring dominates at 100 TB and is the fused
 * path. The weight table is `buckets` doubles (default 10007 ≈ 80 KB).
 */
object Dsir {

  val DefaultN = 2
  val DefaultBuckets = 10007

  /** Per-bucket n-gram occurrence counts: (bucket LONG, n LONG), only
    * occupied buckets, one row per bucket. */
  def bucketCounts(df: DataFrame, textCol: String,
      n: Int = DefaultN, buckets: Int = DefaultBuckets): DataFrame =
    // NOT spread (r16 ABBA: 1.4x worse with spreadForKernel here — the
    // map-side partial count already bounds what shuffles, and the
    // explode kernel is cheap relative to an added text exchange).
    df.where(col(textCol).isNotNull)
      .select(explode(Bridge.column(graft.expressions.DsirBuckets(
        Bridge.composedExpression(col(textCol)), n, buckets))).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Smoothed per-bucket log importance weights, driver-side (the table is
    * `buckets` doubles). α is add-α smoothing over the bucket grid, so
    * never-seen buckets get a finite, raw-favoring weight; an α that is not
    * a finite number > 0 is rejected. */
  def fitWeights(target: DataFrame, raw: DataFrame, textCol: String,
      n: Int = DefaultN, buckets: Int = DefaultBuckets,
      alpha: Double = 1.0): Array[Double] = {
    checkAlpha(alpha)
    // ONE tag-unioned featurize+count pass (r17; was two serial
    // collect-per-corpus passes): both frames union into a single explode
    // + conditional-count aggregate, so the fit is one action — half the
    // fit jobs at the floor, and no analyzer hazard (the r16 attempt to
    // OVERLAP the two passes with a Future deadlocked at TVF resolution
    // time — the analyzer holds the SessionCatalog lock; a single action
    // never spawns a second analysis thread). Counts are exactly the
    // two-pass counts: tn sums tagged rows, rn untagged.
    val tagged = target.where(col(textCol).isNotNull)
      .select(lit(true).as("_dsir_t"), col(textCol).as("_dsir_x"))
      .unionByName(raw.where(col(textCol).isNotNull)
        .select(lit(false).as("_dsir_t"), col(textCol).as("_dsir_x")))
    val rows = tagged
      .select(col("_dsir_t"), explode(Bridge.column(graft.expressions.DsirBuckets(
        Bridge.composedExpression(col("_dsir_x")), n, buckets))).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(when(col("_dsir_t"), 1)).as("tn"),
        count(when(!col("_dsir_t"), 1)).as("rn"))
      .collect()
    val tc = rows.iterator.map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._2 > 0).toMap
    val rc = rows.iterator.map(r => (r.getLong(0), r.getLong(2)))
      .filter(_._2 > 0).toMap
    weightsFromCounts(tc, rc, buckets, alpha)
  }

  /** [[fitWeights]] for the labeled-subset case (target = rows of `raw`
    * matching `targetFilter`): ONE featurize+count pass with a conditional
    * target count, instead of two corpus scans. Identical weights. */
  def fitWeightsWithin(raw: DataFrame, targetFilter: Column, textCol: String,
      n: Int = DefaultN, buckets: Int = DefaultBuckets,
      alpha: Double = 1.0): Array[Double] = {
    checkAlpha(alpha)
    val rows = raw.where(col(textCol).isNotNull)
      .select(targetFilter.as("_t"),
        explode(Bridge.column(graft.expressions.DsirBuckets(
          Bridge.composedExpression(col(textCol)), n, buckets))).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("rn"),
        count(when(col("_t"), 1)).as("tn"))
      .collect()
    val tc = rows.map(r => (r.getLong(0), r.getLong(2))).toMap
    val rc = rows.map(r => (r.getLong(0), r.getLong(1))).toMap
    weightsFromCounts(tc, rc, buckets, alpha)
  }

  /** Add-α smoothing keeps every weight finite only for a finite α > 0:
    * α < 0 can make a bucket's probability negative, α = 0 zero on an
    * empty corpus, and both give NaN or infinite log-weights. */
  private def checkAlpha(alpha: Double): Unit =
    if (!(alpha > 0) || alpha.isInfinite) throw new IllegalArgumentException(
      s"DSIR smoothing alpha must be a finite number > 0, got $alpha")

  private def weightsFromCounts(tc: Map[Long, Long], rc: Map[Long, Long],
      buckets: Int, alpha: Double): Array[Double] = {
    val tt = tc.values.sum.toDouble
    val rt = rc.values.sum.toDouble
    val denomT = tt + alpha * buckets
    val denomR = rt + alpha * buckets
    Array.tabulate(buckets) { b =>
      val pT = (tc.getOrElse(b.toLong, 0L) + alpha) / denomT
      val pR = (rc.getOrElse(b.toLong, 0L) + alpha) / denomR
      math.log(pT / pR)
    }
  }

  /** The fused per-document importance score as a Column. */
  def scoreColumn(textCol: Column, logWeights: Array[Double],
      n: Int = DefaultN, buckets: Int = DefaultBuckets): Column =
    Bridge.column(graft.expressions.DsirScore(
      Bridge.composedExpression(textCol), n, buckets, logWeights))

  /** Top-k raw documents by target-likeness: fits weights on
    * (target, raw), scores raw with the fused kernel, keeps the k best by
    * (score DESC, id ASC). Output: (idCol, score DOUBLE), best first. */
  def select(raw: DataFrame, target: DataFrame, textCol: String, idCol: String,
      k: Int, n: Int = DefaultN, buckets: Int = DefaultBuckets,
      alpha: Double = 1.0): DataFrame =
    selectScored(raw, fitWeights(target, raw, textCol, n, buckets, alpha),
      textCol, idCol, k, n, buckets)

  /** [[select]] for the labeled-subset case — one fit pass, identical
    * weights (see [[fitWeightsWithin]]). */
  def selectWithin(raw: DataFrame, targetFilter: Column, textCol: String,
      idCol: String, k: Int, n: Int = DefaultN, buckets: Int = DefaultBuckets,
      alpha: Double = 1.0): DataFrame =
    selectScored(raw,
      fitWeightsWithin(raw, targetFilter, textCol, n, buckets, alpha),
      textCol, idCol, k, n, buckets)

  private def selectScored(raw: DataFrame, w: Array[Double], textCol: String,
      idCol: String, k: Int, n: Int, buckets: Int): DataFrame = {
    // Bounded-heap top-k (r17; was orderBy + limit): as a MID-PLAN
    // operator — every digest/aggregate consumer — Limit(Sort) plans a
    // full RANGE sort whose partitioner SAMPLING pass re-executes the
    // scoring kernel over the whole corpus (StageProf: two ~full-cost scan
    // stages per run; at 100 TB that is a second corpus pass). The k-arg
    // heap aggregate computes the same k rows in ONE pass with map-side
    // partial heaps (≤ k rows per task cross the shuffle) and no sort of
    // anything bigger than k. Order ties to (score DESC, idCol ASC),
    // identical to the sort spelling; rows emit best-first like before.
    // The id name is quoted, not parsed: `doc.id` is a column, not field
    // `id` of a struct `doc`.
    val id = col(quoteIdentifier(idCol))
    raw.where(col(textCol).isNotNull)
      .select(id, scoreColumn(col(textCol), w, n, buckets).as("score"))
      .agg(graft.functions.min_by_k(struct(id, col("score")),
        struct(-col("score"), id), k).as("_dsir_top"))
      .select(explode(col("_dsir_top")).as("_dsir_r"))
      .select(col("_dsir_r").getField(idCol).as(idCol), col("_dsir_r.score").as("score"))
  }
}
