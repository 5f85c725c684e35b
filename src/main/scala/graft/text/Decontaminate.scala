package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{ShingleHitCount, TextHash}

/**
 * Eval-set decontamination: find (or drop) corpus documents that share
 * word-n-gram shingles with a benchmark/eval set — the overlap filter
 * every serious training-data pipeline runs so that test sets do not leak
 * into the training corpus (the n-gram-collision construction published
 * with GPT-3, appendix C; n is a parameter, 13 there, 3 by default here
 * to match this library's shingle convention).
 *
 * Plan shape (100 TB posture): the eval set is tiny relative to the
 * corpus BY CONTRACT (it is a benchmark), so its DISTINCT shingles are
 * collected once (capped — see below), sorted by fnv1a64, and broadcast;
 * the corpus side is then ONE scan with a fused per-document kernel
 * ([[graft.expressions.ShingleHitCount]]): tokenize, dedup, binary-search
 * the hash table, byte-verify on hash hits. No explode, no join, no
 * aggregation — work is proportional to corpus bytes, and the only rows
 * that exist after the scan are the contaminated ids. (The r12 plan
 * exploded every corpus document's shingles through a broadcast hash
 * join and re-aggregated per doc — ~2.5 s of the 3.6 s total at sf10
 * was that explode+join+agg stage; the fused scan replaces all of it.)
 *
 * The driver-side gram collect is capped at
 * `spark.graft.decontam.maxEvalGrams` (default 8M entries; at ~32 B/gram
 * that bounds the broadcast near the repo-wide 256 MB driver-payload
 * ceiling documented in [[graft.ops.SemiJoins]]). Past the cap the plan
 * goes TWO-PHASE instead (r13): a Bloom filter over the eval grams'
 * 64-bit shingle hashes (1% false positives)
 * screens the corpus in the same scan-only shape — zero Bloom positives
 * PROVES a document clean (no false negatives) — and only the screened
 * candidates (true hits + the FPP tail) pay the exact string-level
 * equi-join against the eval grams. At 100 TB that turns the old
 * fallback's corpus-wide shingle-explode shuffle into one corpus scan
 * plus a join whose corpus side is the contaminated fraction; the eval
 * side is one linear pass either way. Both phases together remain
 * string-EXACT — the Bloom is only ever a screen, never the verdict.
 */
object Decontaminate {

  private val MaxGramsConf = "spark.graft.decontam.maxEvalGrams"

  /** The past-cap Bloom screen's false-positive rate. */
  private val BloomFpp = 0.01

  /** Sorted (hashes, grams) broadcast pair for the fused path, or None if
    * the eval set's distinct-shingle count exceeds the cap. */
  private def hitCountCol(corpus: DataFrame, eval: DataFrame, textCol: String,
      n: Int): Option[Column] = {
    val spark = corpus.sparkSession
    val cap = spark.conf.getOption(MaxGramsConf).map(_.toInt).getOrElse(8000000)
    val collected = eval
      .select(explode(TextFunctions.wordShingles(col(textCol), n)).as("_g"))
      .distinct()
      .limit(cap + 1)
      .collect()
    if (collected.length > cap) return None
    val pairs = collected.map { r =>
      val g = UTF8String.fromString(r.getString(0))
      (TextHash.fnv1a64(g), g)
    }
    java.util.Arrays.sort(pairs, Ordering.by((p: (Long, UTF8String)) => p._1))
    val sc = spark.sparkContext
    val hashes = sc.broadcast(pairs.map(_._1))
    val grams = sc.broadcast(pairs.map(_._2))
    Some(org.apache.spark.sql.graftbridge.Bridge.column(ShingleHitCount(
      org.apache.spark.sql.graftbridge.Bridge.expression(col(textCol)), n, hashes, grams)))
  }

  /** One row per contaminated corpus id: (idCol, n_hits) where n_hits is
    * the number of DISTINCT shared shingles summed over the id's rows
    * (per-row-distinct, like the join plan's explode — so both the fused
    * and the past-cap path agree on duplicate-id corpora too). Ids with
    * no overlap are absent (the common case at scale).
    *
    * NOTE eager: constructing this DataFrame launches eval-side jobs on
    * the driver (the capped distinct-gram collect; past the cap, a count
    * + Bloom build) — callers composing plans speculatively pay them even
    * if the result never executes. The eval set is tiny by contract, so
    * the cost is one linear pass over it. */
  def overlapCounts(corpus: DataFrame, eval: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame =
    hitCountCol(corpus, eval, textCol, n) match {
      case Some(hits) =>
        // Filter BEFORE the id rollup: the exchange carries only the
        // contaminated rows' (id, n_hits) pairs — a vanishing fraction of
        // the corpus — so unifying duplicate-id semantics with the join
        // path costs one narrow agg over near-empty input.
        corpus.select(col(idCol), hits.as("_row_hits"))
          .where(col("_row_hits") > 0)
          .groupBy(col(idCol))
          .agg(sum(col("_row_hits")).as("n_hits"))
      case None =>
        overlapCountsJoin(bloomScreen(corpus, eval, textCol, n), eval,
          textCol, idCol, n)
    }

  /** Phase 1 of the past-cap plan: the corpus rows whose distinct shingle
    * hashes have at least one Bloom positive against the eval grams. A
    * Bloom filter has NO false negatives, so the complement is proven
    * clean; the survivors (true hits + the fpp tail) are the only rows
    * the exact join must process. */
  private def bloomScreen(corpus: DataFrame, eval: DataFrame,
      textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = corpus.sparkSession
    def hashesOf(df: DataFrame) = Bridge.column(
      graft.expressions.WordShingleHashes(Bridge.expression(df(textCol)), n))
    val evalHashes = eval.where(col(textCol).isNotNull)
      .select(explode(hashesOf(eval)).as("_g64"))
    // Raw (non-distinct) count as the items estimate: an upper bound on
    // the distinct count, so the filter is sized at or below the asked
    // fpp. One extra linear pass over the eval side only.
    val items = math.max(evalHashes.count(), 1L)
    val bf = evalHashes.stat.bloomFilter("_g64", items, BloomFpp)
    val bfBc = spark.sparkContext.broadcast(bf)
    val screenHits = Bridge.column(graft.expressions.BloomHitCount(
      Bridge.expression(hashesOf(corpus)), bfBc))
    corpus.where(screenHits > 0)
  }

  /** The r12 join-shaped plan — the past-cap fallback, and the value-
    * identity reference for the fused kernel (DecontaminateSpec). */
  private[graft] def overlapCountsJoin(corpus: DataFrame, eval: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val evalGrams = eval
      .select(explode(TextFunctions.wordShingles(col(textCol), n)).as("_g"))
      .distinct()
    // wordShingles emits per-doc DISTINCT shingles, so the inner join
    // yields each (doc, shared shingle) pair exactly once.
    corpus.select(col(idCol),
        explode(TextFunctions.wordShingles(col(textCol), n)).as("_g"))
      .join(evalGrams, "_g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** `corpus` minus every doc flagged by [[overlapCounts]] — the actual
    * decontamination step. Fused path: a scan-only filter (hit count == 0,
    * NULL text kept — a null-text row has no shingles to share, matching
    * the join path, where it never reaches the overlap set). On
    * duplicate-id corpora the fused path drops contaminated ROWS while
    * the past-cap path anti-joins on contaminated IDS (dropping every row
    * of a flagged id); with unique ids — the normal pipeline contract —
    * the two are identical. Same construction-time eagerness note as
    * [[overlapCounts]]. */
  def dropContaminated(corpus: DataFrame, eval: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame =
    hitCountCol(corpus, eval, textCol, n) match {
      case Some(hits) => corpus.where(coalesce(hits, lit(0L)) === 0L)
      case None =>
        // The anti join's right side is the EXACT contaminated id set,
        // computed only over the Bloom-screened candidates — tiny next to
        // the corpus, where the old fallback's was corpus-wide. Built
        // directly from the join plan (NOT via overlapCounts, which would
        // re-enter hitCountCol and pay the capped 8M-gram driver collect
        // a second time in exactly the regime where the eval set is
        // largest).
        corpus.join(
          overlapCountsJoin(bloomScreen(corpus, eval, textCol, n), eval,
            textCol, idCol, n).select(col(idCol)),
          Seq(idCol), "left_anti")
    }
}
