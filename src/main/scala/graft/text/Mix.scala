package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-mix composition: fill per-source token budgets with a
 * deterministic, reproducible document sample.
 *
 * A pre-training data mix is specified as "B_s tokens from source s" (web,
 * code, books, …). The selection must be a pure function of the corpus —
 * reproducible across runs, engines, partitionings, and retries — so the
 * order documents fill their source's budget is the md5-of-key order (the
 * same device as [[TextFunctions.deterministicSample]]): a doc is kept iff
 * the cumulative token count of all docs at-or-before it in that order is
 * within the source's budget.
 *
 * == Why not one window per source ==
 *
 * The textbook spelling is a single cumulative sum over
 * `Window.partitionBy(source).orderBy(hash)`. At 100 TB that serializes
 * each source into ONE task — and real mixes are dominated by one giant
 * source (web). [[byTokenBudget]] instead decomposes the prefix sum:
 *
 *  1. bucket every doc by a RANGE of its hash prefix (order-preserving:
 *     bucket b holds hashes in [b/N, (b+1)/N) of the prefix space), so
 *     (source, bucket) partitions are corpus_bytes / N in expectation
 *     regardless of source skew;
 *  2. one tiny aggregate computes per-(source, bucket) token totals —
 *     sources × N rows — and a window over THAT grid yields each bucket's
 *     starting offset (exclusive prefix sum);
 *  3. the offsets broadcast back and the cumulative sum runs per
 *     (source, bucket) — N-way parallel within every source.
 *
 * Equivalent to the one-window spelling (the oracle gate proves it) with
 * the skew bottleneck removed: the only per-source serial work is N grid
 * rows on the driver-side-free window of step 2.
 *
 * Regimes: the bucket fan-out targets FEW GIANT groups (a handful of
 * sources holding a 100 TB corpus) — the offsets grid is |groups| × N rows
 * and is broadcast, so it assumes |groups| ≪ corpus. A mix keyed by a
 * high-cardinality dimension (per-domain budgets, millions of groups) gets
 * its parallelism from the group count itself: pass `buckets = 1` and the
 * grid/broadcast collapses to one row per group.
 */
object Mix {

  /**
   * Keep documents while their source's token budget lasts.
   *
   * @param df       corpus; one row per document
   * @param keyCol   unique document key (drives the deterministic order)
   * @param textCol  text column; its whitespace token count is the budget
   *                 currency
   * @param groupCol mix dimension (e.g. `source`)
   * @param budgets  (groupCol, budget) rows — token budget per group;
   *                 groups absent from `budgets` are dropped (inner join),
   *                 budget 0 drops the whole group. Dimension-sized:
   *                 broadcast.
   * @param buckets  prefix-sum fan-out per group (1 to 65536). 1 = the
   *                 plain one-window-per-group spelling. The bucket id is
   *                 a range split of the first 16 bits of md5(key), so
   *                 65536 is the hard fan-out ceiling.
   * @return kept rows of `df` plus `cum_tokens` — the inclusive cumulative
   *         token count at this doc in fill order (≤ budget). Output
   *         contract: all input columns pass through unchanged (including
   *         any existing `budget` column); the input must not already carry
   *         the output column or a `_mix_`-prefixed temporary.
   */
  def byTokenBudget(df: DataFrame, keyCol: String, textCol: String,
      groupCol: String, budgets: DataFrame, buckets: Int = 256): DataFrame =
    byWeightBudget(df, keyCol,
      TextFunctions.tokenCount(df(textCol)).cast("long"),
      groupCol, budgets, buckets, "cum_tokens")

  /**
   * The MANIFEST shape of [[byTokenBudget]]: only `(keyCol, groupCol,
   * cum_tokens)` — the selection manifest a warehouse-scale pipeline
   * feeds to its writer (or semi-joins against the corpus at write time)
   * instead of materializing selected full rows. The structural win over
   * `byTokenBudget(...).select(key, group, cum)`: the narrow path there
   * must re-scan the corpus and run a key join just to re-attach columns
   * such a caller immediately projects away; here every output column
   * already lives in the narrow prefix-sum frame, so the whole operator
   * is one narrow map pass + one (group, bucket) exchange and NO
   * join-back. Rows are value-identical to that projection (spec:
   * "tokenBudgetManifest equals byTokenBudget's projection").
   */
  def tokenBudgetManifest(df: DataFrame, keyCol: String, textCol: String,
      groupCol: String, budgets: DataFrame, buckets: Int = 256): DataFrame = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val cumCol = "cum_tokens"
    val clash = df.columns.filter(c => c.startsWith("_mix_") || c == cumCol)
    require(clash.isEmpty,
      s"input columns [${clash.mkString(", ")}] collide with Mix " +
        s"temporaries/output ('$cumCol', '_mix_*') — rename them first")
    val (_, bdg) = localDims(budgets, groupCol,
      col("budget").cast("long").as("_mix_budget"), "budgets")
    val narrow = df.select(col(keyCol), col(groupCol),
      TextFunctions.tokenCount(df(textCol)).cast("long").as("_mix_w"))
    // Always share the exchange here: unlike byWeightBudgetWith's wide
    // path (where the barrier ships full rows and loses on small inputs),
    // the manifest's barriered exchange is the NARROW frame — a few bytes
    // per row — while the pass it saves re-runs scan + tokenCount over
    // every text byte. In-session ABBA (PERF_VS_DUCKDB.md round 13,
    // spark.graft.mix.narrowInputBytes 1 vs 64M): barrier wins at BOTH
    // bench scales — 0.60 vs 0.68 s at sf0.1 (5.6 MB) and 0.75 vs 1.09 s
    // at sf10 (56 MB) — so there is no small side to protect.
    withCumWeight(narrow, keyCol, col("_mix_w"), Seq(groupCol), buckets,
        cumCol, shareExchange = true, pruneBudget = Some(bdg))
      .where(col(cumCol) <= col("_mix_budget"))
      .select(col(keyCol), col(groupCol), col(cumCol))
  }

  /**
   * [[tokenBudgetManifest]] with the budget as an EXPRESSION over the
   * group column instead of a dimension table — for budgets that are a
   * formula of the group (proportional rates, per-source multipliers)
   * rather than a curated table. Structurally this removes the budget
   * apparatus entirely: no dimension collect, no broadcast join — the
   * expression evaluates inline in the prune filter (below the window
   * sort) and the keep filter, so the whole operator is the narrow
   * prefix-sum frame's one scan + one (group, bucket) exchange, with NO
   * other job. Value-identical to the table form fed
   * `distinct groups × the same formula` (spec'd); groups the table form
   * would drop by absence cannot exist here — the formula covers every
   * group, matching SQL engines that inline the budget formula in the
   * cumsum comparison.
   *
   * @param budget expression over `groupCol` (it may reference any column
   *               of the NARROW frame — key, group — but group is the
   *               contract) yielding the group's token budget; cast to
   *               LONG internally.
   */
  def tokenBudgetManifest(df: DataFrame, keyCol: String, textCol: String,
      groupCol: String, budget: Column): DataFrame =
    tokenBudgetManifest(df, keyCol, textCol, groupCol, budget, 256)

  /** [[tokenBudgetManifest]] (expression-budget form) with explicit
    * prefix-sum fan-out. */
  def tokenBudgetManifest(df: DataFrame, keyCol: String, textCol: String,
      groupCol: String, budget: Column, buckets: Int): DataFrame =
    weightBudgetManifestBy(df, keyCol,
      TextFunctions.tokenCount(df(textCol)).cast("long"), groupCol, budget,
      buckets)

  /**
   * The fully-general expression form: per-row WEIGHT and per-group
   * BUDGET both as expressions — budget fills in any currency. The
   * headline use is real tokenizer units
   * (`weightBudgetManifestBy(df, "doc_id", Bpe.tokenCount(col("text"),
   * merges), "source", budgetExpr)`: per-source budgets measured in the
   * BPE tokens the training job will actually consume). Same zero-
   * apparatus plan as the token expression form: one scan computing the
   * weight, one narrow (group, bucket) exchange, budget inline in the
   * below-sort prune and keep filters.
   */
  def weightBudgetManifestBy(df: DataFrame, keyCol: String, weight: Column,
      groupCol: String, budget: Column, buckets: Int = 256): DataFrame = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val cumCol = "cum_tokens"
    val clash = df.columns.filter(c => c.startsWith("_mix_") || c == cumCol)
    require(clash.isEmpty,
      s"input columns [${clash.mkString(", ")}] collide with Mix " +
        s"temporaries/output ('$cumCol', '_mix_*') — rename them first")
    // Both contracts enforced in-plan (never silently): a null WEIGHT has
    // no defined position in the fill order, and a null BUDGET would drop
    // its whole group through the cum <= null filter — the same
    // silent-truncation class the countBudgetManifest maxCap guard exists
    // to prevent. Coalesce upstream if null text should fill as 0 tokens.
    val narrow = df.select(col(keyCol), col(groupCol),
      raiseOnNull(weight, "weightBudgetManifestBy: weight", col(keyCol))
        .as("_mix_w"))
    // Same always-share rationale as the table form above.
    withCumWeight(narrow, keyCol, col("_mix_w"), Seq(groupCol), buckets,
        cumCol, shareExchange = true, budgetExpr = Some(
          raiseOnNull(budget, "weightBudgetManifestBy: budget", col(groupCol))))
      .where(col(cumCol) <= col("_mix_budget"))
      .select(col(keyCol), col(groupCol), col(cumCol))
  }

  /** In-plan non-null contract for EXPRESSION-form weights/budgets/caps:
    * a value that evaluates to null (including a failed cast) aborts the
    * job instead of silently vanishing through a null-comparison filter
    * (the never-guess-always-fail rule of the maxCap guard). */
  private def raiseOnNull(e: Column, what: String, ctx: Column): Column = {
    val v = e.cast("long")
    when(v.isNull, raise_error(concat(
        lit(s"$what must be non-null — got null/uncastable at "),
        coalesce(ctx.cast("string"), lit("null")))))
      .otherwise(v)
  }

  /**
   * Per-group DOC-COUNT caps — "at most N documents per domain", the
   * C4/RefinedWeb-style dominance guard — as [[byTokenBudget]] with unit
   * weights: same deterministic fill order, `cum_docs` is the doc's
   * 1-based rank in its group.
   *
   * == The bounded-heap path ==
   *
   * Count caps are the one budget shape whose output size is known
   * DRIVER-SIDE before any job runs: group g keeps at most budget(g)
   * docs, and the budgets were just collected (dimension-sized by
   * contract). When the largest cap is small — the realistic case: C4
   * caps domains at hundreds of pages, not millions — the whole fill is
   * a k-argument min_by per group ([[graft.aggregates.MinMaxByK]], the
   * same bounded heap the ANN top-k rides): map-side partials ship at
   * most K pairs per group per partition, so the shuffle carries
   * O(groups × K) rows instead of the corpus, there is no window sort at
   * all, and high-cardinality group keys (millions of domains) get their
   * parallelism from the group hash for free. The cumsum path remains
   * for large caps (`spark.graft.mix.heapCapMaxK`, default 1024; 0
   * disables the heap path) — a heap of millions per group would ship
   * full-corpus partials anyway.
   *
   * Both paths are value-identical: rank-in-(md5(key), key)-order ≤ cap
   * (the oracle gate and the cross-path spec prove it).
   */
  def byCountBudget(df: DataFrame, keyCol: String, groupCol: String,
      budgets: DataFrame, buckets: Int = 256): DataFrame = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val cumCol = "cum_docs"
    val clash = df.columns.filter(c => c.startsWith("_mix_") || c == cumCol)
    require(clash.isEmpty,
      s"input columns [${clash.mkString(", ")}] collide with Mix " +
        s"temporaries/output ('$cumCol', '_mix_*') — rename them first")
    val (rows, bdg) = localDims(budgets, groupCol,
      col("budget").cast("long").as("_mix_budget"), "budgets")
    val kMax = if (rows.isEmpty) 0L
      else rows.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).max
    val heapCap = graft.spark.ExecTuning.confLong(df.sparkSession,
      HeapCapMaxKKey, DefaultHeapCapMaxK)
    // kMax <= Int.MaxValue: a conf raised past 2^31 must fall back, not
    // wrap the heap size through toInt.
    if (heapCap > 0 && kMax <= heapCap && kMax <= Int.MaxValue) {
      // The fill itself is ONE definition ([[heapCountManifest]], shared
      // with countBudgetManifest — the gates' digest pins depend on the
      // two paths staying value-identical); this contract only adds the
      // pass-through join of the full rows.
      val kept = heapCountManifest(df, keyCol, groupCol, bdg,
        math.max(1L, kMax).toInt, cumCol).drop(groupCol)
      df.join(kept, Seq(keyCol))
        .select(df.columns.toIndexedSeq.map(col) :+ col(cumCol): _*)
    } else {
      // Reuse the already-collected budgets — running localDims again
      // would re-execute the budgets plan (a full corpus aggregation when
      // budgets derive from the corpus).
      byWeightBudgetWith(df, keyCol, lit(1L), groupCol, bdg, buckets, cumCol)
    }
  }

  /** The bounded-heap fill, defined ONCE for [[byCountBudget]] (which
    * joins it back to the full rows) and [[countBudgetManifest]] (which
    * emits it directly): `(keyCol, groupCol, cumCol)` for the first
    * budget(g) docs of each group in deterministic (md5(key), key) order.
    *
    * min_by_k(key, (md5(key), key), K) per group = the first K docs of
    * the group in fill order; posexplode position + 1 is exactly the
    * rank the cumsum path calls cum_docs. Null keys are excluded here
    * exactly as in the cumsum path (the fill order is a function of the
    * key — a null key has no position in it). Same md5-longs order
    * device as the cumsum path (withCumWeight): struct (h1, h2, key)
    * order == struct (hex, key) order. The struct is projected ONCE and
    * the fields extracted from the named column: two direct hp.getField
    * projections would evaluate the digest twice whenever codegen
    * subexpression elimination doesn't fire (guaranteed in
    * interpreted/fallback paths), and CollapseProject refuses to inline
    * a duplicated non-cheap expression, so the two-step spelling keeps
    * one evaluation. */
  private def heapCountManifest(df: DataFrame, keyCol: String,
      groupCol: String, bdg: DataFrame, k: Int, cumCol: String): DataFrame = {
    val narrow = df.where(col(keyCol).isNotNull)
      .withColumn("_mix_hp", TextFunctions.md5Longs(col(keyCol).cast("string")))
      .select(col(groupCol), col(keyCol),
        col("_mix_hp").getField("h1").as("_mix_h1"),
        col("_mix_hp").getField("h2").as("_mix_h2"))
    narrow.groupBy(col(groupCol))
      .agg(graft.functions.min_by_k(col(keyCol),
        struct(col("_mix_h1"), col("_mix_h2"), col(keyCol)), k).as("_mix_keys"))
      .join(broadcast(bdg), Seq(groupCol))
      .select(col(groupCol), col("_mix_budget"),
        posexplode(col("_mix_keys")).as(Seq("_mix_p", "_mix_k")))
      .withColumn(cumCol, col("_mix_p") + lit(1L))
      .where(col(cumCol) <= col("_mix_budget"))
      .select(col("_mix_k").as(keyCol), col(groupCol), col(cumCol))
  }

  /** The MANIFEST shape of [[byCountBudget]]: only `(keyCol, groupCol,
    * cum_docs)` — same rationale as [[tokenBudgetManifest]]. On the heap
    * path this drops the join-back entirely (the group and rank are
    * already in the aggregate's output — byCountBudget only joined back
    * to re-attach the other columns); the large-cap fallback runs the
    * narrow cumsum without a join-back. Value-identical rows to
    * `byCountBudget(...).select(key, group, cum_docs)` (spec). */
  def countBudgetManifest(df: DataFrame, keyCol: String, groupCol: String,
      budgets: DataFrame, buckets: Int = 256): DataFrame = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val cumCol = "cum_docs"
    val clash = df.columns.filter(c => c.startsWith("_mix_") || c == cumCol)
    require(clash.isEmpty,
      s"input columns [${clash.mkString(", ")}] collide with Mix " +
        s"temporaries/output ('$cumCol', '_mix_*') — rename them first")
    val (rows, bdg) = localDims(budgets, groupCol,
      col("budget").cast("long").as("_mix_budget"), "budgets")
    val kMax = if (rows.isEmpty) 0L
      else rows.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).max
    val heapCap = graft.spark.ExecTuning.confLong(df.sparkSession,
      HeapCapMaxKKey, DefaultHeapCapMaxK)
    if (heapCap > 0 && kMax <= heapCap && kMax <= Int.MaxValue) {
      heapCountManifest(df, keyCol, groupCol, bdg,
        math.max(1L, kMax).toInt, cumCol)
    } else {
      withCumWeight(df.select(col(keyCol), col(groupCol)), keyCol, lit(1L),
          Seq(groupCol), buckets, cumCol, shareExchange = true,
          pruneBudget = Some(bdg))
        .where(col(cumCol) <= col("_mix_budget"))
        .select(col(keyCol), col(groupCol), col(cumCol))
    }
  }

  /**
   * [[countBudgetManifest]] with the cap as an EXPRESSION over the group
   * column plus an explicit driver-side bound — the count-cap analogue of
   * the token-budget expression form: no dimension collect, no broadcast
   * join anywhere (on the heap path the whole operator is ONE bounded-heap
   * aggregate; the cap expression evaluates on the aggregate's own
   * groups×≤maxCap output frame).
   *
   * `maxCap` plays the role the collected table's max played for heap
   * sizing, and is a CONTRACT: a group whose evaluated cap exceeds it
   * fails the job with a raise_error (the heap would otherwise silently
   * truncate that group — never guess, always fail). Caps above the heap
   * cutover conf ride the bucketed-cumsum fallback, same as the table
   * form. Value-identical to the table form fed `distinct groups × the
   * same formula` on both paths (spec'd).
   */
  def countBudgetManifest(df: DataFrame, keyCol: String, groupCol: String,
      cap: Column, maxCap: Int): DataFrame =
    countBudgetManifest(df, keyCol, groupCol, cap, maxCap, 256)

  /** [[countBudgetManifest]] (expression-cap form) with explicit fan-out. */
  def countBudgetManifest(df: DataFrame, keyCol: String, groupCol: String,
      cap: Column, maxCap: Int, buckets: Int): DataFrame = {
    require(maxCap >= 1, s"maxCap must be >= 1, got $maxCap")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val cumCol = "cum_docs"
    val clash = df.columns.filter(c => c.startsWith("_mix_") || c == cumCol)
    require(clash.isEmpty,
      s"input columns [${clash.mkString(", ")}] collide with Mix " +
        s"temporaries/output ('$cumCol', '_mix_*') — rename them first")
    // The maxCap contract enforced in-plan: any group whose cap evaluates
    // above the declared bound aborts the job instead of silently keeping
    // only maxCap of its docs — and a NULL cap (e.g. a failed cast)
    // aborts too, instead of silently dropping the whole group through
    // the cum <= null filter (the exact truncation class this guard
    // exists to prevent, just in the other direction).
    val capL = cap.cast("long")
    val guarded = when(capL.isNull,
        raise_error(concat(lit("countBudgetManifest: cap expression is " +
          "null/uncastable for group "),
          coalesce(col(groupCol).cast("string"), lit("null")))))
      .when(capL > maxCap,
        raise_error(concat(lit(s"countBudgetManifest: cap expression exceeds " +
          s"declared maxCap=$maxCap for group "), col(groupCol).cast("string"))))
      .otherwise(capL)
    val heapCap = graft.spark.ExecTuning.confLong(df.sparkSession,
      HeapCapMaxKKey, DefaultHeapCapMaxK)
    if (heapCap > 0 && maxCap <= heapCap) {
      val narrow = df.where(col(keyCol).isNotNull)
        .withColumn("_mix_hp", TextFunctions.md5Longs(col(keyCol).cast("string")))
        .select(col(groupCol), col(keyCol),
          col("_mix_hp").getField("h1").as("_mix_h1"),
          col("_mix_hp").getField("h2").as("_mix_h2"))
      narrow.groupBy(col(groupCol))
        .agg(graft.functions.min_by_k(col(keyCol),
          struct(col("_mix_h1"), col("_mix_h2"), col(keyCol)), maxCap).as("_mix_keys"))
        .withColumn("_mix_budget", guarded)
        .select(col(groupCol), col("_mix_budget"),
          posexplode(col("_mix_keys")).as(Seq("_mix_p", "_mix_k")))
        .withColumn(cumCol, col("_mix_p") + lit(1L))
        .where(col(cumCol) <= col("_mix_budget"))
        .select(col("_mix_k").as(keyCol), col(groupCol), col(cumCol))
    } else {
      withCumWeight(df.select(col(keyCol), col(groupCol)), keyCol, lit(1L),
          Seq(groupCol), buckets, cumCol, shareExchange = true,
          budgetExpr = Some(guarded))
        .where(col(cumCol) <= col("_mix_budget"))
        .select(col(keyCol), col(groupCol), col(cumCol))
    }
  }

  /** Largest per-group count cap the [[byCountBudget]] bounded-heap path
    * accepts (`spark.graft.mix.heapCapMaxK`); caps above it fall back to
    * the bucketed cumsum. 0 disables the heap path (spec/A-B device). */
  private[graft] val HeapCapMaxKKey = "spark.graft.mix.heapCapMaxK"
  private[graft] val DefaultHeapCapMaxK: Long = 1024L

  /** Hard cap on the dims-table collect in [[localDims]] — the
    * "dimension-sized by contract" bound made explicit. */
  private[graft] val MaxDimRows: Int = 1 << 21

  /**
   * Materialize a dims table (budgets/rates) ONCE as a local relation:
   * one job instead of two (the old eager duplicate probe scanned the
   * table, then the broadcast scanned it again — twice through a full
   * corpus aggregation when the dims derive from the corpus, as
   * "budget per observed source" pipelines do), duplicate-group
   * validation driver-side with the same eager IllegalArgumentException,
   * and the subsequent broadcast is free (no re-computation). Returns the
   * collected rows too — path decisions (e.g. the [[byCountBudget]] heap
   * cutover, a function of the max budget) read them for free.
   */
  private def localDims(dims: DataFrame, groupCol: String, valCol: Column,
      what: String): (Array[org.apache.spark.sql.Row], DataFrame) = {
    val proj = dims.select(col(groupCol), valCol)
    val rows = proj.limit(MaxDimRows + 1).collect()
    require(rows.length <= MaxDimRows,
      s"$what must be dimension-sized (<= $MaxDimRows rows per the " +
        s"broadcast contract); got more")
    // Normalize keys before grouping: a BinaryType groupCol collects as
    // Array[Byte], whose JVM equality is by REFERENCE — grouping on it
    // raw would let duplicated binary groups pass undetected and the
    // downstream inner broadcast join silently multiply corpus rows.
    def normKey(v: Any): Any = v match {
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case x => x
    }
    val dup = rows.groupBy(r => normKey(r.get(0)))
      .collectFirst { case (_, rs) if rs.length > 1 => rs.head.get(0) }
    require(dup.isEmpty,
      s"$what must have exactly one row per '$groupCol' " +
        s"(duplicated: ${dup.getOrElse("")})")
    (rows, dims.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), proj.schema))
  }

  private def byWeightBudget(df: DataFrame, keyCol: String, weight: Column,
      groupCol: String, budgets: DataFrame, buckets: Int,
      cumCol: String): DataFrame = {
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val clash = df.columns.filter(c => c.startsWith("_mix_") || c == cumCol)
    require(clash.isEmpty,
      s"input columns [${clash.mkString(", ")}] collide with Mix " +
        s"temporaries/output ('$cumCol', '_mix_*') — rename them first")
    val (_, bdg) = localDims(budgets, groupCol,
      col("budget").cast("long").as("_mix_budget"), "budgets")
    byWeightBudgetWith(df, keyCol, weight, groupCol, bdg, buckets, cumCol)
  }

  /** [[byWeightBudget]] body over an already-localized budgets relation
    * (callers that collected budgets themselves must not collect twice). */
  private def byWeightBudgetWith(df: DataFrame, keyCol: String, weight: Column,
      groupCol: String, bdg: DataFrame, buckets: Int,
      cumCol: String): DataFrame = {
    // Expensive upstream (joins/windows/aggregates feeding in — a composed
    // pipeline): the narrow+join-back shape re-EXECUTES that upstream on
    // the join-back side (and column pruning keeps its subtree from
    // canonicalizing with the cumsum side's — doc_pipeline_e2e ran the
    // quality+decontam+exact-dedup chain three times). Shuffling the
    // pipeline's output rows ONCE through a shared wide exchange beats
    // re-running the pipeline at every scale, so upstream shape decides
    // before input size does. The shape test is ExecTuning's
    // nontrivialUpstream, the one Dedup.dropNearDuplicates also asks.
    if (graft.spark.ExecTuning.nontrivialUpstream(df)) {
      withCumWeight(df, keyCol, weight, Seq(groupCol), buckets, cumCol,
          shareExchange = true, pruneBudget = Some(bdg))
        .where(col(cumCol) <= col("_mix_budget"))
        .drop("_mix_toks", "_mix_budget")
    } else if (narrowCumsum(df)) {
      // Large input: the prefix sum runs on a NARROW (key, group, weight)
      // projection and only the kept keys join back to the full corpus.
      // The width matters at scale: cumsum-ing the corpus directly
      // shuffles every byte of every row (text included) through the
      // window sort; this shape shuffles three narrow columns, and when
      // the budgets keep a small fraction — the usual curation case — AQE
      // turns the join-back into a broadcast and the corpus is never
      // shuffled at all. Requires keyCol unique (already the API
      // contract: "unique document key"). pruneBudget drops whole
      // buckets whose starting offset already exceeds the group's budget
      // BEFORE the window sort — when budgets keep a small fraction, the
      // sort sees a sliver of the exchange instead of all of it.
      val narrow = df.select(col(keyCol), col(groupCol), weight.as("_mix_w"))
      val kept = withCumWeight(narrow, keyCol, col("_mix_w"),
          Seq(groupCol), buckets, cumCol, pruneBudget = Some(bdg))
        .where(col(cumCol) <= col("_mix_budget"))
        .select(col(keyCol), col(cumCol))
      df.join(kept, Seq(keyCol))
        .select(df.columns.toIndexedSeq.map(col) :+ col(cumCol): _*)
    } else {
      // Small trivial input: cumsum directly over the full rows, no
      // exchange — the grid aggregate and the window map each re-derive a
      // bare pruned scan, which re-reads cheaply, and both the join-back
      // stage and an explicit exchange are pure floor when the whole
      // corpus is a few MB. The budget prune applies here too (it
      // subsumes the budgets join): full rows make the window sort it
      // skips proportionally MORE expensive.
      withCumWeight(df, keyCol, weight, Seq(groupCol), buckets, cumCol,
          shareExchange = false, pruneBudget = Some(bdg))
        .where(col(cumCol) <= col("_mix_budget"))
        .drop("_mix_toks", "_mix_budget")
    }
  }

  /** Byte threshold above which the budget fills and [[packSequences]]
    * switch from the direct full-row cumsum to the narrow-projection +
    * join-back plan (0 disables the narrow path). Same size-policy device
    * as `ExecTuning.withSizedAqe`: the decision is a function of INPUT
    * SIZE — at 100 TB the narrow branch always runs; on a few-MB corpus
    * the extra join stage is pure scheduling floor. Both shapes are
    * value-identical (spec-proven). */
  private[graft] val NarrowInputBytesKey = "spark.graft.mix.narrowInputBytes"
  private[graft] val DefaultNarrowInputBytes: Long = 64L << 20

  private def narrowCumsum(df: DataFrame): Boolean = {
    val threshold = graft.spark.ExecTuning.confLong(df.sparkSession,
      NarrowInputBytesKey, DefaultNarrowInputBytes)
    // Unknown stats → narrow (the scale-safe default).
    threshold > 0 && (try graft.spark.ExecTuning.inputBytes(df) >= threshold
      catch { case _: Exception => true })
  }

  /**
   * The bucketed distributed prefix sum shared by the budget fills and
   * [[packSequences]]: `df` plus `cumCol` — the INCLUSIVE cumulative
   * `weight` in (md5(key), key) order within each value of `groupCols`
   * (globally when empty) — and the `_mix_toks` weight column (callers
   * drop it). See the class doc for why this beats one window per group.
   */
  private[graft] def withCumWeight(df: DataFrame, keyCol: String,
      weight: Column, groupCols: Seq[String], buckets: Int,
      cumCol: String, shareExchange: Boolean = true,
      pruneBudget: Option[DataFrame] = None,
      budgetExpr: Option[Column] = None): DataFrame = {
    require(pruneBudget.isEmpty || budgetExpr.isEmpty,
      "pass the budget as a dimension table OR an expression, not both")
    val gcols = groupCols.map(col)
    // The md5 order rides as TWO signed-order-flipped longs (md5Longs):
    // (h1, h2) tuple order IS the hex string's lexicographic order, so the
    // shuffle and the window sort move/compare 16 bytes of primitives
    // instead of a 32-char string — same oracle-pinned total order, ~40%
    // narrower exchange rows and primitive sort keys (round 10).
    // Hash prefix value in [0, 65536): the digest's first 16 bits
    // ((h1 un-flipped) >>> 48, = the first four hex chars). Bucket =
    // order-preserving range split of that space (NOT modulo — bucket order
    // must concatenate to global hash order for the offsets to compose).
    // Null keys are excluded up front: the fill order is a function of the
    // key, so a null key has no position in it — and without the filter a
    // null hash would occupy its own sorts-first bucket, shifting every
    // real row's cumulative value (and diverging from the heap path,
    // whose min_by_k ignores null-keyed rows by arg_min semantics).
    // Struct projected once, fields split in a second projection — see
    // the byCountBudget note (CollapseProject keeps the digest single).
    val t0 = df.where(col(keyCol).isNotNull)
      .withColumn("_mix_hp", TextFunctions.md5Longs(df(keyCol).cast("string")))
      .withColumn("_mix_h1", col("_mix_hp").getField("h1"))
      .withColumn("_mix_h2", col("_mix_hp").getField("h2"))
      .drop("_mix_hp")
      .withColumn("_mix_toks", weight)
      .withColumn("_mix_b",
        (shiftrightunsigned(col("_mix_h1").bitwiseXOR(lit(Long.MinValue)), 48)
          * buckets / 65536).cast("int"))
    // shareExchange: explicit hash repartition on (group, bucket), then
    // re-rooted as an RDD barrier (Bridge.rddBarrier) so the grid
    // aggregate and the in-bucket window consume ONE materialized
    // exchange. ReuseExchange alone cannot deliver this: column pruning
    // narrows the grid's subtree below the repartition, the two exchanges
    // stop canonicalizing, and the upstream — the scan, the weight
    // expression (a tokenCount over every text byte), or a whole composed
    // pipeline on the nontrivialUpstream path — re-executes per consumer
    // (the r10 open exchange-identity problem). With the barrier the
    // DAGScheduler reuses the map stage across the consumers' jobs, so
    // the upstream runs exactly once — both on the wide path (composed
    // pipeline derived once: e2e 6.1→4.3 s at sf10) and the narrow path
    // (one scan+tokenCount map pass instead of two; tied at sf10 once
    // rddBarrier ran its eager stages under the sized-split scope,
    // strictly fewer corpus passes at scale). Callers pass
    // shareExchange=false on SMALL inputs (the same size policy that
    // picks the wide shape): there the double scan is a few MB and the
    // extra full-row exchange is pure floor (~+0.2 s/query at sf0.1).
    val t = if (shareExchange)
      org.apache.spark.sql.graftbridge.Bridge.rddBarrier(
        t0.repartition(gcols :+ col("_mix_b"): _*))
    else t0

    // Per-(group, bucket) totals → exclusive prefix sum over the bucket grid.
    // The grid is |groups| × buckets rows — broadcastable by construction.
    val grid = t.groupBy(gcols :+ col("_mix_b"): _*)
      .agg(sum(col("_mix_toks")).as("_mix_bt"))
    val wOff = Window.partitionBy(gcols: _*).orderBy(col("_mix_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = grid
      .withColumn("_mix_off", coalesce(sum(col("_mix_bt")).over(wOff), lit(0L)))
      .select(gcols :+ col("_mix_b") :+ col("_mix_off"): _*)

    // In-bucket inclusive cumsum + the bucket's offset = global cumsum in
    // (hash, key) order. Key tiebreak keeps the order total even under a
    // (vanishing) md5-prefix collision.
    val wIn = Window.partitionBy(gcols :+ col("_mix_b"): _*)
      .orderBy(col("_mix_h1"), col("_mix_h2"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = t.join(broadcast(offsets), groupCols :+ "_mix_b")
    // Budget prune, BELOW the window sort: every weight is >= 0 (token
    // counts / unit docs — the caller's invariant), so cum >= _mix_off for
    // the whole bucket; a bucket whose starting offset exceeds its group's
    // budget cannot contain a kept row and never enters the sort. The
    // filter sits between the exchange and the Sort, so with tiny budgets
    // (domain caps, toy mixes) the sort input collapses from the corpus to
    // the few buckets still under budget. `_mix_budget` rides out for the
    // caller's cum <= budget filter (no second broadcast join).
    val pruned = (pruneBudget, budgetExpr) match {
      case (Some(bdg), _) => joined.join(broadcast(bdg), groupCols)
        .where(col("_mix_off") <= col("_mix_budget"))
      case (_, Some(e)) =>
        // Expression budget: same below-the-sort prune, zero apparatus —
        // `_mix_budget` is computed inline from the group column instead
        // of joined from a collected dimension.
        joined.withColumn("_mix_budget", e)
          .where(col("_mix_off") <= col("_mix_budget"))
      case _ => joined
    }
    pruned
      .withColumn(cumCol, col("_mix_off") + sum(col("_mix_toks")).over(wIn))
      .drop("_mix_h1", "_mix_h2", "_mix_b", "_mix_off")
  }

  /**
   * Sequence packing: the coordinates each document's tokens occupy when
   * the corpus is concatenated in deterministic md5(key) order and cut
   * into fixed-length training sequences — the standard "pack documents
   * into 2048-token examples" step of an LLM data pipeline, minus the
   * tokenizer (whitespace token counts are the currency, as everywhere in
   * this module).
   *
   * Output: all input columns plus
   *  - `seq_id`  — 0-based index of the sequence holding the doc's FIRST
   *    token,
   *  - `seq_off` — that token's offset within the sequence (0 ≤ off < L),
   *  - `n_seqs`  — how many sequences the doc spans (≥ 1; a doc longer
   *    than L crosses boundaries, exactly like real packing without
   *    document masking).
   *
   * The assignment is a pure function of (key, text) — reproducible
   * across runs, engines, and partitionings, like every Mix selection —
   * and the layout is exactly the exclusive prefix sum of token counts,
   * so writers can emit actual packed examples from (seq_id, seq_off)
   * without re-scanning. Empty docs (0 tokens) get the position they'd
   * occupy (n_seqs = 1, zero tokens contributed).
   *
   * Scale: one bucketed prefix sum ([[withCumWeight]]) — the same
   * skew-proof shape as the budget fills; no global window, no driver
   * state.
   */
  def packSequences(df: DataFrame, keyCol: String, textCol: String,
      seqLen: Long, buckets: Int = 256): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val out = Seq("seq_id", "seq_off", "n_seqs")
    val clash = df.columns.filter(c => c.startsWith("_mix_") || out.contains(c))
    require(clash.isEmpty,
      s"input columns [${clash.mkString(", ")}] collide with packSequences " +
        s"output/temporaries (${out.mkString(", ")}, '_mix_*') — rename them first")
    def coordsOf(cum: DataFrame): DataFrame = seqCoords(cum, seqLen)
    if (graft.spark.ExecTuning.nontrivialUpstream(df)) {
      // Expensive upstream: wide + shared exchange — the narrow shape's
      // join-back re-executes the upstream pipeline (see byWeightBudgetWith).
      coordsOf(withCumWeight(df, keyCol,
          TextFunctions.tokenCount(df(textCol)).cast("long"),
          Seq.empty, buckets, "_mix_cum", shareExchange = true))
        .drop("_mix_toks", "_mix_cum", "_mix_start")
    } else if (narrowCumsum(df)) {
      // Narrow cumsum + join-back, like the budget fills: the window
      // sorts (key, weight) pairs, not full text rows (see byWeightBudget).
      val narrow = df.select(col(keyCol),
        TextFunctions.tokenCount(df(textCol)).cast("long").as("_mix_w"))
      val coords = coordsOf(withCumWeight(narrow, keyCol, col("_mix_w"),
          Seq.empty, buckets, "_mix_cum"))
        .select(col(keyCol), col("seq_id"), col("seq_off"), col("n_seqs"))
      df.join(coords, Seq(keyCol))
        .select(df.columns.toIndexedSeq.map(col) ++ out.map(col): _*)
    } else {
      coordsOf(withCumWeight(df, keyCol,
          TextFunctions.tokenCount(df(textCol)).cast("long"),
          Seq.empty, buckets, "_mix_cum", shareExchange = false))
        .drop("_mix_toks", "_mix_cum", "_mix_start")
    }
  }

  /** `div` (IntegralDivide) keeps the math exact on token-count longs —
    * `/` detours through double and mis-assigns near sequence boundaries
    * once cumulative counts are large enough that 1/L < ulp(cum/L). */
  private def seqCoords(cum: DataFrame, seqLen: Long): DataFrame = cum
    .withColumn("_mix_start", col("_mix_cum") - col("_mix_toks"))
    .withColumn("seq_id", expr(s"_mix_start div ${seqLen}L"))
    .withColumn("seq_off", col("_mix_start") % seqLen)
    // last token's sequence − first token's sequence + 1; empty docs span 1.
    .withColumn("n_seqs",
      expr(s"greatest(_mix_cum - 1L, _mix_start) div ${seqLen}L")
        - col("seq_id") + lit(1L))

  /** The MANIFEST shape of [[packSequences]]: only `(keyCol, seq_id,
    * seq_off, n_seqs)` — the packing layout itself, which is what a
    * writer actually consumes (emitPackedSequences re-derives it
    * internally; a custom writer joins it back at emit time). Always the
    * narrow one-scan shape with NO join-back: every output column lives
    * in the narrow cumsum frame. Same barrier rationale as
    * [[tokenBudgetManifest]] — the shared exchange is a few bytes per
    * row while the saved pass re-runs scan + tokenCount. Value-identical
    * to `packSequences(...).select(key, seq_id, seq_off, n_seqs)` (spec). */
  def packManifest(df: DataFrame, keyCol: String, textCol: String,
      seqLen: Long, buckets: Int = 256): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val out = Seq("seq_id", "seq_off", "n_seqs")
    val clash = df.columns.filter(c => c.startsWith("_mix_") || out.contains(c))
    require(clash.isEmpty,
      s"input columns [${clash.mkString(", ")}] collide with packManifest " +
        s"output/temporaries (${out.mkString(", ")}, '_mix_*') — rename them first")
    val narrow = df.select(col(keyCol),
      TextFunctions.tokenCount(df(textCol)).cast("long").as("_mix_w"))
    seqCoords(withCumWeight(narrow, keyCol, col("_mix_w"),
        Seq.empty, buckets, "_mix_cum", shareExchange = true), seqLen)
      .select(col(keyCol), col("seq_id"), col("seq_off"), col("n_seqs"))
  }

  /**
   * [[packManifest]] with the per-document weight as an EXPRESSION — the
   * packing currency generalized beyond whitespace tokens. The headline
   * use is REAL tokenizer units: `packManifestBy(df, "doc_id",
   * Bpe.tokenCount(col("text"), merges), 2048)` lays the corpus out in
   * actual BPE-token coordinates, so the emitted sequences match what the
   * training job's tokenizer will produce (whitespace counts over- or
   * under-fill real 2048-token examples). Weights must be non-negative
   * and non-null (a null-text token count should be coalesced or filtered
   * upstream — a null weight has no defined position in the layout); the
   * non-null half is ENFORCED in-plan with a raise_error, so a violation
   * fails the job loudly instead of producing an undefined layout. Same
   * one-scan + one-narrow-exchange shape as [[packManifest]].
   */
  def packManifestBy(df: DataFrame, keyCol: String, weight: Column,
      seqLen: Long, buckets: Int = 256): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val out = Seq("seq_id", "seq_off", "n_seqs")
    val clash = df.columns.filter(c => c.startsWith("_mix_") || out.contains(c))
    require(clash.isEmpty,
      s"input columns [${clash.mkString(", ")}] collide with packManifestBy " +
        s"output/temporaries (${out.mkString(", ")}, '_mix_*') — rename them first")
    val narrow = df.select(col(keyCol),
      raiseOnNull(weight, "packManifestBy: weight", col(keyCol)).as("_mix_w"))
    seqCoords(withCumWeight(narrow, keyCol, col("_mix_w"),
        Seq.empty, buckets, "_mix_cum", shareExchange = true), seqLen)
      .select(col(keyCol), col("seq_id"), col("seq_off"), col("n_seqs"))
  }

  /**
   * Materialize the packed training sequences [[packSequences]] only
   * assigns coordinates for: one output row per sequence, holding the
   * L-token (last one possibly shorter) whitespace-joined slice of the
   * corpus concatenated in deterministic md5(key) order. Documents
   * crossing a boundary are split across sequences — real packing without
   * document masking.
   *
   * Output: `seq_id` (0-based), `n_tokens` (= seqLen except the tail),
   * `text` (the sequence's tokens joined by single spaces).
   *
   * Scale: the narrow cumsum of [[packSequences]] plus ONE token-keyed
   * exchange — every token ships to its sequence exactly once, which is
   * inherent to emitting sequences at all (the bytes must move), and each
   * reduce group is bounded by seqLen tokens. No global window, no
   * driver state.
   */
  def emitPackedSequences(df: DataFrame, keyCol: String, textCol: String,
      seqLen: Long, buckets: Int = 256): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val base = df.select(col(keyCol), df(textCol).as("_mix_text"))
    val cum = withCumWeight(base, keyCol,
        TextFunctions.tokenCount(col("_mix_text")).cast("long"),
        Seq.empty, buckets, "_mix_cum")
      .withColumn("_mix_start", col("_mix_cum") - col("_mix_toks"))
    // Global token position = the doc's exclusive prefix + in-doc index;
    // positions are unique, so the per-sequence sort is total and the
    // reassembled text is deterministic.
    val toks = cum
      .select(col("_mix_start"),
        posexplode(split(col("_mix_text"), " ")).as(Seq("_mix_i", "_mix_tok")))
      .withColumn("_mix_pos", col("_mix_start") + col("_mix_i"))
      .withColumn("seq_id", expr(s"_mix_pos div ${seqLen}L"))
    toks.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("_mix_pos"), col("_mix_tok")))),
          x => x.getField("_mix_tok"))).as("text"))
  }

  /**
   * [[emitPackedSequences]] in TOKEN-ID currency — the final stage of
   * tokenizer parity: one output row per L-id training sequence, holding
   * the id slice (`array<int>`) of the corpus's id stream concatenated in
   * deterministic md5(key) order. `ids` is any `array<int>` column
   * (typically [[graft.text.Bpe.encodeIds]]); a null array contributes
   * nothing (a doc with no encodable text has no position in the stream).
   * Same scale shape as the text form: the bucketed narrow cumsum plus
   * ONE id-keyed exchange, each reduce group bounded by seqLen ids.
   *
   * Output: `seq_id` (0-based), `n_tokens` (= seqLen except the tail),
   * `ids` (the sequence's token ids in stream order).
   */
  def emitPackedIdSequences(df: DataFrame, keyCol: String, ids: Column,
      seqLen: Long, buckets: Int = 256): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(buckets >= 1 && buckets <= 65536,
      s"buckets must be in [1, 65536] (bucket ids are a range split of a " +
        s"16-bit hash prefix), got $buckets")
    val base = df.select(col(keyCol), ids.as("_mix_ids"))
    val cum = withCumWeight(base, keyCol,
        when(col("_mix_ids").isNotNull, size(col("_mix_ids")))
          .otherwise(0).cast("long"),
        Seq.empty, buckets, "_mix_cum")
      .withColumn("_mix_start", col("_mix_cum") - col("_mix_toks"))
    val toks = cum
      .select(col("_mix_start"),
        posexplode(col("_mix_ids")).as(Seq("_mix_i", "_mix_tok")))
      .withColumn("_mix_pos", col("_mix_start") + col("_mix_i"))
      .withColumn("seq_id", expr(s"_mix_pos div ${seqLen}L"))
    toks.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_tokens"),
        transform(
          array_sort(collect_list(struct(col("_mix_pos"), col("_mix_tok")))),
          x => x.getField("_mix_tok")).as("ids"))
  }

  /**
   * Proportional mix: sample each group at its own rate — the
   * rate-specified sibling of [[byTokenBudget]] ("keep 10% of web, 100% of
   * books"). Per-group [[TextFunctions.deterministicSample]]: a row is kept
   * iff the first 60 bits of md5(key) fall under rate × 2⁶⁰, so membership
   * is a pure function of (key, its group's rate) — reproducible across
   * runs/engines/partitionings, stable under corpus growth, and consistent
   * with the global sampler (a doc kept at rate r stays kept at any rate
   * ≥ r). No shuffle at all: one broadcast join + a filter.
   *
   * @param rates (groupCol, rate) rows, rate ∈ [0, 1]; groups absent from
   *              `rates` are dropped. One row per group (eagerly checked —
   *              duplicates would multiply corpus rows). All input columns
   *              pass through unchanged, including any existing `rate`
   *              column; `_mix_rate` is reserved.
   */
  def bySampleRates(df: DataFrame, keyCol: String, groupCol: String,
      rates: DataFrame): DataFrame = {
    require(!df.columns.contains("_mix_rate"),
      "input column '_mix_rate' collides with a Mix temporary — rename it")
    val (_, rt) = localDims(rates, groupCol,
      col("rate").cast("double").as("_mix_rate"), "rates")
    val threshold = (col("_mix_rate") * lit((1L << 60).toDouble)).cast("long")
    df.join(broadcast(rt), Seq(groupCol))
      .where(conv(substring(TextFunctions.md5Hex(df(keyCol).cast("string")), 1, 15), 16, 10)
        .cast("long") < threshold)
      .drop("_mix_rate")
  }
}
