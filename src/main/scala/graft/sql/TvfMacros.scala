package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, FunctionTableSubqueryArgumentExpression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, IntegerType, StringType}

import graft.api.Vss
import graft.text.Dedup

/**
 * SQL table-valued-function surface for the vss_join / vss_match macros —
 * what the reference registers as SQL table macros
 * (/root/reference/src/hnsw/hnsw_index_macros.cpp:9-74,109-113):
 *
 *   SELECT * FROM vss_join(TABLE(left_tbl), TABLE(right_tbl), 'left_col', 'right_col', 5)
 *   SELECT * FROM vss_match('left_tbl', 'right_tbl', 'left_col', 'right_col', 5, 'cosine')
 *
 * Table arguments are `TABLE(name)` references (any relation, including
 * subqueries) or string-literal table names; column/metric arguments are
 * string literals; k an integer literal. (Spark resolves TVF arguments as
 * expressions before the function itself, so DuckDB's bare-identifier
 * spelling cannot be supported.) Registered through `injectTableFunction`,
 * so they resolve anywhere a table reference can appear. One deliberate
 * difference from DuckDB: Spark TVF arguments cannot be lateral-correlated,
 * so `vss_match` takes the left table explicitly and returns
 * `left.* + matches` — the same rows the reference's correlated
 * `FROM s, vss_match(...)` join produces.
 */
object TvfMacros {

  // The `what` strings carry the function name (callers pass e.g.
  // "dsir_select text_col") — a hardcoded family prefix here misreported
  // every non-vss TVF's argument errors as vss_join/vss_match's (r13).
  private def table(spark: SparkSession, e: Expression, what: String): DataFrame = e match {
    case Literal(s, StringType) if s != null => spark.table(s.toString)
    case f: FunctionTableSubqueryArgumentExpression => Bridge.ofRows(spark, f.plan)
    case other => throw new IllegalArgumentException(
      s"$what must be TABLE(name) or a string literal, got: ${other.sql}")
  }

  private def str(e: Expression, what: String): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: ${other.sql}")
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: ${other.sql}")
  }

  private def build(fn: String, args: Seq[Expression],
      make: (DataFrame, DataFrame, String, String, Int, String, Option[String]) => DataFrame): LogicalPlan = {
    if (args.length < 5 || args.length > 7) {
      throw new IllegalArgumentException(
        s"$fn(left_table, right_table, left_col, right_col, k[, metric[, left_key]]) " +
          s"takes 5 to 7 arguments, got ${args.length}")
    }
    val spark = SparkSession.active
    val left = table(spark, args(0), s"$fn left_table")
    val right = table(spark, args(1), s"$fn right_table")
    val metric = if (args.length >= 6) str(args(5), s"$fn metric") else "l2sq"
    // Optional 7th arg: a UNIQUE left key column. The keyless form groups
    // the cross product by the full left-row struct (deterministic for any
    // left table); naming a key shuffles k×(narrow key) instead of k×(whole
    // row) — the difference between a wide-row shuffle and a long shuffle
    // at warehouse scale.
    val leftKey = if (args.length == 7) Some(str(args(6), s"$fn left_key")) else None
    make(left, right, str(args(2), s"$fn left_col"), str(args(3), s"$fn right_col"),
      intLit(args(4), s"$fn k"), metric, leftKey)
      .queryExecution.analyzed
  }

  def vssJoin(args: Seq[Expression]): LogicalPlan =
    build("vss_join", args, Vss.vssJoin(_, _, _, _, _, _, _))

  def vssMatch(args: Seq[Expression]): LogicalPlan =
    build("vss_match", args, Vss.vssMatch(_, _, _, _, _, _, _))

  private def dblLit(e: Expression, what: String): Double = e match {
    case Literal(d: Double, DoubleType) => d
    case Literal(d: Decimal, _: DecimalType) => d.toDouble
    case Literal(i: Int, IntegerType) => i.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got: ${other.sql}")
  }

  /** Shared (table, text_col, id_col, x[, …]) shape of the dedup TVFs. */
  private def dedupBuild(fn: String, args: Seq[Expression], minArgs: Int,
      maxArgs: Int, make: (DataFrame, String, String) => DataFrame): LogicalPlan = {
    if (args.length < minArgs || args.length > maxArgs) {
      throw new IllegalArgumentException(
        s"$fn takes $minArgs to $maxArgs arguments, got ${args.length}")
    }
    val spark = SparkSession.active
    make(table(spark, args(0), s"$fn table"), str(args(1), s"$fn text_col"),
      str(args(2), s"$fn id_col")).queryExecution.analyzed
  }

  // ---- Dedup family as SQL table functions (engine-native additions —
  // the LLM-pipeline surface, SQL-callable like the reference's macros):
  //   dedup_exact(TABLE(t), 'text', 'id')
  //   dedup_near(TABLE(t), 'text', 'id', 0.8)
  //   dedup_drop(TABLE(t), 'text', 'id', 0.8)
  //   ngram_jaccard_join(TABLE(t), 'text', 'id', 0.5)
  //   simhash_pairs(TABLE(t), 'text', 'id', 7)
  //   embedding_near_dup(TABLE(t), 'vec', 'id', 0.9)
  //   semdedup_drop(TABLE(t), 'vec', 'id', 8, 6000)

  def dedupExact(args: Seq[Expression]): LogicalPlan =
    dedupBuild("dedup_exact", args, 3, 3, Dedup.exactDupGroups(_, _, _))

  def dedupDropExact(args: Seq[Expression]): LogicalPlan =
    dedupBuild("dedup_drop_exact", args, 3, 3, Dedup.dropExactDuplicates(_, _, _))

  def dedupNear(args: Seq[Expression]): LogicalPlan =
    dedupBuild("dedup_near", args, 4, 4, (df, t, i) =>
      Dedup.nearDupPairs(df, t, i, dblLit(args(3), "dedup_near threshold")))

  def dedupDrop(args: Seq[Expression]): LogicalPlan =
    dedupBuild("dedup_drop", args, 4, 4, (df, t, i) =>
      Dedup.dropNearDuplicates(df, t, i, dblLit(args(3), "dedup_drop threshold")))

  /** dedup_substr(TABLE(t), 'text_col', 'id_col'[, min_tokens]) — exact
    * substring dedup (Lee et al. 2021 ExactSubstr at window resolution);
    * see [[graft.text.Dedup.dropRepeatedSubstrings]]. */
  def dedupSubstr(args: Seq[Expression]): LogicalPlan =
    dedupBuild("dedup_substr", args, 3, 4, (df, t, i) =>
      Dedup.dropRepeatedSubstrings(df, t, i,
        if (args.length == 4) intLit(args(3), "dedup_substr min_tokens") else 50))

  def ngramJaccardJoin(args: Seq[Expression]): LogicalPlan =
    dedupBuild("ngram_jaccard_join", args, 4, 5, (df, t, i) =>
      Dedup.ngramJaccardPairs(df, t, i,
        dblLit(args(3), "ngram_jaccard_join threshold"),
        if (args.length == 5) intLit(args(4), "ngram_jaccard_join n") else 3))

  def simhashPairs(args: Seq[Expression]): LogicalPlan =
    dedupBuild("simhash_pairs", args, 4, 4, (df, t, i) =>
      Dedup.simHashPairs(df, t, i, intLit(args(3), "simhash_pairs max_hamming")))

  def embeddingNearDup(args: Seq[Expression]): LogicalPlan =
    dedupBuild("embedding_near_dup", args, 4, 4, (df, v, i) =>
      Dedup.embeddingNearDupPairs(df, v, i,
        dblLit(args(3), "embedding_near_dup threshold")))

  /** semdedup_drop(TABLE(t), 'vec_col', 'id_col', k, tau2[, iters]) —
    * the SemDeDup prune stage ([[graft.embedding.Cluster.semDedupDrop]]):
    * integer-Lloyd cluster, then drop every row within tau2 (exact
    * integer squared-L2 over quantized vectors) of a lower-id row in its
    * cluster. Returns the KEPT rows with t's columns. */
  def semDedupDropTvf(args: Seq[Expression]): LogicalPlan =
    dedupBuild("semdedup_drop", args, 5, 6, (df, v, i) =>
      graft.embedding.Cluster.semDedupDrop(df, v, i,
        intLit(args(3), "semdedup_drop k"),
        lngLit(args(4), "semdedup_drop tau2"),
        if (args.length == 6) intLit(args(5), "semdedup_drop iters") else 3))

  /** decontaminate(TABLE(corpus), TABLE(eval), 'text_col', 'id_col'[, n])
    * → (id_col, n_hits) per corpus doc sharing word-n-gram shingles with
    * the eval set — see [[graft.text.Decontaminate.overlapCounts]]. */
  def decontaminate(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 4 || args.length > 5) throw new IllegalArgumentException(
      s"decontaminate(corpus, eval, text_col, id_col[, n]) takes 4 or 5 " +
        s"arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.text.Decontaminate.overlapCounts(
      table(spark, args(0), "decontaminate corpus"),
      table(spark, args(1), "decontaminate eval"),
      str(args(2), "decontaminate text_col"), str(args(3), "decontaminate id_col"),
      if (args.length == 5) intLit(args(4), "decontaminate n") else 3)
      .queryExecution.analyzed
  }

  /** top_ngrams(TABLE(t), 'text_col', n, k) → (gram, n_occ): corpus-level
    * top-k word n-grams — see [[graft.text.TextFunctions.topNgrams]]. */
  def topNgramsTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 4) throw new IllegalArgumentException(
      s"top_ngrams(t, text_col, n, k) takes 4 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.text.TextFunctions.topNgrams(
      table(spark, args(0), "top_ngrams table"),
      str(args(1), "top_ngrams text_col"),
      intLit(args(2), "top_ngrams n"), intLit(args(3), "top_ngrams k"))
      .queryExecution.analyzed
  }

  /** token_freq(TABLE(t), 'text_col', 'id_col') → per-doc corpus-frequency
    * stats — see [[graft.text.TextFunctions.tokenFrequencyStats]]. */
  def tokenFreqTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 3) throw new IllegalArgumentException(
      s"token_freq(t, text_col, id_col) takes 3 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.text.TextFunctions.tokenFrequencyStats(
      table(spark, args(0), "token_freq table"),
      str(args(1), "token_freq text_col"), str(args(2), "token_freq id_col"))
      .queryExecution.analyzed
  }

  /** sample_by_budget(TABLE(corpus), TABLE(budgets), 'key_col', 'text_col',
    * 'group_col'[, buckets]) — fill per-group token budgets in deterministic
    * hash order; see [[graft.text.Mix.byTokenBudget]]. The budgets table
    * must carry (group_col, budget) columns. */
  def sampleByBudgetTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 5 || args.length > 6) throw new IllegalArgumentException(
      s"sample_by_budget(corpus, budgets, key_col, text_col, group_col[, buckets]) " +
        s"takes 5 or 6 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.text.Mix.byTokenBudget(
      table(spark, args(0), "sample_by_budget corpus"),
      str(args(2), "sample_by_budget key_col"),
      str(args(3), "sample_by_budget text_col"),
      str(args(4), "sample_by_budget group_col"),
      table(spark, args(1), "sample_by_budget budgets"),
      if (args.length == 6) intLit(args(5), "sample_by_budget buckets") else 256)
      .queryExecution.analyzed
  }

  /** pack_sequences(TABLE(corpus), 'key_col', 'text_col', seq_len
    * [, buckets]) — fixed-length training-sequence coordinates per doc;
    * see [[graft.text.Mix.packSequences]]. */
  def packSequencesTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 4 || args.length > 5) throw new IllegalArgumentException(
      s"pack_sequences(corpus, key_col, text_col, seq_len[, buckets]) " +
        s"takes 4 or 5 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.text.Mix.packSequences(
      table(spark, args(0), "pack_sequences corpus"),
      str(args(1), "pack_sequences key_col"),
      str(args(2), "pack_sequences text_col"),
      intLit(args(3), "pack_sequences seq_len").toLong,
      if (args.length == 5) intLit(args(4), "pack_sequences buckets") else 256)
      .queryExecution.analyzed
  }

  /** emit_packed_sequences(TABLE(corpus), 'key_col', 'text_col', seq_len
    * [, buckets]) — the materialized packed sequences; see
    * [[graft.text.Mix.emitPackedSequences]]. */
  def emitPackedSequencesTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 4 || args.length > 5) throw new IllegalArgumentException(
      s"emit_packed_sequences(corpus, key_col, text_col, seq_len[, buckets]) " +
        s"takes 4 or 5 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.text.Mix.emitPackedSequences(
      table(spark, args(0), "emit_packed_sequences corpus"),
      str(args(1), "emit_packed_sequences key_col"),
      str(args(2), "emit_packed_sequences text_col"),
      intLit(args(3), "emit_packed_sequences seq_len").toLong,
      if (args.length == 5) intLit(args(4), "emit_packed_sequences buckets") else 256)
      .queryExecution.analyzed
  }

  /** kmeans_assign(TABLE(t), 'vec_col', 'id_col', k[, iters[, quant_scale]])
    * — deterministic integer-Lloyd cluster assignment (+ `cluster`,
    * `dist2`); see [[graft.embedding.Cluster.kmeansAssign]]. */
  def kmeansAssignTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 4 || args.length > 6) throw new IllegalArgumentException(
      s"kmeans_assign(t, vec_col, id_col, k[, iters[, quant_scale]]) takes " +
        s"4 to 6 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.embedding.Cluster.kmeansAssign(
      table(spark, args(0), "kmeans_assign t"),
      str(args(1), "kmeans_assign vec_col"),
      str(args(2), "kmeans_assign id_col"),
      intLit(args(3), "kmeans_assign k"),
      if (args.length >= 5) intLit(args(4), "kmeans_assign iters") else 3,
      if (args.length == 6) intLit(args(5), "kmeans_assign quant_scale") else 64)
      .queryExecution.analyzed
  }

  /** cluster_sample(TABLE(t), 'vec_col', 'id_col', k, per_cluster
    * [, iters]) — cluster-balanced deterministic sample (SemDeDup-style
    * curation); see [[graft.embedding.Cluster.clusterSample]]. */
  def clusterSampleTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 5 || args.length > 6) throw new IllegalArgumentException(
      s"cluster_sample(t, vec_col, id_col, k, per_cluster[, iters]) takes " +
        s"5 or 6 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.embedding.Cluster.clusterSample(
      table(spark, args(0), "cluster_sample t"),
      str(args(1), "cluster_sample vec_col"),
      str(args(2), "cluster_sample id_col"),
      intLit(args(3), "cluster_sample k"),
      intLit(args(4), "cluster_sample per_cluster"),
      if (args.length == 6) intLit(args(5), "cluster_sample iters") else 3)
      .queryExecution.analyzed
  }

  /** sample_by_rates(TABLE(corpus), TABLE(rates), 'key_col', 'group_col')
    * — proportional per-group sampling; the rates table carries
    * (group_col, rate) rows. See [[graft.text.Mix.bySampleRates]]. */
  def sampleByRatesTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 4) throw new IllegalArgumentException(
      s"sample_by_rates(corpus, rates, key_col, group_col) takes 4 " +
        s"arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.text.Mix.bySampleRates(
      table(spark, args(0), "sample_by_rates corpus"),
      str(args(2), "sample_by_rates key_col"),
      str(args(3), "sample_by_rates group_col"),
      table(spark, args(1), "sample_by_rates rates"))
      .queryExecution.analyzed
  }

  /** cap_by_count(TABLE(corpus), TABLE(caps), 'key_col', 'group_col'
    * [, buckets]) — per-group doc-count caps; the caps table carries
    * (group_col, budget) rows. See [[graft.text.Mix.byCountBudget]]. */
  def capByCountTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 4 || args.length > 5) throw new IllegalArgumentException(
      s"cap_by_count(corpus, caps, key_col, group_col[, buckets]) takes 4 " +
        s"or 5 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.text.Mix.byCountBudget(
      table(spark, args(0), "cap_by_count corpus"),
      str(args(2), "cap_by_count key_col"),
      str(args(3), "cap_by_count group_col"),
      table(spark, args(1), "cap_by_count caps"),
      if (args.length == 5) intLit(args(4), "cap_by_count buckets") else 256)
      .queryExecution.analyzed
  }

  /** Comma-separated key list → trimmed column names (see block comment). */
  private def keys(e: Expression, what: String): Seq[String] =
    str(e, what).split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def lngLit(e: Expression, what: String): Long = e match {
    case Literal(l: Long, _: org.apache.spark.sql.types.LongType) => l
    case Literal(i: Int, IntegerType) => i.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: ${other.sql}")
  }

  // ---- Event-stream operators as SQL table functions:
  //   as_of_join(TABLE(l), TABLE(r), 'key', 'l_ts', 'r_ts'[, 'backward'[, tol]])
  //   sessionize(TABLE(t), 'key', 'ts', max_gap)
  //   range_join(TABLE(points), TABLE(intervals), 'key', 'ts', 's', 'e', width)
  //
  // 'key' may be a comma-separated list ('user_id, region') — split and
  // trimmed into the operators' multi-key form, mirroring the Scala API's
  // Seq[String] (column names containing a literal comma are not
  // addressable through the TVF surface; use the Scala API for those).
  //
  // ts columns may be TIMESTAMP / TIMESTAMP_NTZ / integral (ops.EventTime).
  // UNITS of max_gap / width / tolerance: MICROSECONDS when the ts column
  // is timestamp-typed, the column's own units when integral. (Before
  // round 7, timestamp columns were compared at epoch-SECONDS granularity
  // via a lossy cast; micros is the engine-wide convention now — callers
  // holding second-denominated gaps against timestamp columns must scale
  // by 1e6.)

  def asOfJoin(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 5 || args.length > 7) throw new IllegalArgumentException(
      s"as_of_join(left, right, key, left_ts, right_ts[, direction[, tolerance]]) " +
        s"takes 5 to 7 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.ops.AsOfJoin.asof(
      table(spark, args(0), "as_of_join left"), table(spark, args(1), "as_of_join right"),
      keys(args(2), "as_of_join key"), str(args(3), "as_of_join left_ts"),
      str(args(4), "as_of_join right_ts"),
      if (args.length >= 6) str(args(5), "as_of_join direction") else "backward",
      // Units follow the ts type (micros for timestamps) — see block comment.
      if (args.length == 7) Some(lngLit(args(6), "as_of_join tolerance")) else None)
      .queryExecution.analyzed
  }

  /** `exists_join(TABLE(l), TABLE(r), 'lk', 'rk')` /
    * `not_exists_join(…)` — [[graft.ops.SemiJoins]]' containered-bitmap
    * EXISTS / NOT EXISTS surface. */
  def existsJoin(args: Seq[Expression]): LogicalPlan =
    semiTvf(args, anti = false, "exists_join")

  def notExistsJoin(args: Seq[Expression]): LogicalPlan =
    semiTvf(args, anti = true, "not_exists_join")

  private def semiTvf(args: Seq[Expression], anti: Boolean,
      name: String): LogicalPlan = {
    if (args.length != 4) throw new IllegalArgumentException(
      s"$name(left, right, left_key, right_key) takes 4 arguments, got ${args.length}")
    val spark = SparkSession.active
    val l = table(spark, args(0), s"$name left")
    val r = table(spark, args(1), s"$name right")
    val lk = str(args(2), s"$name left_key")
    val rk = str(args(3), s"$name right_key")
    (if (anti) graft.ops.SemiJoins.notExists(l, lk, r, rk)
     else graft.ops.SemiJoins.exists(l, lk, r, rk))
      .queryExecution.analyzed
  }

  def sessionizeTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 4) throw new IllegalArgumentException(
      s"sessionize(table, key, ts, max_gap) takes 4 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.ops.Sessionize.sessionize(table(spark, args(0), "sessionize table"),
      keys(args(1), "sessionize key"), str(args(2), "sessionize ts"),
      lngLit(args(3), "sessionize max_gap"))
      .queryExecution.analyzed
  }

  /** `sessionize_stats(TABLE(t), 'key', 'ts', max_gap)` — the fused
    * per-event form ([[graft.ops.Sessionize.sessionizeWithStats]]): input
    * + session_seq + the event's own session's (n_events, start_ts,
    * end_ts), one scan one shuffle. The SQL spelling of "sessionize, roll
    * up, and attribute back" for points drawn from the stream itself. */
  def sessionizeStatsTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 4) throw new IllegalArgumentException(
      s"sessionize_stats(table, key, ts, max_gap) takes 4 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.ops.Sessionize.sessionizeWithStats(
      table(spark, args(0), "sessionize_stats table"),
      keys(args(1), "sessionize_stats key"), str(args(2), "sessionize_stats ts"),
      lngLit(args(3), "sessionize_stats max_gap"))
      .queryExecution.analyzed
  }

  /** `bpe_token_count(TABLE(t), 'text_col', 'merges_path')` — input plus
    * `n_bpe_tokens` under the merges table at `merges_path` (GPT-2
    * merges.txt wire format; a path so SQL sessions can bind any published
    * vocabulary — the Scala API takes the parsed object). The merges file
    * is read once at plan time and rides the task binary as a reference
    * object, like the DSIR score table. */
  def bpeTokenCountTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 3) throw new IllegalArgumentException(
      s"bpe_token_count(table, text_col, merges_path) takes 3 arguments, got ${args.length}")
    val spark = SparkSession.active
    val df = table(spark, args(0), "bpe_token_count table")
    val textCol = str(args(1), "bpe_token_count text_col")
    val merges = graft.text.Bpe.loadMerges(str(args(2), "bpe_token_count merges_path"))
    df.withColumn("n_bpe_tokens",
        graft.text.Bpe.tokenCount(org.apache.spark.sql.functions.col(textCol), merges))
      .queryExecution.analyzed
  }

  /** `bpe_encode_ids(TABLE(t), 'text_col', 'merges_path')` — input plus
    * `bpe_ids ARRAY<INT>` (the token ids a trainer consumes; byte-level
    * base vocabulary 0–255 + 256+rank merge outputs). The SQL spelling of
    * [[graft.text.Bpe.encodeIds]]; same merges-path binding as
    * [[bpeTokenCountTvf]]. */
  def bpeEncodeIdsTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 3) throw new IllegalArgumentException(
      s"bpe_encode_ids(table, text_col, merges_path) takes 3 arguments, got ${args.length}")
    val spark = SparkSession.active
    val df = table(spark, args(0), "bpe_encode_ids table")
    val textCol = str(args(1), "bpe_encode_ids text_col")
    val merges = graft.text.Bpe.loadMerges(str(args(2), "bpe_encode_ids merges_path"))
    df.withColumn("bpe_ids",
        graft.text.Bpe.encodeIds(org.apache.spark.sql.functions.col(textCol), merges))
      .queryExecution.analyzed
  }

  /** `bpe_decode_ids(TABLE(t), 'ids_col', 'merges_path')` — input plus
    * `decoded STRING`: the inverse of `bpe_encode_ids` modulo the
    * encoder's dropped separators (see [[graft.text.Bpe.decodeIdsText]]).
    * Null/invalid id streams decode to null. */
  def bpeDecodeIdsTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 3) throw new IllegalArgumentException(
      s"bpe_decode_ids(table, ids_col, merges_path) takes 3 arguments, got ${args.length}")
    val spark = SparkSession.active
    val df = table(spark, args(0), "bpe_decode_ids table")
    val idsCol = str(args(1), "bpe_decode_ids ids_col")
    val merges = graft.text.Bpe.loadMerges(str(args(2), "bpe_decode_ids merges_path"))
    df.withColumn("decoded",
        graft.text.Bpe.decodeIds(org.apache.spark.sql.functions.col(idsCol), merges))
      .queryExecution.analyzed
  }

  /** `bm25_topk(TABLE(docs), 'text_col', 'id_col', 'space-separated query', k)`
    * → (id_col, score DOUBLE), best first — [[graft.text.Bm25.topK]]. The
    * corpus fit (doc count, avg length, per-term df) happens at
    * resolution, like dsir_select's weight fit. */
  def bm25TopKTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 5) throw new IllegalArgumentException(
      s"bm25_topk(table, text_col, id_col, query, k) takes 5 arguments, got ${args.length}")
    val spark = SparkSession.active
    val df = table(spark, args(0), "bm25_topk table")
    val textCol = str(args(1), "bm25_topk text_col")
    val idCol = str(args(2), "bm25_topk id_col")
    val query = str(args(3), "bm25_topk query").split(" ").filter(_.nonEmpty).toSeq
    require(query.nonEmpty, "bm25_topk query must contain at least one term")
    val k = intLit(args(4), "bm25_topk k")
    // fitQuery, not fit: the query terms are known here, so the exact
    // aggregate-only fit (no vocabulary cap — a rare term past fit's
    // maxVocab would clamp df to 0 and inflate its idf) costs one scan
    // with no shuffle. fitQuery's 256-term cap == Bm25Score's.
    val model = graft.text.Bm25.fitQuery(df, textCol, query)
    graft.text.Bm25.topK(df, textCol, idCol, model, query, k)
      .queryExecution.analyzed
  }

  /** `rrf_fuse(TABLE(a), TABLE(b), 'id_col', k[, rrf_k])` — reciprocal-
    * rank fusion of two ranked lists (each carrying `id_col` + `rank`) →
    * (id_col, n_lists, rrf_score), best first — [[graft.api.Hybrid.rrfFuse]]. */
  def rrfFuseTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 4 || args.length > 5) throw new IllegalArgumentException(
      s"rrf_fuse(a, b, id_col, k[, rrf_k]) takes 4-5 arguments, got ${args.length}")
    val spark = SparkSession.active
    val a = table(spark, args(0), "rrf_fuse first list")
    val b = table(spark, args(1), "rrf_fuse second list")
    val idCol = str(args(2), "rrf_fuse id_col")
    val k = intLit(args(3), "rrf_fuse k")
    val rrfK = if (args.length > 4) intLit(args(4), "rrf_fuse rrf_k")
               else graft.api.Hybrid.DefaultRrfK
    graft.api.Hybrid.rrfFuse(Seq(a, b), idCol, k, rrfK).queryExecution.analyzed
  }

  // ---- Index-backed ANN as SQL table functions (the index-join surface —
  // the brute vss_join/vss_match macros above mirror the reference; these
  // expose the accelerated paths to SQL users):
  //   ann_topk(TABLE(queries), 'index_name', 'query_col', k)
  //     → queries.* + (neighbor_id, distance, rn) per row via Vss.annTopK
  //   lateral_topk(TABLE(outer), TABLE(inner), 'outer_col', 'inner_col',
  //                'outer_key', k[, metric])
  //     → outer.* + inner.* + (dist, rn); rewrites onto the HNSW index join
  //       when one matches, bounded-heap brute force otherwise.

  /** dsir_select(TABLE(raw), TABLE(target), 'text_col', 'id_col', k
    * [, n[, buckets]]) → (id_col, score DOUBLE): the k raw documents whose
    * hashed-n-gram distribution is most target-like, best first —
    * [[graft.text.Dsir.select]] (Xie et al. 2023), the SQL spelling of the
    * Scala gate. Fit (two count passes + the driver-side weight table)
    * happens at resolution, like kmeans_assign's centroid fit. */
  def dsirSelectTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 5 || args.length > 7) throw new IllegalArgumentException(
      s"dsir_select(raw, target, text_col, id_col, k[, n[, buckets]]) " +
        s"takes 5 to 7 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.text.Dsir.select(
      table(spark, args(0), "dsir_select raw"),
      table(spark, args(1), "dsir_select target"),
      str(args(2), "dsir_select text_col"), str(args(3), "dsir_select id_col"),
      intLit(args(4), "dsir_select k"),
      if (args.length >= 6) intLit(args(5), "dsir_select n")
      else graft.text.Dsir.DefaultN,
      if (args.length == 7) intLit(args(6), "dsir_select buckets")
      else graft.text.Dsir.DefaultBuckets)
      .queryExecution.analyzed
  }

  /** perplexity_filter(TABLE(corpus), TABLE(reference), 'text_col',
    * max_perplexity[, n[, buckets]]) → the corpus rows whose perplexity
    * under a stupid-backoff n-gram LM fitted on the reference is ≤
    * max_perplexity (docs with < 2 tokens are dropped, CCNet's tail cut) —
    * [[graft.text.BucketLm]]'s SQL spelling. The fit (one fused count
    * pass over the REFERENCE only) happens at resolution; scoring is the
    * fused kernel expression, so the corpus side stays scan-only. */
  def perplexityFilterTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 4 || args.length > 6) throw new IllegalArgumentException(
      s"perplexity_filter(corpus, reference, text_col, max_perplexity" +
        s"[, n[, buckets]]) takes 4 to 6 arguments, got ${args.length}")
    val spark = SparkSession.active
    val textCol = str(args(2), "perplexity_filter text_col")
    val m = graft.text.BucketLm.fit(
      table(spark, args(1), "perplexity_filter reference"), textCol,
      buckets =
        if (args.length == 6) intLit(args(5), "perplexity_filter buckets")
        else graft.text.BucketLm.DefaultBuckets,
      n = if (args.length >= 5) intLit(args(4), "perplexity_filter n")
        else graft.text.BucketLm.DefaultOrder)
    graft.text.BucketLm.filterByPerplexity(
      table(spark, args(0), "perplexity_filter corpus"), textCol, m,
      dblLit(args(3), "perplexity_filter max_perplexity"))
      .queryExecution.analyzed
  }

  def annTopKTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 4) throw new IllegalArgumentException(
      s"ann_topk(queries, index_name, query_col, k) takes 4 arguments, got ${args.length}")
    val spark = SparkSession.active
    Vss.annTopK(table(spark, args(0), "ann_topk queries"),
      str(args(1), "ann_topk index_name"), str(args(2), "ann_topk query_col"),
      intLit(args(3), "ann_topk k"))
      .queryExecution.analyzed
  }

  /** ivfpq_topk(TABLE(queries), 'layout_path', 'vec_col', 'id_col',
    * 'query_id_col', 'query_vec_col', k, nprobe[, refine]) → batched
    * IVF-PQ ANN join over a [[graft.index.Pq.buildIvfPq]] layout. */
  def ivfPqTopKTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 8 || args.length > 9) throw new IllegalArgumentException(
      s"ivfpq_topk(queries, layout_path, vec_col, id_col, query_id_col, " +
        s"query_vec_col, k, nprobe[, refine]) takes 8 or 9 arguments, got ${args.length}")
    val spark = SparkSession.active
    graft.index.Pq.topKJoin(spark, str(args(1), "ivfpq_topk layout_path"),
      str(args(2), "ivfpq_topk vec_col"), str(args(3), "ivfpq_topk id_col"),
      table(spark, args(0), "ivfpq_topk queries"),
      str(args(4), "ivfpq_topk query_id_col"), str(args(5), "ivfpq_topk query_vec_col"),
      intLit(args(6), "ivfpq_topk k"), intLit(args(7), "ivfpq_topk nprobe"),
      if (args.length == 9) intLit(args(8), "ivfpq_topk refine") else 4)
      .queryExecution.analyzed
  }

  def lateralTopKTvf(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 6 || args.length > 7) throw new IllegalArgumentException(
      s"lateral_topk(outer, inner, outer_col, inner_col, outer_key, k[, metric]) " +
        s"takes 6 or 7 arguments, got ${args.length}")
    val spark = SparkSession.active
    Vss.lateralTopK(table(spark, args(0), "lateral_topk outer"),
      table(spark, args(1), "lateral_topk inner"),
      str(args(2), "lateral_topk outer_col"), str(args(3), "lateral_topk inner_col"),
      str(args(4), "lateral_topk outer_key"), intLit(args(5), "lateral_topk k"),
      if (args.length == 7) str(args(6), "lateral_topk metric") else "l2sq")
      .queryExecution.analyzed
  }

  def rangeJoin(args: Seq[Expression]): LogicalPlan = {
    if (args.length != 7) throw new IllegalArgumentException(
      s"range_join(points, intervals, key, ts, start, end, bucket_width) takes 7 arguments, got ${args.length}")
    val spark = SparkSession.active
    val points = table(spark, args(0), "range_join points")
    val intervals = table(spark, args(1), "range_join intervals")
    val k = keys(args(2), "range_join key")
    val (ts, s, e) = (str(args(3), "range_join ts"),
      str(args(4), "range_join start"), str(args(5), "range_join end"))
    // bucket_width 0 opts into the disjoint-interval merge path (one
    // window shuffle, no explode) — the caller asserts per-key intervals
    // never overlap (e.g. sessionization output). Any positive width uses
    // the general bucketized join.
    val width = lngLit(args(6), "range_join bucket_width")
    (if (width == 0L)
      graft.ops.RangeJoin.pointInDisjointIntervals(points, intervals, k, ts, s, e)
    else
      graft.ops.RangeJoin.pointInInterval(points, intervals, k, ts, s, e, width))
      .queryExecution.analyzed
  }
}
