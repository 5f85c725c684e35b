package vssbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/**
 * One workload: a set-up that runs [[Workload.SetupReps]] times, then a
 * closed loop of steps (one client; each step is one operation and its
 * output checks), then end-of-run checks.
 *
 * Every workload reports the same end-to-end metrics, with the meaning
 * given in the workload's [[endToEnd]]: `op_p50_ms` (median latency of its
 * foreground operation), `work_per_s` (its units of work per second over
 * all timed operations of the interleaved mix) and `recall` (answer
 * quality). [[detail]] gives the per-operation figures behind them.
 */
trait Workload {
  def setup(rep: Int): Unit
  /** Steps run once after set-up as warm-up (JIT, codegen, parquet
    * footers, the graph cache), with nothing recorded. */
  def warmupSteps: Int
  /** Steps in one pass through the workload's operation mix. */
  def cycleSteps: Int
  /** Untimed preparation of the expected outputs the checks compare to. */
  def prepareChecks(): Unit = ()
  def step(i: Int): Unit
  def finish(): Unit = ()
  def endToEnd: Seq[Metric]
  def detail: Seq[Metric]
  /** The workload's vector table and index, if it has one (layer probes
    * then run on it instead of on a probe table of their own). */
  def vectors: Option[Ops.VectorTable] = None
  def corpus: Option[(DocCorpus, DataFrame, DataFrame, DataFrame)] = None
  /** Counts that must repeat exactly for the same seed and step count. */
  def deterministicCounts: Seq[(String, Long)] = Nil
  /** A hash of the generated inputs: equal for equal seeds. */
  def inputHash: Int
}

object Workload {
  val SetupReps = 3
  val Dim = 32

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)
  def perSecond(units: Double, ms: Double): Double = if (ms <= 0) Double.NaN else units / (ms / 1000.0)

  /** Mean of the values recorded under `name` (NaN when none). */
  def mean(ctx: Ctx, name: String): Double = {
    val xs = ctx.recorded(name)
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  }
}

import Workload._

/**
 * serve: interleaved SQL top-k and filtered top-k (two unfiltered queries
 * per filtered one) over a parquet table with a default-built one-segment
 * HNSW index that fits the graph cache. Filters select 50%, 10%, 2% and
 * 0.5% of the rows, so the filtered scan's over-fetch escalation runs 1 to
 * 4 rounds. A query costs far more than its graph search, so planning, the
 * rewrite rules and the rowid-fetch sub-job dominate here.
 */
final class Serve(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val seed = ctx.args.seed
  private val n = if (ctx.tiny) 2000 else 3000
  private val nq = if (ctx.tiny) 30 else 200
  private val Thresholds = Seq(500, 100, 20, 5)
  private val name = "serve_idx"
  private var table: Ops.VectorTable = _
  private val exact = scala.collection.mutable.HashMap.empty[(Int, Int), Array[(Long, Double)]]

  def setup(rep: Int): Unit = {
    val space = new VectorSpace(seed, Dim)
    val vecs = space.sample(1, n)
    val keys = Array.tabulate(n)(_.toLong)
    val sel = Ops.selColumn(n, seed)
    val df = Ops.writeTable(spark, new File(ctx.dataDir, "serve"), keys, vecs, sel, files = 1)
    table = Ops.VectorTable(name, df, keys, vecs, sel, space.sample(2, nq))
    ctx.must("build")(Ops.build(ctx, name, df, n))
  }

  def warmupSteps: Int = 24
  def cycleSteps: Int = 12

  private def expected(qi: Int, t: Int): Array[(Long, Double)] =
    exact.getOrElseUpdate((qi, t), Exact.topK(table.queries(qi), table.keys, table.vecs, Ops.K, i => table.sel(i) < t))

  def step(i: Int): Unit = {
    val qi = i % nq
    val threshold = if (i % 3 == 2) Some(Thresholds((i / 3) % Thresholds.size)) else None
    val kind = if (threshold.isEmpty) "topk" else "filtered_topk"
    ctx.op(kind)(Ops.sqlTopK(ctx, table.df, table.queries(qi), threshold)).foreach { case ((rows, rewritten), ms) =>
      val t = threshold.getOrElse(1000)
      threshold.foreach(t => ctx.record(s"filtered_topk_ms.$t", ms))
      ctx.check(rows.length == Ops.K, s"$kind returned ${rows.length} rows, expected ${Ops.K}")
      ctx.check(rows.forall(_._2 < t), s"$kind returned a row with sel >= $t")
      ctx.check(rows.map(_._3).sameElements(rows.map(_._3).sorted), s"$kind rows are not in distance order")
      ctx.check(rewritten, s"$kind plan does not use the index scan")
      ctx.record("recall", Exact.recall(rows.map(_._1), expected(qi, t)))
    }
  }

  /** Queries per second of one 12-step cycle (eight unfiltered queries and
    * one filtered query per selectivity), from the median latency of each
    * query shape, so where the run's end cuts the mix does not matter. */
  private def queriesPerSecond: Double =
    perSecond(12, 8 * p50(ctx.ms("topk")) + Thresholds.map(t => p50(ctx.recorded(s"filtered_topk_ms.$t"))).sum)

  def endToEnd: Seq[Metric] = Seq(
    Metric("op_p50_ms", p50(ctx.ms("topk")), "ms"),
    Metric("work_per_s", queriesPerSecond, "1/s"),
    Metric("recall", mean(ctx, "recall"), "ratio"))

  def detail: Seq[Metric] = {
    val topk = ctx.ms("topk")
    Seq(
      Metric("topk_p50_ms", p50(topk), "ms"),
      Metric("topk_p90_ms", if (topk.isEmpty) Double.NaN else Stats.quantile(topk, 0.9), "ms"),
      Metric("topk_samples", topk.size.toDouble, "count"),
      Metric("filtered_topk_p50_ms", p50(ctx.ms("filtered_topk")), "ms"),
      Metric("filtered_topk_samples", ctx.ms("filtered_topk").size.toDouble, "count"),
      Metric("recall_at_10", mean(ctx, "recall"), "ratio"),
      Metric("index_bytes_per_vector", Ops.indexBytes(ctx, name).toDouble / n, "B"))
  }

  override def vectors: Option[Ops.VectorTable] = Option(table)
  def inputHash: Int = Ops.hashOf(table)
}

/**
 * curate: the README curation chain redactPii → filterByQuality →
 * dropContaminated → dropExactDuplicates → dropNearDuplicates →
 * Mix.byTokenBudget, materialized with a noop write and repeated. The
 * corpus has planted exact duplicates, near duplicates, PII, low-quality
 * documents and evaluation overlap. Bound by shuffles and string kernels,
 * not by the index.
 */
final class Curate(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val n = if (ctx.tiny) 600 else 2000
  private var c: DocCorpus = _
  private var frames: (DataFrame, DataFrame, DataFrame) = _
  private var failures: Seq[String] = Nil
  private var keptIds = Set.empty[Long]
  private var kept = 0L
  private var out = 0L

  def setup(rep: Int): Unit = {
    c = new DocCorpus(ctx.args.seed, n)
    frames = Ops.docFrames(spark, new File(ctx.dataDir, "curate"), c)
  }

  // The first three chains of a JVM run 20-30% slower (JIT); after them
  // the chain time is flat.
  def warmupSteps: Int = 3
  def cycleSteps: Int = 1

  /** One pass of the chain that collects what the checks need: the ids
    * kept before the mix and the rows after it. */
  override def prepareChecks(): Unit = {
    val (docs, eval, budgets) = frames
    val st = Ops.stages(eval, budgets)
    val deduped = st.init.foldLeft(docs) { case (d, (_, f)) => f(d) }.persist()
    keptIds = deduped.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val outRows = st.last._2(deduped)
      .select(col("doc_id"), col("source"), col("text"), col("cum_tokens")).collect()
    deduped.unpersist()
    kept = keptIds.size
    out = outRows.length
    failures = Ops.curationFailures(c, keptIds, outRows)
  }

  def step(i: Int): Unit = {
    val (docs, eval, budgets) = frames
    ctx.op("curate")(Ops.materialize(ctx, Ops.chain(ctx, docs, eval, budgets)))
  }

  override def finish(): Unit = failures.foreach(f => ctx.failAll("curate", f))

  /** Share of planted defect documents the chain removed. */
  private def removedShare: Double = {
    val planted = c.lowQuality ++ c.contaminated ++
      (c.exactGroups ++ c.nearClusters).flatMap(g => g.filterNot(_ == g.min))
    planted.count(id => !keptIds.contains(id)).toDouble / planted.size
  }

  def endToEnd: Seq[Metric] = Seq(
    Metric("op_p50_ms", p50(ctx.ms("curate")), "ms"),
    Metric("work_per_s", perSecond(n.toDouble * ctx.ms("curate").size, ctx.totalMs("curate")), "1/s"),
    Metric("recall", removedShare, "ratio"))

  def detail: Seq[Metric] = Seq(
    Metric("curate_docs_per_s", perSecond(n.toDouble * ctx.ms("curate").size, ctx.totalMs("curate")), "1/s"),
    Metric("curate_p50_ms", p50(ctx.ms("curate")), "ms"),
    Metric("docs_in", n.toDouble, "count"),
    Metric("docs_kept_before_mix", kept.toDouble, "count"),
    Metric("docs_out", out.toDouble, "count"))

  override def corpus: Option[(DocCorpus, DataFrame, DataFrame, DataFrame)] =
    Option(c).map(cc => (cc, frames._1, frames._2, frames._3))
  override def deterministicCounts: Seq[(String, Long)] = Seq(
    "docs_kept_before_mix" -> kept, "docs_out" -> out,
    "exact_groups" -> c.exactGroups.size.toLong, "near_clusters" -> c.nearClusters.size.toLong,
    "checks_failed" -> failures.size.toLong)
  def inputHash: Int = java.util.Arrays.hashCode(c.docs.map(_.hashCode))
}
