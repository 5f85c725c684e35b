package vssbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Hnsw
import graft.functions.{array_distance, lit_vector}
import graft.index.{HnswIndexMeta, IndexCatalog}
import graft.text.{Decontaminate, Dedup, Mix, TextFunctions => TF}

/**
 * The benchmark's calls into the program's public API, one method per
 * operation type, each wrapped in spans for the layer it enters. Shared by
 * the workloads' timed loops and by the traced run's layer probes.
 */
object Ops {
  val K = 10

  /** A vector table plus its index, as the workloads and probes use it. */
  final case class VectorTable(name: String, df: DataFrame, keys: Array[Long],
      vecs: Array[Array[Float]], sel: Array[Int], queries: Array[Array[Float]]) {
    def dim: Int = vecs.head.length
  }

  def hashOf(t: VectorTable): Int =
    java.util.Arrays.deepHashCode(Array[AnyRef](t.keys, t.vecs, t.sel, t.queries))

  def writeTable(spark: SparkSession, path: File, keys: Array[Long], vecs: Array[Array[Float]],
      sel: Array[Int], files: Int): DataFrame = {
    import spark.implicits._
    keys.indices.map(i => (keys(i), vecs(i), sel(i))).toDF("id", "vec", "sel")
      .repartition(files).write.mode("overwrite").parquet(path.getAbsolutePath)
    spark.read.parquet(path.getAbsolutePath)
  }

  /** Filter column whose values 0..999 each occur equally often, so
    * `sel < t` selects exactly t / 1000 of the rows. */
  def selColumn(n: Int, seed: Long): Array[Int] = {
    val perm = new scala.util.Random(seed).shuffle((0 until n).toVector)
    perm.map(_ % 1000).toArray
  }

  // ------------------------------------------------------------ SQL top-k

  /** `[WHERE sel < t] ORDER BY array_distance(vec, q) LIMIT k` through the
    * DataFrame API: (id, sel, distance) rows in result order. Records plan
    * time, execution time and whether the plan uses the index scan. */
  def sqlTopK(ctx: Ctx, df: DataFrame, q: Array[Float],
      threshold: Option[Int]): (Array[(Long, Int, Double)], Boolean) = {
    val base = threshold.fold(df)(t => df.where(col("sel") < t))
    val query = base
      .select(col("id"), col("sel"), array_distance(col("vec"), lit_vector(q)).as("d"))
      .orderBy("d").limit(K)
    val t0 = System.nanoTime()
    val plan = ctx.span("plan", "executedPlan")(query.queryExecution.executedPlan)
    val t1 = System.nanoTime()
    val rows = ctx.span("exec", "collect")(query.collect())
    val t2 = System.nanoTime()
    ctx.record("plan.ms", (t1 - t0) / 1e6)
    ctx.record("scan.exec_ms", (t2 - t1) / 1e6)
    val rewritten = plan.toString.contains("HnswIndexScanExec")
    ctx.record("plan.index_rewrite", if (rewritten) 1 else 0)
    (rows.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))), rewritten)
  }

  // --------------------------------------------------------- batch joins

  /** `Vss.lateralTopK(k)` of the query rows against the table: (q_id, id,
    * dist, rn) rows. Records whether the plan uses the index join. */
  def lateral(ctx: Ctx, queries: DataFrame,
      table: DataFrame): (Array[(Long, Long, Double, Int)], Boolean) = {
    val j = graft.api.Vss.lateralTopK(queries, table, "q_vec", "vec", "q_id", K)
      .select(col("q_id"), col("id"), col("dist"), col("rn"))
    val t0 = System.nanoTime()
    val plan = ctx.span("plan", "executedPlan")(j.queryExecution.executedPlan)
    ctx.record("plan.ms", (System.nanoTime() - t0) / 1e6)
    val rewritten = plan.toString.contains("HnswIndexJoinCoreExec")
    ctx.record("plan.index_rewrite", if (rewritten) 1 else 0)
    (ctx.span("exec", "collect")(j.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))), rewritten)
  }

  /** Brute-force `Vss.vssJoin(k)`: (q_id, id, score) rows. */
  def vssJoin(ctx: Ctx, queries: DataFrame, table: DataFrame): Array[(Long, Long, Double)] = {
    val j = graft.api.Vss.vssJoin(queries, table, "q_vec", "vec", K, leftKey = Some("q_id"))
      .select(col("left_tbl.q_id"), col("right_tbl.id"), col("score"))
    ctx.span("exec", "collect")(j.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  }

  def queryFrame(spark: SparkSession, path: File, queries: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    queries.indices.map(i => (i.toLong, queries(i))).toDF("q_id", "q_vec")
      .write.mode("overwrite").parquet(path.getAbsolutePath)
    spark.read.parquet(path.getAbsolutePath)
  }

  // ---------------------------------------------------------- index writes

  private def indexDir(ctx: Ctx, name: String): File = IndexCatalog.indexDir(ctx.indexBase.getAbsolutePath, name)

  /** Run an index write and record the bytes it wrote per vector written. */
  private def writing[T](ctx: Ctx, name: String, vectors: Long)(body: => T): T = {
    val before = Files.snapshot(indexDir(ctx, name))
    val r = body
    ctx.record("storage.bytes_written", Files.written(before, Files.snapshot(indexDir(ctx, name))).toDouble)
    ctx.record("storage.vectors_written", vectors.toDouble)
    r
  }

  def build(ctx: Ctx, name: String, df: DataFrame, vectors: Long): HnswIndexMeta =
    writing(ctx, name, vectors) {
      ctx.span("hnsw", "createIndex")(Hnsw.createIndex(ctx.spark, name, df, "vec", "id", overwrite = true))
    }

  def insert(ctx: Ctx, name: String, keys: Array[Long], vecs: Array[Array[Float]]): HnswIndexMeta = {
    import ctx.spark.implicits._
    val df = keys.indices.map(i => (keys(i), vecs(i))).toDF("id", "vec")
    writing(ctx, name, keys.length)(ctx.span("hnsw", "insert")(Hnsw.insert(ctx.spark, name, df)))
  }

  def delete(ctx: Ctx, name: String, keys: Seq[Long]): HnswIndexMeta =
    ctx.span("hnsw", "delete")(Hnsw.delete(ctx.spark, name, keys))

  def compact(ctx: Ctx, name: String, live: Long): HnswIndexMeta =
    writing(ctx, name, live)(ctx.span("hnsw", "compactIndex")(Hnsw.compactIndex(ctx.spark, name)))

  /** `Hnsw.topK`, the `hnsw_index_scan` surface: (id, distance) rows. */
  def read(ctx: Ctx, name: String, q: Array[Float]): Array[(Long, Double)] =
    ctx.span("hnsw", "topK")(Hnsw.topK(ctx.spark, name, q, K).collect())
      .map(r => (r.getLong(0), r.getDouble(1)))

  def indexBytes(ctx: Ctx, name: String): Long = Files.totalBytes(indexDir(ctx, name))

  // -------------------------------------------------------------- curation

  /** The chain's stages in order, each a function of the previous output. */
  def stages(eval: DataFrame, budgets: DataFrame): Seq[(String, DataFrame => DataFrame)] = Seq(
    "scrub" -> ((d: DataFrame) => d.withColumn("text", TF.redactPii(col("text")))),
    "quality" -> ((d: DataFrame) => TF.filterByQuality(d, "text", minScore = 0.5)),
    "decontam" -> ((d: DataFrame) => Decontaminate.dropContaminated(d, eval, "text", "doc_id")),
    "exact_dedup" -> ((d: DataFrame) => Dedup.dropExactDuplicates(d, "text", "doc_id")),
    "near_dedup" -> ((d: DataFrame) => Dedup.dropNearDuplicates(d, "text", "doc_id", threshold = 0.8)),
    "mix" -> ((d: DataFrame) => Mix.byTokenBudget(d, "doc_id", "text", "source", budgets)))

  /** The whole chain over `docs` (stage spans mark where each is built). */
  def chain(ctx: Ctx, docs: DataFrame, eval: DataFrame, budgets: DataFrame): DataFrame =
    stages(eval, budgets).foldLeft(docs) { case (d, (name, f)) => ctx.span("text", name)(f(d)) }

  def materialize(ctx: Ctx, df: DataFrame): Unit =
    ctx.span("exec", "noop write")(df.write.format("noop").mode("overwrite").save())

  /** Curation inputs written as parquet: (docs, eval, budgets) frames. */
  def docFrames(spark: SparkSession, dir: File, c: DocCorpus): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val docsPath = new File(dir, "docs").getAbsolutePath
    val evalPath = new File(dir, "eval").getAbsolutePath
    c.docs.toSeq.toDF("doc_id", "source", "text")
      .repartition(Runtime.getRuntime.availableProcessors()).write.mode("overwrite").parquet(docsPath)
    c.evalDocs.toSeq.toDF("text").write.mode("overwrite").parquet(evalPath)
    (spark.read.parquet(docsPath), spark.read.parquet(evalPath),
      c.budgets.toSeq.sortBy(_._1).toDF("source", "budget"))
  }

  /** Checks of the chain's output against the corpus's planted targets;
    * returns the failures (empty when all hold). `preMix` holds the ids
    * kept before the mix, `out` the (doc_id, source, text, cum_tokens) rows
    * after it. */
  def curationFailures(c: DocCorpus, preMix: Set[Long], out: Array[Row]): Seq[String] = {
    val pii = Seq(TF.EmailRe, TF.Ipv4Re, TF.PhoneRe).map(_.r)
    val bySource = out.groupBy(_.getString(1))
    val maxDoc = c.docs.map(d => c.tokens(d._3)).max
    Seq(
      Option.when(preMix != c.expectedKept)(
        s"kept before the mix: ${preMix.size} docs, expected ${c.expectedKept.size} " +
          s"(missing ${(c.expectedKept -- preMix).take(5)}, extra ${(preMix -- c.expectedKept).take(5)})"),
      Option.when(c.exactGroups.exists(g => g.count(preMix.contains) != 1))(
        "an exact-duplicate group does not keep exactly one document"),
      Option.when(c.nearClusters.exists(g => g.count(preMix.contains) != 1))(
        "a near-duplicate cluster did not collapse to one document"),
      Option.when(!out.forall(r => preMix.contains(r.getLong(0))))("the mix kept a dropped document"),
      Option.when(out.exists(r => pii.exists(_.findFirstIn(r.getString(2)).isDefined)))(
        "a PII pattern survived"),
      Option.when(bySource.exists { case (s, rs) =>
        val used = rs.map(r => c.tokens(r.getString(2))).sum
        val b = c.budgets(s)
        used > b || used <= b - maxDoc || rs.exists(_.getLong(3) > b)
      })("a source's token budget does not hold")).flatten
  }
}
