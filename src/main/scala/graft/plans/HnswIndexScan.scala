package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeSet,
  Expression, IsNotNull, Literal, NamedExpression, SortOrder, SubqueryExpression,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LeafNode, LocalLimit,
  LogicalPlan, Project, Sort, Statistics}
import org.apache.spark.sql.execution.{ExplainUtils, LeafExecNode, SQLExecution, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.graftbridge.Bridge

import graft.Hnsw
import graft.index.HnswIndexMeta

/**
 * Logical ANN index scan — what the TopN/min_by rewrites install in place of
 * `Limit(k, Sort(dist, scan))`. The Spark analogue of the reference's
 * `hnsw_index_scan` table function (/root/reference/src/hnsw/
 * hnsw_index_scan.cpp:22-192): emits the base relation's rows for the k
 * nearest neighbors of `query`, ordered by ascending index-metric distance.
 *
 * `relation` is kept as a field (not a child) so downstream optimizer rules
 * cannot push operators into the already-k-limited scan — the analogue of
 * the reference refusing filter pushdown into the index scan
 * (hnsw_optimize_scan.cpp:161-198).
 *
 * `condition`, when set, makes this a *filtered* top-k scan
 * (`WHERE p ORDER BY dist LIMIT k`): the exec over-fetches candidates,
 * post-filters, and escalates until k survivors are found or the index is
 * exhausted — so unlike the reference's filter pull-up (which accepts
 * fewer-than-k post-filter semantics, hnsw_optimize_scan.cpp:161-198 +
 * where_clause_segfault.test), standard SQL semantics are preserved.
 */
case class HnswIndexScan(
    relation: LogicalRelation,
    base: String,
    meta: HnswIndexMeta,
    query: Array[Float],
    k: Int,
    ef: Int,
    condition: Option[Expression] = None,
    /** Columns the parent actually consumes (always includes the id
      * column). The rowid fetch reads only these (or, when a projection
      * above is folded into the exec, only that projection's columns), so
      * the parquet ReadSchema shrinks accordingly — the reference's
      * fetch-by-rowid projection pushdown (hnsw_index_scan.cpp:95-121).
      * Empty = all. */
    required: Seq[Attribute] = Nil)
  extends LeafNode {

  override def output: Seq[Attribute] =
    if (required.nonEmpty) required else relation.output

  /** Cardinality = k, like the reference scan (hnsw_index_scan.cpp:150-153). */
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = k.toLong * 256L, rowCount = Some(BigInt(k)))

  override def simpleString(maxFields: Int): String =
    s"HnswIndexScan [index=${meta.name}, metric=${meta.metric}, k=$k, ef=$ef" +
      condition.map(c => s", filtered=${c.sql}]").getOrElse("]")
}

/**
 * Physical execution, started from `executeCollect` on the driver:
 *   1. ANN search through the index's one search path, [[Hnsw.searchBatch]],
 *      started from the driver like the reference's InitGlobal search
 *      (hnsw_index.cpp:315-341): the query is routed by the session's
 *      probeSegments/adaptiveProbeMargin, a few routed segments are
 *      searched on the driver and more as one Spark task per segment, and
 *      deleted rowids (catalog tombstones) are dropped before the top-k
 *      merge.
 *   2. Fetch the hits' rows by rowid ([[RowidFetch]]), the Spark analogue
 *      of the reference's fetch-by-rowid with projection pushdown
 *      (hnsw_index_scan.cpp:95-121): no query is planned. The relation's
 *      file reader for this fetch shape (columns, condition, session
 *      confs) is built once and cached; each fetch reads only the parquet
 *      row groups whose id statistics can hold a hit, and applies rowid
 *      membership, `condition` and `projectList` (plus the rowid when the
 *      projection drops it) to their rows. Splits that pack into one
 *      partition are read in the calling thread, like the reference's
 *      in-process fetch; more run as one job.
 *   3. Put the fetched rows in ANN rank order and drop a rowid the
 *      projection did not ask for.
 *
 * [[HnswStrategy]] folds the projection above the logical scan into this
 * node, so a top-k query's plan is this node alone. `collect` runs no job
 * unless a fetch's splits exceed `spark.sql.files.maxPartitionBytes`, and
 * then one per fetch round (the "fetch jobs" metric). The brute-force
 * fallback of a starved filtered query is the one fetch that is planned
 * as an ordinary query. Under another operator (an aggregate, a join) the
 * ≤ k rows are handed on as a one-partition RDD.
 */
case class HnswIndexScanExec(
    projectList: Seq[NamedExpression],
    // Driver-only: the plan tree is shipped inside task closures by parent
    // operators, and a file relation (InMemoryFileIndex) is not serializable.
    // Search + fetch happen on the driver before any task is launched.
    @transient relation: LogicalRelation,
    base: String,
    meta: HnswIndexMeta,
    query: Array[Float],
    k: Int,
    ef: Int,
    @transient condition: Option[Expression])
  extends LeafExecNode {
  // Sub-job session: SparkPlan.session is the one active at planning time.

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "fetchRounds" -> SQLMetrics.createMetric(sparkContext, "fetch rounds"),
    "fetchJobs" -> SQLMetrics.createMetric(sparkContext, "fetch jobs"),
    "rowsFetched" -> SQLMetrics.createMetric(sparkContext, "rows fetched"),
    "bruteForce" -> SQLMetrics.createMetric(sparkContext, "brute-force fallback"),
    "searchTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "search time"),
    "fetchTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "fetch time"),
    "rowGroupsRead" -> SQLMetrics.createMetric(sparkContext, "row groups read"),
    "readerBuilds" -> SQLMetrics.createMetric(sparkContext, "reader builds"))

  @transient private lazy val idAttr: Attribute =
    relation.output.find(_.name == meta.idColumn).getOrElse(
      throw new IllegalStateException(s"id column '${meta.idColumn}' not in relation"))

  /** Position of the rowid (a BIGINT: the rewrite rules match only such
    * id columns) in the projection, when it is there as is. */
  @transient private lazy val idOrdinal: Int = projectList.indexWhere {
    case a: Attribute => a.exprId == idAttr.exprId
    case _ => false
  }

  /** What the fetch computes: the projection, plus the rowid for ranking
    * when the projection does not carry it. */
  @transient private lazy val fetchList: Seq[NamedExpression] =
    if (idOrdinal >= 0) projectList else projectList :+ idAttr

  /** Base-relation columns the fetch reads for its projection. */
  def fetchColumns: Seq[Attribute] = {
    val refs = AttributeSet(fetchList.flatMap(_.references))
    relation.output.filter(refs.contains)
  }

  override def executeCollect(): Array[InternalRow] = {
    val rows = fetchOrdered()
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    if (idOrdinal >= 0) rows
    else {
      val drop = UnsafeProjection.create(output, fetchList.map(_.toAttribute))
      rows.map(r => drop(r).copy(): InternalRow)
    }
  }

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toIndexedSeq, 1)

  /** One search + fetch round at candidate width `kFetch`. Returns the
    * search hits and the fetched rows (`fetchList`) in ANN rank order. */
  private def round(kFetch: Int): (Array[(Long, Double)], Array[InternalRow]) = {
    val t0 = System.nanoTime()
    val hits = Hnsw.searchBatch(Some(session), base, meta, Array(query), kFetch,
      math.max(ef, kFetch), Hnsw.probeSegments(session), Hnsw.adaptiveProbeMargin(session)).head
    metrics("searchTime") += System.nanoTime() - t0
    if (hits.isEmpty) return (hits, Array.empty)
    val t1 = System.nanoTime()
    val f = RowidFetch.fetch(session, relation, idAttr, hits.map(_._1), condition, fetchList)
    metrics("fetchTime") += System.nanoTime() - t1
    metrics("rowGroupsRead") += f.splits
    if (f.readerBuilt) metrics("readerBuilds") += 1
    if (f.job) metrics("fetchJobs") += 1
    val fetched = f.rows
    metrics("fetchRounds") += 1
    metrics("rowsFetched") += fetched.length
    val rankOrdinal = if (idOrdinal >= 0) idOrdinal else projectList.length
    val rank = hits.iterator.zipWithIndex.map { case ((id, _), i) => (id, i) }.toMap
    (hits, fetched.sortBy(r => rank.getOrElse(r.getLong(rankOrdinal), Int.MaxValue)))
  }

  private def fetchOrdered(): Array[InternalRow] = {
    if (condition.isEmpty) return round(k)._2
    // Filtered top-k: over-fetch, post-filter, escalate until k survivors,
    // the index is provably exhausted, or the candidate width passes the
    // fetch budget — then fall back to a fully-distributed brute-force
    // TopN over the filtered relation (never collect the index into an
    // IN-literal list the driver can't hold).
    val tombCount = graft.index.TombstoneCache.get(base, meta.name).size
    var kFetch = math.min(math.max(k.toLong * OverfetchFactor, k + 16L),
      Int.MaxValue.toLong).toInt
    val budget = math.max(MaxIndexFetch, kFetch)
    while (kFetch <= budget) {
      val (hits, survivors) = round(kFetch)
      if (survivors.length >= k) return survivors.take(k)
      // `hits < kFetch` proves every live entry was considered ONLY when
      // the per-segment tombstone over-fetch cap cannot have swallowed live
      // candidates; with more tombstones the proof needs kFetch to cover
      // every graph entry, dead or alive.
      val capSafe = tombCount <= Hnsw.MaxTombstoneOverfetch || kFetch >= meta.count + tombCount
      if (hits.length < kFetch && capSafe) return survivors
      if (kFetch >= meta.count + tombCount) return survivors
      kFetch = math.min(kFetch * 4L, Int.MaxValue.toLong).toInt
    }
    metrics("bruteForce") += 1
    bruteForce()
  }

  /** Starvation fallback: TopN over `Filter(cond, relation)` as an ordinary
    * distributed plan (scan → filter → TakeOrdered k), projected to
    * `fetchList`. The Sort is tagged so the TopN rewrite leaves it alone —
    * without the tag this exact shape would rewrite straight back into
    * this node. */
  private def bruteForce(): Array[InternalRow] = {
    val vecAttr = relation.output.find(_.name == meta.column).getOrElse(
      throw new IllegalStateException(s"vector column '${meta.column}' not in relation"))
    val qLit = Literal.create(query, ArrayType(FloatType, containsNull = false))
    val distExpr: Expression = meta.metric match {
      case "cosine" => graft.expressions.ArrayCosineDistance(vecAttr, qLit)
      case "ip" => graft.expressions.ArrayNegativeInnerProduct(vecAttr, qLit)
      case _ => graft.expressions.ArraySquaredDistance(vecAttr, qLit)
    }
    // NULL vectors are never in the index, so the index path never returns
    // them; exclude them here too for path-independent results.
    val filtered = Filter(And(condition.get, IsNotNull(vecAttr)), relation)
    val sorted = Sort(Seq(SortOrder(distExpr, Ascending)), global = true, filtered)
    sorted.setTagValue(HnswIndexScanExec.NoRewriteTag, true)
    val limited = GlobalLimit(Literal(k), LocalLimit(Literal(k), sorted))
    Bridge.ofRows(session, Project(fetchList, limited))
      .queryExecution.executedPlan.executeCollect()
  }

  private def OverfetchFactor: Int =
    session.conf.get(Hnsw.FilteredOverfetchKey, "4").toInt

  /** Widest index candidate fetch before brute force takes over. */
  private def MaxIndexFetch: Int =
    session.conf.get(Hnsw.FilteredMaxFetchKey, "16384").toInt

  override def simpleString(maxFields: Int): String =
    s"HnswIndexScanExec [index=${meta.name}, metric=${meta.metric}, k=$k, ef=$ef" +
      condition.map(c => s", filtered=${c.sql}]").getOrElse("]")

  /** `explain("formatted")`: output, fetch columns and the metrics of the
    * runs so far. */
  override def verboseStringWithOperatorId(): String = {
    val ms = Seq("fetchRounds", "fetchJobs", "rowGroupsRead", "readerBuilds", "rowsFetched",
      "bruteForce").map(metrics).map(m => s"${m.name.getOrElse("")}: ${m.value}") ++
      Seq("searchTime", "fetchTime").map(metrics)
        .map(m => f"${m.name.getOrElse("")}: ${m.value / 1e6}%.3f ms")
    s"""
       |$formattedNodeName
       |${ExplainUtils.generateFieldString("Output", output)}
       |${ExplainUtils.generateFieldString("Fetch columns", fetchColumns)}
       |Metrics: ${ms.mkString(", ")}
       |""".stripMargin
  }
}

object HnswIndexScanExec {
  /** Set on the brute-force fallback's Sort so the TopN rewrite leaves it
    * alone — that plan is the escape hatch FROM the index path. */
  val NoRewriteTag: org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.hnsw.noRewrite")
}

/** Planner strategy: logical [[HnswIndexScan]], with the projection above
  * it, → [[HnswIndexScanExec]]; [[HnswIndexJoinCore]] →
  * [[HnswIndexJoinCoreExec]]. */
class HnswStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // The projection above the scan is computed by the fetch, which makes
    // the scan the plan root. Subqueries stay in a ProjectExec above.
    case Project(pl, s: HnswIndexScan) if !pl.exists(SubqueryExpression.hasSubquery) =>
      exec(pl, s) :: Nil
    case s: HnswIndexScan => exec(s.output, s) :: Nil
    case j: HnswIndexJoinCore =>
      HnswIndexJoinCoreExec(planLater(j.child), j.base, j.meta, j.queryExpr,
        j.k, j.ef, j.extra, j.probeOverride) :: Nil
    case _ => Nil
  }

  private def exec(pl: Seq[NamedExpression], s: HnswIndexScan): HnswIndexScanExec =
    HnswIndexScanExec(pl, s.relation, s.base, s.meta, s.query, s.k, s.ef, s.condition)
}
