package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression,
  NamedExpression, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.execution.{ExplainUtils, LeafExecNode, SQLExecution, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.Hnsw
import graft.index.HnswIndexMeta

/**
 * Logical ANN index scan — what the top-k rewrite (`TopKToIndexScan`, for
 * TopN and min_by) installs in place of
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
 * (`WHERE p ORDER BY dist LIMIT k`): the exec collects the rowids that pass
 * it, and one index search admits only those to its result — so unlike the
 * reference's filter pull-up (which accepts fewer-than-k post-filter
 * semantics, hnsw_optimize_scan.cpp:161-198 + where_clause_segfault.test),
 * standard SQL semantics are preserved: k rows whenever k indexed rows
 * qualify.
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
 *   1. Filtered scans only: the allow-list pass ([[RowidFetch.allowList]])
 *      reads the rowid and `condition`'s columns from every row group and
 *      collects the rowids that pass, sorted. With none, the scan returns no
 *      rows without a search or a fetch. The list costs 8 bytes per
 *      qualifying row on the driver; past [[HnswIndexScanExec.maxAllowedIds]]
 *      (an eighth of the driver's max heap) the query fails and names the
 *      rewrite's kill switch. Its row groups come from the driver's
 *      row-group cache, as the fetch's do (step 3): the cache key leaves the
 *      condition out, so a new predicate, or a new literal, reads no file.
 *   2. One ANN search through the index's one search path,
 *      [[Hnsw.searchBatch]], started from the driver like the reference's
 *      InitGlobal search (hnsw_index.cpp:315-341): the query is routed by
 *      the session's probeSegments/adaptiveProbeMargin, a few routed
 *      segments are searched on the driver and more as one Spark task per
 *      segment. Only allowed nodes — not tombstoned and, when filtered, on
 *      the allow-list — enter the result, and a segment the traversal
 *      cannot fill is answered by exact distances, so a filtered query
 *      returns k rows whenever k indexed rows qualify (the predicate-agnostic
 *      filtered HNSW search of ACORN, Patel et al., SIGMOD 2024).
 *   3. Fetch the hits' rows by rowid ([[RowidFetch]]), the Spark analogue
 *      of the reference's fetch-by-rowid from in-memory column segments with
 *      projection pushdown (hnsw_index_scan.cpp:95-121): no query is
 *      planned. Only the parquet row groups whose id statistics can hold a
 *      hit are read, and rowid membership, `condition` and `projectList`
 *      (plus the rowid when the projection drops it) apply to their rows.
 *      When the row groups pack into one partition, each is taken from the
 *      driver's row-group cache: its full decoded rows, keyed by the file's
 *      path, length and mtime, the row group's start, the read columns, the
 *      session's SQL confs and the SparkContext, within a sixteenth of the
 *      driver's max heap (LRU). A miss is read once in the calling thread
 *      through a reader that pushes no filters — parquet's column-index and
 *      dictionary filtering would drop rows another condition needs — and a
 *      row group over a quarter of the budget is streamed, never kept. More
 *      than one partition is read as one job through the cached reader with
 *      the condition pushed.
 *   4. Put the fetched rows in ANN rank order and drop a rowid the
 *      projection did not ask for.
 *
 * [[HnswStrategy]] folds the projection above the logical scan into this
 * node, so a top-k query's plan is this node alone. `collect` runs no job
 * unless a read's splits exceed `spark.sql.files.maxPartitionBytes`, and
 * then one per read (the "fetch jobs" metric counts the fetch's); a warm
 * query reads no file. "row groups read" and "row groups cached" count the
 * pass's and the fetch's row groups decoded from files and served from
 * memory; "segments searched", "graph loads" and "graph load time" the
 * search's segments and its graph-cache misses. Under another operator (an
 * aggregate, a join) the ≤ k rows are handed on as a one-partition RDD.
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
    "rowsAllowed" -> SQLMetrics.createMetric(sparkContext, "rows allowed"),
    "exactSearches" -> SQLMetrics.createMetric(sparkContext, "exact segment searches"),
    "allowTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "allow-list time"),
    "searchTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "search time"),
    "fetchTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "fetch time"),
    "rowGroupsRead" -> SQLMetrics.createMetric(sparkContext, "row groups read"),
    "rowGroupsCached" -> SQLMetrics.createMetric(sparkContext, "row groups cached"),
    "readerBuilds" -> SQLMetrics.createMetric(sparkContext, "reader builds"),
    "segmentsSearched" -> SQLMetrics.createMetric(sparkContext, "segments searched"),
    "graphLoads" -> SQLMetrics.createMetric(sparkContext, "graph loads"),
    "graphLoadTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "graph load time"))

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

  /** The allow-list pass, one search, one fetch: the k rows (`fetchList`)
    * in ANN rank order. */
  private def fetchOrdered(): Array[InternalRow] = {
    val allow = condition.map { c =>
      val t0 = System.nanoTime()
      val max = HnswIndexScanExec.maxAllowedIds(Runtime.getRuntime.maxMemory)
      val pass = RowidFetch.allowList(session, relation, idAttr, c, max)
      metrics("allowTime") += System.nanoTime() - t0
      count(pass)
      if (pass.rows.length > max) throw new IllegalStateException(
        s"filtered top-k on index '${meta.name}': more than $max rows pass ${c.sql}, " +
          "over the allow-list's bound of an eighth of the driver's max heap; raise " +
          s"spark.driver.memory or set ${Hnsw.RewriteEnabledKey}=false to run the query " +
          "without the index")
      metrics("rowsAllowed") += pass.rows.length
      pass.rows
    }
    if (allow.exists(_.isEmpty)) return Array.empty
    val t0 = System.nanoTime()
    val found = Hnsw.searchBatch(Some(session), base, meta, Array(query), k, ef,
      Hnsw.probeSegments(session), Hnsw.adaptiveProbeMargin(session), allow)
    metrics("searchTime") += System.nanoTime() - t0
    metrics("exactSearches") += found.exactSearches
    metrics("segmentsSearched") += found.segments
    metrics("graphLoads") += found.graphLoads
    metrics("graphLoadTime") += found.loadNanos
    val hits = found.hits.head
    if (hits.isEmpty) return Array.empty
    val t1 = System.nanoTime()
    val f = RowidFetch.fetch(session, relation, idAttr, hits.map(_._1), condition, fetchList)
    metrics("fetchTime") += System.nanoTime() - t1
    count(f)
    if (f.job) metrics("fetchJobs") += 1
    metrics("fetchRounds") += 1
    metrics("rowsFetched") += f.rows.length
    val rankOrdinal = if (idOrdinal >= 0) idOrdinal else projectList.length
    val rank = hits.iterator.zipWithIndex.map { case ((id, _), i) => (id, i) }.toMap
    f.rows.sortBy(r => rank.getOrElse(r.getLong(rankOrdinal), Int.MaxValue))
  }

  /** A read's row groups, from files and from memory, and reader build. */
  private def count(read: RowidFetch.Result[_]): Unit = {
    metrics("rowGroupsRead") += read.splitsRead
    metrics("rowGroupsCached") += read.splitsCached
    if (read.readerBuilt) metrics("readerBuilds") += 1
  }

  override def simpleString(maxFields: Int): String =
    s"HnswIndexScanExec [index=${meta.name}, metric=${meta.metric}, k=$k, ef=$ef" +
      condition.map(c => s", filtered=${c.sql}]").getOrElse("]")

  /** `explain("formatted")`: output, fetch columns and the metrics of the
    * runs so far. */
  override def verboseStringWithOperatorId(): String = {
    val ms = Seq("fetchRounds", "fetchJobs", "rowGroupsRead", "rowGroupsCached",
      "readerBuilds", "rowsFetched", "rowsAllowed", "exactSearches", "segmentsSearched",
      "graphLoads").map(metrics)
      .map(m => s"${m.name.getOrElse("")}: ${m.value}") ++
      Seq("allowTime", "searchTime", "graphLoadTime", "fetchTime").map(metrics)
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
  /** Most rowids a filtered scan's allow-list may hold: 8 bytes each, at
    * most an eighth of the driver's max heap `maxHeap`. */
  def maxAllowedIds(maxHeap: Long): Int =
    math.min(maxHeap / 64, Int.MaxValue - 8L).toInt
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
