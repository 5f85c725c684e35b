package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
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
    relation: LogicalPlan,
    base: String,
    meta: HnswIndexMeta,
    query: Array[Float],
    k: Int,
    ef: Int,
    condition: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None,
    /** Columns the parent actually consumes (always includes the id
      * column). The rowid fetch projects to these, so the parquet
      * ReadSchema shrinks accordingly — the reference's fetch-by-rowid
      * projection pushdown (hnsw_index_scan.cpp:95-121). Empty = all. */
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
 * Physical execution:
 *   1. ANN search through the index's one search path, [[Hnsw.searchBatch]],
 *      started from the driver like the reference's InitGlobal search
 *      (hnsw_index.cpp:315-341): the query is routed by the session's
 *      probeSegments/adaptiveProbeMargin, a few routed segments are
 *      searched on the driver and more as one Spark task per segment, and
 *      deleted rowids (catalog tombstones) are dropped before the top-k
 *      merge.
 *   2. Fetch the ≤k matching base rows with a rowid-IN sub-job — the IN
 *      filter reaches the parquet scan (predicate pushdown + row-group
 *      pruning), the Spark analogue of fetch-by-rowid with projection
 *      pushdown (hnsw_index_scan.cpp:95-121).
 *   3. Emit rows re-ordered to the ANN ranking, as a single partition
 *      (k < 2048 — bounded by the same guard as the reference).
 */
case class HnswIndexScanExec(
    output: Seq[Attribute],
    // Driver-only: the plan tree is shipped inside task closures by parent
    // operators, and a file relation (InMemoryFileIndex) is not serializable.
    // Search + fetch happen on the driver before any task is launched.
    @transient relation: LogicalPlan,
    base: String,
    meta: HnswIndexMeta,
    query: Array[Float],
    k: Int,
    ef: Int,
    @transient condition: Option[org.apache.spark.sql.catalyst.expressions.Expression])
  extends LeafExecNode {
  // Sub-job session: SparkPlan.session is the one active at planning time.

  override def executeCollect(): Array[InternalRow] = fetchOrdered()

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(fetchOrdered().toIndexedSeq, 1)

  /** One search + fetch round at candidate width `kFetch`; the fetch's
    * rowid-IN (and, for filtered scans, the residual predicate) reach the
    * parquet scan as pushed filters, and the fetch projects to `output`
    * (reference fetch projection pushdown, hnsw_index_scan.cpp:95-121).
    * Returns survivors in ANN rank order. */
  private def round(kFetch: Int): (Array[(Long, Double)], Array[InternalRow]) = {
    val hits = Hnsw.searchBatch(Some(session), base, meta, Array(query), kFetch,
      math.max(ef, kFetch), Hnsw.probeSegments(session), Hnsw.adaptiveProbeMargin(session)).head
    if (hits.isEmpty) return (hits, Array.empty)
    val idAttr = relation.output.find(_.name == meta.idColumn).getOrElse(
      throw new IllegalStateException(s"id column '${meta.idColumn}' not in relation"))
    val inFilter: org.apache.spark.sql.catalyst.expressions.Expression =
      In(idAttr, hits.map(h => Literal(h._1)).toIndexedSeq)
    val filtered = Filter(condition.fold(inFilter)(
      c => org.apache.spark.sql.catalyst.expressions.And(inFilter, c)), relation)
    val fetchPlan =
      if (output == relation.output) filtered
      else org.apache.spark.sql.catalyst.plans.logical.Project(output, filtered)
    val fetched = Bridge.ofRows(session, fetchPlan)
      .queryExecution.executedPlan.executeCollect()
    val idIdx = output.indexWhere(_.exprId == idAttr.exprId)
    val rank = hits.iterator.zipWithIndex.map { case ((id, _), i) => (id, i) }.toMap
    (hits, fetched.sortBy(r => rank.getOrElse(r.getLong(idIdx), Int.MaxValue)))
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
    bruteForce()
  }

  /** Starvation fallback: TopN over `Filter(cond, relation)` as an ordinary
    * distributed plan (scan → filter → TakeOrdered k). The Sort is tagged
    * so the TopN rewrite leaves it alone — without the tag this exact shape
    * would rewrite straight back into this node. */
  private def bruteForce(): Array[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, GlobalLimit, Project, Sort}
    val vecAttr = relation.output.find(_.name == meta.column).getOrElse(
      throw new IllegalStateException(s"vector column '${meta.column}' not in relation"))
    val qLit = Literal.create(query, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType, containsNull = false))
    val distExpr: org.apache.spark.sql.catalyst.expressions.Expression = meta.metric match {
      case "cosine" => graft.expressions.ArrayCosineDistance(vecAttr, qLit)
      case "ip" => graft.expressions.ArrayNegativeInnerProduct(vecAttr, qLit)
      case _ => graft.expressions.ArraySquaredDistance(vecAttr, qLit)
    }
    // NULL vectors are never in the index, so the index path never returns
    // them; exclude them here too for path-independent results.
    val filtered = Filter(org.apache.spark.sql.catalyst.expressions.And(
      condition.get, org.apache.spark.sql.catalyst.expressions.IsNotNull(vecAttr)), relation)
    val sorted = Sort(Seq(SortOrder(distExpr, Ascending)), global = true, filtered)
    sorted.setTagValue(HnswIndexScanExec.NoRewriteTag, true)
    val limited = GlobalLimit(Literal(k), LocalLimit(Literal(k), sorted))
    Bridge.ofRows(session, Project(output, limited))
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
}

object HnswIndexScanExec {
  /** Set on the brute-force fallback's Sort so the TopN rewrite leaves it
    * alone — that plan is the escape hatch FROM the index path. */
  val NoRewriteTag: org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.hnsw.noRewrite")
}

/** Planner strategy: logical [[HnswIndexScan]] → [[HnswIndexScanExec]]. */
class HnswStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: HnswIndexScan =>
      HnswIndexScanExec(s.output, s.relation, s.base, s.meta, s.query, s.k, s.ef,
        s.condition) :: Nil
    case j: HnswIndexJoinCore =>
      HnswIndexJoinCoreExec(planLater(j.child), j.base, j.meta, j.queryExpr,
        j.k, j.ef, j.extra, j.probeOverride) :: Nil
    case _ => Nil
  }
}
