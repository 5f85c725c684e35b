package graft.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}

import graft.Hnsw
import graft.aggregates.MinMaxByK
import graft.expressions._
import graft.index.{HnswIndexMeta, IndexCatalog}
import graft.plans.HnswIndexScan

/**
 * O7 — scalar rewrite `1.0 - array_cosine_similarity(a,b)` →
 * `array_cosine_distance(a,b)`, enabling the top-k rule to match cosine
 * indexes (/root/reference/src/hnsw/hnsw_optimize_expr.cpp:17-70).
 */
object CosineDistanceRewrite extends Rule[LogicalPlan] {
  private def isOne(e: Expression): Boolean = e match {
    case Literal(1.0d, DoubleType) => true
    case Literal(1.0f, FloatType) => true
    case c: Cast => isOne(c.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Subtract(one, ArrayCosineSimilarity(a, b), _) if isOne(one) =>
      ArrayCosineDistance(a, b)
  }
}

/**
 * O3 + O4 — top-k → index-scan rewrite. Replaces, with an [[HnswIndexScan]]
 * of the k nearest rows,
 *  - `Limit(k, Sort(dist ASC, child))`, with or without a projection
 *    between the limit and the sort (O3, the reference's
 *    hnsw_optimize_scan.cpp:30-256), and
 *  - `min_by(col, dist, k)` with no GROUP BY: the same aggregate over the
 *    scan, which feeds it only the k nearest rows (O4,
 *    hnsw_optimize_topk.cpp:67-228). The reference
 *    swaps the aggregate for `list(col ORDER BY dist)`; re-running our
 *    bounded k-heap aggregate over the k scanned rows is equivalent (it
 *    returns them best-first).
 * `dist` is a distance function between an indexed column and a foldable
 * query vector ([[HnswMatch.matchIndex]]).
 *
 * Guard clauses mirror the reference's bail-outs: ASC only, single sort key,
 * a single min_by aggregate without DISTINCT or FILTER, 0 < k < 2048
 * (hnsw_optimize_topk.cpp:112-121,171-174), distance function must match the
 * index metric, and the query vector dimension must equal the index
 * dimension. Kill switch: `spark.graft.hnsw.rewrite.enabled=false` (the
 * `PRAGMA disable_optimizer` analogue used by hnsw_rewrite.test).
 *
 * A Filter under the Sort (`WHERE p ORDER BY dist LIMIT k` — the single most
 * common real ANN query) rewrites to a *filtered* index scan: the reference
 * pulls table filters above the k-limited scan and accepts fewer-than-k
 * post-filter semantics (hnsw_optimize_scan.cpp:161-198,
 * where_clause_segfault.test); [[HnswIndexScan]]'s exec instead searches
 * the index once with the allow-list of rowids that pass, preserving
 * standard SQL semantics. Mirroring the reference's refusal to rewrite under dynamic
 * filters (hnsw_optimize_scan.cpp:82-85), only deterministic, subquery-free
 * predicates over the scanned relation qualify. Under min_by a filter bails
 * out, as in the reference.
 */
class TopKToIndexScan(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!Hnsw.rewriteEnabled(session)) return plan
    plan.transformDown {
      // The Limit's output is the sort child's: a scan that fetches fewer
      // columns is projected back to it.
      case l @ Limit(IntegerLiteral(k),
          Sort(Seq(SortOrder(key, Ascending, _, _)), true, child, _)) if HnswMatch.validK(k) =>
        indexScan(child, key, k, child.outputSet, filters = true)
          .map(p => if (p.output == child.output) p else Project(child.output, p))
          .getOrElse(l)
      // PushProjectionThroughLimit moves post-sort projections between the
      // limit and the sort; the reference's MergeProjections handles the
      // same shape (hnsw_optimize_scan.cpp:211-249). The outer projection's
      // references bound what the scan must fetch (projection pushdown).
      case l @ Limit(IntegerLiteral(k),
          Project(pl, Sort(Seq(SortOrder(key, Ascending, _, _)), true, child, _)))
          if HnswMatch.validK(k) =>
        indexScan(child, key, k, AttributeSet(pl.flatMap(_.references)), filters = true)
          .map(Project(pl, _)).getOrElse(l)
      case agg @ Aggregate(Nil, aggs, child, _) =>
        aggs.flatMap(_.collect { case ae: AggregateExpression => ae }) match {
          // A FILTER clause selects rows the k nearest may not hold.
          case Seq(AggregateExpression(MinMaxByK(_, order, IntegerLiteral(k), true, _, _), _,
              false, None, _)) if HnswMatch.validK(k) =>
            indexScan(child, order, k, agg.references, filters = false)
              .map(scan => agg.copy(child = scan)).getOrElse(agg)
          case _ => agg
        }
    }
  }

  /** The index scan that replaces `child`, ordered by `key`, or None.
    * Peels `[Project with aliases] [Filter] [Project of attributes]
    * relation`, resolving `key` through the aliases. `filters = false`
    * (under min_by) refuses a Filter and keeps any projection over the
    * relation above the scan, not only an aliasing one. `needed` (what the
    * consumer reads of `child`) prunes that projection to the entries it
    * consumes, and the scan's `required` columns are then that
    * projection's references (else `needed`) plus the id column, so the
    * rowid fetch reads only consumed columns — the analogue of the
    * reference's fetch projection pushdown (hnsw_index_scan.cpp:95-121).
    * The residual predicate is applied under the fetch projection, so its
    * columns need not be in `required`. */
  private def indexScan(child: LogicalPlan, key: Expression, k: Int, needed: AttributeSet,
      filters: Boolean): Option[LogicalPlan] = {
    val (topProj, belowTop) = child match {
      case Project(pl, c) if !filters || pl.exists(_.isInstanceOf[Alias]) => (Some(pl), c)
      case c => (None, c)
    }
    val (cond, belowFilter) = belowTop match {
      case Filter(p, c) if filters => (Some(p), c)
      case c => (None, c)
    }
    val relation = belowFilter match {
      // Column pruning may sit between the filter and the scan.
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => c
      case c => c
    }
    relation match {
      // The scan fetches rows through the file reader, which serves the
      // table's own columns: a relation that also outputs a metadata column
      // (`_metadata`) keeps its ordinary plan. Dynamic-filter analogue
      // (hnsw_optimize_scan.cpp:82-85): only deterministic, subquery-free
      // predicates over the relation.
      case rel @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if rel.output.forall(o => fs.schema.fieldNames.contains(o.name)) &&
            cond.forall(c => c.deterministic && c.references.subsetOf(rel.outputSet) &&
              !c.exists(_.isInstanceOf[PlanExpression[_]])) =>
        val dist = topProj.fold(key)(HnswMatch.resolveAliases(_, key))
        val base = Hnsw.baseDir(session)
        for {
          (meta, query) <- HnswMatch.matchIndex(base, rel, dist)
          qvec <- HnswMatch.foldableVec(query) if qvec.length == meta.dim
        } yield {
          val pruned = topProj.map { pl =>
            val kept = pl.filter(ne => needed.contains(ne.toAttribute))
            if (kept.nonEmpty) kept else pl
          }
          val refs = pruned.fold(needed)(pl => AttributeSet(pl.flatMap(_.references)))
          val scan = HnswIndexScan(rel, base, meta, qvec, k,
            Hnsw.efSearch(session, meta), cond,
            required = rel.output.filter(a => refs.contains(a) || a.name == meta.idColumn))
          pruned.fold[LogicalPlan](scan)(Project(_, scan))
        }
      case _ => None
    }
  }
}

/** Index matching shared by [[TopKToIndexScan]] and `Vss.lateralTopK` — the
  * analogue of `HNSWIndex::TryMatchDistanceFunction` + `TryBindIndexExpression`
  * (/root/reference/src/hnsw/hnsw_index.cpp:635-689). */
object HnswMatch {

  /** The k range every rewrite accepts (hnsw_optimize_topk.cpp:171-174). */
  def validK(k: Int): Boolean = k > 0 && k < 2048

  /** (metrics that serve this function, arg a, arg b). l2sq indexes serve
    * both `array_distance` (sqrt) and `array_squared_distance` — monotone
    * orderings (hnsw_index.cpp:659-673). */
  def distanceArgs(e: Expression): Option[(Set[String], Expression, Expression)] = e match {
    case ArrayDistance(a, b) => Some((Set("l2sq"), a, b))
    case ArraySquaredDistance(a, b) => Some((Set("l2sq"), a, b))
    case ArrayCosineDistance(a, b) => Some((Set("cosine"), a, b))
    case ArrayNegativeInnerProduct(a, b) => Some((Set("ip"), a, b))
    case _ => None
  }

  @scala.annotation.tailrec
  def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  /** `e` with the attributes `projList` aliases replaced by their
    * definitions. */
  def resolveAliases(projList: Seq[NamedExpression], e: Expression): Expression = {
    val defs = projList.collect { case al: Alias => al.toAttribute.exprId -> al.child }.toMap
    e.transform { case a: Attribute if defs.contains(a.exprId) => defs(a.exprId) }
  }

  /** Evaluate a foldable vector argument to Array[Float]. */
  def foldableVec(e: Expression): Option[Array[Float]] =
    if (!e.foldable) None
    else (e.eval(), e.dataType) match {
      case (ad: ArrayData, ArrayType(FloatType, _)) => Some(ad.toFloatArray())
      case (ad: ArrayData, ArrayType(DoubleType, _)) => Some(ad.toDoubleArray().map(_.toFloat))
      case _ => None
    }

  /** The catalog index that serves distance expression `dist` on a column
    * of file relation `rel`, and the other argument (the query side), trying
    * both argument orders. An index serves when its metric serves the
    * function and it was built over `rel`'s root paths, on that column,
    * keyed by a BIGINT id column of `rel`; of several, the first by name.
    * The catalog is listed once. Callers check the query side. */
  def matchIndex(base: String, rel: LogicalRelation,
      dist: Expression): Option[(HnswIndexMeta, Expression)] = {
    val (metrics, a, b) = distanceArgs(dist).getOrElse(return None)
    val paths = rel.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).distinct.sorted
      case _ => return None
    }
    val sides = Seq((stripCast(a), b), (stripCast(b), a)).collect {
      case (column: AttributeReference, query) if rel.output.exists(_.exprId == column.exprId) =>
        (column.name, query)
    }
    if (sides.isEmpty) return None
    val indexes = IndexCatalog.list(base).filter(m =>
      metrics.contains(m.metric) && m.paths == paths &&
        rel.output.exists(o => o.name == m.idColumn && o.dataType == LongType))
    sides.view.flatMap { case (column, query) =>
      indexes.find(_.column == column).map(m => (m, query))
    }.headOption
  }
}
