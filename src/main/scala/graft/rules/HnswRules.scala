package graft.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}

import graft.Hnsw
import graft.aggregates.MinMaxByK
import graft.expressions._
import graft.index.{HnswIndexMeta, IndexCatalog}
import graft.plans.{HnswIndexJoinCore, HnswIndexScan}

/**
 * O7 — scalar rewrite `1.0 - array_cosine_similarity(a,b)` →
 * `array_cosine_distance(a,b)`, enabling the TopN/min_by/join rules to match
 * cosine indexes (/root/reference/src/hnsw/hnsw_optimize_expr.cpp:17-70).
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

/**
 * O5+O6 — lateral top-k → index join. Matches Spark's canonical top-k-per-
 * outer-row shape (what `Vss.lateralTopK` and hand-written window queries
 * produce). Note Spark's analyzer REJECTS the reference's SQL spelling
 * (`LATERAL … ORDER BY dist(outer,inner) LIMIT k` fails with
 * UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.CORRELATED_REFERENCE — outer
 * references are only allowed in WHERE/HAVING), so the window form below is
 * the one way this query exists in Spark, and the one shape to accelerate:
 *
 *   Filter(rn <= k,
 *     Window([rn := row_number() over (partition by outerKey order by dist ASC)],
 *       [Project], Join(outer, indexedInner, Inner|Cross, no condition)))
 *
 * and replaces it with
 *
 *   Project(original output,
 *     Join(HnswIndexJoinCore(outer), indexedInner, Inner, __hnsw_id = rowid))
 *
 * — the analogue of the reference's delim-join pattern match + plan surgery
 * (/root/reference/src/hnsw/hnsw_optimize_join.cpp:349-697), re-targeted at
 * Spark's decorrelation shape (SURVEY §2 O6). Guards: single ASC order key
 * matching the inner index, constant 0 < k < 2048
 * (hnsw_optimize_join.cpp:457-461), partition key(s) drawn entirely from the
 * outer side, join without condition, and — load-bearing for soundness — the
 * Window node must carry [[LateralTopKToIndexJoin.PerRowWindowTag]].
 *
 * The tag is why the rewrite is semantics-preserving: window `row_number`
 * gives top-k per partition *group*, while the index join gives top-k per
 * outer *row* — equal only when window groups are exactly outer rows. No
 * partition spec can prove that from the plan alone (even `PARTITION BY` all
 * outer columns diverges on duplicate outer rows), so only
 * [[graft.api.Vss.lateralTopK]] — whose `outerKey` contract guarantees
 * per-row groups — tags its Window. This mirrors the reference exactly: it
 * rewrites only genuine decorrelated-LATERAL plans, where `delim_get`
 * structurally guarantees per-row grouping
 * (hnsw_optimize_join.cpp:368-436); a hand-written window query is not
 * accelerated there either.
 */
class LateralTopKToIndexJoin(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!Hnsw.rewriteEnabled(session)) return plan
    plan.transformDown {
      case f @ Filter(cond, w: Window) =>
        tryRewrite(cond, w).getOrElse(f)
    }
  }

  private def tryRewrite(cond: Expression, w: Window): Option[LogicalPlan] = {
    // Soundness gate: only windows whose groups are provably outer rows —
    // either tagged by Vss.lateralTopK (its outerKey contract) or the user
    // opted in, asserting their window partition key is unique per row.
    if (!w.getTagValue(LateralTopKToIndexJoin.PerRowWindowTag).contains(true) &&
      !Hnsw.assumeUniqueWindowKey(session)) return None
    // Single row_number window expression ordered ASC by one key.
    val (rnAlias, orderKey) = w match {
      case Window(Seq(al @ Alias(WindowExpression(RowNumber(), _), _)), _,
          Seq(SortOrder(key, Ascending, _, _)), _, _) => (al, key)
      case _ => return None
    }
    val rnAttr = rnAlias.toAttribute
    // Filter: conjuncts on rn must be exactly one `rn <= k`; others survive.
    val conjuncts = splitConjuncts(cond)
    val (onRn, rest) = conjuncts.partition(_.references.contains(rnAttr))
    val k = onRn match {
      case Seq(LessThanOrEqual(a: Attribute, IntegerLiteral(n))) if a.semanticEquals(rnAttr) => n
      case Seq(LessThan(a: Attribute, IntegerLiteral(n))) if a.semanticEquals(rnAttr) => n - 1
      case Seq(GreaterThanOrEqual(IntegerLiteral(n), a: Attribute)) if a.semanticEquals(rnAttr) => n
      case _ => return None
    }
    if (!HnswMatch.validK(k)) return None

    // Child: optional projection over an unconditioned Inner/Cross join.
    val (projList, join) = w.child match {
      case Project(pl, j: Join) => (Some(pl), j)
      case j: Join => (None, j)
      case _ => return None
    }
    if (join.condition.isDefined ||
      (join.joinType != Inner && join.joinType != Cross)) return None

    // Resolve the order key through the projection, then match the index.
    val dist = projList.fold(orderKey)(HnswMatch.resolveAliases(_, orderKey))
    val base = Hnsw.baseDir(session)

    // Which side is the indexed inner relation? Accept a bare relation, a
    // column-pruning (attribute-only) projection, and/or an
    // `IsNotNull(indexed column)` filter over one — the filter is what
    // `Vss.lateralTopK` plants for NULL-inner parity, and it is a no-op for
    // the index path (index builds exclude NULL vectors). Any OTHER filter
    // must block the rewrite: the index would return rows the filter drops.
    def asInnerRel(p: LogicalPlan): Option[(LogicalRelation, LogicalPlan, Option[Attribute])] = {
      def peelNotNull(q: LogicalPlan): Option[(LogicalRelation, Option[Attribute])] = q match {
        case rel: LogicalRelation => Some((rel, None))
        case Filter(IsNotNull(nn: AttributeReference), rel: LogicalRelation) => Some((rel, Some(nn)))
        case _ => None
      }
      p match {
        case pr @ Project(pl, q) if pl.forall(_.isInstanceOf[AttributeReference]) =>
          peelNotNull(q).map { case (rel, nn) => (rel, pr, nn) }
        case q => peelNotNull(q).map { case (rel, nn) => (rel, p, nn) }
      }
    }
    val orientations = Seq((join.left, join.right), (join.right, join.left))
    orientations.view.flatMap { case (outer, innerPlan) =>
      asInnerRel(innerPlan) match {
        case Some((innerRel, innerPruned, notNullAttr)) =>
          HnswMatch.matchIndex(base, innerRel, dist).flatMap {
            case (meta, queryExpr) =>
              // The query side must be a per-row vector over the outer side
              // only, and so must the partition key; a peeled IsNotNull
              // must be on the indexed vector column (no-op) — any other
              // column's filter changes semantics.
              val perRowQuery = queryExpr.references.nonEmpty &&
                queryExpr.references.subsetOf(outer.outputSet) && (queryExpr.dataType match {
                  case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
                  case _ => false
                })
              if (!perRowQuery || w.partitionSpec.isEmpty ||
                !w.partitionSpec.forall(_.references.subsetOf(outer.outputSet)) ||
                notNullAttr.exists(_.name != meta.column)) None
              else {
                val idAttr = innerRel.output.find(_.name == meta.idColumn).getOrElse(return None)
                // The rowid must be available on the join's right side.
                val joinRight = innerPruned match {
                  case pr @ Project(pl, relOrFilter) if !pl.exists(_.exprId == idAttr.exprId) =>
                    Project(pl :+ idAttr, relOrFilter)
                  case other => other
                }
                val extra = Seq(
                  AttributeReference("__hnsw_id", LongType, nullable = false)(),
                  AttributeReference("__hnsw_dist", DoubleType, nullable = false)(),
                  AttributeReference("__hnsw_rn", LongType, nullable = false)())
                val core = HnswIndexJoinCore(outer, base, meta, queryExpr, k,
                  Hnsw.efSearch(session, meta), extra)
                val newJoin = Join(core, joinRight, Inner,
                  Some(EqualTo(extra.head, idAttr)), JoinHint.NONE)
                // Reproduce the original output: window child's columns
                // (via the original projection when present) + rn.
                val rnExpr = Alias(Cast(extra(2), rnAttr.dataType), rnAttr.name)(
                  exprId = rnAttr.exprId)
                val outCols = projList.getOrElse(join.output.map(identity[NamedExpression])) :+ rnExpr
                val projected = Project(outCols, newJoin)
                Some(if (rest.isEmpty) projected
                else Filter(rest.reduce(And), projected))
              }
          }
        case None => None
      }
    }.headOption
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}

object LateralTopKToIndexJoin {
  /** Set by [[graft.api.Vss.lateralTopK]] on the row_number Window it
    * builds, asserting that window groups coincide with outer rows (the
    * `outerKey`-is-unique API contract) — the Spark stand-in for the
    * reference's `delim_get` structural guarantee
    * (hnsw_optimize_join.cpp:368-436). Catalyst copies tags through
    * `makeCopy`/`withNewChildren`, so the tag survives optimization. */
  val PerRowWindowTag: org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graft.hnsw.perRowLateralWindow")
}

/** Index matching shared by the rewrite rules — the analogue of
  * `HNSWIndex::TryMatchDistanceFunction` + `TryBindIndexExpression`
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
