package graft.rules

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}

import graft.Hnsw
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
 * O3 — TopN → index-scan rewrite: matches
 * `Limit(k, Sort(dist ASC, [Project(...,)] FileRelation))` where `dist` is a
 * distance function between the indexed column and a foldable query vector,
 * and replaces the subtree with [[HnswIndexScan]]
 * (/root/reference/src/hnsw/hnsw_optimize_scan.cpp:30-256).
 *
 * Guard clauses mirror the reference's bail-outs: ASC only, single sort key,
 * 0 < k < 2048, distance function must match the index metric, and the
 * query vector dimension must equal the index dimension. Kill switch:
 * `spark.graft.hnsw.rewrite.enabled=false` (the `PRAGMA disable_optimizer`
 * analogue used by hnsw_rewrite.test).
 *
 * A Filter under the Sort (`WHERE p ORDER BY dist LIMIT k` — the single most
 * common real ANN query) rewrites to a *filtered* index scan: the reference
 * pulls table filters above the k-limited scan and accepts fewer-than-k
 * post-filter semantics (hnsw_optimize_scan.cpp:161-198,
 * where_clause_segfault.test); [[HnswIndexScan]]'s exec instead searches
 * the index once with the allow-list of rowids that pass, preserving
 * standard SQL semantics. Mirroring the reference's refusal to rewrite under dynamic
 * filters (hnsw_optimize_scan.cpp:82-85), only deterministic, subquery-free
 * predicates over the scanned relation qualify.
 */
class TopNToIndexScan(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get(Hnsw.RewriteEnabledKey, "true").toBoolean) return plan
    plan.transformDown {
      case l @ Limit(IntegerLiteral(k),
          Sort(Seq(SortOrder(key, Ascending, _, _)), true, child, _))
          if k > 0 && k < 2048 =>
        rewriteChild(child, key, k, None).getOrElse(l)
      // PushProjectionThroughLimit moves post-sort projections between the
      // limit and the sort; the reference's MergeProjections handles the
      // same shape (hnsw_optimize_scan.cpp:211-249). The outer projection's
      // references bound what the scan must fetch (projection pushdown).
      case l @ Limit(IntegerLiteral(k),
          Project(pl, Sort(Seq(SortOrder(key, Ascending, _, _)), true, child, _)))
          if k > 0 && k < 2048 =>
        rewriteChild(child, key, k, Some(AttributeSet(pl.flatMap(_.references))))
          .map(Project(pl, _)).getOrElse(l)
    }
  }

  /** Try to rewrite; None restores the original shape. Peels the optimized
    * sub-plan `[Project(pl)] [Filter(p)] [Project(attrs)] relation`,
    * resolving the sort key through projection aliases on the way down.
    * `outerNeeded` (the enclosing projection's references, when one sits
    * between the limit and the sort) bounds the scan's `required` columns so
    * the rowid fetch reads only consumed columns — the analogue of the
    * reference's fetch projection pushdown (hnsw_index_scan.cpp:95-121). */
  private def rewriteChild(child: LogicalPlan, key: Expression, k: Int,
      outerNeeded: Option[AttributeSet]): Option[LogicalPlan] = {
    def aliasResolve(projList: Seq[NamedExpression], e: Expression): Expression = {
      val m = projList.collect { case al: Alias => al.toAttribute.exprId -> al.child }.toMap
      e.transform { case a: Attribute if m.contains(a.exprId) => m(a.exprId) }
    }
    var plan = child
    var dist = key
    var topProj: Option[Seq[NamedExpression]] = None
    plan match {
      case Project(pl, c) if pl.exists(_.isInstanceOf[Alias]) =>
        topProj = Some(pl); dist = aliasResolve(pl, dist); plan = c
      case _ => ()
    }
    var cond: Option[Expression] = None
    plan match {
      case Filter(p, c) => cond = Some(p); plan = c
      case _ => ()
    }
    plan match {
      // Column pruning may sit between the filter and the scan.
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => plan = c
      case _ => ()
    }
    plan match {
      case rel: LogicalRelation
          // Dynamic-filter analogue (hnsw_optimize_scan.cpp:82-85): only
          // deterministic, subquery-free predicates over the relation.
          if cond.forall(c => c.deterministic &&
            c.references.subsetOf(rel.outputSet) &&
            !c.exists(_.isInstanceOf[PlanExpression[_]])) =>
        matchIndexScan(rel, dist, k, cond).map { scan0 =>
          // Narrow the intermediate projection to entries the outer
          // projection consumes, then fetch only the referenced columns
          // (+ the id column the rank join needs). The residual predicate
          // is applied under the fetch projection, so its columns need not
          // be in `required`.
          val prunedTopProj = (topProj, outerNeeded) match {
            case (Some(pl), Some(need)) =>
              val kept = pl.filter(ne => need.contains(ne.toAttribute))
              Some(if (kept.nonEmpty) kept else pl)
            case (tp, _) => tp
          }
          val baseRefs: AttributeSet = prunedTopProj
            .map(pl => AttributeSet(pl.flatMap(_.references)))
            .getOrElse(outerNeeded.getOrElse(child.outputSet))
          val required = rel.output.filter(a =>
            baseRefs.contains(a) || a.name == scan0.meta.idColumn)
          val scan = scan0.copy(required = required)
          prunedTopProj match {
            case Some(pl) => Project(pl, scan)
            // Arm 2 (outerNeeded defined) wraps its own projection; arm 1
            // restores the original arity when pruning narrowed the scan.
            case None if outerNeeded.isDefined => scan
            case None if child.output != scan.output => Project(child.output, scan)
            case None => scan
          }
        }
      case _ => None
    }
  }

  private def matchIndexScan(rel: LogicalRelation, dist: Expression, k: Int,
      cond: Option[Expression]): Option[HnswIndexScan] = {
    val base = Hnsw.baseDir(session)
    HnswMatch.distanceArgs(dist).flatMap { case (metrics, a, b) =>
      HnswMatch.findIndex(base, rel, metrics, a, b).map { case (meta, qvec) =>
        HnswIndexScan(rel, base, meta, qvec, k, Hnsw.efSearch(session, meta), cond)
      }
    }
  }
}

/**
 * O4 — `min_by(col, dist, k)` (no GROUP BY) → the same aggregate over an
 * [[HnswIndexScan]] feeding only the k nearest candidate rows
 * (/root/reference/src/hnsw/hnsw_optimize_topk.cpp:67-228). The reference
 * swaps the aggregate for `list(col ORDER BY dist)`; re-running our bounded
 * k-heap aggregate over the k scanned rows is equivalent (it returns them
 * best-first) and keeps output ordering guaranteed by the aggregate itself.
 *
 * Guards mirror the reference: single aggregate expression, constant
 * 0 < k < 2048 (hnsw_optimize_topk.cpp:112-121,171-174), bare scan below
 * (filters under the aggregate bail out automatically).
 */
class MinByKToIndexScan(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get(Hnsw.RewriteEnabledKey, "true").toBoolean) return plan
    plan.transformDown {
      case agg @ Aggregate(groups, aggExprs, child, _) if groups.isEmpty =>
        val aggFns = aggExprs.flatMap(_.collect {
          case ae: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression => ae
        })
        aggFns match {
          case Seq(ae) => ae.aggregateFunction match {
            case graft.aggregates.MinMaxByK(_, order, IntegerLiteral(k), true, _, _)
                if k > 0 && k < 2048 && !ae.isDistinct =>
              rewriteAggChild(child, order, k, agg.references)
                .map(newChild => agg.copy(child = newChild))
                .getOrElse(agg)
            case _ => agg
          }
          case _ => agg
        }
    }
  }

  private def rewriteAggChild(child: LogicalPlan, order: Expression, k: Int,
      aggRefs: AttributeSet): Option[LogicalPlan] =
    child match {
      case rel: LogicalRelation =>
        matchScan(rel, order, k, aggRefs)
      case p @ Project(projList, rel: LogicalRelation) =>
        val aliasMap = projList.collect { case al: Alias => al.toAttribute.exprId -> al.child }.toMap
        val resolved = order.transform {
          case a: Attribute if aliasMap.contains(a.exprId) => aliasMap(a.exprId)
        }
        // Only the projection entries the aggregate consumes need to exist;
        // their references bound the fetch columns.
        val kept = projList.filter(ne => aggRefs.contains(ne.toAttribute))
        val pl = if (kept.nonEmpty) kept else projList
        matchScan(rel, resolved, k, AttributeSet(pl.flatMap(_.references)))
          .map(scan => Project(pl, scan))
      case _ => None
    }

  private def matchScan(rel: LogicalRelation, dist: Expression, k: Int,
      needed: AttributeSet): Option[HnswIndexScan] = {
    val base = Hnsw.baseDir(session)
    HnswMatch.distanceArgs(dist).flatMap { case (metrics, a, b) =>
      HnswMatch.findIndex(base, rel, metrics, a, b).map { case (meta, qvec) =>
        val required = rel.output.filter(a =>
          needed.contains(a) || a.name == meta.idColumn)
        HnswIndexScan(rel, base, meta, qvec, k, Hnsw.efSearch(session, meta),
          required = required)
      }
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
    if (!session.conf.get(Hnsw.RewriteEnabledKey, "true").toBoolean) return plan
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
      !session.conf.get(Hnsw.AssumeUniqueWindowKeyKey, "false").toBoolean) return None
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
    if (k <= 0 || k >= 2048) return None

    // Child: optional projection over an unconditioned Inner/Cross join.
    val (projList, join) = w.child match {
      case Project(pl, j: Join) => (Some(pl), j)
      case j: Join => (None, j)
      case _ => return None
    }
    if (join.condition.isDefined ||
      (join.joinType != Inner && join.joinType != Cross)) return None

    // Resolve the order key through the projection, then match the index.
    val aliasMap = projList.map(_.collect { case al: Alias => al.toAttribute.exprId -> al.child }.toMap)
      .getOrElse(Map.empty)
    val dist = orderKey.transform {
      case a: Attribute if aliasMap.contains(a.exprId) => aliasMap(a.exprId)
    }
    val base = Hnsw.baseDir(session)
    val (metrics, a, b) = HnswMatch.distanceArgs(dist).getOrElse(return None)

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
          HnswMatch.findIndexJoin(base, innerRel, metrics, a, b, outer.outputSet).flatMap {
            case (meta, queryExpr) =>
              // Partition key must be outer-side only, and a peeled IsNotNull
              // must be on the indexed vector column (no-op) — any other
              // column's filter changes semantics.
              if (w.partitionSpec.isEmpty ||
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

/** Shared index-matching helpers for the O3/O4/O6 rules — the analogue of
  * `HNSWIndex::TryMatchDistanceFunction` + `TryBindIndexExpression`
  * (/root/reference/src/hnsw/hnsw_index.cpp:635-689). */
object HnswMatch {

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

  /** Evaluate a foldable vector argument to Array[Float]. */
  def foldableVec(e: Expression): Option[Array[Float]] =
    if (!e.foldable) None
    else (e.eval(), e.dataType) match {
      case (ad: ArrayData, ArrayType(FloatType, _)) => Some(ad.toFloatArray())
      case (ad: ArrayData, ArrayType(DoubleType, _)) => Some(ad.toDoubleArray().map(_.toFloat))
      case _ => None
    }

  /** Join-flavored matching: the query side is a non-foldable expression over
    * the outer relation's attributes (the per-row query vector). Returns the
    * matched index and that expression. */
  def findIndexJoin(base: String, rel: LogicalRelation, metrics: Set[String],
      a: Expression, b: Expression,
      outerAttrs: AttributeSet): Option[(HnswIndexMeta, Expression)] = {
    val relPaths = rel.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).distinct.sorted
      case _ => return None
    }
    val vecType: Expression => Boolean = _.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    Seq((stripCast(a), b), (stripCast(b), a)).view.flatMap {
      case (colRef: AttributeReference, querySide)
          if rel.output.exists(_.exprId == colRef.exprId) &&
            querySide.references.nonEmpty &&
            querySide.references.subsetOf(outerAttrs) && vecType(querySide) =>
        IndexCatalog.list(base).find { m =>
          metrics.contains(m.metric) && m.paths == relPaths && m.column == colRef.name &&
            rel.output.exists(o => o.name == m.idColumn && o.dataType == LongType)
        }.map(m => (m, querySide))
      case _ => None
    }.headOption
  }

  /** Match (indexed column attr, foldable query vec) in either arg order and
    * find a catalog index bound to this relation + column + metric + dim. */
  def findIndex(base: String, rel: LogicalRelation, metrics: Set[String],
      a: Expression, b: Expression): Option[(HnswIndexMeta, Array[Float])] = {
    val relPaths = rel.relation match {
      // The scan fetches rows through the file reader, which serves the
      // table's own columns: a relation that also outputs a metadata
      // column (`_metadata`) keeps its ordinary plan.
      case fs: HadoopFsRelation if rel.output.forall(o => fs.schema.fieldNames.contains(o.name)) =>
        fs.location.rootPaths.map(_.toString).distinct.sorted
      case _ => return None
    }
    val candidates = Seq((stripCast(a), b), (stripCast(b), a))
    candidates.view.flatMap {
      case (colRef: AttributeReference, queryside) =>
        for {
          qvec <- foldableVec(queryside)
          meta <- IndexCatalog.list(base).find { m =>
            metrics.contains(m.metric) && m.paths == relPaths &&
              m.column == colRef.name && m.dim == qvec.length &&
              rel.output.exists(_.exprId == colRef.exprId) &&
              rel.output.exists(o => o.name == m.idColumn && o.dataType == LongType)
          }
        } yield (meta, qvec)
      case _ => None
    }.headOption
  }
}
