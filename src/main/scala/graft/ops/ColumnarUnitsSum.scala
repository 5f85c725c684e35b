package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Vectorized grouped units-sum over a parquet fact scan — the columnar
 * kernel for the TPC-H "decimal scan" family (revenue = Σ price ×
 * (1 − discount) by small dimension key × time bucket; q1/q2/q7 shapes),
 * the one workload class where row-at-a-time whole-stage codegen had
 * stayed 2.6–3.1× behind DuckDB's SIMD decimal kernels (the reference
 * vendors simsimd for exactly this posture — duckdb-vss CMakeLists.txt:
 * 11-17).
 *
 * Instead of ColumnarToRow + per-row codegen, the operator consumes the
 * Parquet VECTORIZED reader's ColumnarBatches directly
 * (`FileSourceScanExec.executeColumnar()`): one tight JIT loop per batch
 * reads the four ColumnVectors positionally, applies the residual
 * timestamp range (the range is also pushed to the parquet row-group
 * level), probes an open-addressed long→int dimension map, and
 * accumulates into a per-task (group × bucket) grid of 128-bit two-long
 * registers (the [[graft.aggregates.Sum128]] carry formula) — measured
 * 4.1× the row-codegen plan and ~55M surviving rows/s/32-threads at sf10
 * (PERF_VS_DUCKDB.md round 15).
 *
 * == Semantics ==
 *
 * Result = the declarative spelling (the fallback path below, also the
 * spec reference):
 * {{{
 *   fact.where(ts >= lo && ts < hi && every used column isNotNull)
 *       .join(broadcast(dim), factKey === dimKey)      // inner: misses drop
 *       .groupBy(dimGroup, bucketOf(ts))
 *       .agg(sum128(units(a) × (bConst − units(b)), outScale), count(1))
 * }}}
 * emitted as (dimGroupCol INT, bucket INT, sum DECIMAL(38, outScale),
 * n_rows LONG), only non-empty cells. A row participates iff ts/key/
 * measure columns are all non-null, ts ∈ [lo, hi), and the key is in the
 * dimension (inner-join semantics). `measureB = None` sums plain
 * `units(a)`.
 *
 * == Scale contract ==
 *
 * - The dimension is dimension-sized (collected once, ≤ 2^21 rows — the
 *   broadcast contract everywhere in this library); group ids must be
 *   dense ints ≥ 0 and the (groups × buckets) grid ≤ 2^22 cells.
 * - Per-row |units product| must fit in a signed 64-bit long (the grid
 *   registers are 128-bit, so the SUM never wraps at any corpus size —
 *   same contract split as sum128 over double_units).
 * - Partials are one grid per TASK (groups × buckets × 24 bytes): plain
 *   `reduce` up to 512 partitions (a tree's extra combine stage is pure
 *   floor at local/small-cluster counts), `treeReduce` above it — at a
 *   100 TB scan's ~million tasks the driver sees the tree's root fan-in,
 *   not a million grids.
 * - The kernel needs `fact` to be a BARE parquet relation (optionally a
 *   pure-attribute projection/alias of one — the [[graft.Tables]] shape)
 *   whose pruned plan bottoms out in ONE vectorized FileSourceScanExec.
 *   Anything else — and in particular a PRE-FILTERED fact like
 *   `load(...).where(p)`, whose predicate the kernel could not re-apply —
 *   falls back to the declarative plan above: the operator is total, the
 *   kernel is an execution strategy. (The bare-lineage guard is load-
 *   bearing: a filter above the scan only reaches parquet row-group stats,
 *   so consuming the scan's batches directly would silently keep rows the
 *   filter should drop.)
 * - EAGER: the kernel path runs the dim collect, the full fact scan, and
 *   the grid reduce at CALL time and returns a LocalRelation of the grid —
 *   the returned DataFrame is the materialized result, not a lazy plan.
 *   Callers that need deferred execution should compose the declarative
 *   spelling themselves.
 */
object ColumnarUnitsSum {

  /** Open-addressed long→int map (power-of-two, linear probe): the per-row
    * dimension probe must not box. -1 = absent. */
  final class LongIntMap private[ops] (capacityPow2: Int) extends Serializable {
    private val mask = capacityPow2 - 1
    private val keys = new Array[Long](capacityPow2)
    private val vals = new Array[Int](capacityPow2)
    private val used = new Array[Boolean](capacityPow2)
    /** @return false iff `k` was already present (the value is
      *         overwritten either way — callers that must reject
      *         duplicates check the flag). */
    def put(k: Long, v: Int): Boolean = {
      var i = java.lang.Long.hashCode(k * -7046029254386353131L) & mask
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      val fresh = !used(i)
      keys(i) = k; vals(i) = v; used(i) = true
      fresh
    }
    def get(k: Long): Int = {
      var i = java.lang.Long.hashCode(k * -7046029254386353131L) & mask
      while (used(i)) {
        if (keys(i) == k) return vals(i)
        i = (i + 1) & mask
      }
      -1
    }
  }

  /**
   * @param fact      fact frame (see scale contract for the kernel path)
   * @param tsCol     TIMESTAMP/TIMESTAMP_NTZ or LONG column; lo/hi/bounds
   *                  in its units (micros for timestamps)
   * @param lo, hi    half-open keep range
   * @param bucketBounds ascending interior boundaries inside [lo, hi);
   *                  bucket id = number of boundaries ≤ ts (0-based)
   * @param factKeyCol LONG key column joined to the dimension
   * @param dim       (dimKeyCol LONG/INT, dimGroupCol INT) rows; group ids
   *                  dense in [0, nGroups)
   * @param measureA  (DOUBLE column, decimal scale) — units via the
   *                  double_units contract (Math.round(x·10^s))
   * @param measureB  optional (constUnits, DOUBLE column, scale): the
   *                  summand becomes unitsA × (constUnits − unitsB)
   * @param outScale  decimal scale of the DECIMAL(38, outScale) sum
   */
  def gridSum(fact: DataFrame, tsCol: String, lo: Long, hi: Long,
      bucketBounds: Array[Long], factKeyCol: String,
      dim: DataFrame, dimKeyCol: String, dimGroupCol: String,
      measureA: (String, Int), measureB: Option[(Long, String, Int)],
      outScale: Int): DataFrame = {
    require(lo < hi, s"empty range [$lo, $hi)")
    require(bucketBounds.forall(b => b > lo && b < hi) &&
      (bucketBounds.isEmpty || bucketBounds.sliding(2).forall(
        w => w.length < 2 || w(0) < w(1))),
      "bucketBounds must be ascending interior points of [lo, hi)")
    require(outScale >= 0 && outScale <= 38, s"bad outScale $outScale")
    val spark = fact.sparkSession
    val nBuckets = bucketBounds.length + 1

    // Dimension: one bounded collect (broadcast contract), validated dense.
    // executeCollect returns InternalRows — no per-row external conversion
    // (a 100k-supplier dim costs ~3x less to land this way; the collect is
    // on the serving path of every gridSum call). The collect runs
    // CONCURRENTLY with the fact-side plan derivation below (independent
    // work; concurrent action submission is the standard Spark device for
    // exactly this) — on a sub-second gate the dim job otherwise
    // serializes behind planning for pure floor.
    val dimFuture = scala.concurrent.Future {
      boundedDimCollect(dim.select(col(dimKeyCol).cast("long"),
        col(dimGroupCol).cast("int")))
    }(scala.concurrent.ExecutionContext.global)
    val scanInfo = columnarScan(fact, tsCol, lo, hi,
      Seq(tsCol, factKeyCol, measureA._1) ++ measureB.map(_._2))
    val dimRows = scala.concurrent.Await.result(dimFuture,
      scala.concurrent.duration.Duration.Inf)
    require(dimRows.length <= (1 << 21),
      s"dim must be dimension-sized (<= ${1 << 21} rows)")
    require(dimRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && r.getInt(1) >= 0),
      "dim keys/groups must be non-null, groups >= 0")
    val nGroups = if (dimRows.isEmpty) 0 else dimRows.map(_.getInt(1)).max + 1
    val cells = nGroups.toLong * nBuckets
    require(cells <= (1 << 22),
      s"grid too large: $nGroups groups x $nBuckets buckets")
    var capacity = 64
    while (capacity < dimRows.length * 2) capacity <<= 1
    val map = new LongIntMap(capacity)
    // Duplicate dim keys fail LOUDLY on BOTH paths: the map is last-write-
    // wins (one group per fact row) while the declarative fallback's inner
    // join would fan each fact row out once per duplicate — silent
    // divergence. The check runs here, before the path split, so the two
    // paths agree: a dim with duplicate keys is a contract violation.
    dimRows.foreach { r =>
      require(map.put(r.getLong(0), r.getInt(1)),
        s"duplicate dim key ${r.getLong(0)}: $dimKeyCol must be unique")
    }

    val (aCol, aScale) = measureA
    val usedCols = Seq(tsCol, factKeyCol, aCol) ++ measureB.map(_._2)
    val outSchema = StructType(Seq(
      StructField(dimGroupCol, IntegerType, nullable = false),
      StructField("bucket", IntegerType, nullable = false),
      StructField("sum", DecimalType(38, outScale), nullable = false),
      StructField("n_rows", LongType, nullable = false)))

    scanInfo match {
      case Some(ks) =>
        val KernelScan(scan, iTs, iKey, iA, iBOpt) = ks
        val bcMap = spark.sparkContext.broadcast(map)
        val aFactor = math.pow(10.0, aScale)
        val (bConst, bFactor) = measureB match {
          case Some((c, _, s)) => (c, math.pow(10.0, s))
          case None => (0L, 0.0)
        }
        val hasB = measureB.isDefined
        val iB = iBOpt.getOrElse(-1) // sentinel: only read under hasB
        val bounds = bucketBounds // local for serialization
        val nCells = cells.toInt
        val partials = scan.executeColumnar().mapPartitions { it =>
          val m = bcMap.value
          val sumLo = new Array[Long](nCells)
          val sumHi = new Array[Long](nCells)
          val cnt = new Array[Long](nCells)
          it.foreach { batch =>
            val cTs = batch.column(iTs)
            val cKey = batch.column(iKey)
            val cA = batch.column(iA)
            val cB = if (hasB) batch.column(iB) else null
            val nullable = cTs.hasNull || cKey.hasNull || cA.hasNull ||
              (hasB && cB.hasNull)
            val n = batch.numRows()
            var i = 0
            while (i < n) {
              if (!nullable || !(cTs.isNullAt(i) || cKey.isNullAt(i) ||
                  cA.isNullAt(i) || (hasB && cB.isNullAt(i)))) {
                val ts = cTs.getLong(i)
                if (ts >= lo && ts < hi) {
                  val g = m.get(cKey.getLong(i))
                  if (g >= 0) {
                    var b = 0
                    while (b < bounds.length && ts >= bounds(b)) b += 1
                    val ua = java.lang.Math.round(cA.getDouble(i) * aFactor)
                    val v = if (hasB)
                      ua * (bConst - java.lang.Math.round(cB.getDouble(i) * bFactor))
                    else ua
                    val idx = g * nBuckets + b
                    Acc128.add(sumLo, sumHi, idx, v) // Sum128's carry formula
                    cnt(idx) += 1L
                  }
                }
              }
              i += 1
            }
          }
          Iterator.single((sumLo, sumHi, cnt))
        }
        val merge = (x: (Array[Long], Array[Long], Array[Long]),
            y: (Array[Long], Array[Long], Array[Long])) => {
          Acc128.mergeInto(x._1, x._2, y._1, y._2, nCells)
          var i = 0
          while (i < nCells) { x._3(i) += y._3(i); i += 1 }
          x
        }
        val nParts = partials.getNumPartitions
        // Plain reduce below a few hundred grids (treeReduce's extra
        // combine stage is a whole scheduled job — pure floor at local/
        // small-cluster partition counts); tree fan-in above it so a
        // 100 TB scan's ~million task grids never all land on the driver.
        val (tLo, tHi, tCnt) =
          if (nParts == 0)
            (new Array[Long](nCells), new Array[Long](nCells),
              new Array[Long](nCells))
          else if (nParts <= 512) partials.reduce(merge)
          else partials.treeReduce(merge, depth = 2)
        val out = new java.util.ArrayList[Row](64)
        var idx = 0
        while (idx < nCells) {
          if (tCnt(idx) > 0) {
            out.add(Row(idx / nBuckets, idx % nBuckets,
              Acc128.toBigDecimal(tLo, tHi, idx, outScale), tCnt(idx)))
          }
          idx += 1
        }
        spark.createDataFrame(out, outSchema)

      case None => // declarative fallback — the semantics reference
        import graft.functions.{double_units, sum128}
        val tsL = graft.ops.EventTime.toLong(fact, tsCol)
        val bucket = bucketBounds.zipWithIndex.foldRight(
          lit(bucketBounds.length)) { case ((bound, i), rest) =>
          when(tsL < bound, i).otherwise(rest)
        }
        val notNull = usedCols.map(col(_).isNotNull).reduce(_ && _)
        val unitsA = double_units(col(aCol), aScale)
        val summand = measureB match {
          case Some((c, bCol, s)) => unitsA * (lit(c) - double_units(col(bCol), s))
          case None => unitsA
        }
        fact.where(notNull && tsL >= lo && tsL < hi)
          .join(broadcast(dim.select(col(dimKeyCol).cast("long").as("_cus_k"),
            col(dimGroupCol).cast("int").as(dimGroupCol))),
            col(factKeyCol).cast("long") === col("_cus_k"))
          .groupBy(col(dimGroupCol), bucket.cast("int").as("bucket"))
          .agg(sum128(summand, outScale).as("sum"),
            count(lit(1)).as("n_rows"))
    }
  }

  /** Bounded dim collect in ONE job: `limit(cap).executeCollect` routes
    * through executeTake's incremental partition waves (1, 4, 16, … —
    * SERIAL jobs), which quadruples the wall cost of landing a
    * million-row dim (the q2 customer side at sf10). Instead every
    * partition contributes up to cap+1 copied rows in a single job and
    * the caller's `require(length <= cap)` enforces the contract — the
    * per-partition take still bounds any one task's contribution on a
    * contract-violating input. */
  private[ops] def boundedDimCollect(df: DataFrame,
      cap: Int = 1 << 21): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val plan = df.queryExecution.executedPlan
    plan.execute().mapPartitions(it => it.take(cap + 1).map(_.copy()))
      .collect()
  }

  /** The kernel path's resolved scan: the single vectorized parquet scan
    * plus the positions of the ts/key/measure vectors in its output.
    * `iB` is None when there is no second measure — never a positional
    * placeholder that could alias a real column index. */
  private[ops] final case class KernelScan(scan: FileSourceScanExec,
      iTs: Int, iKey: Int, iA: Int, iB: Option[Int])

  /** True iff `plan` is a BARE relation: a parquet LogicalRelation,
    * optionally under SubqueryAlias wrappers (catalog-table reads) and
    * pure-attribute Projects (column pruning). Anything else — above all
    * a Filter — carries semantics the kernel would not re-apply: its
    * predicate reaches the scan only as row-group/page stats, so
    * consuming the scan's batches directly would silently keep rows the
    * predicate should drop. Callers with non-bare lineage take the
    * declarative fallback, which honors the full plan. */
  private def isBareRelation(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.AttributeReference]) &&
          isBareRelation(p.child)
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        isBareRelation(a.child)
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _ => false
    }

  /** Locate the single vectorized parquet scan under `fact` restricted to
    * `usedCols` with the ts range pushed; None → caller takes the
    * declarative path. */
  private def columnarScan(fact: DataFrame, tsCol: String, lo: Long, hi: Long,
      usedCols: Seq[String]): Option[KernelScan] =
    try {
      // Load-bearing safety gate (see isBareRelation): pre-filtered or
      // otherwise derived lineage must fall back.
      if (!isBareRelation(fact.queryExecution.analyzed)) return None
      val tsType = fact.schema(tsCol).dataType
      def instant(us: Long) =
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L)
      def local(us: Long) = java.time.LocalDateTime
        .ofInstant(instant(us), java.time.ZoneOffset.UTC)
      val tsFilter = tsType match {
        case TimestampType =>
          col(tsCol) >= lit(instant(lo)) && col(tsCol) < lit(instant(hi))
        case TimestampNTZType =>
          col(tsCol) >= lit(local(lo)) && col(tsCol) < lit(local(hi))
        case LongType => col(tsCol) >= lo && col(tsCol) < hi
        case _ => return None
      }
      val pruned = fact.select(usedCols.distinct.map(col): _*).where(tsFilter)
      // A bare scan+filter plans without exchanges, so AQE leaves it
      // un-wrapped (forceApply off) and the leaf is final at plan time.
      val leaves = pruned.queryExecution.executedPlan.collectLeaves()
      leaves match {
        case Seq(scan: FileSourceScanExec) if scan.supportsColumnar =>
          val names = scan.output.map(_.name)
          val types = scan.output.map(_.dataType)
          def pos(c: String, want: DataType => Boolean): Option[Int] = {
            val i = names.indexOf(c)
            if (i >= 0 && want(types(i))) Some(i) else None
          }
          for {
            iTs <- pos(tsCol,
              t => t == TimestampType || t == TimestampNTZType || t == LongType)
            iKey <- pos(usedCols(1), _ == LongType)
            iA <- pos(usedCols(2), _ == DoubleType)
            iB <- if (usedCols.length <= 3) Some(None)
                  else pos(usedCols(3), _ == DoubleType).map(Some(_))
          } yield KernelScan(scan, iTs, iKey, iA, iB)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
