package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.ops.GroupedSum.CellProbe

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
 * (`FileSourceScanExec.executeColumnar()`): per batch, a probe applies the
 * residual timestamp range (the range is also pushed to the parquet
 * row-group level), probes the dimension's [[LongIntMap]] and picks the
 * (group × bucket) cell; [[GroupedSum]]'s fact loop then accumulates into
 * a per-task grid of 128-bit two-long registers (the
 * [[graft.aggregates.Sum128]] carry formula) — measured
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
 * - The dimension is dimension-sized (landed once, ≤ 2^21 rows — the
 *   broadcast contract everywhere in this library); group ids must be
 *   dense ints ≥ 0, keys unique (duplicates fail loudly on both paths),
 *   and the (groups × buckets) grid ≤ 2^22 cells.
 * - Per-row |units product| must fit in a signed 64-bit long (the grid
 *   registers are 128-bit, so the SUM never wraps at any corpus size —
 *   same contract split as sum128 over double_units).
 * - Partials are one grid per TASK (groups × buckets × 24 bytes), merged
 *   by [[GroupedSum.collectGrid]].
 * - The kernel needs `fact` to be a BARE parquet relation (optionally a
 *   pure-attribute projection/alias of one — the [[graft.Tables]] shape)
 *   whose pruned plan bottoms out in ONE vectorized FileSourceScanExec.
 *   Anything else — and in particular a PRE-FILTERED fact like
 *   `load(...).where(p)`, whose predicate the kernel could not re-apply —
 *   falls back to the declarative plan above: the operator is total, the
 *   kernel is an execution strategy ([[GroupedSum.isBare]] says why the
 *   guard is load-bearing).
 * - EAGER: the kernel path runs the dim landing, the full fact scan, and
 *   the grid reduce at CALL time and returns a LocalRelation of the grid —
 *   the returned DataFrame is the materialized result, not a lazy plan.
 *   Callers that need deferred execution should compose the declarative
 *   spelling themselves.
 */
object ColumnarUnitsSum {

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
    val usedCols = Seq(tsCol, factKeyCol, measureA._1) ++ measureB.map(_._2)

    val landed = GroupedSum.landDim(dim, dimKeyCol, dimGroupCol)
    val scan = kernelScan(fact, tsCol, lo, hi, factKeyCol, usedCols,
      measureA, measureB)
    val d = landed()
    require(d.nGroups.toLong * nBuckets <= (1 << 22),
      s"grid too large: ${d.nGroups} groups x $nBuckets buckets")
    // Duplicate dim keys fail LOUDLY on BOTH paths, at call time: the map
    // is one group per fact row while the declarative fallback's inner
    // join would fan each fact row out once per duplicate — silent
    // divergence. Forcing the map here, before the path split, makes a
    // dim with duplicate keys a contract violation on either path.
    d.map: Unit

    scan match {
      case Some((fs, iTs, iKey, summand)) =>
        val bcDim = d.broadcast(spark.sparkContext)
        val nCells = d.nGroups * nBuckets
        val bounds = bucketBounds // local for serialization
        val partials = fs.executeColumnar().mapPartitions { it =>
          Iterator.single(GroupedSum.accumulate(it,
            new BucketProbe(bcDim.value.map, iTs, iKey, lo, hi, bounds),
            summand, nCells))
        }
        GroupedSum.collectGrid(spark, partials, nCells, dimGroupCol,
          Some(nBuckets), outScale)

      case None => // declarative fallback — the semantics reference
        import graft.functions.sum128
        val tsL = graft.ops.EventTime.toLong(fact, tsCol)
        val bucket = bucketBounds.zipWithIndex.foldRight(
          lit(bucketBounds.length)) { case ((bound, i), rest) =>
          when(tsL < bound, i).otherwise(rest)
        }
        val notNull = usedCols.map(col(_).isNotNull).reduce(_ && _)
        fact.where(notNull && tsL >= lo && tsL < hi)
          .join(broadcast(dim.select(col(dimKeyCol).cast("long").as("_cus_k"),
            col(dimGroupCol).cast("int").as(dimGroupCol))),
            col(factKeyCol).cast("long") === col("_cus_k"))
          .groupBy(col(dimGroupCol), bucket.cast("int").as("bucket"))
          .agg(sum128(GroupedSum.summandColumn(measureA, measureB), outScale)
            .as("sum"), count(lit(1)).as("n_rows"))
    }
  }

  /** Cell = group(key) × nBuckets + bucket(ts) for rows with ts ∈ [lo, hi)
    * whose key hits the dimension. */
  private final class BucketProbe(map: LongIntMap, iTs: Int, iKey: Int,
      lo: Long, hi: Long, bounds: Array[Long]) extends CellProbe {
    def fill(batch: ColumnarBatch, cells: Array[Int]): Unit = {
      val m = map
      val from = lo
      val until = hi
      val bs = bounds
      val nBuckets = bs.length + 1
      val cTs = batch.column(iTs)
      val cKey = batch.column(iKey)
      val nullable = cTs.hasNull || cKey.hasNull
      val n = batch.numRows()
      var i = 0
      while (i < n) {
        var cell = -1
        if (!(nullable && (cTs.isNullAt(i) || cKey.isNullAt(i)))) {
          val ts = cTs.getLong(i)
          if (ts >= from && ts < until) {
            val g = m.get(cKey.getLong(i))
            if (g >= 0) {
              var b = 0
              while (b < bs.length && ts >= bs(b)) b += 1
              cell = g * nBuckets + b
            }
          }
        }
        cells(i) = cell
        i += 1
      }
    }
  }

  /** The kernel path's single vectorized parquet scan, restricted to
    * `usedCols` with the ts range pushed, plus the ts/key positions and
    * the summand; None → the caller takes the declarative path. */
  private def kernelScan(fact: DataFrame, tsCol: String, lo: Long, hi: Long,
      factKeyCol: String, usedCols: Seq[String], measureA: (String, Int),
      measureB: Option[(Long, String, Int)])
      : Option[(org.apache.spark.sql.execution.FileSourceScanExec, Int, Int,
        GroupedSum.Summand)] =
    try {
      def instant(us: Long) =
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L)
      def local(us: Long) = java.time.LocalDateTime
        .ofInstant(instant(us), java.time.ZoneOffset.UTC)
      val tsFilter = fact.schema(tsCol).dataType match {
        case TimestampType =>
          col(tsCol) >= lit(instant(lo)) && col(tsCol) < lit(instant(hi))
        case TimestampNTZType =>
          col(tsCol) >= lit(local(lo)) && col(tsCol) < lit(local(hi))
        case LongType => col(tsCol) >= lo && col(tsCol) < hi
        case _ => return None
      }
      for {
        scan <- GroupedSum.bareScan(fact, usedCols, Some(tsFilter))
        iTs <- GroupedSum.pos(scan, tsCol,
          t => t == TimestampType || t == TimestampNTZType || t == LongType)
        iKey <- GroupedSum.pos(scan, factKeyCol, _ == LongType)
        summand <- GroupedSum.summandOf(scan, measureA, measureB)
      } yield (scan, iTs, iKey, summand)
    } catch { case scala.util.control.NonFatal(_) => None }
}
