package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.ops.GroupedSum.KeyProbe

/**
 * Bucket-local hash-probe grouped sum over a CO-BUCKETED fact ⋈ build pair —
 * [[ColumnarUnitsSum]]'s vectorized-kernel pattern generalized past the 2^21
 * broadcast contract (r15 verdict item 1). The workload is the TPC-H q2
 * snowflake: a fact table (lineitem) joined to a same-key co-bucketed BUILD
 * table (orders) that is itself decorated by a broadcast-contract dimension
 * (customer → nationkey), grouped by the dimension's group id.
 *
 * The build side (15M orders at sf10) is far outside any broadcast contract,
 * and the r15 no-go (commit b4103a5) measured a columnar MERGE-join slower
 * than codegen SMJ. The shape that was never tried is the one a native
 * engine runs over a partitioned layout: per bucket, build the join hash
 * table TASK-LOCALLY from the build side's bucket file, then stream the
 * co-bucketed fact bucket's ColumnarBatches through [[GroupedSum]]'s fact
 * loop — the hash table is ~|build|/numBuckets keys per task (≈470k at
 * sf10×32 buckets), lives only for the task, and is NEVER broadcast, so the
 * contract scales with bucket count, not data size. One job, numBuckets
 * tasks, zero exchanges of any width.
 *
 * == Semantics ==
 *
 * [[GroupedSum.snowflakeSum]]'s declarative spelling (shared with
 * [[DenseSnowflakeSum]]), emitted as (dimGroupCol INT, sum DECIMAL(38,
 * outScale), n_rows LONG), only non-empty groups. `measureB = None` sums
 * plain `units(a)`.
 *
 * == Scale contract ==
 *
 * - `fact` and `build` must be bucketed tables hash-clustered on
 *   `factKeyCol` / `buildKeyCol` (LONG) with the SAME bucket count — the
 *   storage-partitioned layout a 100 TB warehouse maintains for its
 *   biggest co-joined pair. Anything else (flat layout, mismatched
 *   buckets, non-bare lineage — [[GroupedSum.isBare]]) falls back to the
 *   declarative plan: the operator is total.
 * - `dim` follows the broadcast contract (≤ 2^21 rows, dense int group
 *   ids ≥ 0, unique keys — duplicates fail loudly); the grid is
 *   nGroups ≤ 2^22 cells of 24 bytes.
 * - `buildKeyCol` must be UNIQUE among rows whose ref hits the dim (a
 *   primary key, e.g. orderkey): the kernel fails loudly on a duplicate,
 *   where the fallback's join would silently fan fact rows out.
 * - Per-task state = one [[LongIntMap]] sized by the BUCKET (grows by
 *   doubling), plus the grid.
 * - EAGER on the kernel path (same caveat as gridSum): the returned
 *   DataFrame is the materialized grid.
 */
object BucketedSnowflakeSum {

  /**
   * @param fact       bucketed fact table (see scale contract)
   * @param factKeyCol LONG key, bucket column of `fact`
   * @param measureA   (DOUBLE column, decimal scale) — units via the
   *                   double_units contract (Math.round(x·10^s))
   * @param measureB   optional (constUnits, DOUBLE column, scale): the
   *                   summand becomes unitsA × (constUnits − unitsB)
   * @param outScale   decimal scale of the DECIMAL(38, outScale) sum
   * @param build      co-bucketed build table (same bucket count)
   * @param buildKeyCol LONG key, bucket column of `build`, joined to
   *                   `factKeyCol`, unique among dim-hitting rows
   * @param buildRefCol LONG column joined to the dimension
   * @param dim        (dimKeyCol LONG/INT, dimGroupCol INT) rows; group
   *                   ids dense in [0, nGroups); broadcast contract
   */
  def groupSum(fact: DataFrame, factKeyCol: String,
      measureA: (String, Int), measureB: Option[(Long, String, Int)],
      outScale: Int,
      build: DataFrame, buildKeyCol: String, buildRefCol: String,
      dim: DataFrame, dimKeyCol: String, dimGroupCol: String): DataFrame =
    GroupedSum.snowflakeSum(fact, factKeyCol, measureA, measureB, outScale,
      build, buildKeyCol, buildRefCol, dim, dimKeyCol, dimGroupCol)(
      bucketedScan) { (s, d) =>
      if (numBuckets(s.fact) != numBuckets(s.build)) None
      else {
        val bcDim = d.broadcast(fact.sparkSession.sparkContext)
        // Locals for the task closure: the scans must not serialize into it.
        val (iFk, iBk, iRef, summand, nCells) =
          (s.iFk, s.iBk, s.iRef, s.summand, d.nGroups)
        val buildKeyName = buildKeyCol
        Some(s.build.executeColumnar()
          .zipPartitions(s.fact.executeColumnar()) { (buildIt, factIt) =>
            val dm = bcDim.value.map // per-JVM lazy build + unique check
            // Build phase: bucket-local (buildKey → group) table. Rows
            // whose ref misses the dim drop here (inner semantics), so
            // the fact probe is a single map lookup.
            val local = new LongIntMap()
            buildIt.foreach { batch =>
              val cK = batch.column(iBk)
              val cR = batch.column(iRef)
              val nullable = cK.hasNull || cR.hasNull
              val n = batch.numRows()
              var i = 0
              while (i < n) {
                if (!nullable || !(cK.isNullAt(i) || cR.isNullAt(i))) {
                  val g = dm.get(cR.getLong(i))
                  if (g >= 0 && !local.put(cK.getLong(i), g))
                    throw new IllegalArgumentException(
                      s"duplicate build key ${cK.getLong(i)}: " +
                        s"$buildKeyName must be unique")
                }
                i += 1
              }
            }
            Iterator.single(GroupedSum.accumulate(factIt,
              new KeyProbe(local, iFk), summand, nCells))
          })
      }
    }

  /** A side's scan over a bucketed layout clustered on `keyCol`, with
    * bucketed reading forced ON so partition i == bucket i (the zip
    * alignment invariant), or None → declarative fallback. */
  private def bucketedScan(df: DataFrame, keyCol: String,
      cols: Seq[String]): Option[FileSourceScanExec] =
    GroupedSum.bareScan(df, cols).flatMap { scan =>
      scan.relation.bucketSpec match {
        case Some(spec) if spec.bucketColumnNames == Seq(keyCol) =>
          // DisableUnnecessaryBucketedScan turns bucketed reading off for
          // a bare select (nothing above it wants the partitioning) —
          // force it back on: the KERNEL is the operator that wants it.
          // The copy is ours alone; the host plan is untouched. Bucketing
          // disabled session-wide leaves it off.
          Some(scan.copy(disableBucketedScan = false)).filter(forced =>
            forced.bucketedScan &&
              forced.executeColumnar().getNumPartitions == spec.numBuckets)
        case _ => None
      }
    }

  private def numBuckets(scan: FileSourceScanExec): Int =
    scan.relation.bucketSpec.get.numBuckets
}
