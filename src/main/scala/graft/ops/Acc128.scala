package graft.ops

/**
 * The 128-bit carry-save grid arithmetic shared by the decimal-scan
 * kernel family ([[ColumnarUnitsSum]], [[BucketedSnowflakeSum]],
 * [[DenseSnowflakeSum]]): a grid is a pair of long arrays (lo, hi)
 * holding two-long registers, the add is [[graft.aggregates.Sum128]]'s
 * carry formula. One spelling instead of six hand copies — a fix to the
 * add (or an overflow-hardening change) lands everywhere at once.
 * Methods are tiny statics; C2 inlines them into the per-batch loops —
 * warm mins at sf10 measured unchanged across the r16 dedup refactor
 * (q2_join_agg 1.27 → 1.22 s, q2_bucketed 0.99 s; PERF_VS_DUCKDB.md
 * round 16).
 */
private[ops] object Acc128 {

  /** grid(idx) += v with the signed-carry formula. */
  @inline def add(lo: Array[Long], hi: Array[Long], idx: Int, v: Long): Unit = {
    val oldLo = lo(idx)
    val newLo = oldLo + v
    lo(idx) = newLo
    hi(idx) += (v >> 63) +
      (((oldLo & v) | ((oldLo | v) & ~newLo)) >>> 63)
  }

  /** x += y element-wise over n cells (unsigned lo-carry; hi adds
    * straight — y's hi already carries its own signs). */
  @inline def mergeInto(xLo: Array[Long], xHi: Array[Long],
      yLo: Array[Long], yHi: Array[Long], n: Int): Unit = {
    var i = 0
    while (i < n) {
      val oldLo = xLo(i)
      val v = yLo(i)
      val newLo = oldLo + v
      xLo(i) = newLo
      xHi(i) += yHi(i) +
        (((oldLo & v) | ((oldLo | v) & ~newLo)) >>> 63)
      i += 1
    }
  }

  /** The register at idx as an exact BigDecimal at `scale` (two's-
    * complement reconstruction: hi signed, lo unsigned). */
  def toBigDecimal(lo: Array[Long], hi: Array[Long], idx: Int,
      scale: Int): java.math.BigDecimal = {
    val big = java.math.BigInteger.valueOf(hi(idx)).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo(idx))))
    new java.math.BigDecimal(big, scale)
  }
}
