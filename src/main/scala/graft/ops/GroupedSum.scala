package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Key → group (or grid cell) lookup; -1 = absent. The fact loop's probe
  * sees at most two implementations ([[LongIntMap]], the paged
  * [[DenseSnowflakeSum.DenseByteMap]]), so its per-row call stays
  * bimorphic and inlines. */
abstract class LongIntLookup extends Serializable {
  def get(k: Long): Int
}

/** Open-addressed long→int map (power-of-two, linear probe, 0.5 max load)
  * that GROWS by doubling: the per-row probe must not box, and a
  * bucket-local build table's size is unknown until the bucket is read.
  * Every long is a valid key (occupancy lives in its own array). */
final class LongIntMap(initialPow2: Int = 1 << 16) extends LongIntLookup {
  require(initialPow2 >= 2 && Integer.bitCount(initialPow2) == 1,
    s"initial capacity must be a power of two >= 2: $initialPow2")
  private var cap = initialPow2
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Int](cap)
  private var used = new Array[Boolean](cap)
  private var n = 0
  def size: Int = n

  /** @return false iff `k` was already present (the value is overwritten
    *         either way — callers that must reject duplicates check it). */
  def put(k: Long, v: Int): Boolean = {
    if ((n + 1) * 2 > cap) grow()
    var i = LongIntMap.slot(k, mask)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    val fresh = !used(i)
    if (fresh) n += 1
    keys(i) = k; vals(i) = v; used(i) = true
    fresh
  }

  def get(k: Long): Int = {
    var i = LongIntMap.slot(k, mask)
    while (used(i)) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & mask
    }
    -1
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals; val ou = used
    cap <<= 1; mask = cap - 1
    keys = new Array[Long](cap); vals = new Array[Int](cap)
    used = new Array[Boolean](cap)
    var j = 0
    while (j < ok.length) {
      if (ou(j)) {
        var i = LongIntMap.slot(ok(j), mask)
        while (used(i)) i = (i + 1) & mask
        keys(i) = ok(j); vals(i) = ov(j); used(i) = true
      }
      j += 1
    }
  }
}

object LongIntMap {
  @inline private def slot(k: Long, mask: Int): Int =
    java.lang.Long.hashCode(k * -7046029254386353131L) & mask
}

/**
 * The grouped-sum engine behind the vectorized decimal-scan kernels —
 * [[ColumnarUnitsSum.gridSum]] (broadcast dim, ts-bucketed grid),
 * [[DenseSnowflakeSum.groupSum]] (flat snowflake, paged byte map) and
 * [[BucketedSnowflakeSum.groupSum]] (co-bucketed snowflake, bucket-local
 * map). Each entry point only decides how a fact row's key reaches its grid
 * cell (a [[CellProbe]]) and when to fall back; everything else is here,
 * once:
 *
 *  - the dim landing ([[landDim]] → [[DimSide]]) and its unique-key check;
 *  - the bare-lineage guard and scan/column resolution ([[bareScan]],
 *    [[pos]], [[summandOf]]);
 *  - the per-batch fact loop ([[accumulate]]): measure null checks,
 *    `round(a·10^s) × (c − round(b·10^s))` units, the 128-bit add
 *    ([[graft.aggregates.Sum128]]'s carry formula) and the row count;
 *  - the partial merge and grid-to-rows emit ([[collectGrid]]);
 *  - the snowflake entry frame and its declarative fallback
 *    ([[snowflakeSum]]).
 *
 * The probe runs once per BATCH and writes a cell per row; the fact loop
 * then reads the cells. So the one virtual call that varies by layout is
 * per batch, and the per-row loop has no megamorphic call site.
 */
private[ops] object GroupedSum {

  /** Broadcast payload for the dim side: primitive key/group arrays (what
    * actually ships — ~12 B/entry vs ~3× that for a serialized open-
    * addressed table) with the probe map built LAZILY once per JVM and
    * shared by its tasks. The lazy build also enforces the unique-key
    * contract — a duplicate fails whoever first forces the map. */
  final class DimSide(val keys: Array[Long], val groups: Array[Int],
      val nGroups: Int, val keyName: String) extends Serializable {
    @transient lazy val map: LongIntMap = {
      var capacity = 64
      while (capacity < keys.length * 2) capacity <<= 1
      val m = new LongIntMap(capacity)
      var i = 0
      while (i < keys.length) {
        if (!m.put(keys(i), groups(i)))
          throw new IllegalArgumentException(
            s"duplicate dim key ${keys(i)}: $keyName must be unique")
        i += 1
      }
      m
    }

    /** Broadcast, and build the map on the driver CONCURRENTLY with
      * broadcast registration and job setup: in local mode tasks receive
      * this same instance (the block manager stores the value by
      * reference), so the build never serializes into the job; on a
      * cluster each executor builds its own copy on first probe. A
      * duplicate key makes the future throw — tasks then throw the same
      * error, so the failure stays on the job path. */
    def broadcast(sc: SparkContext): Broadcast[DimSide] = {
      val b = sc.broadcast(this)
      scala.concurrent.Future(map)(scala.concurrent.ExecutionContext.global): Unit
      b
    }
  }

  private val DimCap = 1 << 21

  /** Submit the dim landing job (per-partition primitive builders, ONE
    * job, ~12 B/row) and return a handle that awaits, flattens and
    * validates. Callers overlap the await with their scan-side plan
    * derivation: on a sub-second gate the dim job otherwise serializes
    * behind planning for pure floor. The row cap (the broadcast contract,
    * 2^21) binds per PARTITION in-task and in total at the await, so a
    * contract-violating fact-sized "dim" ships at most cap+1 rows per
    * partition before the total check rejects it. */
  def landDim(dim: DataFrame, dimKeyCol: String,
      dimGroupCol: String): () => DimSide = {
    val f = scala.concurrent.Future {
      dim.select(col(dimKeyCol).cast("long"), col(dimGroupCol).cast("int"))
        .queryExecution.executedPlan.execute().mapPartitions { it =>
          val kb = new scala.collection.mutable.ArrayBuilder.ofLong
          val gb = new scala.collection.mutable.ArrayBuilder.ofInt
          var n = 0
          while (it.hasNext && n <= DimCap) {
            val r = it.next()
            if (r.isNullAt(0) || r.isNullAt(1) || r.getInt(1) < 0)
              throw new IllegalArgumentException(
                "dim keys/groups must be non-null, groups >= 0")
            kb += r.getLong(0); gb += r.getInt(1); n += 1
          }
          Iterator.single((kb.result(), gb.result()))
        }.collect()
    }(scala.concurrent.ExecutionContext.global)
    () => {
      val parts = scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf)
      val total = parts.iterator.map(_._1.length.toLong).sum
      require(total <= DimCap, s"dim must be dimension-sized (<= $DimCap rows)")
      val keys = new Array[Long](total.toInt)
      val groups = new Array[Int](total.toInt)
      var off = 0
      parts.foreach { case (ks, gs) =>
        System.arraycopy(ks, 0, keys, off, ks.length)
        System.arraycopy(gs, 0, groups, off, gs.length)
        off += ks.length
      }
      var nGroups = 0
      var gi = 0
      while (gi < groups.length) {
        if (groups(gi) >= nGroups) nGroups = groups(gi) + 1
        gi += 1
      }
      require(nGroups <= (1 << 22), s"grid too large: $nGroups groups")
      new DimSide(keys, groups, nGroups, dimKeyCol)
    }
  }

  /** True iff `plan` is a BARE relation: a parquet LogicalRelation,
    * optionally under SubqueryAlias wrappers (catalog-table reads) and
    * pure-attribute Projects (column pruning). Anything else — above all
    * a Filter — carries semantics the kernels would not re-apply: its
    * predicate reaches the scan only as row-group/page stats, so
    * consuming the scan's batches directly would silently keep rows the
    * predicate should drop. Non-bare lineage takes the declarative
    * fallback, which honors the full plan. */
  def isBare(plan: LogicalPlan): Boolean = plan match {
    case p: Project =>
      p.projectList.forall(_.isInstanceOf[AttributeReference]) && isBare(p.child)
    case a: SubqueryAlias => isBare(a.child)
    case _: LogicalRelation => true
    case _ => false
  }

  /** The single vectorized parquet scan under bare-lineage `df` pruned to
    * `cols` (and restricted by `where`, pushed to row groups), or None.
    * A bare scan+filter plans without exchanges, so AQE leaves it
    * un-wrapped and the leaf is final at plan time. */
  def bareScan(df: DataFrame, cols: Seq[String],
      where: Option[Column] = None): Option[FileSourceScanExec] = {
    if (!isBare(df.queryExecution.analyzed)) return None
    val pruned = df.select(cols.distinct.map(col): _*)
    where.fold(pruned)(pruned.where).queryExecution.executedPlan
      .collectLeaves() match {
      case Seq(scan: FileSourceScanExec) if scan.supportsColumnar => Some(scan)
      case _ => None
    }
  }

  /** Position of column `c` in the scan's output, if its type is wanted. */
  def pos(scan: FileSourceScanExec, c: String,
      want: DataType => Boolean): Option[Int] = {
    val i = scan.output.map(_.name).indexOf(c)
    if (i >= 0 && want(scan.output(i).dataType)) Some(i) else None
  }

  /** A fact row's summand, resolved against the fact scan: units(a), or
    * units(a) × (bConst − units(b)) when `b = Some((bConst, iB, bScale))`.
    * Units follow the double_units contract, Math.round(x·10^scale). */
  final case class Summand(iA: Int, aScale: Int, b: Option[(Long, Int, Int)])

  def summandOf(scan: FileSourceScanExec, measureA: (String, Int),
      measureB: Option[(Long, String, Int)]): Option[Summand] =
    for {
      iA <- pos(scan, measureA._1, _ == DoubleType)
      b <- measureB match {
        case None => Some(None)
        case Some((c, bCol, s)) =>
          pos(scan, bCol, _ == DoubleType).map(i => Some((c, i, s)))
      }
    } yield Summand(iA, measureA._2, b)

  /** The same summand as a column — the declarative fallbacks' spelling. */
  def summandColumn(measureA: (String, Int),
      measureB: Option[(Long, String, Int)]): Column = {
    import graft.functions.double_units
    val unitsA = double_units(col(measureA._1), measureA._2)
    measureB match {
      case Some((c, bCol, s)) => unitsA * (lit(c) - double_units(col(bCol), s))
      case None => unitsA
    }
  }

  /** Maps each row of a fact batch to its grid cell — the one part of
    * the fact loop that varies by layout. Built inside the task. */
  abstract class CellProbe {
    /** cells(i) := the grid cell of row i, or -1 when the row drops (a
      * null probe column, a lookup miss, out of range). */
    def fill(batch: ColumnarBatch, cells: Array[Int]): Unit
  }

  /** Cell = the group the row's LONG key maps to. */
  final class KeyProbe(lookup: LongIntLookup, iKey: Int) extends CellProbe {
    def fill(batch: ColumnarBatch, cells: Array[Int]): Unit = {
      val m = lookup
      val cKey = batch.column(iKey)
      val nullable = cKey.hasNull
      val n = batch.numRows()
      var i = 0
      while (i < n) {
        cells(i) = if (nullable && cKey.isNullAt(i)) -1 else m.get(cKey.getLong(i))
        i += 1
      }
    }
  }

  /** Per-cell 128-bit two-long registers (lo unsigned, hi signed) and row
    * counts: one per task, merged on the driver. */
  final class Grid(nCells: Int) extends Serializable {
    val lo = new Array[Long](nCells)
    val hi = new Array[Long](nCells)
    val cnt = new Array[Long](nCells)

    /** this += y cell-wise (unsigned lo-carry; hi adds straight — y's hi
      * already carries its own signs). */
    def mergeFrom(y: Grid): Grid = {
      var i = 0
      while (i < lo.length) {
        val oldLo = lo(i)
        val v = y.lo(i)
        val newLo = oldLo + v
        lo(i) = newLo
        hi(i) += y.hi(i) + (((oldLo & v) | ((oldLo | v) & ~newLo)) >>> 63)
        cnt(i) += y.cnt(i)
        i += 1
      }
      this
    }

    /** The register at idx as an exact BigDecimal at `scale` (two's-
      * complement reconstruction: hi signed, lo unsigned). */
    def sum(idx: Int, scale: Int): java.math.BigDecimal = {
      val big = java.math.BigInteger.valueOf(hi(idx)).shiftLeft(64)
        .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo(idx))))
      new java.math.BigDecimal(big, scale)
    }
  }

  /** The fact loop: stream a task's batches, probe each batch's cells,
    * and fold every surviving row (cell hit, measures non-null) into the
    * task's grid. Per-row |units product| must fit a signed long; the
    * registers are 128-bit, so the SUM never wraps. */
  def accumulate(batches: Iterator[ColumnarBatch], probe: CellProbe,
      s: Summand, nCells: Int): Grid = {
    val grid = new Grid(nCells)
    val lo = grid.lo
    val hi = grid.hi
    val cnt = grid.cnt
    val iA = s.iA
    val aFactor = math.pow(10.0, s.aScale)
    val hasB = s.b.isDefined
    val (bConst, iB, bFactor) = s.b match {
      case Some((c, i, scale)) => (c, i, math.pow(10.0, scale))
      case None => (0L, -1, 0.0) // iB is only read under hasB
    }
    var cells = new Array[Int](0)
    while (batches.hasNext) {
      val batch = batches.next()
      val n = batch.numRows()
      if (cells.length < n) cells = new Array[Int](n)
      probe.fill(batch, cells)
      val cA = batch.column(iA)
      val cB = if (hasB) batch.column(iB) else null
      val nullable = cA.hasNull || (hasB && cB.hasNull)
      var i = 0
      while (i < n) {
        val c = cells(i)
        if (c >= 0 && !(nullable && (cA.isNullAt(i) || (hasB && cB.isNullAt(i))))) {
          val ua = java.lang.Math.round(cA.getDouble(i) * aFactor)
          val v = if (hasB)
            ua * (bConst - java.lang.Math.round(cB.getDouble(i) * bFactor))
          else ua
          // grid(c) += v with the signed-carry formula.
          val oldLo = lo(c)
          val newLo = oldLo + v
          lo(c) = newLo
          hi(c) += (v >> 63) + (((oldLo & v) | ((oldLo | v) & ~newLo)) >>> 63)
          cnt(c) += 1L
        }
        i += 1
      }
    }
    grid
  }

  /** Merge the per-task grids and emit the non-empty cells as
    * (groupCol INT[, bucket INT], sum DECIMAL(38, outScale), n_rows LONG)
    * — cell = group × nBuckets + bucket when `nBuckets` is given. Plain
    * `reduce` up to 512 partitions (treeReduce's extra combine stage is a
    * whole scheduled job — pure floor at local/small-cluster counts);
    * `treeReduce` above, so a 100 TB scan's ~million task grids never all
    * land on the driver. */
  def collectGrid(spark: SparkSession, partials: RDD[Grid], nCells: Int,
      groupCol: String, nBuckets: Option[Int], outScale: Int): DataFrame = {
    val nParts = partials.getNumPartitions
    val g =
      if (nParts == 0) new Grid(nCells)
      else if (nParts <= 512) partials.reduce(_ mergeFrom _)
      else partials.treeReduce(_ mergeFrom _, depth = 2)
    val schema = StructType(
      Seq(StructField(groupCol, IntegerType, nullable = false)) ++
        nBuckets.map(_ => StructField("bucket", IntegerType, nullable = false)) ++
        Seq(StructField("sum", DecimalType(38, outScale), nullable = false),
          StructField("n_rows", LongType, nullable = false)))
    val out = new java.util.ArrayList[Row](64)
    var idx = 0
    while (idx < nCells) {
      if (g.cnt(idx) > 0) {
        val cell = nBuckets match {
          case Some(nb) => Seq(idx / nb, idx % nb)
          case None => Seq(idx)
        }
        out.add(Row.fromSeq(cell ++ Seq(g.sum(idx, outScale), g.cnt(idx))))
      }
      idx += 1
    }
    spark.createDataFrame(out, schema)
  }

  /** A snowflake kernel's resolved inputs: the fact scan with its key and
    * summand positions, the build scan with its key and dim-ref positions. */
  final case class SnowflakeScans(fact: FileSourceScanExec, iFk: Int,
      summand: Summand, build: FileSourceScanExec, iBk: Int, iRef: Int)

  /**
   * The snowflake entry frame shared by [[DenseSnowflakeSum]] and
   * [[BucketedSnowflakeSum]]: land the dim while `resolve` derives each
   * side's scan (it receives the frame, its key column and its used
   * columns), then run `kernel` on the scans and the landed dim. The
   * kernel returns the per-task grids, or None to fall back — also after
   * it has run a job (Dense's occupancy check). Result = the declarative
   * spelling (the fallback, also the spec reference):
   * {{{
   *   fact.where(used cols notNull)
   *       .join(build.where(used cols notNull)
   *               .join(broadcast(dim), buildRef === dimKey),
   *             factKey === buildKey)
   *       .groupBy(dimGroup)
   *       .agg(sum128(units(a) × (bConst − units(b)), outScale), count(1))
   * }}}
   * emitted as (dimGroupCol INT, sum DECIMAL(38, outScale), n_rows LONG),
   * only non-empty groups.
   */
  def snowflakeSum(fact: DataFrame, factKeyCol: String,
      measureA: (String, Int), measureB: Option[(Long, String, Int)],
      outScale: Int,
      build: DataFrame, buildKeyCol: String, buildRefCol: String,
      dim: DataFrame, dimKeyCol: String, dimGroupCol: String)(
      resolve: (DataFrame, String, Seq[String]) => Option[FileSourceScanExec])(
      kernel: (SnowflakeScans, DimSide) => Option[RDD[Grid]]): DataFrame = {
    require(outScale >= 0 && outScale <= 38, s"bad outScale $outScale")
    val factCols = Seq(factKeyCol, measureA._1) ++ measureB.map(_._2)
    val buildCols = Seq(buildKeyCol, buildRefCol)
    val landed = landDim(dim, dimKeyCol, dimGroupCol)
    val scans = try {
      for {
        f <- resolve(fact, factKeyCol, factCols)
        b <- resolve(build, buildKeyCol, buildCols)
        iFk <- pos(f, factKeyCol, _ == LongType)
        summand <- summandOf(f, measureA, measureB)
        iBk <- pos(b, buildKeyCol, _ == LongType)
        iRef <- pos(b, buildRefCol, _ == LongType)
      } yield SnowflakeScans(f, iFk, summand, b, iBk, iRef)
    } catch { case scala.util.control.NonFatal(_) => None }
    val d = landed()
    scans.flatMap(kernel(_, d)) match {
      case Some(partials) =>
        collectGrid(fact.sparkSession, partials, d.nGroups, dimGroupCol, None, outScale)
      case None =>
        import graft.functions.sum128
        // The fallback's inner join would FAN OUT on a duplicate dim key
        // where the kernels' maps are one-group-per-row: force the unique
        // check so both paths fail loudly instead of diverging.
        d.map: Unit
        val dimN = dim.select(col(dimKeyCol).cast("long").as("_gs_dk"),
          col(dimGroupCol).cast("int").as(dimGroupCol))
        val buildN = build
          .where(buildCols.map(col(_).isNotNull).reduce(_ && _))
          .select(col(buildKeyCol).cast("long").as("_gs_bk"),
            col(buildRefCol).cast("long").as("_gs_ref"))
          .join(broadcast(dimN), col("_gs_ref") === col("_gs_dk"))
          .select(col("_gs_bk"), col(dimGroupCol))
        fact.where(factCols.map(col(_).isNotNull).reduce(_ && _))
          .select(col(factKeyCol).cast("long").as("_gs_fk"),
            summandColumn(measureA, measureB).as("_gs_units"))
          .join(buildN, col("_gs_fk") === col("_gs_bk"))
          .groupBy(col(dimGroupCol))
          .agg(sum128(col("_gs_units"), outScale).as("sum"),
            count(lit(1)).as("n_rows"))
    }
  }
}
