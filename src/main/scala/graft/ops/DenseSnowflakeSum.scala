package graft.ops

import org.apache.spark.sql.DataFrame

import graft.ops.GroupedSum.KeyProbe

/**
 * Dense-key broadcast-probe grouped sum over a FLAT (un-bucketed)
 * fact ⋈ build snowflake — the third member of the vectorized decimal-scan
 * kernel family ([[ColumnarUnitsSum]]: broadcast-contract dim;
 * [[BucketedSnowflakeSum]]: co-bucketed layout; this: flat layout with a
 * DENSE build key). The workload is TPC-H q2 over the no-layout baseline:
 * lineitem ⋈ orders ⋈ customer ⋈ nation, where orders (15M rows at sf10)
 * is far past any broadcast contract, so the declarative plan must
 * exchange either 60M fact rows or a 15M-row dim map
 * (`RelationalQueries.q2_join_agg`, the one remaining weak-board row —
 * PERF_VS_DUCKDB.md r15).
 *
 * The kernel exploits what a hashed relation cannot: warehouse surrogate
 * keys are BLOCK-DENSE — contiguous runs (TPC-H orderkey; the graft
 * fixtures are 0..N−1 per replica block) interleaved with empty
 * stretches where a sharded key allocator skipped ranges — and the group
 * id is tiny (25 nations). The (buildKey → group) map is then not a hash
 * table but a PAGED BYTE ARRAY sized by occupancy (~|keys| bytes,
 * 26 MB at sf10) where the r8 A/B's LongHashedRelation build was the
 * measured loss (driver-serial, ~3× the bytes, hash probes). Two jobs,
 * ZERO exchanges of any width:
 *
 *  1. Build job: stream the build side's ColumnarBatches, probe the
 *     broadcast-contract dim ([[GroupedSum.DimSide]]) — rows
 *     whose ref misses the dim drop here (inner semantics) — and fill
 *     TASK-LOCAL page fragments (group+1; 0 = absent; an occupied slot
 *     fails loudly — the unique-key contract). Each task ships whichever
 *     is smaller: its pages (key-clustered partitions — parquet in key
 *     order, the warehouse norm — make the whole collect ~occupancy
 *     bytes) or extracted (key, group) pairs (scattered keys). The
 *     driver adopts disjoint pages by reference, merges overlaps (the
 *     cross-task duplicate check), and torrent-broadcasts the map.
 *  2. Fact job: [[GroupedSum]]'s fact loop, whose per-row probe is a
 *     bounds check + directory load + page index (no hashing).
 *
 * == Semantics ==
 *
 * [[GroupedSum.snowflakeSum]]'s declarative spelling (shared with
 * [[BucketedSnowflakeSum]]), emitted as (dimGroupCol INT, sum DECIMAL(38,
 * outScale), n_rows LONG), only non-empty groups. `measureB = None` sums
 * plain `units(a)`.
 *
 * == Scale contract ==
 *
 * - Kernel path requires: bare-lineage vectorized parquet scans on BOTH
 *   sides ([[GroupedSum.isBare]]'s rationale); dim within the
 *   broadcast contract (≤ 2^21 rows, dense int group ids, unique keys —
 *   duplicates fail loudly); ≤ 254 groups (byte map); allocated page
 *   bytes ≤ `maxKeySpan` (default 2^27 — a 128 MB broadcast ceiling;
 *   ≥ 2^17 · occupied pages, so keys must be block-dense, not merely
 *   bounded) and key span ≤ 2^39 (the page-directory cap). The
 *   occupancy check runs AFTER the build job, so a sparse-key violation
 *   costs one wasted build-side scan before the declarative fallback.
 *   Anything else falls back — the operator is total.
 * - `buildKeyCol` must be UNIQUE among dim-hitting rows (a primary key):
 *   the driver fill fails loudly on an occupied slot, where the
 *   fallback's join would silently fan fact rows out.
 * - The build collect ships min(task pages, 9 B × task pairs) per task —
 *   ~occupancy bytes end-to-end on key-clustered layouts (26 MB at sf10)
 *   — the price of the flat layout, paid once per call and bounded by
 *   `maxKeySpan`; at scales past the broadcast ceiling the at-scale
 *   answer is the co-bucketed layout ([[BucketedSnowflakeSum]]), not a
 *   bigger broadcast.
 * - EAGER on the kernel path (same caveat as the siblings): the returned
 *   DataFrame is the materialized grid, and the build/fact jobs run at
 *   call time.
 */
object DenseSnowflakeSum {

  /** 128 KiB pages: big enough that a dense key run wastes < 1% on edge
    * pages, small enough that a 150k-key block (one derived-scale replica)
    * allocates 2 pages, not megabytes. */
  private[ops] final val PageShift = 17
  private[ops] final val PageMask = (1L << PageShift) - 1
  private final val PageSize = 1 << PageShift

  /** Broadcast payload: the PAGED dense (key − minKey) → group+1 byte map.
    * Pages of 2^[[PageShift]] slots are allocated only where keys live, so
    * the map is sized by OCCUPANCY, not span — fully dense keys use one
    * contiguous run of pages; block-allocated keys (per-shard surrogate
    * ranges, the graft derived-scale replicas) leave the empty stretches
    * as null directory entries (~8 B each). 0 = absent; stored
    * value − 1 = group id. */
  final class DenseByteMap(val minKey: Long, val span: Long,
      val pages: Array[Array[Byte]]) extends LongIntLookup {
    @inline def get(k: Long): Int = {
      val idx = k - minKey
      if (idx < 0 || idx >= span) -1
      else {
        val p = pages((idx >>> DenseSnowflakeSum.PageShift).toInt)
        if (p == null) -1
        else (p((idx & DenseSnowflakeSum.PageMask).toInt) & 0xFF) - 1
      }
    }
  }

  /** Driver-side assembly of a [[DenseByteMap]] over the page numbers
    * [minPage, minPage + nDir): single slots fill, whole pages adopt by
    * reference (or merge byte-wise into an occupied one). A slot set twice
    * is a unique-key violation and fails loudly. Allocation past
    * `maxBytes` sets `overflow` and stops all further work: the caller
    * falls back. */
  private final class PageBuilder(minPage: Long, nDir: Int, maxBytes: Long,
      what: String, name: String) {
    private val pages = new Array[Array[Byte]](nDir)
    private var allocated = 0L
    var overflow = false

    private def duplicate(k: Long): Nothing =
      throw new IllegalArgumentException(s"duplicate $what $k: $name must be unique")

    private def allocate(): Boolean = {
      allocated += PageSize
      overflow = allocated > maxBytes
      !overflow
    }

    /** slot(k) := v, v = group + 1. */
    def put(k: Long, v: Byte): Unit = if (!overflow) {
      val pIdx = ((k >> PageShift) - minPage).toInt
      if (pages(pIdx) == null && allocate()) pages(pIdx) = new Array[Byte](PageSize)
      if (!overflow) {
        val page = pages(pIdx)
        val s = (k & PageMask).toInt
        if (page(s) != 0) duplicate(k)
        page(s) = v
      }
    }

    def merge(pNo: Long, incoming: Array[Byte]): Unit = if (!overflow) {
      val pIdx = (pNo - minPage).toInt
      val existing = pages(pIdx)
      if (existing == null) { if (allocate()) pages(pIdx) = incoming }
      else {
        var s = 0
        while (s < PageSize) {
          if (incoming(s) != 0) {
            if (existing(s) != 0) duplicate((pNo << PageShift) + s)
            existing(s) = incoming(s)
          }
          s += 1
        }
      }
    }

    /** The map, or None after an overflow. */
    def result: Option[DenseByteMap] =
      if (overflow) None
      else Some(new DenseByteMap(if (nDir == 0) 0L else minPage << PageShift,
        nDir.toLong << PageShift, pages))
  }

  /** A [[PageBuilder]] over pages [minPage, maxPage] (empty when minPage >
    * maxPage), or None when the directory itself passes its cap: one
    * pointer per 2^17-key stretch, so a pathological span (random 64-bit
    * keys) would blow the directory before any page allocates. */
  private def pageBuilder(minPage: Long, maxPage: Long, maxBytes: Long,
      what: String, name: String): Option[PageBuilder] = {
    val nDir = if (minPage > maxPage) 0L else maxPage - minPage + 1
    if (nDir > (1 << 22)) None
    else Some(new PageBuilder(minPage, nDir.toInt, maxBytes, what, name))
  }

  /** Page-dense map of the dim's (key, group) arrays (≤ 254 groups), or
    * None when not densifiable (directory past its cap, allocation past
    * `maxBytes`). Duplicate keys fail loudly. */
  private def pagedDim(d: GroupedSum.DimSide, maxBytes: Long): Option[DenseByteMap] = {
    var minP = Long.MaxValue
    var maxP = Long.MinValue
    d.keys.foreach { k =>
      val p = k >> PageShift
      if (p < minP) minP = p
      if (p > maxP) maxP = p
    }
    pageBuilder(minP, maxP, maxBytes, "dim key", d.keyName).flatMap { b =>
      var i = 0
      while (i < d.keys.length && !b.overflow) {
        b.put(d.keys(i), (d.groups(i) + 1).toByte)
        i += 1
      }
      b.result
    }
  }

  /**
   * @param fact       flat fact table (bare lineage for the kernel path)
   * @param factKeyCol LONG key joined to `buildKeyCol`
   * @param measureA   (DOUBLE column, decimal scale) — units via the
   *                   double_units contract (Math.round(x·10^s))
   * @param measureB   optional (constUnits, DOUBLE column, scale): the
   *                   summand becomes unitsA × (constUnits − unitsB)
   * @param outScale   decimal scale of the DECIMAL(38, outScale) sum
   * @param build      flat build table; `buildKeyCol` LONG unique among
   *                   dim-hitting rows, block-dense keys (see contract)
   * @param buildRefCol LONG column joined to the dimension
   * @param dim        (dimKeyCol LONG/INT, dimGroupCol INT) rows; group
   *                   ids dense in [0, nGroups), ≤ 254 groups for the
   *                   kernel; broadcast contract
   * @param maxKeySpan kernel ceiling on ALLOCATED page bytes — the
   *                   broadcast is at most this + the page directory
   */
  def groupSum(fact: DataFrame, factKeyCol: String,
      measureA: (String, Int), measureB: Option[(Long, String, Int)],
      outScale: Int,
      build: DataFrame, buildKeyCol: String, buildRefCol: String,
      dim: DataFrame, dimKeyCol: String, dimGroupCol: String,
      maxKeySpan: Long = 1L << 27): DataFrame = {
    require(maxKeySpan > 0 && maxKeySpan <= (1L << 30),
      s"maxKeySpan out of range: $maxKeySpan")
    GroupedSum.snowflakeSum(fact, factKeyCol, measureA, measureB, outScale,
      build, buildKeyCol, buildRefCol, dim, dimKeyCol, dimGroupCol)(
      (df, _, cols) => GroupedSum.bareScan(df, cols)) { (s, d) =>
      // The byte map stores group+1 in an unsigned byte: > 254 groups
      // falls back (a snowflake group is a tiny dimension attribute —
      // nation, region, flag; a wide group belongs in gridSum's int map).
      if (d.nGroups > 254) None
      else {
        val sc = fact.sparkSession.sparkContext
        // Dim probe structure: the dim's own keys usually come from the
        // same block-dense allocator as the build keys (customer keys in
        // q2), so try the paged byte map first — the build job's 15M
        // probes become bounds-check + array index instead of hash
        // lookups. The hash DimSide stays the path for non-dense dims
        // (same loud duplicate check either way: pagedDim at the driver,
        // DimSide.map when forced).
        val bcPaged = pagedDim(d, 1L << 26).map(sc.broadcast(_))
        val bcDim = if (bcPaged.isEmpty) Some(d.broadcast(sc)) else None
        val (iBk, iRef) = (s.iBk, s.iRef)
        val buildKeyName = buildKeyCol
        // Build job: each task fills ABSOLUTE-indexed page fragments
        // locally (page number = key >> 17, arithmetic shift — negative
        // keys floor correctly), catching its own duplicate keys at fill
        // time, then ships whichever encoding is smaller: the pages
        // themselves (key-clustered partitions — parquet written in key
        // order, the warehouse norm — touch near-disjoint page sets, so
        // the whole collect is ~occupancy bytes) or extracted (key,
        // group+1) pairs (scattered keys, where pages would ship mostly
        // zeros).
        val packed = s.build.executeColumnar().mapPartitions { it =>
          val dimLookup: LongIntLookup =
            bcPaged.map(_.value).getOrElse(bcDim.get.value.map)
          val local = new java.util.HashMap[Long, Array[Byte]]()
          var nPairs = 0L
          // One-entry page cache: clustered keys make consecutive rows
          // hit the same page, skipping the boxed HashMap lookup.
          var lastNo = Long.MinValue
          var lastArr: Array[Byte] = null
          it.foreach { batch =>
            val cK = batch.column(iBk)
            val cR = batch.column(iRef)
            val nullable = cK.hasNull || cR.hasNull
            val n = batch.numRows()
            var i = 0
            while (i < n) {
              if (!nullable || !(cK.isNullAt(i) || cR.isNullAt(i))) {
                val g = dimLookup.get(cR.getLong(i))
                if (g >= 0) {
                  val k = cK.getLong(i)
                  val pNo = k >> PageShift
                  var page = if (pNo == lastNo) lastArr else null
                  if (page == null) {
                    page = local.get(pNo)
                    if (page == null) {
                      page = new Array[Byte](PageSize)
                      local.put(pNo, page)
                    }
                    lastNo = pNo; lastArr = page
                  }
                  val slot = (k & PageMask).toInt
                  if (page(slot) != 0)
                    throw new IllegalArgumentException(
                      s"duplicate build key $k: $buildKeyName must be unique")
                  page(slot) = (g + 1).toByte
                  nPairs += 1L
                }
              }
              i += 1
            }
          }
          val pn = new Array[Long](local.size)
          val pd = new Array[Array[Byte]](local.size)
          var j = 0
          local.forEach { (no, page) => pn(j) = no; pd(j) = page; j += 1 }
          if ((local.size.toLong << PageShift) <= nPairs * 9)
            Iterator.single((pn, pd, null: Array[Long], null: Array[Byte]))
          else {
            // Ship pairs extracted from the local pages.
            val kb = new Array[Long](nPairs.toInt)
            val gb = new Array[Byte](nPairs.toInt)
            j = 0
            pn.indices.foreach { p =>
              val base = pn(p) << PageShift
              val page = pd(p)
              var slot = 0
              while (slot < PageSize) {
                if (page(slot) != 0) { kb(j) = base + slot; gb(j) = page(slot); j += 1 }
                slot += 1
              }
            }
            Iterator.single((null: Array[Long], null: Array[Array[Byte]], kb, gb))
          }
        }.collect()
        // The driver adopts disjoint pages by reference and merges
        // overlaps byte-wise (overlap collisions = the cross-task
        // duplicate check). Keys too sparse even page-wise (allocation
        // past maxKeySpan, or the directory cap) fall back: the build
        // scan is sunk cost, semantics come from the declarative spelling.
        var minPage = Long.MaxValue
        var maxPage = Long.MinValue
        def cover(p: Long): Unit = {
          if (p < minPage) minPage = p
          if (p > maxPage) maxPage = p
        }
        packed.foreach { case (pn, _, ks, _) =>
          if (pn != null) pn.foreach(cover) else ks.foreach(k => cover(k >> PageShift))
        }
        val map = pageBuilder(minPage, maxPage, maxKeySpan, "build key",
          buildKeyName).flatMap { b =>
          packed.foreach { case (pn, pd, ks, gs) =>
            var i = 0
            if (pn != null) {
              while (i < pn.length) { b.merge(pn(i), pd(i)); i += 1 }
            } else {
              while (i < ks.length) { b.put(ks(i), gs(i)); i += 1 }
            }
          }
          b.result
        }
        map.map { m =>
          val bcMap = sc.broadcast(m)
          val (iFk, summand, nCells) = (s.iFk, s.summand, d.nGroups)
          s.fact.executeColumnar().mapPartitions { it =>
            Iterator.single(GroupedSum.accumulate(it,
              new KeyProbe(bcMap.value, iFk), summand, nCells))
          }
        }
      }
    }
  }
}
