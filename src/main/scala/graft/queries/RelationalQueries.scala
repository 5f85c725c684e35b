package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.{double_units, sum128}

/**
 * Relational breadth queries over the TPC-H-ish tables. These exercise the
 * "DuckDB core" capabilities our engine inherits from Spark SQL (SURVEY §2.3)
 * and anchor the bench at sf0.1.
 *
 * Oracle-parity conventions:
 *  - money/quantity aggregates go through DECIMAL(18,2) so both engines sum
 *    exactly (double summation order differs between engines);
 *  - final aggregate columns are cast to DECIMAL(38,2) on both sides so the
 *    result schemas align;
 *  - results are SETS: no trailing ORDER BY on either side — the driver
 *    compare canonicalizes (sorts rows by all columns) before hashing, so a
 *    final global sort is pure cost on both engines (a range exchange + a
 *    split-point sampling job on Spark's side). Top-k sorts (ORDER BY …
 *    LIMIT) and window-internal orderings are semantic and stay.
 */
object RelationalQueries {

  private val dec = DecimalType(18, 2)

  // Final outputs follow the round(CAST(exact AS DOUBLE), 4) convention: the
  // sum is computed exactly in DECIMAL on both engines, then converted to a
  // hash-stable DOUBLE (driver's comparator hash-matches DOUBLE but not
  // DECIMAL(38,x) renderings — CORRECTNESS_r01 q1/q2/q6 vs q3/q5/vss_*).
  private def outD(c: org.apache.spark.sql.Column) = round(c.cast("double"), 4)

  /** events with `ts` normalized to epoch-MICROS LONG regardless of the
    * fixture's physical type. The driver regenerated events.parquet with
    * `ts` as `timestamp[us]` (read as TIMESTAMP_NTZ) where it used to be
    * TIMESTAMP(NANOS)-read-as-LONG-nanos under `nanosAsLong` — the r6 bench
    * DNF. Both shapes (and plain TIMESTAMP) normalize here so the event-time
    * gates match DuckDB's `epoch_us(ts)` on the same file either way. */
  private def eventsUs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // legacy nanos-as-long read
        ev.withColumn("ts", expr("ts div 1000"))
      case _ =>
        ev.withColumn("ts", graft.ops.EventTime.toLong(ev, "ts"))
    }
  }

  /** 4-hour session gap / bucket width in the units `eventsUs` left on `ts`
    * (micros) vs what the raw table's type implies for TVF calls. */
  private val fourHoursUs = 4L * 3600 * 1000000L

  /** The same 4 hours in the RAW table's own ts units — for the TVF gates
    * that pass the table through unnormalized (micros for timestamp
    * columns, nanos for the legacy long read). One switch, not one per
    * gate: when the legacy shape is dropped, this is the only place. */
  private def rawFourHours(ev: DataFrame): Long = ev.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => 4L * 3600 * 1000000000L
    case _ => fourHoursUs
  }

  /** Idempotently materialize `dir/<table>.parquet` as a Spark bucketed
    * EXTERNAL table (hash(`key`) into `buckets` files under the gate
    * artifact dir) — the q2_bucketed layout. Same lifecycle discipline as
    * the HNSW/IVF gate layouts: artifacts survive across driver rounds in
    * the tmp dir, so staleness is checked (source mtime newer than the
    * newest bucket file → rebuild) and an existing valid layout in a FRESH
    * session (whose in-memory catalog forgot the table) is RE-REGISTERED
    * via CREATE TABLE … CLUSTERED BY … LOCATION instead of rewritten —
    * Spark recovers the bucket ids from the part-file names. The write
    * repartitions by the bucket key first: without it every map task
    * writes a file per bucket (tasks × buckets tiny files swamped the r10
    * spike's first attempt). */
  /** Per-session memo of completed [[ensureBucketed]] calls: the existence
    * probe (catalog lookup + head(1)) costs ~0.2 s of driver round-trips,
    * which would otherwise ride inside every timed bench run. Keyed by
    * applicationId so a fresh session (fresh in-memory catalog) re-probes. */
  private val bucketedEnsured = new scala.collection.concurrent.TrieMap[String, String]()

  /** Pre-build q2_bucketed's layout tables (Bench warmup hook — same
    * treatment as the HNSW/IVF layouts: measured runs time the query). */
  private[graft] def ensureQ2Layouts(s: SparkSession, dir: String): Unit = {
    ensureBucketed(s, dir, "lineitem", "l_orderkey")
    ensureBucketed(s, dir, "orders", "o_orderkey"): Unit
  }

  private def ensureBucketed(s: SparkSession, dir: String, table: String,
      key: String, buckets: Int = 32): String = {
    // Collision-resistant dir key (Tables.dirKey): two sf dirs must never
    // share a layout table name — see its scaladoc for the hazard.
    val tbl = s"graft_${table}_bkts${buckets}_${Tables.dirKey(dir)}"
    // Sorted single-file buckets only advertise their sort order under
    // spark.sql.legacy.bucketedTableScan.outputOrdering (off by default
    // since Spark 3). That conf is NOT set here (r13 verdict: a library
    // API must not mutate a host session) — the graft harness sessions
    // (Bench/Verify) enable it at session build, and a host session that
    // wants the sort-free merge join over these layouts opts in the same
    // way. Without it the q2_bucketed plan stays correct and still skips
    // the shuffle (bucket join), just pays two local sorts.
    val memoKey = s"${s.sparkContext.applicationId}/$tbl"
    if (bucketedEnsured.contains(memoKey)) return tbl
    val loc = new java.io.File(graft.Hnsw.baseDir(s), tbl)
    val src = new java.io.File(s"$dir/$table.parquet")
    def newestPart: Long = Option(loc.listFiles())
      .map(_.filter(_.getName.startsWith("part-")).map(_.lastModified).foldLeft(0L)(math.max))
      .getOrElse(0L)
    val filesCurrent = newestPart > 0 && newestPart >= src.lastModified
    def registered: Boolean = s.catalog.tableExists(tbl) &&
      (try s.table(tbl).head(1).nonEmpty catch { case _: Exception => false })
    if (!(filesCurrent && registered)) {
      s.sql(s"DROP TABLE IF EXISTS `$tbl`")
      if (filesCurrent) {
        // Valid files from an earlier session: re-register, don't rewrite.
        val schemaDdl = s.read.parquet(src.getAbsolutePath).schema.toDDL
        s.sql(s"""CREATE TABLE `$tbl` ($schemaDdl) USING parquet
                  CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS
                  LOCATION '${loc.getAbsolutePath}'""")
      } else {
        // DROP on an external table leaves files: clear them so a stale
        // layout can never leak into the fresh write.
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(loc)
        // One file per bucket AND sorted within it (sortBy): with sorted
        // single-file buckets Spark's reader advertises the sort order, so
        // a sort-merge join over two co-bucketed tables runs with NO sort
        // nodes — the merge-join option comes free with the layout.
        s.read.parquet(src.getAbsolutePath)
          .repartition(buckets, col(key))
          .write.bucketBy(buckets, key).sortBy(key)
          .option("path", loc.getAbsolutePath)
          .mode("overwrite").format("parquet").saveAsTable(tbl)
      }
    }
    bucketedEnsured.put(memoKey, tbl)
    tbl
  }

  /** A q2 kernel's (c_nationkey, sum, n_rows) grid as (n_name, revenue,
    * n_rows). The 25-row nation names are collected while the eager
    * `grid` computes (the q7 device); the name join rides the aggregated
    * grid as a literal map, never the fact rows. */
  private def revenuePerNation(n: DataFrame)(grid: => DataFrame): DataFrame = {
    val nationF = scala.concurrent.Future {
      n.select(col("n_nationkey").cast("int"), col("n_name"))
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    }(scala.concurrent.ExecutionContext.global)
    val g = grid
    val nationNames = scala.concurrent.Await.result(nationF,
      scala.concurrent.duration.Duration.Inf)
    g.select(
      element_at(typedLit(nationNames), col("c_nationkey")).as("n_name"),
      outD(col("sum")).as("revenue"), col("n_rows"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => {
      // Money sums run in the 128-bit units accumulator (sum128): exact like
      // the DECIMAL(18,2) sum the oracle computes, but three long ops per
      // row instead of a widened-decimal BigDecimal add.
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          outD(sum128(double_units(col("l_quantity"), 2), 2)).as("sum_qty"),
          outD(sum128(double_units(col("l_extendedprice"), 2), 2)).as("sum_base_price"),
          count(lit(1)).as("count_order"))
    }),
    "q2_join_agg" -> ((s, dir) => {
      // revenue per nation: lineitem ⋈ orders ⋈ customer ⋈ nation.
      //
      // r16: the dense-key broadcast-probe kernel (ops.DenseSnowflakeSum)
      // — the flat-layout sibling of q2_bucketed's kernel. Warehouse
      // orderkeys are DENSE, so the 15M-entry (o_orderkey → nationkey) map
      // is a ~15 MB byte ARRAY, broadcastable where the r8 A/B's
      // LongHashedRelation was the measured loss: two jobs (pack build
      // pairs; probe fact batches by array index into the 128-bit grid),
      // ZERO exchanges of any width. Falls back internally (sparse keys /
      // non-bare lineage / >254 groups) to its declarative snowflake.
      // EAGER like q7/q2_bucketed: the kernel runs its jobs at
      // construction and returns the materialized grid. The declarative
      // spellings measured against it (shuffle-hash, broadcast and
      // sort-merge fact joins; PERF_VS_DUCKDB.md rounds 8–16) all lost.
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      revenuePerNation(n)(graft.ops.DenseSnowflakeSum.groupSum(
        li, "l_orderkey",
        measureA = ("l_extendedprice", 2),
        measureB = Some((100L, "l_discount", 2)), outScale = 4,
        build = o, buildKeyCol = "o_orderkey", buildRefCol = "o_custkey",
        dim = c, dimKeyCol = "c_custkey", dimGroupCol = "c_nationkey"))
    }),
    "q2_bucketed" -> ((s, dir) => {
      // q2 over the CO-BUCKETED warehouse layout — the r8/r10 bucketed-
      // layout answer promoted from a spike (PERF_VS_DUCKDB.md round 10:
      // 3.59 s vs 5.45 s flat at sf10) to a scoreboard row. lineitem and
      // orders are both hash-bucketed ×32 on the order key (the
      // storage-partitioned-join layout a 100 TB warehouse maintains for
      // its biggest co-joined pair), so the 60M-row fact exchange —
      // q2-flat's measured residual — never exists. Same oracle SQL as
      // q2: the bucketed files hold row-identical data, DuckDB reads its
      // own best (flat) layout — generous to the baseline, see
      // PERF_VS_DUCKDB.md round 12.
      val liT = ensureBucketed(s, dir, "lineitem", "l_orderkey")
      val oT = ensureBucketed(s, dir, "orders", "o_orderkey")
      val c = Tables.load(s, dir, "customer")
      // r16: the bucket-local hash-probe kernel (ops.BucketedSnowflakeSum)
      // — ColumnarUnitsSum's vectorized pattern generalized past the
      // broadcast cap: per bucket, the task builds the (o_orderkey →
      // nationkey) table from ITS orders bucket (~470k keys at sf10 —
      // task-local, never broadcast) and streams the co-bucketed lineitem
      // bucket's ColumnarBatches through the probe+grid loop. One job, 32
      // tasks, zero fact-width exchanges, no sort. The r15 no-go
      // (b4103a5) covered the columnar MERGE-join; this is the hash shape
      // the verdict ordered; it beat the sort-free merge-join spelling
      // (PERF_VS_DUCKDB.md round 16).
      val n = Tables.load(s, dir, "nation")
      revenuePerNation(n)(graft.ops.BucketedSnowflakeSum.groupSum(
        s.table(liT), "l_orderkey",
        measureA = ("l_extendedprice", 2),
        measureB = Some((100L, "l_discount", 2)), outScale = 4,
        build = s.table(oT), buildKeyCol = "o_orderkey",
        buildRefCol = "o_custkey",
        dim = c, dimKeyCol = "c_custkey", dimGroupCol = "c_nationkey"))
    }),
    "q3_topn" -> ((s, dir) => {
      // Top 10 orders by total price (TopN pattern → TakeOrderedAndProject).
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), outD(col("o_totalprice").cast(dec)).as("price"))
        .orderBy(col("price").desc, col("o_orderkey"))
        .limit(10)
    }),
    "q4_window" -> ((s, dir) => {
      // Rank customers by account balance within nation (window function).
      val c = Tables.load(s, dir, "customer")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_nationkey"))
        .orderBy(col("bal").desc, col("c_custkey"))
      c.select(col("c_custkey"), col("c_nationkey"),
          outD(col("c_acctbal").cast(dec)).as("bal"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
    }),
    "q5_exists" -> ((s, dir) => {
      // Customers with at least one order (EXISTS). The r10 plan deduped
      // orders to distinct custkeys then semi-joined — the distinct's
      // map-side partial removed only in-partition repeats, so its
      // exchange still carried 13M of the 15M keys (68 MB, 1.0 s of the
      // 1.9 s gate at sf10). r11: SemiJoins.exists — the customer key
      // domain is compact, so the whole orders key set folds into an
      // exact ~190 KB bitmap per task (broadcast + one codegen bit test
      // per customer row); sparse/unbounded domains fall back to the old
      // shape inside the operator.
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      // Explicit range partitioning for the final sort: the output is
      // |customer| narrow rows (~7.5 MB at sf10), so AQE's byte-based
      // coalescing collapses a bare orderBy's range exchange to 2 tasks
      // and serializes a CPU-bound 1.5M-row sort (measured 346 ms → ~60 ms
      // at pinned width; same device as verifyJaccard's re-spread — byte
      // planning cannot see per-ROW cost).
      val par = s.sparkContext.defaultParallelism
      graft.ops.SemiJoins.exists(c, "c_custkey", o, "o_custkey")
        .select(col("c_custkey"))
        .repartitionByRange(par, col("c_custkey"))
        .sortWithinPartitions("c_custkey")
    }),
    "q7_ship_volume" -> ((s, dir) => {
      // q7-style: revenue by supplier nation × ship year with a date-range
      // filter and broadcast dims over the fact table. year(ts) IN
      // (1995,1996) is spelled as the equivalent half-open micros range
      // (session tz is UTC, so calendar years are exact micros ranges):
      // the range pushes to the parquet row-group level and the year
      // becomes the grid's bucket boundary — no per-row calendar
      // conversion anywhere.
      //
      // r15: the fact-side work (pushed-range scan → suppkey→nationkey
      // probe → cents × (100 − cents) revenue into a 25×2 grid) runs
      // through graft.ops.ColumnarUnitsSum — the vectorized kernel over
      // the parquet reader's ColumnarBatches that closed the one
      // remaining DuckDB-SIMD-decimal gap (4.1× the r14 row-codegen plan
      // at sf10; ColumnarUnitsSumSpec proves value-identity with the
      // declarative spelling, which remains the operator's fallback
      // path). The 25-row nation name lookup rides the grid as a literal
      // map over the LocalRelation (ConvertToLocalRelation folds it — the
      // broadcast-join spelling scheduled a whole extra job just to
      // decorate 50 rows, ~0.25 s of pure floor at every scale).
      // The 25-row nation read overlaps the grid computation (independent
      // jobs — same concurrent-submission device as the kernel's dim
      // collect): on a sub-second gate a serialized tiny job is pure floor.
      val nationF = scala.concurrent.Future {
        Tables.load(s, dir, "nation")
          .select(col("n_nationkey").cast("int"), col("n_name"))
          .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      }(scala.concurrent.ExecutionContext.global)
      val grid = graft.ops.ColumnarUnitsSum.gridSum(
        Tables.load(s, dir, "lineitem"), "l_shipdate",
        lo = 788918400000000L,  // 1995-01-01T00:00Z
        hi = 852076800000000L,  // 1997-01-01T00:00Z
        bucketBounds = Array(820454400000000L), // 1996-01-01T00:00Z
        factKeyCol = "l_suppkey",
        dim = Tables.load(s, dir, "supplier"),
        dimKeyCol = "s_suppkey", dimGroupCol = "s_nationkey",
        measureA = ("l_extendedprice", 2),
        measureB = Some((100L, "l_discount", 2)),
        outScale = 4)
      val nationNames = scala.concurrent.Await.result(nationF,
        scala.concurrent.duration.Duration.Inf)
      grid.select(
          element_at(typedLit(nationNames), col("s_nationkey")).as("n_name"),
          (col("bucket") + lit(1995)).as("ship_year"),
          outD(col("sum")).as("volume"), col("n_rows"))
    }),
    "q8_corr_subquery" -> ((s, dir) => {
      // Correlated scalar subquery: parts priced above their brand's average
      // (Spark decorrelates this into an aggregate + join).
      Tables.load(s, dir, "part").createOrReplaceTempView("graft_q8_part")
      s.sql(
        """SELECT p_partkey, p_brand, round(CAST(p_retailprice AS DOUBLE), 4) AS price
           FROM graft_q8_part p
           WHERE p_retailprice > (SELECT avg(p2.p_retailprice) * 1.05
                                  FROM graft_q8_part p2 WHERE p2.p_brand = p.p_brand)""")
    }),
    "q9_no_orders" -> ((s, dir) => {
      // Anti join: customers with no high-value (>300k) orders — NOT
      // EXISTS via the same bitmap device as q5_exists (r11): the
      // filtered orders keys fold into a domain-bitmap whose partials are
      // ~190 KB/task instead of the r10 distinct's 30 MB key exchange
      // (that plan's floor write-up called the exchange a
      // distributed-engine constant; the bitmap removes it). The
      // o_totalprice filter stays pushed down.
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders").where(col("o_totalprice") > 300000)
      graft.ops.SemiJoins.notExists(c, "c_custkey", o, "o_custkey")
        .select(col("c_custkey"), col("c_nationkey"))
    }),
    "q10_events_hourly" -> ((s, dir) => {
      // Time-series bucketing: per (event_type, hour) counts + exact sums.
      // ts is epoch-micros after eventsUs; the bucket uses integer division
      // (doubles can't hold epoch-micros exactly).
      eventsUs(s, dir)
        .withColumn("hour_bucket", expr("ts div 3600000000"))
        .groupBy(col("event_type"), col("hour_bucket"))
        .agg(count(lit(1)).as("n"),
          outD(sum128(double_units(col("value"), 4), 4)).as("sum_value"))
    }),
    "q11_rollup" -> ((s, dir) => {
      // Grouping-set breadth: ROLLUP over returnflag/linestatus. Spark
      // plans rollup via Expand — every fact row is TRIPLED (one copy per
      // grouping set) before the partial aggregate. The rollup levels are
      // re-aggregable (count → sum of counts, exact decimal sum → sum of
      // partials), so aggregate the fact table ONCE to the tiny
      // (rf, ls) grid and roll the grid up: Expand then triples 6 rows,
      // not N, and the one pass over lineitem runs in long registers.
      val grid = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"),
          sum128(double_units(col("l_quantity"), 2), 2).as("psum"))
      grid.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"), outD(sum(col("psum"))).as("sum_qty"))
    }),
    "q14_asof_join" -> ((s, dir) => {
      // As-of join: each purchase event picks up the most recent prior view
      // by the same user (union + window, one shuffle — ops.AsOfJoin).
      // Oracle is DuckDB's native ASOF LEFT JOIN. ts is epoch-micros after
      // eventsUs — DuckDB's epoch_us convention; (user_id, ts) is unique
      // per type in the fixture → deterministic.
      val ev = eventsUs(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_event_id"), col("ts"))
      graft.ops.AsOfJoin.asof(purchases, views, Seq("user_id"), "ts", "ts",
          rightPrefix = "v_")
        .select(col("event_id"), col("user_id"),
          col("ts").as("p_ts"),
          col("v_view_event_id").as("view_event_id"), col("v_ts"))
    }),
    "q15_sessionize" -> ((s, dir) => {
      // Gap-based sessionization (4 h gap over epoch-micros), then
      // per-session stats. One window shuffle — ops.Sessionize.
      graft.ops.Sessionize.sessionStats(eventsUs(s, dir),
          Seq("user_id"), "ts", maxGap = fourHoursUs)
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("start_ts").as("start_us"), col("end_ts").as("end_us"))
    }),
    "q16_range_join" -> ((s, dir) => {
      // Attribute every purchase to the (4 h-gap) session containing it.
      // The points being attributed ARE events of the sessionized stream,
      // so the fused per-event form applies (Sessionize.sessionizeWithStats,
      // r13): ONE scan + ONE exchange — the session aggregates ride a
      // second window that reuses the sessionize exchange. The composed
      // general form (sessionStats + RangeJoin.pointInDisjointIntervals,
      // for points that are NOT part of the interval-forming stream) is
      // value-identical on this query (SessionizeSpec) and stays
      // driver-gated through q19's range_join TVF.
      graft.ops.Sessionize.sessionizeWithStats(eventsUs(s, dir),
          Seq("user_id"), "ts", maxGap = fourHoursUs)
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("session_seq"),
          col("n_events"))
    }),
    "q17_sessionize_tvf" -> ((s, dir) => {
      // SQL-TVF gate over the RAW events table — no ts normalization on the
      // Spark side at all: proves the `sessionize` TVF (and the operator
      // under it) directly on the timestamp type the fixture actually
      // ships. maxGap units follow the column type (micros for timestamps,
      // nanos for the legacy long read).
      val ev = Tables.load(s, dir, "events")
      ev.createOrReplaceTempView("graft_q17_events")
      val gap = rawFourHours(ev)
      s.sql(
        s"""SELECT user_id, session_seq, count(*) AS n_events
            FROM sessionize(TABLE(graft_q17_events), 'user_id', 'ts', ${gap}L)
            GROUP BY user_id, session_seq""")
    }),
    "q20_sessionize_stats_tvf" -> ((s, dir) => {
      // SQL-TVF gate for the FUSED per-event session-stats operator
      // (Sessionize.sessionizeWithStats) — q16 drives the Scala API; this
      // proves the `sessionize_stats` SQL spelling on the RAW
      // timestamp-typed table (q17/q18 posture: no Spark-side ts
      // normalization). Same attribution semantics as q16: every purchase
      // tagged with its session's seq and event count, one scan + one
      // exchange.
      val ev = Tables.load(s, dir, "events")
      ev.createOrReplaceTempView("graft_q20_events")
      val gap = rawFourHours(ev)
      s.sql(
        s"""SELECT event_id, user_id, session_seq, n_events
            FROM sessionize_stats(TABLE(graft_q20_events), 'user_id', 'ts', ${gap}L)
            WHERE event_type = 'purchase'""")
    }),
    "q19_range_tvf" -> ((s, dir) => {
      // Third of the event-TVF trio on the RAW timestamp-typed table:
      // sessionStats over raw ts yields TIMESTAMP-typed intervals
      // (start_ts/end_ts), and the range_join TVF filters them through
      // EventTime — point AND interval columns in the shipped type.
      // bucket_width 0 = the disjoint-interval merge path (sessions of a
      // user never overlap): one window shuffle, no interval explode.
      val ev = Tables.load(s, dir, "events")
      val gap = rawFourHours(ev)
      graft.ops.Sessionize.sessionStats(ev, Seq("user_id"), "ts", gap)
        .createOrReplaceTempView("graft_q19_sessions")
      ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .createOrReplaceTempView("graft_q19_purchases")
      s.sql(
        s"""SELECT event_id, user_id, iv_session_seq AS session_seq,
                   iv_n_events AS n_events
            FROM range_join(TABLE(graft_q19_purchases), TABLE(graft_q19_sessions),
                            'user_id', 'ts', 'start_ts', 'end_ts', 0L)""")
    }),
    "q18_asof_tvf" -> ((s, dir) => {
      // SQL-TVF gate for as_of_join over the RAW timestamp-typed events —
      // same posture as q17: no Spark-side normalization, the TVF (via
      // ops.AsOfJoin + EventTime) must handle the shipped type itself.
      // Output omits ts columns: the joined ids fully determine the match,
      // and the raw column's physical type (TIMESTAMP_NTZ vs DuckDB's
      // TIMESTAMP) would only test the comparator's dtype canon, not the
      // operator.
      val ev = Tables.load(s, dir, "events")
      ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .createOrReplaceTempView("graft_q18_purchases")
      ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_event_id"), col("ts"))
        .createOrReplaceTempView("graft_q18_views")
      s.sql(
        """SELECT event_id, user_id, asof_view_event_id AS view_event_id
           FROM as_of_join(TABLE(graft_q18_purchases), TABLE(graft_q18_views),
                           'user_id', 'ts', 'ts')""")
    }),
    "q13_json_extract" -> ((s, dir) => {
      // Semi-structured: extract a JSON field from props and aggregate it.
      // json_get_long is the one-pass byte kernel: get_json_object pays a
      // Jackson streaming parse PER ROW, which was the whole 25×-vs-DuckDB
      // gap on this query — the aggregation itself is three long registers.
      Tables.load(s, dir, "events")
        .withColumn("k", graft.functions.json_get_long(col("props"), "k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"),
          outD(avg(col("k"))).as("avg_k"))
    }),
    "q12_multi_distinct" -> ((s, dir) => {
      // Multiple DISTINCT aggregates. NOT countDistinct(a), countDistinct(b)
      // in one agg: Spark plans that through Expand — every fact row is
      // TRIPLED (one copy per grouping set) before the partial aggregate,
      // and the per-row hash work on 3N wide rows dominated the query.
      //
      // r12: ONE scan, ONE shuffle — bitmap_count_distinct folds each
      // distinct column into a self-discovering containered bitmap
      // (BitmapDistinctAgg). The fixtures' key domains are block-allocated
      // (replicas at 1e8 offsets), so per-(task, group) partials are
      // containers × 8 KiB (~2.4 MB at sf10) and the 3-reducer merge is
      // word-wise ORs — removing the r8 salted-set plan's measured floor
      // (its 3-way set-union merge), its second aggregation stage, and its
      // two-branch scan + join. Scattered domains degrade in-aggregate to
      // an exact stray set (r13: sparse blocks demote at ~16 B/key, so
      // memory stays bounded on every distribution). Measured crossover
      // (PERF_VS_DUCKDB.md round 13, 60M rows × 3 groups): container-compact domains
      // bitmap 0.6-0.9 s vs salted 1.9-2.5 s (~3× win — this fixture's
      // regime); fully scattered domains bitmap 4.8-5.3 s vs salted
      // 2.0-2.1 s (~2.5× degrade — the un-salted plan funnels each
      // group's stray merge through ONE reducer while salting spreads it
      // over groups × 32). Exact either way; workloads with known-
      // scattered high-cardinality keys should either set
      // spark.graft.q12.bitmapDistinct=false (salted sets) or use the
      // container-salted bitmap spelling — groupBy(g, pmod(xxhash64(k >>
      // 16), 32)) + bitmap_count_distinct(k, smallCap) + sum — measured
      // best-of-both (dense 0.65-0.77 s, scattered 2.0-2.5 s; see
      // PERF_VS_DUCKDB r13).
      val useBitmap = s.conf.getOption("spark.graft.q12.bitmapDistinct")
        .forall(_.equalsIgnoreCase("true"))
      if (useBitmap) {
        Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_partkey"), col("l_suppkey"))
          .groupBy(col("l_returnflag"))
          .agg(graft.functions.bitmap_count_distinct(col("l_partkey")).as("n_parts"),
            graft.functions.bitmap_count_distinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
      } else {
        // r8: per-task distinct sets via the count_distinct_long kernel,
        // pre-aggregate key SALTED by hash(value) % S so per-(group, salt)
        // sets are disjoint and their sizes ADD exactly (the unsalted form
        // merged every task's set on |groups|=3 reducers — sf10 went 8.8x).
        // Each distinct column salts on its own value space (one pruned
        // 2-column branch per column); row counts ride branch A.
        val S = 32
        val li = Tables.load(s, dir, "lineitem")
        val parts = li.select(col("l_returnflag"), col("l_partkey"))
          .groupBy(col("l_returnflag"),
            pmod(xxhash64(col("l_partkey")), lit(S.toLong)).as("_salt"))
          .agg(graft.functions.count_distinct_long(col("l_partkey")).as("_p"),
            count(lit(1)).as("_c"))
          .groupBy(col("l_returnflag"))
          .agg(sum(col("_p")).as("n_parts"), sum(col("_c")).as("n_rows"))
        val supps = li.select(col("l_returnflag"), col("l_suppkey"))
          .groupBy(col("l_returnflag"),
            pmod(xxhash64(col("l_suppkey")), lit(S.toLong)).as("_salt"))
          .agg(graft.functions.count_distinct_long(col("l_suppkey")).as("_s"))
          .groupBy(col("l_returnflag"))
          .agg(sum(col("_s")).as("n_supps"))
        parts.join(supps, "l_returnflag")
          .select(col("l_returnflag"), col("n_parts"), col("n_supps"),
            col("n_rows"))
      }
    }),
    "q6_events_agg" -> ((s, dir) => {
      // Event-stream style aggregation: per type, count + exact value sum.
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          count(col("user_id")).as("n_users"),
          outD(sum128(double_units(col("value"), 4), 4)).as("sum_value"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_base_price,
           count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q2_join_agg" ->
      """SELECT n_name,
           round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 AS DECIMAL(38,4))) AS DOUBLE), 4) AS revenue,
           count(*) AS n_rows
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    // Same answer as q2_join_agg — the Spark side reads the co-bucketed
    // layout (row-identical data), DuckDB reads its own best (flat) files.
    "q2_bucketed" ->
      """SELECT n_name,
           round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 AS DECIMAL(38,4))) AS DOUBLE), 4) AS revenue,
           count(*) AS n_rows
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q3_topn" ->
      """SELECT o_orderkey, round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 4) AS price
         FROM orders ORDER BY price DESC, o_orderkey LIMIT 10""",
    "q4_window" ->
      """SELECT c_custkey, c_nationkey, round(CAST(bal AS DOUBLE), 4) AS bal,
                CAST(rnk AS BIGINT) AS rnk FROM (
           SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
                  row_number() OVER (PARTITION BY c_nationkey
                    ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC, c_custkey) AS rnk
           FROM customer) WHERE rnk <= 3""",
    "q5_exists" ->
      """SELECT c_custkey FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q6_events_agg" ->
      """SELECT event_type, count(*) AS n, count(user_id) AS n_users,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
         FROM events GROUP BY event_type""",
    "q16_range_join" ->
      """WITH s AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    > INTERVAL 4 HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         t AS (
           SELECT user_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM s),
         iv AS (
           SELECT user_id, session_seq, count(*) AS n_events,
             min(ts) AS start_ts, max(ts) AS end_ts
           FROM t GROUP BY user_id, session_seq)
         SELECT p.event_id, p.user_id, iv.session_seq, iv.n_events
         FROM events p JOIN iv
           ON p.user_id = iv.user_id AND p.ts BETWEEN iv.start_ts AND iv.end_ts
         WHERE p.event_type = 'purchase'""",
    "q15_sessionize" ->
      """WITH s AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    > INTERVAL 4 HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         t AS (
           SELECT user_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM s)
         SELECT user_id, session_seq, count(*) AS n_events,
           epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
         FROM t GROUP BY user_id, session_seq""",
    "q17_sessionize_tvf" ->
      """WITH s AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    > INTERVAL 4 HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         t AS (
           SELECT user_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM s)
         SELECT user_id, session_seq, count(*) AS n_events
         FROM t GROUP BY user_id, session_seq""",
    "q20_sessionize_stats_tvf" ->
      """WITH s AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    > INTERVAL 4 HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         t AS (
           SELECT user_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM s),
         iv AS (
           SELECT user_id, session_seq, count(*) AS n_events,
             min(ts) AS start_ts, max(ts) AS end_ts
           FROM t GROUP BY user_id, session_seq)
         SELECT p.event_id, p.user_id, iv.session_seq, iv.n_events
         FROM events p JOIN iv
           ON p.user_id = iv.user_id AND p.ts BETWEEN iv.start_ts AND iv.end_ts
         WHERE p.event_type = 'purchase'""",
    "q19_range_tvf" ->
      """WITH s AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    > INTERVAL 4 HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
           FROM events),
         t AS (
           SELECT user_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           FROM s),
         iv AS (
           SELECT user_id, session_seq, count(*) AS n_events,
             min(ts) AS start_ts, max(ts) AS end_ts
           FROM t GROUP BY user_id, session_seq)
         SELECT p.event_id, p.user_id, iv.session_seq, iv.n_events
         FROM events p JOIN iv
           ON p.user_id = iv.user_id AND p.ts BETWEEN iv.start_ts AND iv.end_ts
         WHERE p.event_type = 'purchase'""",
    "q18_asof_tvf" ->
      """SELECT p.event_id, p.user_id, v.event_id AS view_event_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id AND p.ts >= v.ts""",
    "q14_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_ts,
           v.event_id AS view_event_id, epoch_us(v.ts) AS v_ts
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
           ON p.user_id = v.user_id AND p.ts >= v.ts""",
    "q13_json_extract" ->
      """SELECT event_type, count(k) AS n_k, CAST(sum(k) AS BIGINT) AS sum_k,
           round(CAST(avg(k) AS DOUBLE), 4) AS avg_k
         FROM (SELECT event_type,
                 CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
         GROUP BY event_type""",
    "q12_multi_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",
    "q10_events_hourly" ->
      """SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
         FROM events GROUP BY event_type, hour_bucket""",
    "q11_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q7_ship_volume" ->
      """SELECT n_name, year(l_shipdate) AS ship_year,
           round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 AS DECIMAL(38,4))) AS DOUBLE), 4) AS volume,
           count(*) AS n_rows
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE year(l_shipdate) IN (1995, 1996)
         GROUP BY n_name, year(l_shipdate)""",
    "q8_corr_subquery" ->
      """SELECT p_partkey, p_brand, round(CAST(p_retailprice AS DOUBLE), 4) AS price
         FROM part p
         WHERE p_retailprice > (SELECT avg(p2.p_retailprice) * 1.05
                                FROM part p2 WHERE p2.p_brand = p.p_brand)""",
    "q9_no_orders" ->
      """SELECT c_custkey, c_nationkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 300000)"""
  )
}
