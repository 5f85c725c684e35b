package graft.spark

import org.apache.spark.sql.DataFrame

/**
 * Execute-time policy knobs.
 *
 * == Adaptive execution vs the small-query floor ==
 *
 * AQE materializes every exchange as its own job (submission + listener
 * round-trip + stage re-optimization). That re-planning is what makes the
 * big shuffling queries robust — runtime broadcast decisions, skew splits,
 * partition coalescing — and it is pure overhead on a query whose whole
 * input is a few MB: measured at sf1 (local[32]), the sub-second gate
 * queries run 2x faster with AQE off (e.g. `q4_window` 4 jobs → 2,
 * `q8_corr_subquery` 5 → 3, subset total 6.4 s → 3.3 s) while nothing
 * about their plans changes — the savings are scheduling round trips, not
 * compute. On a 100 TB cluster the same queries would be large and AQE
 * unambiguously right; the decision is a function of INPUT SIZE, not of
 * the query.
 *
 * [[withSizedAqe]] encodes that: it reads the static size estimate of the
 * optimized plan (for parquet relations this is the summed file size —
 * known before execution) and disables AQE for this one execution when the
 * total input falls under `spark.graft.aqe.smallQueryBytes` (default
 * 64 MB, matching the broadcast threshold reasoning: below it, even the
 * build side of a join is broadcastable, so there is no runtime join
 * decision left for AQE to improve). Set the conf to 0 to disable the
 * policy. Static broadcast decisions still apply below the threshold —
 * parquet size statistics drive `autoBroadcastJoinThreshold` without AQE.
 */
object ExecTuning {

  val SmallQueryBytesKey = "spark.graft.aqe.smallQueryBytes"
  val DefaultSmallQueryBytes: Long = 64L << 20

  /** Post-shuffle partition count used for small-input executions
    * (0 disables the trim). 8 keeps every core class busy at the MB scale
    * while cutting per-exchange task dispatch 4x vs a 32-wide default. */
  val SmallQueryShufflePartitionsKey = "spark.graft.smallQueryShufflePartitions"
  val DefaultSmallQueryShufflePartitions = 8

  /** Total static size estimate of the plan's leaves (bytes).
    *
    * Deliberately sums EVERY leaf, counting a twice-scanned file twice. A
    * distinct-by-file variant was measured (round 8) and reverted: it
    * read as the "purer" data-scale proxy, but re-scan count correlates
    * with plan work (multi-pass dedup shapes that shingle-explode the
    * corpus scan it repeatedly), and deduping flipped those past the
    * small-query gate at derived sf10 — AQE off + trimmed shuffle width
    * on an LSH verify turned 4 s gates into 45 s. Leaf-sum is the
    * empirically safe under-approximation of "small". */
  def inputBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum

  /** The session's broadcast threshold in bytes. Plain-long spelling is
    * tried FIRST: "-1" (the standard disable value) throws in
    * byteStringAsBytes, and the old parse fell back to the 10 MB default —
    * making the documented "threshold <= 0 => guard not needed" branch
    * unreachable with broadcast disabled (r16 ADVICE). A byte-suffixed
    * spelling — the session default reads "10MB" — parses as bytes. */
  private[graft] def sessionBroadcastThreshold(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption
        .orElse(scala.util.Try(
          org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)).toOption))
      .getOrElse(10L << 20)

  /** Does re-deriving `df` re-execute an exchange? A bare (projected,
    * filtered) scan re-reads its pruned columns cheaply, and a join whose
    * one side is broadcast-sized by stats re-runs as a map-side probe —
    * but a window, an aggregate, or a join BOTH of whose sides are big
    * re-executes exchanges per consumer. The one test behind every
    * "evaluate a composed input once" decision: `Mix`'s shared wide
    * exchange (an expensive upstream amortized across the prefix sum's
    * consumers) and `Dedup.dropNearDuplicates`' re-rooted input (its five
    * consumers read one executed RDD). Cheap-to-re-run inputs keep their
    * column-pruned plans — a 100 TB corpus with a tiny dim-table
    * broadcast join in its lineage must NOT be forced through a full-row
    * exchange (round-10 review). */
  private[graft] def nontrivialUpstream(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{logical => l}
    try {
      // When broadcast joins are DISABLED (threshold <= 0) this test still
      // asks "is the small side dim-sized?" against the 10 MB default: a
      // session that turns broadcasting off must not reclassify a 100 TB
      // corpus's one tiny dim join as expensive (r10 advice). The re-run
      // cost being estimated is a shuffle-join probe then — more than a
      // broadcast probe, but still nothing like re-running a real
      // multi-exchange upstream.
      val conf = sessionBroadcastThreshold(df.sparkSession)
      val bcast = if (conf <= 0) 10L << 20 else conf
      df.queryExecution.optimizedPlan.exists {
        case j: l.Join =>
          j.left.stats.sizeInBytes.min(j.right.stats.sizeInBytes) > bcast
        case _: l.Aggregate | _: l.Window => true
        case _ => false
      }
    } catch { case _: Exception => false }
  }

  /** Session conf as Long in [min, max], naming the offending key on a bad
    * value. */
  private[graft] def confLong(spark: org.apache.spark.sql.SparkSession,
      key: String, default: Long, min: Long = Long.MinValue, max: Long = Long.MaxValue): Long =
    parsedConf(spark, key, default,
      if (min == Long.MinValue && max == Long.MaxValue) "a number" else s"a number from $min to $max"
    )(_.toLongOption.filter(n => n >= min && n <= max))

  /** Session conf as a finite Double of at least `min`, naming the key on a
    * bad value. */
  private[graft] def confDouble(spark: org.apache.spark.sql.SparkSession,
      key: String, default: Double, min: Double): Double =
    parsedConf(spark, key, default, s"a finite number of at least $min")(
      _.toDoubleOption.filter(x => x >= min && x < Double.PositiveInfinity))

  /** Session conf as one of `choices` (any case; "true"/"false" for a
    * boolean), naming the key on any other value. */
  private[graft] def confChoice(spark: org.apache.spark.sql.SparkSession,
      key: String, default: String, choices: String*): String =
    parsedConf(spark, key, default, s"one of ${choices.mkString(", ")}")(v =>
      choices.find(_.equalsIgnoreCase(v)))

  /** The one copy of the parse-with-context idiom every knob uses: the
    * session's value of `key` through `parse`, `default` when unset, and an
    * IllegalArgumentException naming the key and what it `must` be when
    * `parse` refuses it. Reads with a null default: `conf.getOption` throws
    * and catches an exception for an unset key, and the optimizer rules
    * read their keys on every pass. */
  private def parsedConf[T](spark: org.apache.spark.sql.SparkSession, key: String,
      default: T, must: String)(parse: String => Option[T]): T =
    Option(spark.conf.get(key, null)).fold(default)(v => parse(v.trim).getOrElse(
      throw new IllegalArgumentException(s"$key must be $must, got '$v'")))

  /** Scan splits per core targeted for LARGE inputs (0 disables the
    * raise). The session default `maxPartitionBytes` is sized for the
    * small-SF floor (4 MB ≈ real parallelism on a 135 MB table); left
    * alone at 10-100x the data it manufactures thousands of tiny scan
    * tasks — measured at derived sf10 (local[32]): q2_join_agg 2010 tasks,
    * q12_multi_distinct 2795, with the driver's ~0.5-1 ms/task dispatch
    * and a maps×reducers shuffle-block blowup as pure overhead, and
    * map-side partial aggregation deduping almost nothing because each
    * 4 MB task sees too few rows. [[withSizedAqe]] raises the split size
    * for this one execution to input/(cores × splitsPerCore), capped at
    * 512 MB — the same "size the task to the data" policy a 100 TB
    * cluster runs with (128 MB+ splits), derived per-query from the same
    * static size estimate the AQE gate reads. Never lowers the conf.
    *
    * Default 2 (r11; was 4): in-session ABBA A/Bs at derived sf10 put the
    * per-task overhead of a broadcast-hash-join scan stage at ~3-4 ms
    * (vs ~1 ms join-free) — q7's 60M-row fact stage ran 1643 ms at 327
    * tasks and 403 ms at 32 in one session — and 2 splits/core beat 4 on
    * every ≥1 s gate tried (q2 4.45→4.13, q7 1.51→1.11, q12 3.97→3.17,
    * doc_substr_dedup 6.16→6.01 min-of-3; doc_pack_emit tie). 1 was
    * better still for q7 alone but lost on q12 and leaves no slack for a
    * stolen-core straggler, so 2 is the default and the conf stays the
    * escape hatch. */
  val ScanSplitsPerCoreKey = "spark.graft.scan.splitsPerCore"
  val DefaultScanSplitsPerCore = 2
  val MaxScanSplitBytes: Long = 512L << 20

  /** Byte cap under which [[spreadForKernel]] may add its exchange
    * (0 disables the spread entirely). Above the cap the input's scan
    * already has enough splits — or would pay a real shuffle — so the
    * helper is the identity. */
  val SpreadKernelMaxBytesKey = "spark.graft.kernel.spreadMaxBytes"
  val DefaultSpreadKernelMaxBytes: Long = 64L << 20

  /**
   * Hash-repartition a SMALL input to core parallelism ahead of a
   * CPU-heavy per-row kernel (shingling, minhash, n-gram explosion, BPE
   * encoding, classifier featurization).
   *
   * The problem it solves is parallelism, not bytes: a 0.5 MB documents
   * file is 1-3 scan splits no matter how fine `maxPartitionBytes` is
   * set, so every kernel over it runs on 1-3 of 32 cores — measured at
   * sf0.1, the shingle stages of the dedup gates spent 0.4-1.0 s on
   * 3-task stages while 29 cores idled (guide §2: partitioning must be
   * scale-adaptive, derived from input size, not inherited from file
   * layout). The exchange ships the kernel's INPUT rows once (narrow:
   * id + text), which is orders of magnitude cheaper than the kernel
   * CPU it parallelizes at small scale.
   *
   * Scale posture: fires only when the static input estimate is BOTH
   * under `spark.graft.kernel.spreadMaxBytes` (64 MB default) AND small
   * enough that the scan feeds fewer than half the cores at the session's
   * current split size. At warehouse scale the scan has thousands of
   * splits, the condition is false, and this is the identity — the
   * shuffle-free plan is unchanged.
   *
   * Partitioning is by hash of `keys` (deterministic under task retry,
   * unlike round-robin; see SPARK-38388) — callers pass the row id.
   * Results are unchanged for any order-insensitive consumer; every
   * caller in this library aggregates, joins, or sorts downstream.
   */
  def spreadForKernel(df: DataFrame, keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    if (par <= 2 || keys.isEmpty) return df
    val cap = confLong(spark, SpreadKernelMaxBytesKey, DefaultSpreadKernelMaxBytes)
    if (cap <= 0) return df
    // Only scan-shaped inputs qualify: if the subtree already contains an
    // exchange-inducing node (aggregate, join, window, repartition, sort,
    // …) the kernel's input is ALREADY spread by that exchange, and adding
    // another one measurably regresses (first r16 attempt: the
    // dropNearDuplicates path re-shuffled its window output and the
    // touched pipeline gates ran 1.5-6x slower).
    import org.apache.spark.sql.catalyst.plans.logical._
    val barrier = df.queryExecution.analyzed.exists {
      case _: Aggregate | _: Join | _: Window | _: Sort | _: Distinct |
           _: Deduplicate | _: RepartitionByExpression | _: Repartition |
           _: GlobalLimit => true
      case _ => false
    }
    if (barrier) return df
    val bytes: BigInt = try inputBytes(df) catch { case _: Exception => return df }
    if (bytes >= cap) return df
    // Spark reports this conf's default with a byte suffix ("134217728b"),
    // so parse it as a byte string, not a bare long.
    val split = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      .flatMap(v => scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)).toOption)
      .getOrElse(128L << 20)
    // Estimated scan splits, ignoring openCostInBytes padding — an
    // UNDER-estimate on many-small-file tables, which only makes the
    // spread fire less often (never wrongly at scale). par/4: only a
    // SHARP parallelism deficit pays for the exchange — at ~par/2
    // splits the gain measured as a wash (derived-sf10 ABBA, 15 splits
    // on 32 cores: 1.02x), while at 1-3 splits it is 0.62-0.76x.
    val estSplits = (bytes / split).toLong + 1
    if (estSplits * 4 <= par.toLong) df.repartition(par, keys: _*) else df
  }

  /**
   * Run `body` (typically an action on `df`) with AQE disabled when the
   * query's static input estimate is under the small-query threshold.
   * Conf is restored afterwards; single-session callers only (the flip is
   * session-scoped, as all Spark runtime conf is).
   */
  def withSizedAqe[T](df: DataFrame)(body: => T): T = {
    val spark = df.sparkSession
    val threshold = confLong(spark, SmallQueryBytesKey, DefaultSmallQueryBytes)
    val bytes: Option[BigInt] =
      try Some(inputBytes(df)) catch { case _: Exception => None }
    val small = threshold > 0 && bytes.exists(_ < threshold)
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqeKey, "true")
    // Spark parses boolean confs case-insensitively ("TRUE" is valid) —
    // match that, or the policy silently no-ops under such a spelling.
    if (small && prev.equalsIgnoreCase("true")) {
      // Without AQE there is no runtime partition coalescing, so also trim
      // the static post-shuffle width: a few-MB input never needs 32
      // reducers, and each exchange's task dispatch is the measured floor
      // for sub-second queries (profiled: ~0.5-1 ms driver-side per task).
      // Explicit repartition(n, ...) calls — the CPU-bound dedup verify
      // stages pin defaultParallelism that way — are untouched; only the
      // shuffle.partitions default changes. At 100 TB every real query
      // exceeds the byte threshold and this branch never runs.
      val shufKey = "spark.sql.shuffle.partitions"
      val prevShuf = spark.conf.get(shufKey, "200")
      val trim = confLong(spark, SmallQueryShufflePartitionsKey,
        DefaultSmallQueryShufflePartitions.toLong).toInt
      spark.conf.set(aqeKey, "false")
      val prevShufN = scala.util.Try(prevShuf.toInt).getOrElse(Int.MaxValue)
      if (trim > 0 && trim < prevShufN) spark.conf.set(shufKey, trim.toString)
      try body finally {
        spark.conf.set(aqeKey, prev)
        spark.conf.set(shufKey, prevShuf)
      }
    } else {
      // Large input: size scan splits to the data (see ScanSplitsPerCoreKey).
      //
      // SCOPE: like the small-branch AQE/shuffle flips above, this mutates
      // SESSION-GLOBAL runtime conf around `body` — a concurrent query on
      // the same SparkSession observes the raised split size while `body`
      // runs. Single-session callers only (the documented contract of this
      // whole method); concurrent multi-query apps should clone sessions
      // (`spark.newSession()` shares state but not conf) or disable via
      // ScanSplitsPerCoreKey=0.
      //
      // The target deliberately derives from the LEAF-SUM inputBytes —
      // a twice-scanned file counts twice, inflating splits for
      // multi-pass plans. A distinct-leaf variant was considered for the
      // split target alone (the AQE gate must keep leaf-sum — see
      // inputBytes scaladoc): rejected for now because re-scan count
      // correlates with plan work here too (each pass pays the task
      // dispatch, so a plan scanning a file N times wants N x fewer tasks
      // per pass just as much), and the cap at 512 MB bounds the damage
      // of over-inflation.
      val splitKey = "spark.sql.files.maxPartitionBytes"
      val perCore = confLong(spark, ScanSplitsPerCoreKey,
        DefaultScanSplitsPerCore.toLong).toInt
      val prevSplit = spark.conf.get(splitKey,
        (128L << 20).toString)
      // A byte-suffix spelling ('512m') doesn't parse as a plain long; the
      // never-lower contract can't be checked against it, so the raise is
      // skipped entirely (Long.MaxValue sentinel) rather than compared
      // against a wrong 128 MB fallback that could silently LOWER the
      // user's setting.
      val prevSplitN = scala.util.Try(prevSplit.toLong).getOrElse(Long.MaxValue)
      val target = bytes match {
        case Some(b) if perCore > 0 =>
          val cores = math.max(1, spark.sparkContext.defaultParallelism)
          (b / (cores.toLong * perCore)).min(BigInt(MaxScanSplitBytes)).toLong
        case _ => 0L
      }
      if (target > prevSplitN) {
        spark.conf.set(splitKey, target.toString)
        try body finally spark.conf.set(splitKey, prevSplit)
      } else body
    }
  }
}
