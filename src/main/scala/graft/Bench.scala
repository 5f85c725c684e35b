package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run benchmark: times every gate query at SPARK_GRAFT_SF_DIR and
  * emits the full one-line JSON (written to BENCH_OUT, default
  * [[defaultOut]] in the working directory, AND printed to stdout — sbt log noise made
  * round 1's line unparseable, BENCH_r01 "parsed": null), followed by ONE
  * COMPACT final JSON line (total/errors/sf/n_queries + a pointer to the
  * full map). The compact line exists because the driver captures only a
  * 2000-char stdout tail: at 105 queries the full line is ~2.7 kB and was
  * truncated mid-map in BOTH r15 and r16, leaving the driver's PERF
  * comparison empty (r16 verdict item 1). The compact line is guaranteed
  * under ~400 bytes so the tail always carries one complete, parseable
  * record; the full per-query map still precedes it on stdout and lives in
  * BENCH_OUT. The timed body is UNCHANGED — per-query numbers remain
  * comparable with r15/r16.
  *
  * Each query also records steal-invariant scheduler counters
  * (jobs/stages/tasks of its second timed run, construction + execution)
  * under a "counters" key in the full JSON (r16 verdict item 4: same code
  * must show same counters regardless of box state, so environmental
  * wall-time episodes are counter-provable from the artifacts alone).
  * Counter snapshots are taken OUTSIDE the timed window.
  *
  * Queries are materialized with a noop datasource write (every row is
  * produced and serialized) instead of `.count()`, which let Catalyst prune
  * the projections being measured. A failing query is recorded as an
  * `"err"` entry in the JSON and flips the exit code to 1 — visible, but
  * it no longer takes the other queries' numbers down with it (round 6:
  * one analysis error → an entirely numberless BENCH_r06). */
object Bench {
  /** Parse a numeric env override with a message naming the variable —
    * a bare NumberFormatException from a malformed knob gives no hint
    * which of the SPARK_GRAFT_* vars is at fault. */
  private def envLong(name: String, default: Long): Long = {
    val v = sys.env.getOrElse(name, default.toString)
    try v.toLong
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$name must be a number, got '$v'")
    }
  }

  /** Scheduler counters read after a listener-bus drain, or None when the
    * bus does not drain in time: the query then records no counters, and
    * its timing and result stand (a slow bus is not a failed query). */
  private[graft] def counterSnap(drain: () => Unit,
      read: () => (Long, Long, Long)): Option[(Long, Long, Long)] =
    try {
      drain()
      Some(read())
    } catch { case _: java.util.concurrent.TimeoutException => None }

  /** The full record's file when BENCH_OUT is unset:
    * `BENCH_LOCAL_<scale-factor directory's name>_c<cores>.json`, so runs at
    * another scale factor or core count do not overwrite it. */
  def defaultOut(sfDir: String, cores: Int): String =
    s"BENCH_LOCAL_${Paths.get(sfDir).getFileName}_c$cores.json"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = envLong("SPARK_GRAFT_CPUS", 32).toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Let ensureBucketed's sorted single-file-per-bucket layouts
      // advertise their sort order (a sort-free merge join when
      // q2_bucketed's kernel falls back to its declarative plan).
      // Harness-level opt-in: the library APIs never set session confs
      // (r13 verdict item 4); Spark still refuses to advertise ordering
      // for multi-file buckets, so this cannot mis-order other tables.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // A/B knobs for the ExecTuning small-query policy (run/fork=true means
      // -D flags never reach this JVM; env is the override channel).
      .config(graft.spark.ExecTuning.SmallQueryShufflePartitionsKey,
        envLong("SPARK_GRAFT_SMALL_SHUFFLE",
          graft.spark.ExecTuning.DefaultSmallQueryShufflePartitions.toLong).toString)
      // Fixed-overhead trims (round-4 verdict: the ~0.2-0.4 s/query floor
      // at small SF is scheduling + exchange setup, not per-row work):
      // coalesce post-shuffle partitions to a small advisory size: fewer
      // tiny tasks per exchange than parallelism-first, without the default
      // 64 MB advisory collapsing CPU-bound aggregations to one task ...
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", sys.env.getOrElse("SPARK_GRAFT_PF", "false"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (envLong("SPARK_GRAFT_ADVISORY_MB", 4) << 20).toString)
      // ... make every dimension-side join a broadcast at bench scales
      // (where the small side is <= tens of MB), skipping shuffle stages
      .config("spark.sql.autoBroadcastJoinThreshold",
        envLong("SPARK_GRAFT_BROADCAST_MB", 64) * (1L << 20))
      // ... and split single-file tables finer so a 100-200 MB parquet
      // still scans with real parallelism (sf1 tables are one file each;
      // 4 MB ≈ 34 splits for the 135 MB lineitem on 32 cores).
      .config("spark.sql.files.maxPartitionBytes",
        envLong("SPARK_GRAFT_SPLIT_MB", 4) * (1L << 20))
      // Row-group-sized splits only help if opening one isn't charged as
      // 4 MB of phantom input: with the default openCostInBytes a 5 MB
      // text-heavy file packs into 1-2 splits no matter how fine its row
      // groups are.
      .config("spark.sql.files.openCostInBytes", (256L << 10).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_ONLY=a,b,c restricts the run for quick iteration and for
    // restricted campaigns (resolved before warmup so an index-free subset
    // skips the index builds — at derived 10x+ scales a 100x HNSW build
    // would dominate a session that never searches it).
    // Trim + drop empties: 'a, b' must select b, not a phantom ' b' that
    // silently vanishes from both the run and subsetNeeds' build decision.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def subsetNeeds(prefixes: String*): Boolean =
      only.forall(_.exists(n => prefixes.exists(n.startsWith)))
    // Warm the session (parquet footers, codegen, shuffle infra) and build
    // the gate indexes up front so the first measured query isn't charged
    // one-time setup (index CREATE is a separate operation in the
    // reference's model too — queries measure search, not build).
    if (subsetNeeds("hnsw_"))
      graft.queries.HnswQueries.ensureIndexes(spark, sfDir)
    // The routed-recall gate's clustered index is apparatus like the rest
    // — built outside timed runs, but ONLY when that gate runs (its
    // k-means build + corpus count would tax every restricted hnsw_*
    // session otherwise, the same scoping the ivf_ builds have).
    if (subsetNeeds("hnsw_routed")) {
      graft.queries.HnswQueries.ensureRoutedIndex(spark, sfDir): Unit
      // Its brute-force truth is warmup apparatus like the sibling recall
      // gates' (one policy across all three — r16 verdict item 5).
      graft.queries.HnswQueries.ensureRoutedRecallTruth(spark, sfDir): Unit
    }
    // The recall gates' brute-force truths are yardstick apparatus like
    // the PQ truth (r16): pay them in warmup so measured runs time the
    // graph search, not the crossJoin that grades it.
    if (subsetNeeds("hnsw_recall_ann"))
      graft.queries.HnswQueries.ensureRecallTruth(spark, sfDir, 10): Unit
    if (subsetNeeds("hnsw_recall_lateral"))
      graft.queries.HnswQueries.ensureRecallTruth(spark, sfDir, 3): Unit
    // The IVF layouts get the same treatment as the HNSW indexes: built
    // (and their footers read once) BEFORE the measured loop. r7's driver
    // bench showed the ivf_* gates 2-3x over r5 while local profiled runs
    // sat at/below r5 with identical job/stage/task counts — the delta was
    // the fresh container paying KMeans + full-layout writes inside the
    // gates' first timed runs, which min-of-two only partly hides (the
    // build's page-cache churn bleeds into run 2).
    if (subsetNeeds("ivf_")) {
      Seq(graft.queries.HnswQueries.ensureIvfLayout(spark, sfDir),
          graft.queries.HnswQueries.ensureIvfPqLayout(spark, sfDir))
        .foreach(p => spark.read.parquet(p).write.format("noop").mode("overwrite").save())
      // The PQ recall gate's brute-force truth is gate apparatus like the
      // layouts: pre-compute it so measured runs time ADC search + re-rank.
      graft.queries.HnswQueries.ensurePqTruth(spark, sfDir): Unit
    }
    // q2_bucketed's layout tables (one-time write or re-registration of a
    // prior round's files) are warehouse maintenance, not the query.
    if (subsetNeeds("q2_bucketed"))
      graft.queries.RelationalQueries.ensureQ2Layouts(spark, sfDir)
    // Warm with the first query OF THE FILTERED SUBSET (sorted, so the
    // choice is deterministic): the unfiltered map's hash-order head could
    // land on an index gate and re-trigger the very builds subsetNeeds
    // just skipped in a restricted session.
    SparkEntry.queries.toSeq.sortBy(_._1)
      .find(q => only.forall(_.contains(q._1))).foreach { case (_, fn) =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
    // min of two timed runs per query: the first touch pays page-cache and
    // one-time artifact costs (e.g. the IVF layout build), which measure the
    // disk, not the engine — r2's q2_join_agg "regression" was exactly this
    // single-shot noise. The minimum is the steady-state number. The Spark
    // cache is cleared between runs so queries that persist() intermediates
    // recompute their own work (only OS/page-level warmth carries over).
    def jstr(s: String): String = JsonUtil.str(s)
    // Session-wide scheduler counters (see object doc): one listener, per-
    // query deltas snapshotted outside the timed window after draining the
    // async bus, so nothing is added to the measured body.
    val cJobs = new java.util.concurrent.atomic.AtomicLong
    val cStages = new java.util.concurrent.atomic.AtomicLong
    val cTasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        cJobs.incrementAndGet()
        cStages.addAndGet(j.stageInfos.size.toLong)
        cTasks.addAndGet(j.stageInfos.map(_.numTasks.toLong).sum)
      }
    })
    def snap(): Option[(Long, Long, Long)] = counterSnap(
      () => org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark, 10000L),
      () => (cJobs.get, cStages.get, cTasks.get))
    val results: Seq[(String, Either[String, (Double, Option[(Long, Long, Long)])])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => only.forall(_.contains(q._1))).map { case (name, fn) =>
      // SPARK_GRAFT_PROFILE=1 splits each timed run into build (DataFrame
      // construction incl. analysis) and exec (the noop write: the write's
      // own optimize + physical planning + codegen, then the job run — the
      // write plans its OWN QueryExecution, so a separately-forced read
      // plan would time a plan that never executes), plus steal-invariant
      // scheduler counters (jobs/stages/tasks) — the floor decomposition
      // for the sub-second queries where orchestration is the cost.
      val profile = sys.env.get("SPARK_GRAFT_PROFILE").contains("1")
      def once(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (profile) {
          val jobs = new java.util.concurrent.atomic.AtomicInteger
          val stages = new java.util.concurrent.atomic.AtomicInteger
          val tasks = new java.util.concurrent.atomic.AtomicInteger
          val listener = new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              jobs.incrementAndGet()
              stages.addAndGet(j.stageInfos.size)
              tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
            }
          }
          spark.sparkContext.addSparkListener(listener)
          val t1 = System.nanoTime()
          var t2 = t1
          try {
            graft.spark.ExecTuning.withSizedAqe(df) {
              df.write.format("noop").mode("overwrite").save()
            }
            t2 = System.nanoTime()
          } finally {
            Thread.sleep(100) // listener events are async; let the bus drain
            spark.sparkContext.removeSparkListener(listener)
          }
          System.err.println(f"[profile] $name build=${(t1 - t0) / 1e6}%.1fms " +
            f"exec=${(t2 - t1) / 1e6}%.1fms " +
            f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
          (t2 - t0) / 1e9
        } else {
          // Size-based AQE choice (ExecTuning): small-input queries skip
          // AQE's per-exchange job round-trips; big ones keep its runtime
          // re-planning. Same policy a user session would run with.
          graft.spark.ExecTuning.withSizedAqe(df) {
            df.write.format("noop").mode("overwrite").save()
          }
          (System.nanoTime() - t0) / 1e9
        }
      }
      name -> (try {
        val r1 = once()
        val s0 = snap()
        val r2 = once()
        val s1 = snap()
        // Counters are the SECOND run's (steady state — the first run can
        // carry one-time artifact jobs the min-of-two exists to exclude).
        Right((math.min(r1, r2),
          for (a <- s0; b <- s1) yield (b._1 - a._1, b._2 - a._2, b._3 - a._3)))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      })
    }
    val qs = results.map {
      case (k, Right((v, _))) => jstr(k) + ":" + f"$v%.3f"
      case (k, Left(err)) => jstr(k) + ":{\"err\":" + jstr(err) + "}"
    }.mkString("{", ",", "}")
    val counters = results.collect { case (k, Right((_, Some((j, s, t))))) =>
      jstr(k) + s""":{"jobs":$j,"stages":$s,"tasks":$t}"""
    }.mkString("{", ",", "}")
    val timed = results.collect { case (_, Right((v, _))) => v }
    val nErr = results.count(_._2.isLeft)
    val total = timed.sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""counters":$counters,"errors":$nErr,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("BENCH_OUT", defaultOut(sfDir, cpus.toInt))
    Files.writeString(Paths.get(out), json + "\n")
    spark.stop()
    // Full contract line first (complete per-query map for full-stdout
    // consumers and the BENCH_OUT file), after spark.stop() so no executor
    // shutdown logging can interleave behind it.
    println(json)
    // Compact FINAL line — the one record guaranteed to survive the
    // driver's 2000-char stdout tail (the full line is ~2.7 kB at 105
    // queries and was truncated in r15/r16, leaving PERF empty). No
    // "queries" map here — it cannot fit; it is in the line above and in
    // the BENCH_OUT file named by "queries_in".
    println(s"""{"metric":"total","value":$total,"unit":"sec","errors":$nErr,""" +
      s""""n_queries":${results.size},"sf":${jstr(sfDir)},""" +
      s""""queries_in":${jstr(out)},"compact":true}""")
    if (nErr > 0) sys.exit(1)
  }
}
