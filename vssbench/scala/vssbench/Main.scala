package vssbench

import java.io.File
import java.nio.file.{Files => JFiles}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark process. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: File,
    /** "full" for measurement; "tiny" for the self-test. */
    scale: String,
    /** > 0: run exactly this many loop steps instead of `seconds`, so two
      * runs do the same work (the self-test compares their counts). */
    steps: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), m.getOrElse("scale", "full"),
      m.getOrElse("steps", "0").toInt)
  }
}

/**
 * Shared state of one run: the session, the tracer, the listener, and the
 * per-operation records every workload fills.
 *
 * An operation is one call into the program's public API. [[op]] tags its
 * Spark jobs, times it, and records its latency; [[check]] marks the
 * current operation failed when one of the workload's output checks does
 * not hold. Check code runs outside the timed body.
 */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace)
  val counters = new OpCounters
  spark.sparkContext.addSparkListener(counters)
  val tiny: Boolean = args.scale == "tiny"
  val indexBase = new File(args.work, "indexes")
  val dataDir = new File(args.work, "data")

  /** Latency samples in ms per operation type. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Latency samples split by whether the tracer was active. */
  val tracedMs = ArrayBuffer.empty[(String, Boolean, Double)]
  var attempted = 0L
  private val failedOps = scala.collection.mutable.LinkedHashSet.empty[Long]
  def failed: Long = failedOps.size.toLong
  private var currentOp = 0L
  private var opSeq = 0L
  /** The op instance behind each tracer op id, for attaching job spans. */
  val opInstances = ArrayBuffer.empty[(String, Long, Long)]

  /** Values recorded at layer boundaries (plan ms, bytes written, ...). */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def record(name: String, v: Double): Unit =
    if (!warmup) layer.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def recorded(name: String): Seq[Double] = layer.get(name).map(_.toSeq).getOrElse(Nil)
  /** While set, operations run the workload's steps as warm-up: nothing
    * they do is recorded or checked. */
  var warmup = false
  /** nanoTime minus wall-clock ns, to place listener times on span time. */
  val clockOffsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  /** Latency in ms of every operation instance, by instance id. */
  val instanceMs = scala.collection.mutable.LinkedHashMap.empty[Long, Double]

  /** Run `body` as one timed operation of type `kind`; returns its value
    * and its latency in ms, or None when it threw (counted as failed).
    * A `probe` operation (traced runs only, see [[Layers]]) is tagged and
    * timed like the others but is not one of the workload's operations:
    * it adds no latency sample and is not counted as attempted. */
  def op[T](kind: String, probe: Boolean = false)(body: => T): Option[(T, Double)] = {
    val counted = !probe && !warmup
    opSeq += 1
    currentOp = opSeq
    if (counted) attempted += 1
    val sc = spark.sparkContext
    sc.setLocalProperty("vssbench.op", kind)
    sc.setLocalProperty("vssbench.opid", opSeq.toString)
    val traceOp = tracer.beginOp()
    opInstances += ((kind, opSeq, traceOp))
    val c0 = graft.index.GraphCache.stats
    val t0 = System.nanoTime()
    val r = try Some(tracer.span("bench", kind)(body)) catch {
      case e: Exception =>
        System.err.println(s"[vssbench] $kind failed: $e")
        e.printStackTrace()
        None
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val c1 = graft.index.GraphCache.stats
    val scope = if (probe) "probe." else ""
    record(scope + "cache.hits", (c1._1 - c0._1).toDouble)
    record(scope + "cache.misses", (c1._2 - c0._2).toDouble)
    record(scope + "cache.load_ms", (c1._3 - c0._3).toDouble)
    sc.setLocalProperty("vssbench.op", null)
    sc.setLocalProperty("vssbench.opid", null)
    instanceMs(opSeq) = ms
    r match {
      case Some(v) =>
        if (counted) {
          samples.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
          tracedMs += ((kind, tracer.active, ms))
        }
        Some((v, ms))
      case None =>
        if (!warmup) failedOps += opSeq
        None
    }
  }

  /** A set-up step: tagged and timed like an operation, but a failure
    * aborts the run instead of being counted. */
  def must[T](kind: String)(body: => T): T =
    op(kind, probe = true)(body).map(_._1)
      .getOrElse(throw new IllegalStateException(s"set-up step '$kind' failed"))

  /** Mark the most recent operation failed unless `ok`. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && !warmup) {
      System.err.println(s"[vssbench] check failed: $what")
      failedOps += currentOp
    }

  /** Mark every operation of `kind` so far failed (a check that covers all
    * of them at once, such as the curate chain's output). */
  def failAll(kind: String, what: => String): Unit = {
    System.err.println(s"[vssbench] check failed for every $kind: $what")
    opInstances.filter(_._1 == kind).foreach(o => failedOps += o._2)
  }

  def ms(kind: String): Seq[Double] = samples.getOrElse(kind, ArrayBuffer.empty).toSeq
  def totalMs(kinds: String*): Double = kinds.map(k => ms(k).sum).sum

  /** Run `body` with the named span in `layer` when tracing is active. */
  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
}

/** The benchmark process: `--workload --seed --seconds --trace --work`. */
object Main {
  def session(args: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("vssbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(args.work, "spark-local").getAbsolutePath)
      .config("spark.graft.index.location", new File(args.work, "indexes").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Progress on stderr: seconds since the JVM started. */
  private def phase(what: String): Unit = {
    val up = System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[vssbench] ${up / 1000.0}%.1f s: $what")
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val spark = session(args)
    phase("session ready")
    val ctx = new Ctx(spark, args)
    val workload: Workload = args.workload match {
      case "serve" => new Serve(ctx)
      case "curate" => new Curate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    // Setup runs several times and its median is steady: one setup is too
    // few, and work moved into setup must still show. The warm-up (the
    // workload's own steps, unrecorded) runs once after it; setup_s is the
    // median setup plus the warm-up.
    val setupS = (0 until Workload.SetupReps).map { rep =>
      val t0 = System.nanoTime()
      workload.setup(rep)
      phase(s"setup ${rep + 1} done")
      (System.nanoTime() - t0) / 1e9
    }
    workload.prepareChecks()
    phase("checks prepared")
    val w0 = System.nanoTime()
    ctx.warmup = true
    (0 until (if (args.steps > 0) 1 else workload.warmupSteps)).foreach(workload.step)
    ctx.warmup = false
    val warmupS = (System.nanoTime() - w0) / 1e9
    phase("warm-up done")
    def gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + (args.seconds * 1e9).toLong
    var step = 0
    // The reference is sampled between the loop's operations, about twice
    // a second: only there does it see the machine in the state the
    // operations see. (Timed once in a cold JVM it read 2-3x slower and
    // did not follow the workload's drift.)
    val reference = ArrayBuffer.empty[Double]
    var lastReference = 0L
    while (if (args.steps > 0) step < args.steps else System.nanoTime() < deadline) {
      // A traced run alternates traced and untraced passes through the mix,
      // so the tracing overhead is measured inside one process under the
      // same conditions and on the same operations.
      ctx.tracer.active = args.trace && (step / workload.cycleSteps) % 2 == 0
      workload.step(step)
      step += 1
      if (System.nanoTime() - lastReference > 500000000L) {
        reference += Reference.sample(spark)
        lastReference = System.nanoTime()
      }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    (0 until 5).foreach(_ => reference += Reference.sample(spark))
    val refMs = Stats.median(reference.toSeq)
    ctx.tracer.active = args.trace
    ctx.record("jvm.gc_ms", (gcMs - gc0).toDouble)
    phase(s"loop done: $step steps")
    workload.finish()
    val layers = if (args.trace) Some(new Layers(ctx, workload)) else None
    layers.foreach(_.probe())
    phase("checks and probes done")
    val countersOk = org.apache.spark.vssbench.BusDrain.drain(spark.sparkContext, 10000L)
    if (!countersOk) System.err.println("[vssbench] listener bus did not drain; Spark counters missing")

    val setup = Stats.median(setupS) + warmupS
    val e2e = Reference.scale(Metric("setup_s", setup, "s") +: workload.endToEnd, refMs)
    val detail = workload.detail ++ Seq(
      Metric("setup_s", setup, "s"),
      Metric("warmup_s", warmupS, "s"),
      Metric("steps", step.toDouble, "count"),
      Metric("reference_ms", refMs, "ms"),
      Metric("loop_s", loopS, "s"))
    val layerMetrics = layers.map(_.metrics(countersOk)).getOrElse(Nil)
    if (args.trace) ctx.tracer.write(new File(args.work, "spans.jsonl"))
    val counts = workload.deterministicCounts ++ (if (countersOk) perOpCounts(ctx) else Nil)
    val json = s"""{"correct":${ctx.failed == 0 && ctx.attempted > 0},""" +
      s""""attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":${Json.metrics(if (args.trace) layerMetrics else e2e)},""" +
      s""""detail":${Json.metrics(detail)},""" +
      s""""counters_complete":$countersOk,"input_hash":${workload.inputHash},""" +
      s""""counts":${counts.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")},""" +
      s""""samples_ms":${ctx.samples.map { case (k, v) => Json.str(k) + ":" + v.map(Json.num).mkString("[", ",", "]") }.mkString("{", ",", "}")}}"""
    JFiles.writeString(new File(args.work, "result.json").toPath, json + "\n")
    spark.stop()
    phase("stopped")
  }

  /** Jobs and tasks per operation of each type: the counts that repeat
    * exactly for the same seed and the same number of steps. */
  private def perOpCounts(ctx: Ctx): Seq[(String, Long)] =
    ctx.samples.keys.toSeq.sorted.flatMap { kind =>
      val a = ctx.counters.get(kind)
      Seq(s"$kind.ops" -> ctx.ms(kind).size.toLong, s"$kind.jobs" -> a.jobs, s"$kind.tasks" -> a.tasks)
    }
}
