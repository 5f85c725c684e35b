package vssbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** A measured value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def metrics(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}:{\"value\":${num(m.value)},\"unit\":${str(m.unit)}}")
      .mkString("{", ",", "}")
}

/**
 * Spans around the benchmark's calls into each layer of the program: name,
 * layer, start, end, parent span and operation id. Kept in memory and
 * written out at exit. `active` can be flipped between operations, so a
 * traced run alternates traced and untraced operations and measures the
 * tracing overhead within one process.
 */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var opId = 0L
  var active: Boolean = enabled

  def beginOp(): Long = { opId += 1; opId }
  def count: Int = spans.size

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, opId, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Add a span measured elsewhere (a Spark job seen by the listener) under
    * the deepest recorded span of the same operation that contains it. */
  def addExternal(op: Long, layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val parent = spans.iterator
        .filter(s => s.op == op && s.startNs <= startNs && s.endNs >= startNs)
        .foldLeft(Option.empty[Span]) { (best, s) =>
          if (best.forall(b => s.startNs >= b.startNs && s.endNs <= b.endNs)) Some(s) else best
        }
      parent.foreach { p =>
        spans += Span(nextId, p.id, op, layer, name, startNs, math.min(endNs, p.endNs))
        nextId += 1
      }
    }

  /** Self time per layer in ms: each span's duration minus the part of it
    * that its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.unionLength(children.get(s.id).toSeq.flatten.map(k => (k.startNs, k.endNs)).toSeq)
        (s.endNs - s.startNs - covered).max(0L) / 1e6
      }.sum
    }
  }

  def write(file: File): Unit = {
    val out = new PrintWriter(file, "UTF-8")
    try spans.sortBy(_.id).foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, layer: String, name: String,
      startNs: Long, endNs: Long)
}

/**
 * Spark counters per operation type, from a listener the benchmark
 * registers. Each operation tags its jobs with the `vssbench.op` local
 * property (type) and `vssbench.opid` (instance); the listener attributes
 * jobs, tasks and task metrics by those tags, so no snapshot is taken
 * inside a timed window. Values are complete only once the listener bus
 * has been drained ([[org.apache.spark.vssbench.BusDrain]]).
 */
final class OpCounters extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var resultBytes = 0L
  }
  private val byOp = new ConcurrentHashMap[String, Acc]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long, Long)]()
  /** (op type, op instance, start ms, end ms) of every finished job. */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long)]()

  private def acc(op: String): Acc = byOp.computeIfAbsent(op, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("vssbench.op"))).foreach { op =>
      val inst = props.flatMap(p => Option(p.getProperty("vssbench.opid"))).map(_.toLong).getOrElse(0L)
      acc(op).synchronized(acc(op).jobs += 1)
      e.stageInfos.foreach(s => stageOp.put(s.stageId, op))
      jobStart.put(e.jobId, (op, inst, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, inst, t0) =>
      jobs.add((op, inst, t0, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val m = e.taskMetrics
      val a = acc(op)
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.resultBytes += m.resultSize
        }
      }
    }

  def get(op: String): Acc = acc(op)

  /** Wall ms inside Spark jobs per op instance of `op` (union of job intervals). */
  def jobMsByInstance(op: String): Map[Long, Double] = {
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.filter(_._1 == op).groupBy(_._2).map { case (inst, js) =>
      inst -> Stats.unionLength(js.map(j => (j._3, j._4))).toDouble
    }
  }
}

/**
 * A fixed Spark job that runs none of the program's code: one task per
 * core, each a fixed float kernel. Its latency, sampled between the timed
 * loop's operations, records how fast the shared machine runs Spark jobs
 * at the time.
 *
 * The end-to-end figures are scaled by it to a machine whose reference job
 * takes [[NominalMs]]: times by NominalMs / measured, rates by the inverse.
 * The machine's speed drifts by 20-40% over minutes as other tenants come
 * and go, and every workload's raw figures drift with it (ten serve runs
 * read 93-134 ms); the reference moves with them, the program cannot move
 * it, and the raw figures stay in each run's detail lines.
 */
object Reference {
  /** The reading the figures are scaled to: a fixed constant, of the order
    * of the reference's reading on the 4-core machine the benchmark was
    * sized on (13-25 ms). */
  val NominalMs = 20.0

  /** Times (s, ms) scaled by NominalMs / refMs, rates (1/s) by the
    * inverse; other units unchanged. */
  def scale(ms: Seq[Metric], refMs: Double): Seq[Metric] = ms.map { m =>
    m.unit match {
      case "s" | "ms" => m.copy(value = m.value * NominalMs / refMs)
      case "1/s" => m.copy(value = m.value * refMs / NominalMs)
      case _ => m
    }
  }

  /** One latency sample of the reference job, taken once the listener bus
    * has delivered the events of earlier jobs, so the job does not queue
    * behind them. */
  def sample(spark: org.apache.spark.sql.SparkSession): Double = {
    org.apache.spark.vssbench.BusDrain.drain(spark.sparkContext, 2000L)
    jobMs(spark)
  }

  private def jobMs(spark: org.apache.spark.sql.SparkSession): Double = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(0 until cpus, cpus).map(kernel).collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def kernel(seed: Int): Double = {
    val a = Array.tabulate(4096)(i => ((i * 31 + seed) % 97) * 0.01f)
    var acc = 0.0
    var r = 0
    while (r < 40) {
      var i = 0
      while (i + 64 <= a.length) {
        var j = 0
        var d = 0f
        while (j < 64) { val x = a(i + j) - a(j); d += x * x; j += 1 }
        acc += d
        i += 64
      }
      r += 1
    }
    acc
  }
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
  /** (size, mtime) of every regular file under `dir`, by relative path. */
  def snapshot(dir: File): Map[String, (Long, Long)] = {
    def walk(f: File, rel: String): Seq[(String, (Long, Long))] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .flatMap(c => walk(c, if (rel.isEmpty) c.getName else rel + "/" + c.getName))
      else Seq(rel -> ((f.length(), f.lastModified())))
    walk(dir, "").toMap
  }
  /** Bytes of the files in `after` that are new or changed since `before`. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum
  def totalBytes(dir: File): Long = snapshot(dir).values.map(_._1).sum
}
