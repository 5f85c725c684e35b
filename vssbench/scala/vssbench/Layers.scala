package vssbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.{col, sum}

import graft.Hnsw
import graft.functions.{array_distance, lit_vector}
import graft.index.{GraphCache, HnswGraph, IndexCatalog}
import graft.text.Dedup

/**
 * The traced run's per-layer record. After the timed loop, [[probe]] times
 * calls into each layer's public functions on the workload's own inputs
 * (graph add/search, catalog reads and writes, the raw index search, the
 * distance expression, each curation stage on its own), and runs one
 * small instance of every operation type the workload's loop does not
 * run, on a probe table of its own, so every per-layer metric is measured
 * on every workload. [[metrics]] then reads the records, the listener's
 * counters and the spans.
 */
final class Layers(ctx: Ctx, w: Workload) {
  import Layers._
  private val spark = ctx.spark
  private val base = ctx.indexBase.getAbsolutePath
  private lazy val fixture: Ops.VectorTable = {
    val space = new VectorSpace(ctx.args.seed + 101, Workload.Dim)
    val n = 2000
    val vecs = space.sample(1, n)
    val keys = Array.tabulate(n)(_.toLong)
    val sel = Ops.selColumn(n, ctx.args.seed + 101)
    val df = Ops.writeTable(spark, new File(ctx.dataDir, "probe"), keys, vecs, sel, files = 1)
    val t = Ops.VectorTable("probe_idx", df, keys, vecs, sel, space.sample(2, 20))
    ctx.must("probe_setup")(Hnsw.createIndex(spark, t.name, df, "vec", "id", overwrite = true))
    t
  }

  private def ran(kind: String): Boolean = ctx.opInstances.exists(_._1 == kind)

  private def timedMs[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  def probe(): Unit = {
    val vt = w.vectors.getOrElse(fixture)
    val dir = IndexCatalog.indexDir(base, vt.name)

    // graft.index.HnswGraph: build one segment-sized graph from the
    // workload's vectors, then search a cached segment of its index.
    val slice = math.min(vt.vecs.length, 2000)
    val g = new HnswGraph(vt.dim, "l2sq")
    val addMs = ctx.span("graph", "add")(timedMs((0 until slice).foreach(i => g.add(vt.keys(i), vt.vecs(i)))))
    ctx.record("graph.add_us", addMs * 1000 / slice)
    ctx.record("graph.mem_bytes_per_vector", g.approxMemoryBytes.toDouble / g.size)
    val meta = IndexCatalog.load(base, vt.name)
    val seg = GraphCache.get(new File(dir, meta.segments.head))
    val qs = vt.queries.take(200)
    (0 until 3).foreach { _ =>
      val ms = ctx.span("graph", "search")(timedMs(qs.foreach(q => seg.search(q, Ops.K, meta.efSearch))))
      ctx.record("graph.search_us", ms * 1000 / qs.length)
    }

    // graft.index.IndexCatalog: segment write and read, catalog load.
    val f = new File(ctx.args.work, "probe-graph.hnsw")
    (0 until 3).foreach { _ =>
      ctx.record("catalog.write_graph_ms", ctx.span("catalog", "writeGraph")(timedMs(IndexCatalog.writeGraph(f, g))))
      ctx.record("catalog.read_graph_ms", ctx.span("catalog", "readGraph")(timedMs(IndexCatalog.readGraph(f))))
    }
    (0 until 20).foreach(_ =>
      ctx.record("catalog.load_ms", ctx.span("catalog", "load")(timedMs(IndexCatalog.load(base, vt.name)))))

    // graft.Hnsw: the raw fan-out search and merge.
    qs.take(30).foreach(q =>
      ctx.record("hnsw.search_raw_ms", ctx.span("hnsw", "searchRaw")(timedMs(Hnsw.searchRaw(spark, vt.name, q, Ops.K)))))

    // graft.expressions: one sum(array_distance(vec, q)) pass per query.
    val rows = vt.df.count()
    qs.take(4).zipWithIndex.foreach { case (q, i) =>
      val ms = ctx.span("expr", "sum(array_distance)")(timedMs(
        vt.df.select(sum(array_distance(col("vec"), lit_vector(q)))).collect()))
      if (i > 0) ctx.record("expr.distance_ns_per_pair", ms * 1e6 / rows)
    }

    probeMissingOps()

    // graft.text: each stage materialized on its own, on the workload's
    // corpus or a small one. Without a curation loop this is also the
    // probe instance of the curate operation.
    val (_, docs, eval, budgets) = w.corpus.getOrElse(smallCorpus)
    def stages(): Unit = {
      var in = docs.persist()
      Ops.stages(eval, budgets).foreach { case (name, stage) =>
        val t0 = System.nanoTime()
        val out = ctx.span("text", name)(stage(in)).persist()
        Ops.materialize(ctx, out)
        ctx.record(s"text.${name}_s", (System.nanoTime() - t0) / 1e9)
        ctx.record(s"text.docs_out.$name", out.count().toDouble)
        if (name == "exact_dedup")
          ctx.record("text.near_dup_pairs", ctx.span("text", "nearDupPairs")(
            Dedup.nearDupPairs(out, "text", "doc_id", threshold = 0.8).count()).toDouble)
        in.unpersist()
        in = out
      }
      in.unpersist()
    }
    if (ran("curate")) stages() else ctx.op("curate", probe = true)(stages())
  }

  private lazy val smallCorpus = {
    val c = new DocCorpus(ctx.args.seed + 101, 400)
    val (d, e, b) = Ops.docFrames(spark, new File(ctx.dataDir, "probe_docs"), c)
    (c, d, e, b)
  }

  /** One small instance of every operation type the loop did not run. */
  private def probeMissingOps(): Unit = {
    val t = fixture
    lazy val queries = Ops.queryFrame(spark, new File(ctx.dataDir, "probe_queries"), t.queries)
    def probeOp(kind: String)(body: => Unit): Unit =
      if (!ran(kind)) ctx.op(kind, probe = true)(body)
    probeOp("build")(Ops.build(ctx, t.name, t.df, t.keys.length))
    probeOp("topk")(t.queries.take(3).foreach(q => Ops.sqlTopK(ctx, t.df, q, None)))
    probeOp("filtered_topk")(Seq(100, 5).foreach(th => Ops.sqlTopK(ctx, t.df, t.queries(th % 7), Some(th))))
    probeOp("join")(Ops.lateral(ctx, queries, t.df))
    probeOp("vss_join")(Ops.vssJoin(ctx, queries.where(col("q_id") < 5), t.df))
    probeOp("read")(t.queries.take(3).foreach(q => Ops.read(ctx, t.name, q)))
    val extra = new VectorSpace(ctx.args.seed + 101, Workload.Dim).sample(3, 50)
    probeOp("insert")(Ops.insert(ctx, t.name, Array.tabulate(50)(i => 100000L + i), extra))
    probeOp("delete")(Ops.delete(ctx, t.name, (0L until 20L)))
    probeOp("compact")(Ops.compact(ctx, t.name, t.keys.length + 30))
  }

  def metrics(countersOk: Boolean): Seq[Metric] = {
    val out = ArrayBuffer.empty[Metric]
    def med(name: String): Double = ctx.layer.get(name).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq)).getOrElse(Double.NaN)
    def total(name: String): Double = ctx.layer.get(name).map(_.sum).getOrElse(0.0)
    def instances(kind: String): Seq[Long] = ctx.opInstances.filter(_._1 == kind).map(_._2).toSeq
    def add(name: String, v: Double, unit: String): Unit = out += Metric(name, v, unit)

    add("graph.search_us", med("graph.search_us"), "us")
    add("graph.add_us", med("graph.add_us"), "us")
    add("graph.mem_bytes_per_vector", med("graph.mem_bytes_per_vector"), "B")
    add("catalog.load_ms", med("catalog.load_ms"), "ms")
    add("catalog.read_graph_ms", med("catalog.read_graph_ms"), "ms")
    add("catalog.write_graph_ms", med("catalog.write_graph_ms"), "ms")
    // Graph-cache deltas over the workload's own operations; over the
    // probe operations when the workload never touches an index. Load time
    // is per segment load, over both.
    val scope = if (total("cache.hits") + total("cache.misses") > 0) "" else "probe."
    val (hits, misses) = (total(scope + "cache.hits"), total(scope + "cache.misses"))
    add("cache.hits", hits, "count")
    add("cache.misses", misses, "count")
    add("cache.hit_ratio", hits / (hits + misses), "ratio")
    add("cache.load_ms_per_miss", (total("cache.load_ms") + total("probe.cache.load_ms")) /
      (total("cache.misses") + total("probe.cache.misses")), "ms")
    add("storage.bytes_written_per_vector", total("storage.bytes_written") / total("storage.vectors_written"), "B")
    val vt = w.vectors.getOrElse(fixture)
    val meta = IndexCatalog.load(base, vt.name)
    add("storage.space_amp", Ops.indexBytes(ctx, vt.name).toDouble / (meta.count * meta.dim * 4L), "ratio")
    add("hnsw.search_raw_ms", med("hnsw.search_raw_ms"), "ms")
    if (countersOk) {
      for ((op, kind) <- Seq("create" -> "build", "insert" -> "insert", "delete" -> "delete", "compact" -> "compact")) {
        val jobMs = ctx.counters.jobMsByInstance(kind)
        val insts = instances(kind)
        add(s"hnsw.$op.driver_ms", Stats.median(insts.map(i => ctx.instanceMs(i) - jobMs.getOrElse(i, 0.0))), "ms")
        // A delete of a few segments probes them in the calling thread: no job.
        if (op != "delete")
          add(s"hnsw.$op.job_ms", Stats.median(insts.map(i => jobMs.getOrElse(i, 0.0))), "ms")
      }
    }
    add("plan.ms", med("plan.ms"), "ms")
    add("plan.index_rewrite_ratio", total("plan.index_rewrite") / ctx.layer("plan.index_rewrite").size, "ratio")
    add("scan.exec_ms", med("scan.exec_ms"), "ms")
    if (countersOk) {
      val queries = ctx.counters.get("topk").jobs + ctx.counters.get("filtered_topk").jobs
      add("scan.jobs_per_query", queries.toDouble / ctx.layer("scan.exec_ms").size, "count")
      add("vss.shuffle_bytes", ctx.counters.get("vss_join").shuffleBytes.toDouble / instances("vss_join").size, "B")
    }
    add("expr.distance_ns_per_pair", med("expr.distance_ns_per_pair"), "ns")
    for (s <- Stages) add(s"text.${s}_s", med(s"text.${s}_s"), "s")
    for (s <- Stages) add(s"text.docs_out.$s", med(s"text.docs_out.$s"), "count")
    add("text.near_dup_pairs", med("text.near_dup_pairs"), "count")
    if (countersOk) {
      for (op <- JobOps) {
        val a = ctx.counters.get(op)
        val n = instances(op).size.toDouble
        add(s"spark.$op.jobs", a.jobs / n, "count")
        add(s"spark.$op.tasks", a.tasks / n, "count")
        add(s"spark.$op.task_cpu_ms", a.cpuNs / 1e6 / n, "ms")
        add(s"spark.$op.shuffle_bytes", a.shuffleBytes / n, "B")
        add(s"spark.$op.result_bytes", a.resultBytes / n, "B")
      }
      attachJobSpans()
    }
    val self = ctx.tracer.selfMsByLayer
    for (l <- SpanLayers) add(s"trace.self_ms.$l", self.getOrElse(l, 0.0), "ms")
    add("jvm.gc_ms", total("jvm.gc_ms"), "ms")
    add("trace.overhead_pct", overheadPct, "%")
    add("trace.spans", ctx.tracer.count.toDouble, "count")
    out.toSeq
  }

  /** Spark jobs as child spans of the operation that ran them. */
  private def attachJobSpans(): Unit = {
    import scala.jdk.CollectionConverters._
    val traceOp = ctx.opInstances.map(o => o._2 -> o._3).toMap
    ctx.counters.jobs.asScala.foreach { case (_, inst, s, e) =>
      traceOp.get(inst).foreach(op =>
        ctx.tracer.addExternal(op, "spark", "job", s * 1000000L + ctx.clockOffsetNs, e * 1000000L + ctx.clockOffsetNs))
    }
  }

  /** Latency of traced over untraced steps of the same loop, per operation
    * type weighted by its sample count, as a percentage. */
  private def overheadPct: Double = {
    val byKind = ctx.tracedMs.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val on = xs.filter(_._2).map(_._3).toSeq
      val off = xs.filterNot(_._2).map(_._3).toSeq
      if (on.nonEmpty && off.nonEmpty) Some((Stats.median(on), Stats.median(off), xs.size)) else None
    }
    if (byKind.isEmpty) Double.NaN
    else (byKind.map(k => k._1 * k._3).sum / byKind.map(k => k._2 * k._3).sum - 1) * 100
  }
}

object Layers {
  /** Operation types that run Spark jobs. `read` (`Hnsw.topK`) and a
    * `delete` of a few segments run in the calling thread only; their time is in
    * `hnsw.search_raw_ms` and `hnsw.delete.driver_ms`. */
  val JobOps = Seq("topk", "filtered_topk", "join", "vss_join", "build", "insert", "compact", "curate")
  val Stages = Seq("scrub", "quality", "decontam", "exact_dedup", "near_dedup", "mix")
  val SpanLayers = Seq("bench", "plan", "exec", "hnsw", "catalog", "graph", "expr", "text", "spark")
}
