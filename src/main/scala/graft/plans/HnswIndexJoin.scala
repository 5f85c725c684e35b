package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.Hnsw
import graft.index.HnswIndexMeta

/**
 * Logical per-outer-row ANN join core — the Spark analogue of the
 * reference's `LogicalHNSWIndexJoin` (/root/reference/src/hnsw/
 * hnsw_optimize_join.cpp:185-315). For every child ("outer") row it emits up
 * to k rows extended with `(__hnsw_id, __hnsw_dist, __hnsw_rn)`: the rowids
 * of the k nearest inner vectors, their index-metric distance, and a
 * 1-indexed rank (the reference emits the same 1-indexed row_number,
 * hnsw_optimize_join.cpp:146). `Vss.lateralTopK` joins this node back to
 * the inner relation on the rowid to recover inner columns; `Vss.annTopK`
 * returns it as is.
 *
 * NULL outer vectors produce no output rows. `Vss.lateralTopK` filters NULL
 * outer vectors before building either of its plans, so its brute-force
 * path agrees.
 */
case class HnswIndexJoinCore(
    child: LogicalPlan,
    base: String,
    meta: HnswIndexMeta,
    queryExpr: Expression,
    k: Int,
    ef: Int,
    extra: Seq[Attribute],
    probeOverride: Option[Int] = None) extends UnaryNode {

  override def output: Seq[Attribute] = child.output ++ extra

  // The id/dist/rn columns originate here, not below — required for
  // CheckAnalysis when the node is planted pre-analysis (Vss.annTopK).
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(extra)

  // Cardinality ≈ outer × k (hnsw_optimize_join.cpp:304-315) falls out of
  // the default unary-node size estimate scaled by the added columns; the
  // inner fetch join above this node is what the estimate matters for, and
  // its build side is the (small) core output.

  override protected def withNewChildInternal(newChild: LogicalPlan): HnswIndexJoinCore =
    copy(child = newChild)

  override def simpleString(maxFields: Int): String =
    s"HnswIndexJoinCore [index=${meta.name}, k=$k, ef=$ef]"
}

/**
 * Physical side: embarrassingly parallel over outer partitions — each task
 * lazily loads the index segments from shared storage (per-JVM GraphCache)
 * and searches in row batches, segment-outer (each segment serves the whole
 * batch before the next loads, so a byte-bounded cache smaller than the
 * index amortizes instead of thrashing) — the parallel improvement over the
 * reference's single-threaded join operator noted in SURVEY §3.3. Batching
 * echoes the reference's own `2048/limit` outer-chunking
 * (hnsw_optimize_join.cpp:90-99).
 */
case class HnswIndexJoinCoreExec(
    child: SparkPlan,
    base: String,
    meta: HnswIndexMeta,
    queryExpr: Expression,
    k: Int,
    ef: Int,
    extra: Seq[Attribute],
    probeOverride: Option[Int] = None) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ extra

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "exactSearches" -> SQLMetrics.createMetric(sparkContext, "exact segment searches"),
    "segmentsSearched" -> SQLMetrics.createMetric(sparkContext, "segments searched"),
    "graphLoads" -> SQLMetrics.createMetric(sparkContext, "graph loads"),
    "graphLoadTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "graph load time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val out = output
    // Each search reads the index's newest version (Hnsw.searchBatch), not
    // the plan's: a long-lived streaming plan (Vss.annTopK) must not pin
    // the segment list while compaction — including
    // StreamingIndex.maintainIndex's own auto-compaction — replaces the
    // files underneath it.
    val (b, m, q, kk, e) = (base, meta, queryExpr, k, ef)
    // Segment-routing width: a per-PLAN override when the caller pinned one
    // (gates must not flip session confs that outlive their builder —
    // execution happens after the builder returns), else the session conf,
    // captured driver-side at execution (doExecute runs on the driver) so
    // it needn't ride the plan's constructor.
    val probe = probeOverride.getOrElse(graft.Hnsw.probeSegments(session))
    // Adaptive-routing margin, captured driver-side like `probe` (0 = off).
    val margin = graft.Hnsw.adaptiveProbeMargin(session)
    val toFloats: ArrayData => Array[Float] = q.dataType match {
      case ArrayType(FloatType, _) => _.toFloatArray()
      case ArrayType(DoubleType, _) => _.toDoubleArray().map(_.toFloat)
      case other => throw new IllegalStateException(s"unexpected query vector type $other")
    }
    val Seq(rowsOut, exact, segments, loads, loadTime) = Seq("numOutputRows",
      "exactSearches", "segmentsSearched", "graphLoads", "graphLoadTime").map(metrics)
    child.execute().mapPartitions { iter =>
      val bound = BindReferences.bindReference(q, childOutput)
      val resultProj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow()
      // Rows are only valid until the iterator advances — copy BEFORE
      // grouped() buffers them, or every buffered row aliases the last one.
      iter.map(_.copy()).grouped(1024).flatMap { batch =>
        val rows = batch.toArray
        val queries = rows.map { row =>
          val v = bound.eval(row)
          if (v == null) null else toFloats(v.asInstanceOf[ArrayData])
        }
        val found = Hnsw.searchBatch(None, b, m, queries, kk, e, probe, margin)
        val hits = found.hits
        rowsOut += hits.map(_.length).sum
        exact += found.exactSearches
        segments += found.segments
        loads += found.graphLoads
        loadTime += found.loadNanos
        rows.iterator.zipWithIndex.flatMap { case (outerRow, ri) =>
          hits(ri).iterator.zipWithIndex.map { case ((id, d), i) =>
            resultProj(joined(outerRow,
              new GenericInternalRow(Array[Any](id, d, (i + 1).toLong))))
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): HnswIndexJoinCoreExec =
    copy(child = newChild)

  override def simpleString(maxFields: Int): String =
    s"HnswIndexJoinCoreExec [index=${meta.name}, k=$k, ef=$ef]"
}
