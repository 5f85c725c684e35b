// Lives under org.apache.spark.sql so it can reach the private[sql]
// Column <-> Expression converters (org.apache.spark.sql.classic
// .ExpressionUtils) — the standard pattern for Spark extension libraries.
package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicLong

import scala.reflect.ClassTag

import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils,
  HadoopFsRelation}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.util.Utils

object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's DIVIDE_BY_ZERO error, as ANSI-mode `/` raises it. */
  def divideByZero(): ArithmeticException = QueryExecutionErrors.divideByZeroError(null)

  /** Drain the async listener bus: scheduler-counter snapshots (Bench's
    * per-query jobs/stages/tasks record) must see every event already
    * delivered, or counts bleed into the next query's delta. private[spark]
    * API reached via the bridge package; the timeout raises
    * TimeoutException instead of hanging a wedged bus. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Attempt ids of [[collectInThread]] runs, counted up from
    * Long.MinValue: never a scheduler task's id (those are >= 0) nor
    * BlockInfoManager's NON_TASK_WRITER (-1024), and distinct between
    * concurrent runs, which share the memory and block managers. */
  private val inThreadAttemptIds = new AtomicLong(Long.MinValue)

  /** Compute partition `partition` of an RDD in the calling thread: the
    * task a job over it would run, without the scheduler (no job, stage,
    * task launch or result serialization). The task runs in a context of its
    * own, as an executor would set it up (Task.run): a real
    * TaskMemoryManager, a copy of the caller's local properties (SQL confs
    * read through SQLConf.get see what a task sees), and its attempt id
    * registered with the block manager so broadcast reads (the hadoop
    * conf of a file scan) can take block locks. Afterwards, on failure
    * too, the completion listeners run (a file scan closes its readers),
    * block locks and task memory are released and the context is unset;
    * a failure marks the task failed and is rethrown as is. The elements
    * are kept as the iterator hands them out, so an RDD whose iterator
    * reuses a row object must copy it. */
  def collectInThread[T: ClassTag](rdd: RDD[T], partition: Int = 0): Array[T] = {
    val n = rdd.getNumPartitions
    require(partition >= 0 && partition < n, s"no partition $partition of $n")
    val env = SparkEnv.get
    val id = inThreadAttemptIds.getAndIncrement()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(stageId = 0, stageAttemptNumber = 0, partitionId = partition,
      taskAttemptId = id, attemptNumber = 0, numPartitions = n, taskMemoryManager = memory,
      localProperties = Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      metricsSystem = env.metricsSystem, taskMetrics = TaskMetrics.empty)
    env.blockManager.registerTask(id)
    TaskContext.setTaskContext(ctx)
    var failure: Throwable = null
    try rdd.iterator(rdd.partitions(partition), ctx).toArray
    catch {
      case e: Throwable =>
        failure = e
        try ctx.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
        throw e
    } finally {
      try ctx.markTaskCompleted(Option(failure))
      catch { case t: Throwable if failure != null => failure.addSuppressed(t) }
      finally {
        try {
          env.blockManager.releaseAllLocksForTask(id)
          memory.cleanUpAllAllocatedMemory()
        } finally TaskContext.unset()
      }
    }
  }

  /** The source filters `FileSourceStrategy` pushes to the reader of
    * `relation` for these predicates over its `output`. */
  def pushedFilters(relation: HadoopFsRelation, predicates: Seq[Expression],
      output: Seq[Attribute]): Seq[Filter] =
    DataSourceStrategy.normalizeExprs(predicates, output).flatMap(
      DataSourceStrategy.translateFilter(_, DataSourceUtils.supportNestedPredicatePushdown(relation)))

  /** `rdd.mapPartitionsWithIndex(f)` without the closure check, which
    * serializes `f` on every call: for an RDD built per query whose
    * function is known to be serializable. */
  def mapPartitionsWithIndex[T, U: ClassTag](rdd: RDD[T])(
      f: (Int, Iterator[T]) => Iterator[U]): RDD[U] =
    rdd.mapPartitionsWithIndexInternal(f)

  /** Full ColumnNode-tree conversion — needed for Columns COMPOSED from
    * `functions._` builders (struct/getField/when/…), which `expression`
    * only wraps lazily and the analyzer then can't type. */
  def composedExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter.apply(c.node)

  /** Plan → DataFrame on an existing session (private[sql] Dataset.ofRows). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-root `df` as a [[org.apache.spark.sql.execution.LogicalRDD]] over
    * its own executed UnsafeRow RDD — the share-one-exchange device the
    * optimizer cannot provide (round-10 finding: column pruning splits a
    * "shared" explicit repartition into per-consumer exchanges, each
    * re-executing the whole upstream).
    *
    * Two properties do the work:
    *  1. every consumer's plan scans the SAME RDD instance, so its shuffle
    *     dependency is registered once and the DAGScheduler skips the map
    *     stage (= the entire upstream) in every job after the first — true
    *     compute-once sharing with no persist()/cache() left behind
    *     (shuffle files are cleaned with the RDD, same as any exchange);
    *  2. the LogicalRDD leaf is opaque to the optimizer, so consumers that
    *     prune columns read fewer columns from the shuffle OUTPUT instead
    *     of re-planning a narrower shuffle INPUT.
    *
    * `fromDataset` preserves the executed plan's output partitioning and
    * ordering (exprId-rewritten), so a consumer clustered on the same keys
    * plans no further exchange. Cost: none beyond the exchange the caller
    * already planned — toRdd builds the RDD without converting rows.
    *
    * Eagerness: under AQE, building the RDD materializes the plan's query
    * stages at construction time. The materialization therefore runs
    * inside its own `ExecTuning.withSizedAqe` scope here — the same
    * split-size policy the caller's later action would have applied (the
    * r11 first cut ran the eager stages at the session-default 4 MB
    * splits, outside any caller conf scope, which cost the narrow paths
    * more than the recompute they saved). Without AQE the RDD executes
    * lazily at action time like any plan. `sizedBy` names the frame whose
    * static input estimate sizes that scope: a frame built over another
    * barrier must size by the original input, not by the barrier leaf. */
  def rddBarrier(df: DataFrame): DataFrame = rddBarrier(df, df)

  def rddBarrier(df: DataFrame, sizedBy: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val plan = graft.spark.ExecTuning.withSizedAqe(sizedBy) {
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false)
    }
    ofRows(df.sparkSession, plan)
  }
}
