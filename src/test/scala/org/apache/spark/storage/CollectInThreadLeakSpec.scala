// In Spark's storage package to read the block-info manager, which the
// block manager keeps package-private.
package org.apache.spark.storage

import org.apache.spark.{Partition, SparkContext, SparkEnv, TaskContext}
import org.apache.spark.memory.{MemoryConsumer, MemoryMode}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** `Bridge.collectInThread` releases what its task took: after a good run
  * and after a failing one, no block lock is held for the attempt and the
  * execution memory in use is back to where it was. */
class CollectInThreadLeakSpec extends AnyFunSuite {
  private lazy val sc = graft.SparkSuite.spark.sparkContext

  test("collectInThread leaves no block lock and no execution memory behind") {
    val env = sc.env
    val block = TestBlockId("collect-in-thread-leak")
    assert(env.blockManager.putSingle(block, "v", StorageLevel.MEMORY_ONLY))
    try {
      for (fail <- Seq(false, true)) {
        val memoryBefore = env.memoryManager.executionMemoryUsed
        val rdd = new CollectInThreadLeakSpec.Leaky(sc, block, fail)
        if (fail) {
          val e = intercept[IllegalStateException](Bridge.collectInThread(rdd))
          assert(e.getMessage == "planted failure")
        } else assert(Bridge.collectInThread(rdd).map(_.getLong(0)).toSeq == Seq(1L))
        val attempt = CollectInThreadLeakSpec.attempt
        assert(CollectInThreadLeakSpec.granted == (1L << 20), "the task took no memory")
        val info = env.blockManager.blockInfoManager
        assert(info.getTaskLockCount(attempt) == 0, s"fail=$fail: locks held by $attempt")
        assert(info.get(block).map(_.readerCount).contains(0), s"fail=$fail")
        assert(env.memoryManager.executionMemoryUsed == memoryBefore, s"fail=$fail")
        assert(TaskContext.get() == null)
      }
    } finally {
      // A leaked read lock would block the removal.
      env.blockManager.releaseAllLocksForTask(CollectInThreadLeakSpec.attempt)
      env.blockManager.removeBlock(block)
    }
  }
}

object CollectInThreadLeakSpec {
  @volatile var attempt: Long = 0L
  @volatile var granted: Long = 0L

  /** One partition whose task takes a read lock on `block` and 1 MiB of
    * execution memory, releases neither, and then throws when `fail`. */
  class Leaky(sc: SparkContext, block: BlockId, fail: Boolean) extends RDD[InternalRow](sc, Nil) {
    override protected def getPartitions: Array[Partition] =
      Array(new Partition { override def index: Int = 0 })

    override def compute(p: Partition, ctx: TaskContext): Iterator[InternalRow] = {
      attempt = ctx.taskAttemptId()
      assert(SparkEnv.get.blockManager.blockInfoManager.lockForReading(block).isDefined)
      val consumer = new MemoryConsumer(ctx.taskMemoryManager(), MemoryMode.ON_HEAP) {
        override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
      }
      granted = consumer.acquireMemory(1L << 20)
      if (fail) throw new IllegalStateException("planted failure")
      Iterator(InternalRow(1L))
    }
  }
}
