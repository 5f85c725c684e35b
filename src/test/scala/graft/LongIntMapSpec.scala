package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LongIntMap

/** The one open-addressed long→int map behind the grouped-sum kernels: the
  * dim probe, and the bucket-local build table that grows past its initial
  * capacity (no kernel-spec fixture reaches the first growth). */
class LongIntMapSpec extends AnyFunSuite {

  test("grows past its initial capacity and keeps every key") {
    val m = new LongIntMap() // 65,536 slots: the first growth is at 32,768 keys
    val keys = (0 until 100000).map(i => (i.toLong - 50000L) * 7919L)
    keys.zipWithIndex.foreach { case (k, v) => assert(m.put(k, v)) }
    assert(m.size == keys.size)
    keys.zipWithIndex.foreach { case (k, v) => assert(m.get(k) == v, s"key $k") }
  }

  test("keeps negative keys, 0, Long.MinValue and Long.MaxValue") {
    val m = new LongIntMap(2)
    val keys = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue, -(1L << 40))
    keys.zipWithIndex.foreach { case (k, v) => assert(m.put(k, v)) }
    keys.zipWithIndex.foreach { case (k, v) => assert(m.get(k) == v) }
    assert(m.size == keys.size)
  }

  test("reports a duplicate after growth and overwrites its value") {
    val m = new LongIntMap(64)
    (0 until 1000).foreach(i => assert(m.put(i.toLong, i)))
    assert(!m.put(5L, 77))
    assert(!m.put(999L, 3))
    assert(m.get(5L) == 77 && m.get(999L) == 3)
    assert(m.size == 1000)
  }

  test("an absent key is -1, before and after growth") {
    val m = new LongIntMap(4)
    assert(m.get(0L) == -1 && m.get(Long.MinValue) == -1)
    (1 to 100).foreach(i => m.put(i.toLong * 3, i))
    assert(m.get(0L) == -1 && m.get(1L) == -1 && m.get(301L) == -1)
    assert(m.get(Long.MinValue) == -1 && m.get(Long.MaxValue) == -1)
  }

  test("rejects a capacity that is not a power of two") {
    intercept[IllegalArgumentException](new LongIntMap(48))
    intercept[IllegalArgumentException](new LongIntMap(1))
  }
}
