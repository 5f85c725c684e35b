package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSuite {
  private var current: SparkSession = _

  /** The shared session; once a suite has stopped it, a new one with the
    * same settings. */
  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = build()
    current
  }

  /** Where a suite that sets no index location of its own keeps its
    * indexes: one fresh directory per test JVM, removed at exit, so no
    * test index is left in the shared default under `java.io.tmpdir`. */
  private lazy val indexDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-test-indexes").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.getAbsolutePath
  }

  private def build(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config(Hnsw.LocationKey, indexDir)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // The CI box can run under heavy hypervisor CPU steal (observed 10%+,
      // 3× single-thread slowdowns); default 120s RPC asks then time out
      // mid-suite and Spark's uncaught handler kills the fork (exit 56).
      .config("spark.network.timeout", "600s")
      .config("spark.rpc.askTimeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.register(s)
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  def sf(s: String): String = s"/root/testdata/sf$s"

  /** Jobs `body` starts, counted by a listener read after a bus drain. */
  def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.drainListenerBus(spark, 60000)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Bridge.drainListenerBus(spark, 60000)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
