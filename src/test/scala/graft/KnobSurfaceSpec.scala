package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's `spark.graft.*` conf surface, pinned: every quoted key
  * literal under `src/main/scala` must be in the list below and every listed
  * key must still be read there. A new knob (or a deleted one) is then a
  * visible change to this list. */
class KnobSurfaceSpec extends AnyFunSuite {

  private val Keys = Set(
    "spark.graft.aqe.smallQueryBytes",
    "spark.graft.classifier.localFitMaxBytes",
    "spark.graft.decontam.maxEvalGrams",
    "spark.graft.dedup.candidateSemiMinBytes",
    "spark.graft.dedup.forestTaskEdges",
    "spark.graft.dedup.reliableCheckpointDir",
    "spark.graft.hnsw.adaptiveProbeMargin",
    "spark.graft.hnsw.build.maxVectorsPerPartition",
    "spark.graft.hnsw.build.partitionBy",
    "spark.graft.hnsw.efSearch",
    "spark.graft.hnsw.enableExperimentalPersistence",
    "spark.graft.hnsw.probeSegments",
    "spark.graft.hnsw.rewrite.assumeUniqueWindowKey",
    "spark.graft.hnsw.rewrite.enabled",
    "spark.graft.index.location",
    "spark.graft.kernel.spreadMaxBytes",
    "spark.graft.mix.heapCapMaxK",
    "spark.graft.mix.narrowInputBytes",
    "spark.graft.q12.bitmapDistinct",
    "spark.graft.scan.splitsPerCore",
    "spark.graft.semijoin.maxBitmapBits",
    "spark.graft.smallQueryShufflePartitions",
    "spark.graft.sql.cosineOperator",
    "spark.graft.text.broadcastVocabBytes")

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r

  test("the spark.graft.* keys read under src/main/scala are exactly the listed 24") {
    val root: Path = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root),
      s"main sources not found at $root: run the suite from the project directory")
    val files = Files.walk(root)
    val found =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
        KeyLiteral.findAllMatchIn(Files.readString(f)).map(_.group(1))
      }.toSet
      finally files.close()
    assert(Keys.size == 24)
    assert((found -- Keys).isEmpty, s"keys not in the list: ${(found -- Keys).toSeq.sorted}")
    assert((Keys -- found).isEmpty, s"listed keys no longer read: ${(Keys -- found).toSeq.sorted}")
  }
}
