package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.index.{HnswIndexMeta, IndexCatalog}

/** Segment routing (r12): centroid-routed search over a vector-clustered
  * many-segment layout must keep ANN recall at p ≪ segments, default-off
  * routing must stay exact-parity, and pre-r12 artifacts (no centroids)
  * must keep working. */
class HnswRoutingSpec extends SparkSuite {
  import spark.implicits._

  private val Dim = 16
  private val Clusters = 32
  private val PerCluster = 64

  /** 32 well-separated clusters (seeded ±1.5 hypercube corners, σ≈0.05
    * noise, coordinates inside the k-means quantizer's exact range); ids
    * interleave clusters so the deterministic k-means init (smallest 32
    * ids) starts with one point per true cluster. */
  private lazy val corpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(1234)
    val centers = Array.fill(Clusters)(
      Array.fill(Dim)(if (rnd.nextBoolean()) 1.5f else -1.5f))
    (0 until Clusters * PerCluster).map { i =>
      val c = centers(i % Clusters)
      val v = Array.tabulate(Dim)(j => c(j) + (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }
  }

  private def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  private def bruteTop(q: Array[Float], k: Int): Set[Long] =
    corpus.sortBy(p => (l2sq(q, p._2), p._1)).take(k).map(_._1).toSet

  private def buildRouted(name: String): HnswIndexMeta = {
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, PerCluster.toString)
    spark.conf.set(Hnsw.BuildPartitionByKey, "vector")
    try Hnsw.createIndex(spark, name, corpus.toDF("id", "vec"), "vec", "id",
      Map("ef_search" -> "256"), overwrite = true)
    finally {
      spark.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
      spark.conf.unset(Hnsw.BuildPartitionByKey)
    }
  }

  test("vector-clustered build yields 32 segments with aligned centroids") {
    val meta = buildRouted("route_spec_a")
    assert(meta.segments.size == Clusters)
    assert(meta.centroids.size == meta.segments.size)
    assert(meta.count == Clusters * PerCluster)
    // Reload from disk: centroids round-trip through the properties file.
    val back = IndexCatalog.load(Hnsw.baseDir(spark), "route_spec_a")
    assert(back.centroids.size == Clusters)
    assert(back.centroids.head.length == Dim)
  }

  test("recall@10 >= 0.9 at p=4 of 32 segments (scan path); p=0 stays exact-parity") {
    buildRouted("route_spec_b")
    val queries = corpus.grouped(97).map(_.head).take(20).toSeq
    // Default (p unset = search every segment): exact vs brute force at
    // exhaustive ef — the parity the recall gates rely on.
    queries.foreach { case (_, q) =>
      val got = Hnsw.searchRaw(spark, "route_spec_b", q, 10).map(_._1).toSet
      assert(got == bruteTop(q, 10))
    }
    spark.conf.set(Hnsw.ProbeSegmentsKey, "4")
    try {
      val recalls = queries.map { case (_, q) =>
        val got = Hnsw.searchRaw(spark, "route_spec_b", q, 10).map(_._1).toSet
        got.intersect(bruteTop(q, 10)).size / 10.0
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.9, s"routed recall@10 = $mean")
    } finally spark.conf.unset(Hnsw.ProbeSegmentsKey)
  }

  test("recall@3 >= 0.9 at p=4 through the index JOIN (batch path)") {
    buildRouted("route_spec_c")
    val queries = corpus.grouped(131).map(_.head).take(15).toSeq
    val qDf = queries.toDF("q_id", "q_vec")
    spark.conf.set(Hnsw.ProbeSegmentsKey, "4")
    try {
      val got = graft.api.Vss.annTopK(qDf, "route_spec_c", "q_vec", 3)
        .select(col("q_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = queries.map { case (id, q) =>
        got.getOrElse(id, Set.empty).intersect(bruteTop(q, 3)).size / 3.0
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.9, s"routed lateral recall@3 = $mean")
    } finally spark.conf.unset(Hnsw.ProbeSegmentsKey)
  }

  test("per-plan probeSegments override wins over the session conf (r13)") {
    buildRouted("route_spec_f")
    val q = corpus.head
    val qDf = Seq(q).toDF("q_id", "q_vec")
    // Session conf says exhaustive (unset = p 0); the plan pins p = 1:
    // with only the nearest segment probed, results must all come from
    // q's own cluster (64 ids sharing q.id mod 32) — an exhaustive search
    // would find them too, so additionally assert the CONVERSE: a plan
    // pinning p = 1 on a FAR query vector (negated centroid direction)
    // differs from exhaustive. Simplest robust check: p = 1 result equals
    // brute force over the query's own cluster only.
    val got = graft.api.Vss.annTopK(qDf, "route_spec_f", "q_vec", 10,
        probeSegments = Some(1))
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(got.forall(id => id % Clusters == q._1 % Clusters),
      s"p=1 must stay within the query's own cluster, got $got")
    assert(got == bruteTop(q._2, 10), "p=1 on a clustered corpus is exact " +
      "for an in-cluster query (true top-10 lives in its cluster)")
    // And the override is genuinely per-plan: the session conf is still
    // unset, so a plain annTopK remains exhaustive-parity.
    assert(spark.conf.getOption(Hnsw.ProbeSegmentsKey).isEmpty)
    val exhaustive = graft.api.Vss.annTopK(qDf, "route_spec_f", "q_vec", 10)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    assert(exhaustive == bruteTop(q._2, 10))
  }

  test("pre-r12 metas (no centroids) route to all segments; misaligned inserts disable routing") {
    val meta = buildRouted("route_spec_d")
    // Strip centroids, as a pre-r12 artifact would present.
    IndexCatalog.save(Hnsw.baseDir(spark), meta.copy(centroids = Seq.empty))
    val q = corpus.head._2
    assert(IndexCatalog.load(Hnsw.baseDir(spark), "route_spec_d")
      .routedSegments(q, 4).size == Clusters)
    // Routing off is simply all segments, regardless of centroids.
    assert(meta.routedSegments(q, 0) == meta.segments)
    // Insert onto the stripped meta: centroids stay absent (never a
    // partial, misaligned list), and search remains correct.
    Hnsw.insert(spark, "route_spec_d",
      Seq((100000L, corpus.head._2)).toDF("id", "vec"))
    val after = IndexCatalog.load(Hnsw.baseDir(spark), "route_spec_d")
    assert(after.centroids.isEmpty)
    val got = Hnsw.searchRaw(spark, "route_spec_d", q, 2).map(_._1).toSet
    assert(got.contains(corpus.head._1) && got.contains(100000L))
  }

  test("insert onto a routed index appends an aligned centroid") {
    val meta = buildRouted("route_spec_e")
    Hnsw.insert(spark, "route_spec_e",
      Seq((200000L, corpus.last._2)).toDF("id", "vec"))
    val after = IndexCatalog.load(Hnsw.baseDir(spark), "route_spec_e")
    assert(after.segments.size == meta.segments.size + 1)
    assert(after.centroids.size == after.segments.size)
  }

  test("adaptive routing (r16): interior queries stop at p=1, boundary " +
      "queries escalate; margin is a TRUE-distance ratio (squared for l2); " +
      "ip keeps fixed p") {
    // Synthetic meta: 3 segments at 1-D centroids 0, 3, 10 (l2 metric).
    def meta(metric: String) = HnswIndexMeta(
      name = "adapt", paths = Seq.empty, column = "v", idColumn = "id",
      metric = metric, dim = 1, m = 16, m0 = 32,
      efConstruction = 128, efSearch = 64, count = 0,
      segments = Seq("s0", "s1", "s2"),
      segmentRanges = Seq((0L, 0L), (0L, 0L), (0L, 0L)),
      centroids = Seq(Array(0.0f), Array(3.0f), Array(10.0f)))
    val m = meta("l2sq")
    // Interior query at 0.1: d1=0.1, d2=2.9 — ratio 29, any sane margin
    // stops at the nearest segment.
    assert(m.routedSegments(Array(0.1f), 2, 1.5) == Seq("s0"))
    // Boundary query at 1.4: true d1=1.4 (s0), d2=1.6 (s1) — ratio ~1.14:
    // margin 1.25 escalates to both, margin 1.1 does not.
    assert(m.routedSegments(Array(1.4f), 2, 1.25) == Seq("s0", "s1"))
    assert(m.routedSegments(Array(1.4f), 2, 1.1) == Seq("s0"))
    // The margin is a TRUE-distance ratio: l2 centroids rank by SQUARED
    // distance (1.96 vs 2.56, squared ratio 1.31 > 1.25) — an unsquared
    // cut at 1.25 would wrongly exclude s1 here.
    // p bounds escalation even with a loose margin.
    assert(m.routedSegments(Array(1.4f), 1, 10.0) == Seq("s0"))
    // margin <= 1 = fixed-p (take p nearest).
    assert(m.routedSegments(Array(1.4f), 2, 0.0) == Seq("s0", "s1"))
    // ip metric: no scale-free ratio — adaptive falls back to fixed p.
    val ip = meta("ip")
    assert(ip.routedSegments(Array(1.4f), 2, 1.25).size == 2)
    // cosine: margin applies unsquared. Centroids at angle 0 and ~90°,
    // query near the first: escalation off under any reasonable margin.
    val cos = HnswIndexMeta(
      name = "adaptc", paths = Seq.empty, column = "v", idColumn = "id",
      metric = "cosine", dim = 2, m = 16, m0 = 32,
      efConstruction = 128, efSearch = 64, count = 0,
      segments = Seq("c0", "c1"),
      segmentRanges = Seq((0L, 0L), (0L, 0L)),
      centroids = Seq(Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
    assert(cos.routedSegments(Array(0.99f, 0.05f), 2, 1.5) == Seq("c0"))
  }

  test("path parity: SQL top-k, searchRaw and lateralTopK agree at every " +
      "(probeSegments, adaptiveProbeMargin), driver-local and job fan-out") {
    val k = 10
    val dim = 8
    // Cluster 0 holds fewer than k rows, each other cluster 40 (= the
    // per-segment cap, so every cluster is one segment). A query inside
    // cluster 0 stops at its segment under adaptive routing (margin 1.05)
    // but also searches a second one under fixed p = 2, so a path that
    // drops the margin returns different rows.
    val q = Array.tabulate(dim)(j => if (j % 2 == 0) -1.484375f else -1.515625f)
    val qSql = q.mkString("CAST(array(", ", ", ") AS ARRAY<FLOAT>)")
    def build(name: String, clusters: Int): Set[Long] = {
      val rnd = new scala.util.Random(clusters)
      // Distinct hypercube corners; cluster 0 sits at all -1.5, next to q.
      val centers = Array.tabulate(clusters, dim)((c, j) => if (((c >> j) & 1) == 1) 1.5f else -1.5f)
      val sizes = Array.tabulate(clusters)(c => if (c == 0) 4 else 40)
      // The first `clusters` ids take one row per cluster: the k-means
      // init (smallest ids) then starts with one point per true cluster.
      val owners = (0 until clusters) ++ (0 until clusters).flatMap(c => Seq.fill(sizes(c) - 1)(c))
      val rows = owners.zipWithIndex.map { case (c, i) =>
        (i.toLong, Array.tabulate(dim)(j => centers(c)(j) + (rnd.nextFloat() - 0.5f) * 0.1f))
      }
      val dir = Files.createTempDirectory(s"graft-$name").toFile.getAbsolutePath
      rows.toDF("id", "vec").write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      df.createOrReplaceTempView(name)
      spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, "40")
      spark.conf.set(Hnsw.BuildPartitionByKey, "vector")
      val meta = try Hnsw.createIndex(spark, name, df, "vec", "id",
        Map("ef_search" -> "256"), overwrite = true)
      finally {
        spark.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
        spark.conf.unset(Hnsw.BuildPartitionByKey)
      }
      assert(meta.segments.size == clusters)
      // Catalog tombstones: one row of cluster 0 and a spread of others.
      val deleted = (clusters.toLong +: rows.map(_._1).filter(_ % 17 == 3)).toSet
      Hnsw.delete(spark, name, deleted.toSeq)
      deleted
    }
    for ((name, clusters) <- Seq(("parity_local", 3), ("parity_jobs", 6))) {
      val deleted = build(name, clusters)
      val inner = spark.table(name)
      val outer = Seq((0L, q)).toDF("q_id", "q_vec")
      for ((probe, margin) <- Seq((0, 0.0), (2, 0.0), (2, 1.05))) {
        spark.conf.set(Hnsw.ProbeSegmentsKey, probe.toString)
        spark.conf.set(Hnsw.AdaptiveProbeMarginKey, margin.toString)
        try {
          val sqlDf = spark.sql(
            s"SELECT id, array_distance(vec, $qSql) AS d FROM $name ORDER BY d LIMIT $k")
          assert(sqlDf.queryExecution.executedPlan.toString.contains("HnswIndexScan"))
          val viaSql = sqlDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val viaRaw = Hnsw.searchRaw(spark, name, q, k)
            .map { case (id, d) => (id, math.sqrt(d)) }.toSeq
          val latDf = graft.api.Vss.lateralTopK(outer, inner, "q_vec", "vec", "q_id", k)
          assert(latDf.queryExecution.executedPlan.toString.contains("HnswIndexJoinCore"))
          val viaLateral = latDf.orderBy("rn").select("id", "dist").collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val at = s"$name, probe=$probe, margin=$margin"
          assert(viaSql == viaRaw, at)
          assert(viaLateral == viaRaw, at)
          assert(viaRaw.forall(h => !deleted.contains(h._1)), at)
          // The layout discriminates: adaptive routing stops short of k.
          if (margin > 0) assert(viaRaw.size < k, at) else assert(viaRaw.size == k, at)
        } finally {
          spark.conf.unset(Hnsw.ProbeSegmentsKey)
          spark.conf.unset(Hnsw.AdaptiveProbeMarginKey)
        }
      }
    }
  }
}
