package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{array_distance, min_by_k}
import graft.index.IndexCatalog

/**
 * Scale-credible ANN recall/latency curve (r13 verdict item 3): a
 * measurement main (like [[Bench]]) that proves the 100 TB vector-serving
 * posture at realistic dimension — ≥64-dim, ≥1M vectors, CLUSTERED layout,
 * routed p ≪ segments — instead of the fixture-scale recall gates.
 *
 * What it does, end to end:
 *   1. Synthesizes a clustered corpus: N (default 1M) vectors, 64-dim,
 *      32 planted clusters (random ±1 hypercube centers + per-coordinate
 *      uniform noise) — the regime real embedding corpora live in
 *      (SemDeDup/dedup literature: semantic clusters with intra-cluster
 *      spread). Fully deterministic: noise comes from xxhash64(id, coord),
 *      no RNG state, so every run measures the same corpus. No UDFs —
 *      generation is one codegen'd select.
 *   2. Computes exact brute-force top-10 for NQ (default 100) held-out
 *      queries drawn from the same cluster process — ONE distributed
 *      aggregation via the bounded-heap min_by_k (map-side partials ship
 *      ≤ k rows per task×query; the 100M-row candidate frame never
 *      shuffles).
 *   3. Builds the routed HNSW index (vector-partitioned segments via the
 *      deterministic k-means build, centroids recorded) and sweeps
 *      (probe p, ef): recall@10 vs truth + driver-local per-query latency.
 *      p ≪ 32 is the sublinear serving path a 1000-segment cluster runs.
 *   4. Builds an IVF-PQ layout (partition-pruned cells + 8-byte ADC codes)
 *      and sweeps (nprobe, refine): recall@10 + per-query latency of the
 *      batched topKJoin plan, amortized over the query batch.
 *
 * Output: markdown tables on stdout (and ANN_CURVE_LOCAL.md) to be curated
 * into FIXTURES.md / PERF_VS_DUCKDB.md. Latency numbers on this box carry
 * the documented steal caveat; recall numbers are exact and reproducible.
 *
 * Env knobs: SPARK_GRAFT_ANN_N (corpus rows, default 1,000,000),
 * SPARK_GRAFT_ANN_DIM (default 64), SPARK_GRAFT_ANN_NQ (queries, 100),
 * SPARK_GRAFT_ANN_CLUSTERS (default 32 = segment count),
 * SPARK_GRAFT_ANN_MODE:
 *   - `separable` (default, = FIXTURES F10): queries drawn from the same
 *     cluster process as the corpus — proves routing loses nothing on
 *     cleanly clustered data (p=1 == p=32 recall).
 *   - `boundary` (FIXTURES F10b, r14 verdict item 3): queries at the
 *     MIDPOINT of two adjacent planted centers (+ small noise), so each
 *     query's true top-10 deliberately spans 2 segments. This is the case
 *     routing exists for: p=1 recall must visibly DROP (only one flank
 *     searched) and p=2–4 must recover it — proving the centroid ranking
 *     picks the RIGHT segments, not just that the corpus is separable.
 */
object AnnCurve {

  private def envInt(name: String, d: Int): Int =
    sys.env.get(name).map(_.trim.toInt).getOrElse(d)

  def main(args: Array[String]): Unit = {
    val n = envInt("SPARK_GRAFT_ANN_N", 1000000)
    val dim = envInt("SPARK_GRAFT_ANN_DIM", 64)
    val nq = envInt("SPARK_GRAFT_ANN_NQ", 100)
    val clusters = envInt("SPARK_GRAFT_ANN_CLUSTERS", 32)
    val k = 10

    val cpus = envInt("SPARK_GRAFT_CPUS", 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val work = Files.createTempDirectory("graft-ann-curve").toFile.getAbsolutePath
    val sb = new StringBuilder
    def out(s: String): Unit = { println(s); sb.append(s).append('\n'); () }

    out(s"# ANN recall/latency curve — n=$n dim=$dim clusters=$clusters " +
      s"queries=$nq k=$k (corpus deterministic, seed-free)")

    // ---- 1. clustered corpus ------------------------------------------
    // centers: ±1 per coordinate (seeded scala.util.Random — one driver
    // array, broadcast as a literal); corpus vec = center(id % clusters)
    // + uniform(-0.8, 0.8) noise per coordinate from xxhash64(id*dim+j).
    // Center pairs differ in ~dim/2 coordinates → inter-center d² ≈ 2·dim;
    // noise E‖·‖² ≈ 0.213·dim — well-separated clusters with real spread.
    val rnd = new scala.util.Random(20260816L)
    val centers: Seq[Seq[Float]] =
      Seq.fill(clusters)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f))
    def clusteredVec(idCol: org.apache.spark.sql.Column) = {
      val c = element_at(typedLit(centers), (idCol % clusters).cast("int") + 1)
      val noise = transform(sequence(lit(0), lit(dim - 1)), j =>
        (pmod(xxhash64(idCol * dim + j), lit(1000000)) / 500000.0 - 1.0) * 0.8)
      zip_with(c, noise, (ctr, nz) => (ctr + nz).cast("float"))
    }
    val corpusPath = s"$work/corpus"
    val t0 = System.nanoTime()
    spark.range(n.toLong)
      .select(col("id").as("vec_id"), clusteredVec(col("id")).as("vec"))
      .repartition(cpus)
      .write.mode("overwrite").parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    out(f"\ncorpus written: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // queries: ids past the corpus range. separable mode: same centers,
    // fresh noise. boundary mode: midpoint of centers (i, i+1) + smaller
    // noise — the two flanking centroids are the query's two nearest by
    // construction, every other center sits ~sqrt(2·dim) away.
    val mode = sys.env.getOrElse("SPARK_GRAFT_ANN_MODE", "separable")
    require(mode == "separable" || mode == "boundary" || mode == "mixed",
      s"bad mode: $mode")
    def boundaryVec(idCol: org.apache.spark.sql.Column) = {
      val ca = element_at(typedLit(centers), (idCol % clusters).cast("int") + 1)
      val cb = element_at(typedLit(centers), ((idCol + 1) % clusters).cast("int") + 1)
      val mid = zip_with(ca, cb, (a, b) => (a + b) / 2.0)
      val noise = transform(sequence(lit(0), lit(dim - 1)), j =>
        (pmod(xxhash64(idCol * dim + j), lit(1000000)) / 500000.0 - 1.0) * 0.4)
      zip_with(mid, noise, (c, nz) => (c + nz).cast("float"))
    }
    out(s"query mode: $mode")
    // mixed (F10c): alternate interior/boundary queries — the serving
    // workload adaptive routing exists for (fixed p=1 loses the boundary
    // half's recall, fixed p=2 doubles the interior half's latency).
    val qVecExpr = mode match {
      case "boundary" => boundaryVec(col("id"))
      case "mixed" => when(col("id") % 2 === 0, clusteredVec(col("id")))
        .otherwise(boundaryVec(col("id")))
      case _ => clusteredVec(col("id"))
    }
    val queriesDf = spark.range(n.toLong, n.toLong + nq)
      .select(col("id").as("q_id"), qVecExpr.as("q_vec"))
    val queryVecs: Array[(Long, Array[Float])] = queriesDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    // ---- 2. brute-force truth (ONE bounded-heap aggregation) ----------
    val t1 = System.nanoTime()
    val truth: Map[Long, Set[Long]] = corpus.crossJoin(broadcast(queriesDf))
      .groupBy(col("q_id"))
      .agg(min_by_k(col("vec_id"), array_distance(col("vec"), col("q_vec")), k).as("ids"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    out(f"brute-force truth ($nq×$n): ${(System.nanoTime() - t1) / 1e9}%.1f s")

    // ---- 3. HNSW: routed (p, ef) sweep --------------------------------
    val name = "ann_curve_1m"
    spark.conf.set(Hnsw.LocationKey, s"$work/indexes")
    spark.conf.set(Hnsw.MaxVectorsPerPartitionKey, ((n + clusters - 1) / clusters).toString)
    spark.conf.set(Hnsw.BuildPartitionByKey, "vector")
    val t2 = System.nanoTime()
    Hnsw.createIndex(spark, name, corpus, "vec", "vec_id", Map.empty, overwrite = true)
    val buildS = (System.nanoTime() - t2) / 1e9
    val meta = IndexCatalog.load(Hnsw.baseDir(spark), name)
    out(f"\nHNSW build (M=${IndexCatalog.DefaultM}, efc=${IndexCatalog.DefaultEfConstruction}, " +
      f"${meta.segments.size} vector-partitioned segments, centroids=${meta.centroids.size}): " +
      f"$buildS%.1f s")
    out("\n## HNSW routed search — recall@10 / per-query latency (ms, median of " +
      s"$nq single-query searches after a warm pass)")
    out("\n| probe p | ef=16 | ef=64 | ef=128 | ef=256 |")
    out("|---|---|---|---|---|")
    val base = Hnsw.baseDir(spark)
    def search(q: Array[Float], ef: Int, p: Int, margin: Double = 0.0) =
      Hnsw.searchBatch(None, base, meta, Array(q), k, ef, p, margin).head
    for (p <- Seq(1, 2, 4, 8, clusters)) {
      val cells = for (ef <- Seq(16, 64, 128, 256)) yield {
        // warm pass: load the routed segments' graphs once (the serving
        // steady state — a 100 TB cluster's executors keep graphs cached)
        queryVecs.foreach { case (_, q) => search(q, ef, p) }
        val lat = new Array[Double](queryVecs.length)
        var hit = 0
        var i = 0
        while (i < queryVecs.length) {
          val (qid, q) = queryVecs(i)
          val s0 = System.nanoTime()
          val got = search(q, ef, p)
          lat(i) = (System.nanoTime() - s0) / 1e6
          hit += got.count { case (id, _) => truth(qid).contains(id) }
          i += 1
        }
        java.util.Arrays.sort(lat)
        f"${hit.toDouble / (queryVecs.length * k)}%.3f / ${lat(lat.length / 2)}%.2f ms"
      }
      out(s"| ${if (p == clusters) s"$p (all)" else p.toString} | ${cells.mkString(" | ")} |")
    }

    // ---- 3b. ADAPTIVE routing sweep (F10c, r15 verdict item 5) --------
    // Per-query escalation: always probe the nearest segment, probe
    // segments 2..p only when their centroid margin is within m× the
    // nearest's (spark.graft.hnsw.adaptiveProbeMargin). The claim under
    // test: adaptive-p matches fixed p=2 recall at materially lower MEAN
    // latency/probe count, because interior queries stop at p=1.
    out("\n## Adaptive routing (p ≤ 2, margin m) — recall@10 / mean latency ms / mean probes")
    out("\n| routing | ef=64 | ef=256 |")
    out("|---|---|---|")
    val rows: Seq[(String, Int, Double)] =
      Seq(("fixed p=1", 1, 0.0), ("fixed p=2", 2, 0.0)) ++
        Seq(1.1, 1.25, 1.5, 2.0).map(m => (f"adaptive p=2 m=$m%.2f", 2, m))
    for ((label, p, margin) <- rows) {
      val cells = for (ef <- Seq(64, 256)) yield {
        queryVecs.foreach { case (_, q) => search(q, ef, p, margin) }
        val lat = new Array[Double](queryVecs.length)
        var hit = 0
        var probes = 0L
        var i = 0
        while (i < queryVecs.length) {
          val (qid, q) = queryVecs(i)
          val s0 = System.nanoTime()
          val got = search(q, ef, p, margin)
          lat(i) = (System.nanoTime() - s0) / 1e6
          hit += got.count { case (id, _) => truth(qid).contains(id) }
          probes += meta.routedSegments(q, p, margin).size
          i += 1
        }
        f"${hit.toDouble / (queryVecs.length * k)}%.3f / ${lat.sum / lat.length}%.2f ms " +
          f"/ ${probes.toDouble / queryVecs.length}%.2f"
      }
      out(s"| $label | ${cells.mkString(" | ")} |")
    }

    // ---- 4. IVF-PQ: (m, nprobe, refine) sweep -------------------------
    // Cells = clusters (k-means rediscovers the planted structure). Two
    // code sizes: m=8 sub-quantizers (8 B/vector, 32× compression) and
    // m=16 (16 B, 16×) — on clustered corpora most inter-vector variance
    // is BETWEEN clusters, so the sub-block codebooks spend their codes
    // separating clusters and the intra-cluster resolution (what top-10
    // ranking needs) rides on code granularity + the exact refine pass.
    for (m <- Seq(8, 16)) {
      val layout = s"$work/ivfpq_m$m"
      val t3 = System.nanoTime()
      graft.index.Pq.buildIvfPq(corpus, "vec", layout, nCells = clusters,
        m = m, ksub = 256, sampleFraction = 0.05)
      out(f"\nIVF-PQ build (cells=$clusters, m=$m, ksub=256, 5%% training sample): " +
        f"${(System.nanoTime() - t3) / 1e9}%.1f s")
      out(s"\n## IVF-PQ m=$m batched search — recall@10 / per-query latency " +
        s"(ms, batch wall over $nq queries ÷ $nq, min of 2)")
      out("\n| nprobe | refine=8 | refine=64 |")
      out("|---|---|---|")
      for (nprobe <- Seq(1, 2, 4, 8)) {
        val cells = for (refine <- Seq(8, 64)) yield {
          def once(): (Double, Double) = {
            val s0 = System.nanoTime()
            val got = graft.index.Pq.topKJoin(spark, layout, "vec", "vec_id",
                queriesDf, "q_id", "q_vec", k = k, nprobe = nprobe, refine = refine)
              .select(col("q_id"), col("vec_id")).collect()
            val wallMs = (System.nanoTime() - s0) / 1e6
            val hit = got.count(r => truth(r.getLong(0)).contains(r.getLong(1)))
            (hit.toDouble / (nq * k), wallMs / nq)
          }
          val (r1, l1) = once(); val (r2, l2) = once()
          require(r1 == r2, s"non-deterministic recall: $r1 vs $r2")
          f"$r1%.3f / ${math.min(l1, l2)}%.2f ms"
        }
        out(s"| $nprobe | ${cells.mkString(" | ")} |")
      }
    }

    Files.writeString(Paths.get(
      sys.env.getOrElse("ANN_CURVE_OUT", "/root/repo/ANN_CURVE_LOCAL.md")), sb.toString)
    spark.stop()
  }
}
