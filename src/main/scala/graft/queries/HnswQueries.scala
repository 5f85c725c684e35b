package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Hnsw, Tables}
import graft.functions.{array_cosine_similarity, array_distance, array_negative_inner_product, lit_vector, min_by_k}
import graft.index.IndexCatalog

/**
 * Correctness-gate queries for the HNSW index path (SURVEY §2 O1-O4, O7):
 * the queries are written in the reference's SQL shapes (`ORDER BY dist
 * LIMIT k`, `min_by(col, dist, k)`, `1 - cos_sim`), so the optimizer rules
 * must fire for the index to be used — the driver gate then proves
 * index-path results equal DuckDB's brute-force oracle.
 *
 * Exactness posture: gate indexes are built with ef_search far above the
 * table size, which makes the beam search exhaustive over the (connected)
 * graph — exact results on the deterministic fixtures, mirroring how
 * hnsw_result.test asserts exact distances on the 9³ grid. ANN-speed
 * behavior (default ef) is exercised in HnswRewriteSpec and the bench's
 * `hnsw_topn_ann` entry instead.
 */
object HnswQueries {

  /** Fixed 64-dim query vector; every value is an exact binary float so the
    * Spark literal and the DuckDB SQL text below agree bit-for-bit. */
  private[graft] val QueryVec: Array[Float] =
    Array.tabulate(64)(i => ((i % 8) * 0.125f) - 0.5f)

  // Every element is an exact power-of-two fraction, so decimal text
  // round-trips losslessly through both parsers.
  private val QueryVecSql: String =
    QueryVec.map(_.toString).mkString("[", ", ", "]::FLOAT[]")

  /** Idempotently build the gate indexes for this sf dir (name is keyed by
    * the dir so sf0.01 and sf0.1 artifacts coexist). Artifacts survive in
    * the tmp dir across driver rounds, so a stale or unreadable index (e.g.
    * an older artifact format) is dropped and rebuilt, never trusted. */
  private def usable(s: SparkSession, name: String): Boolean = {
    val base = Hnsw.baseDir(s)
    IndexCatalog.exists(base, name) && {
      try {
        val meta = IndexCatalog.load(base, name)
        meta.count > 0 && Hnsw.searchBatch(None, base, meta, Array(QueryVec), 1, 1, 0, 0.0).hits.head.nonEmpty
      } catch { case _: Exception => false }
    }
  }

  private[graft] def ensureIndexes(s: SparkSession, dir: String): (String, String) = {
    // Collision-resistant suffix (Tables.dirKey, r13): Int-hashCode keys
    // could alias two sf dirs onto one index and silently serve the wrong
    // scale's vectors — see Tables.dirKey's scaladoc.
    val suffix = Tables.dirKey(dir)
    val l2 = s"gate_emb_l2_$suffix"
    val cos = s"gate_emb_cos_$suffix"
    val emb = Tables.load(s, dir, "embeddings")
    val exhaustive = Map("ef_search" -> "1000000")
    if (!usable(s, l2)) {
      Hnsw.createIndex(s, l2, emb, "embedding", "vec_id", exhaustive, overwrite = true)
    }
    if (!usable(s, cos)) {
      Hnsw.createIndex(s, cos, emb, "embedding", "vec_id",
        exhaustive + ("metric" -> "cosine"), overwrite = true)
    }
    (l2, cos)
  }

  /** The ip-metric gate index (hnsw_metrics.test:26-39 parity) — separate
    * from [[ensureIndexes]] so the l2/cos gates don't pay its build. */
  private[graft] def ensureIpIndex(s: SparkSession, dir: String): String = {
    val ip = s"gate_emb_ip_${Tables.dirKey(dir)}"
    if (!usable(s, ip)) {
      Hnsw.createIndex(s, ip, Tables.load(s, dir, "embeddings"), "embedding", "vec_id",
        Map("ef_search" -> "1000000", "metric" -> "ip"), overwrite = true)
    }
    ip
  }

  /** Deterministic CLUSTERED derivation of the fixture embeddings for the
    * routed-recall gate: `vec = 0.25·embedding + center(vec_id mod 32)`,
    * centers on seeded ±1 hypercube corners. The fixture embeddings are
    * isotropic — no spatial partitioning routes safely on them
    * (HnswRoutingSpec's argument) — and a training-scale corpus IS
    * clustered, so the gate's regime is the realistic one. Coordinates
    * stay within ±1.15, inside the k-means quantizer's exact ±127/64
    * range; ids cover all 32 clusters within vec_id < 32, so the
    * deterministic smallest-ids k-means init starts one-per-cluster. */
  private[graft] def routedCorpus(s: SparkSession, dir: String): DataFrame = {
    val rnd = new scala.util.Random(4242)
    val centers: Seq[Seq[Float]] =
      Seq.fill(32)(Seq.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f))
    val c = element_at(typedLit(centers), (col("vec_id") % 32).cast("int") + 1)
    // Null embeddings are excluded at the source: zip_with propagates the
    // null into `vec`, and a null vec both can't index and poisons the
    // in-gate truth crossJoin (NULLS FIRST under the asc rank).
    Tables.load(s, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"),
        zip_with(col("embedding"), c,
          (x, ctr) => (x * lit(0.25) + ctr).cast("float")).as("vec"))
  }

  /** Idempotently build the vector-clustered routed index over
    * [[routedCorpus]] — ~32 segments, one per planted cluster, centroids
    * recorded for routing. Same lifecycle as [[ensureIndexes]]. */
  private[graft] def ensureRoutedIndex(s: SparkSession, dir: String): String = {
    val name = s"gate_emb_routed_${Tables.dirKey(dir)}"
    val base = Hnsw.baseDir(s)
    def routable: Boolean = usable(s, name) && {
      val m = IndexCatalog.load(base, name)
      m.segments.size >= 8
    }
    if (!routable) {
      val corpus = routedCorpus(s, dir)
      val total = corpus.count()
      val prevMax = s.conf.getOption(Hnsw.MaxVectorsPerPartitionKey)
      val prevBy = s.conf.getOption(Hnsw.BuildPartitionByKey)
      s.conf.set(Hnsw.MaxVectorsPerPartitionKey, ((total + 31) / 32).toString)
      s.conf.set(Hnsw.BuildPartitionByKey, "vector")
      try Hnsw.createIndex(s, name, corpus, "vec", "vec_id",
        Map("ef_search" -> IndexCatalog.DefaultEfSearch.toString), overwrite = true)
      finally {
        prevMax.fold(s.conf.unset(Hnsw.MaxVectorsPerPartitionKey))(
          s.conf.set(Hnsw.MaxVectorsPerPartitionKey, _))
        prevBy.fold(s.conf.unset(Hnsw.BuildPartitionByKey))(
          s.conf.set(Hnsw.BuildPartitionByKey, _))
      }
    }
    name
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hnsw_topn_scan" -> ((s, dir) => {
      ensureIndexes(s, dir)
      // O3 shape: ORDER BY array_distance LIMIT k → HnswIndexScan
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), array_distance(col("embedding"), lit_vector(QueryVec)).as("d"))
        .orderBy("d")
        .limit(10)
        .select(col("vec_id"), round(col("d"), 4).as("d"))
    }),
    "hnsw_cosine_scan" -> ((s, dir) => {
      ensureIndexes(s, dir)
      // O7 shape: 1 - cos_sim is rewritten to cosine distance, then O3 fires
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          (lit(1.0) - array_cosine_similarity(col("embedding"), lit_vector(QueryVec))).as("d"))
        .orderBy("d")
        .limit(10)
        .select(col("vec_id"), round(col("d"), 4).as("d"))
    }),
    "hnsw_min_by_scan" -> ((s, dir) => {
      ensureIndexes(s, dir)
      // O4 shape: ungrouped min_by(col, dist, k)
      Tables.load(s, dir, "embeddings")
        .agg(array_join(
          min_by_k(col("vec_id"), array_distance(col("embedding"), lit_vector(QueryVec)), 8)
            .cast("array<string>"), ",").as("ids"))
    }),
    "hnsw_index_info" -> ((s, dir) => {
      val (l2, _) = ensureIndexes(s, dir)
      // O14, self-checking (r11; was rows-only): the engine-independent
      // fields compare against DuckDB-computed table facts (metric string,
      // dimensions = the embedding length, count = live rows), and the
      // engine-specific ones collapse to invariants the oracle states as
      // `true` (levels/segments >= 1 on a non-empty index; the gate index
      // never sees a delete). index_name is session-derived (dir hash) so
      // it stays out of the comparison.
      Hnsw.indexInfo(s)
        .where(col("index_name") === l2)
        .select(col("metric"),
          col("dimensions").cast("long").as("dimensions"),
          col("count"),
          (col("levels") >= 1).as("levels_ok"),
          (col("segment_count") >= 1).as("segments_ok"),
          (col("deleted_count") === 0L).as("no_deletes"))
    }),
    "hnsw_filtered_topn" -> ((s, dir) => {
      ensureIndexes(s, dir)
      // Filtered O3 shape (`WHERE p ORDER BY dist LIMIT k`,
      // where_clause_segfault.test): rewrites to a filtered index scan, one
      // allow-listed search; exact SQL semantics, so oracle-checkable.
      Tables.load(s, dir, "embeddings")
        .where(col("label") % 3 === 0)
        .select(col("vec_id"), col("label"),
          array_distance(col("embedding"), lit_vector(QueryVec)).as("d"))
        .orderBy("d")
        .limit(10)
        .select(col("vec_id"), col("label"), round(col("d"), 4).as("d"))
    }),
    "hnsw_ip_scan" -> ((s, dir) => {
      ensureIpIndex(s, dir)
      // Per-metric index selection (hnsw_metrics.test:26-39): the ip index
      // serves the `ORDER BY array_negative_inner_product LIMIT k` shape.
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          array_negative_inner_product(col("embedding"), lit_vector(QueryVec)).as("d"))
        .orderBy("d")
        .limit(10)
        .select(col("vec_id"), round(col("d"), 4).as("d"))
    }),
    "hnsw_crud_topk" -> ((s, dir) => {
      // O11-O13 end-to-end (hnsw_crud.test:21-50): build → insert delta
      // segments → delete keys → compact → top-k search over the index,
      // hash-checked against DuckDB on the equivalent final table state.
      // The index is rebuilt each run (overwrite) so the mutations apply
      // exactly once. Inserted vectors are perturbed by an exact binary
      // float (+0.25f) — identical single-precision rounding in both
      // engines — so no inserted row ties with its source row.
      val name = s"gate_crud_${Tables.dirKey(dir)}"
      val emb = Tables.load(s, dir, "embeddings")
      val baseRows = emb.where(col("vec_id") >= 100 && col("vec_id") < 2000)
        .select(col("vec_id"), col("embedding"))
      // Small build: the default 256k-vectors-per-segment policy would put
      // the whole gate index in ONE partition and serialize both rebuilds
      // (create + compact); 512/segment makes them 4-way parallel.
      val prevMax = s.conf.getOption(Hnsw.MaxVectorsPerPartitionKey)
      s.conf.set(Hnsw.MaxVectorsPerPartitionKey, "512")
      val inserted = emb.where(col("vec_id") < 100)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(0.25f)).as("embedding"))
      // The search is eager (topK collects), so the scratch index can be
      // dropped in finally — it shares (paths, column, metric) with the
      // regular gate index, and a lingering copy with mutated contents
      // could be picked by the TopN rewrite for the other hnsw gates.
      val hits =
        try {
          Hnsw.createIndex(s, name, baseRows, "embedding", "vec_id",
            Map("ef_search" -> "1000000"), overwrite = true)
          Hnsw.insert(s, name, inserted)
          Hnsw.delete(s, name, (100L until 200L) ++ (1000000L until 1000050L))
          Hnsw.compactIndex(s, name)
          Hnsw.topK(s, name, QueryVec, 10).select(col("vec_id"))
        } finally {
          Hnsw.dropIndex(s, name)
          prevMax match {
            case Some(v) => s.conf.set(Hnsw.MaxVectorsPerPartitionKey, v)
            case None => s.conf.unset(Hnsw.MaxVectorsPerPartitionKey)
          }
        }
      // Index-selected ids; distances recomputed with the SQL-surface
      // expression over the final state for oracle value parity (the same
      // fetch-back the reference's index scan does).
      val finalState = baseRows.where(col("vec_id") >= 200)
        .unionByName(inserted.where(col("vec_id") >= 1000050L))
      hits
        .join(finalState, "vec_id")
        .select(col("vec_id"),
          round(array_distance(col("embedding"), lit_vector(QueryVec)), 4).as("d"))
    }),
    "hnsw_lateral_topk" -> ((s, dir) => {
      ensureIndexes(s, dir)
      // O5/O6 shape: per-outer-row top-k; lateralTopK plants
      // HnswIndexJoinCore because an index serves the inner side.
      val outer = Tables.load(s, dir, "embeddings").where(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val inner = Tables.load(s, dir, "embeddings")
      graft.api.Vss.lateralTopK(outer, inner, "q_vec", "embedding", "q_id", 3)
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(col("dist"), 4).as("d"), col("rn").cast("long").as("rn"))
    }),
    "ivf_topn_scan" -> ((s, dir) => {
      // IVF-flat scale path: partition-pruned brute TopN over nprobe cells.
      // Exhaustive probe (nprobe = nCells) → exact → oracle-checkable.
      val layout = ensureIvfLayout(s, dir)
      graft.index.Ivf.topK(s, layout, "embedding", QueryVec, 10, nprobe = 8)
        .select(col("vec_id"), round(col("distance"), 4).as("d"))
    }),
    "ivf_topk_join" -> ((s, dir) => {
      // Batch multi-query ANN over the IVF layout: queries broadcast +
      // exploded to their probed cells, dynamic partition pruning skips the
      // rest of the corpus. Exhaustive probe (nprobe = nCells) → exact.
      val layout = ensureIvfLayout(s, dir)
      val queries = graft.Tables.load(s, dir, "embeddings").where(col("vec_id") < 5)
      graft.index.Ivf.topKJoin(s, layout, "embedding", queries, "vec_id", "embedding",
          k = 3, nprobe = 8, tieCol = Some("vec_id"))
        .select(col("q_id").cast("long").as("q_id"), col("vec_id").as("n_id"),
          round(col("distance"), 4).as("d"), col("rn"))
    }),
    "ivf_pq_recall" -> ((s, dir) => {
      // IVF-PQ quality gate (the hnsw_recall_ann analogue for the
      // memory-scale path): ADC over 8-byte codes + refine·k exact re-rank
      // must reach recall@10 >= 0.9 vs brute force over 10 fixture
      // queries. Exhaustive probe isolates the PQ approximation itself.
      // The brute-force TRUTH is ensure-cached like the layout builds
      // (r12; it was recomputed inside every run, so the driver bench's
      // timed body was ~98% truth crossJoin — PERF_VS_DUCKDB r11 noted
      // build≈1.4 s vs exec≈30 ms): warmup pays it once, measured runs
      // time the engine (ADC search + re-rank), which is what the
      // scoreboard is for.
      val layout = ensureIvfPqLayout(s, dir)
      val truth = ensurePqTruth(s, dir)
      val queries = graft.Tables.load(s, dir, "embeddings")
        .where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // One batched ADC + re-rank plan for all 10 queries (Pq.topKJoin) —
      // the per-query loop spelling cost 20 Spark jobs per run.
      val got = graft.index.Pq.topKJoin(s, layout, "embedding", "vec_id",
          queries, "q_id", "q_vec", k = 10, nprobe = 8, refine = 8)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val hit = got.count { case (qid, id) => truth(qid).contains(id) }
      val total = truth.values.map(_.size).sum
      import s.implicits._
      Seq(hit.toDouble / total >= 0.9).toDF("recall_ok")
    }),
    "hnsw_topn_ann" -> ((s, dir) => {
      // ANN top-k through the raw search surface, self-checking (r11; was
      // rows-only): the index's top-10 must be a subset of the exact
      // brute-force top-20 AND have exactly 10 rows — tie-robust (distance
      // ties reorder freely inside the top-20 envelope) and
      // scale-independent, so the oracle is a plain SELECT true. The
      // containment is evaluated in-plan (min over array_contains = AND);
      // an empty or short result surfaces as null/false ≠ true.
      val (l2, _) = ensureIndexes(s, dir)
      val ann = Hnsw.topK(s, l2, QueryVec, 10).select(col("vec_id"))
      val truth = Tables.load(s, dir, "embeddings")
        .agg(min_by_k(col("vec_id"),
          array_distance(col("embedding"), lit_vector(QueryVec)), 20).as("_ids"))
      ann.crossJoin(truth)
        .agg((min(array_contains(col("_ids"), col("vec_id"))) &&
          count(lit(1)) === 10).as("ok"))
    }),
    "hnsw_recall_lateral" -> ((s, dir) => {
      // O6-path graph-quality gate at DEFAULT beam width — the lateral-join
      // analogue of hnsw_recall_ann, mirroring hnsw_lateral_join_group.test's
      // with/without-index equality relaxed to ANN recall: per-outer-row
      // top-3 THROUGH THE INDEX JOIN at ef_search = 64 must reach
      // recall@3 >= 0.9 against the brute-force window truth over 20
      // queries. hnsw_lateral_topk above proves the join path exact at
      // exhaustive ef; this one proves the graph still serves it well at
      // the reference's default beam width.
      val (l2, _) = ensureIndexes(s, dir)
      // Separate Tables.load per role: each call carries fresh attribute
      // ids, so outer/inner/truth never alias each other (self-join check).
      val queries = Tables.load(s, dir, "embeddings").where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val prevEf = s.conf.getOption(Hnsw.EfSearchKey)
      s.conf.set(Hnsw.EfSearchKey, graft.index.IndexCatalog.DefaultEfSearch.toString)
      // lateralTopK reads ef when it builds the plan, so the call must sit
      // inside the conf scope (outside it, the gate would run at the gate
      // index's exhaustive meta ef and could never fail). The ANN side also
      // executes there; its ≤ 60 rows compare driver-side against the
      // ensure-cached truth below.
      val got =
        try graft.api.Vss.lateralTopK(queries,
            Tables.load(s, dir, "embeddings"), "q_vec", "embedding", "q_id", 3)
          .select(col("q_id"), col("vec_id").as("neighbor_id"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        finally prevEf match {
          case Some(v) => s.conf.set(Hnsw.EfSearchKey, v)
          case None => s.conf.unset(Hnsw.EfSearchKey)
        }
      // Truth is ensure-cached apparatus (r16, the hnsw_recall_ann device —
      // same decomposition rationale).
      val truth = ensureRecallTruth(s, dir, 3)
      val hit = got.count { case (q, id) => truth.get(q).exists(_.contains(id)) }
      val total = truth.values.map(_.size).sum
      import s.implicits._
      Seq(hit.toDouble / total >= 0.9).toDF("recall_ok")
    }),
    "hnsw_recall_ann" -> ((s, dir) => {
      // Graph-quality gate at DEFAULT beam width — the analogue of the
      // reference's closeness assertions (hnsw_basic.test:28-34): ANN top-10
      // at ef_search = 64 must reach recall@10 >= 0.9 against brute force,
      // averaged over 20 fixture queries. The oracle is `SELECT true`, so a
      // regressed neighbor-selection heuristic fails the hash match — the
      // exhaustive-ef gates above prove exactness, this one proves the graph
      // is a good graph.
      val (l2, _) = ensureIndexes(s, dir)
      val emb = Tables.load(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // annTopK resolves ef at plan-build time, so the conf flip is scoped
      // to construction — the returned plan carries ef = 64 regardless of
      // when it executes.
      val prevEf = s.conf.getOption(Hnsw.EfSearchKey)
      s.conf.set(Hnsw.EfSearchKey, graft.index.IndexCatalog.DefaultEfSearch.toString)
      val got =
        try graft.api.Vss.annTopK(queries, l2, "q_vec", 10)
          .select(col("q_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        finally prevEf match {
          case Some(v) => s.conf.set(Hnsw.EfSearchKey, v)
          case None => s.conf.unset(Hnsw.EfSearchKey)
        }
      // Brute-force truth is ENSURE-CACHED apparatus (r16; the r12
      // ivf_pq_recall device): the RecallAudit decomposition showed the
      // old in-gate truth crossJoin was ~75% of the timed body, so walls
      // measured the yardstick, not the graph. Driver compare over ≤200
      // rows, exactly ivf_pq_recall's structure.
      val truth = ensureRecallTruth(s, dir, 10)
      val hit = got.count { case (q, id) => truth.get(q).exists(_.contains(id)) }
      val total = truth.values.map(_.size).sum
      import s.implicits._
      Seq(hit.toDouble / total >= 0.9).toDF("recall_ok")
    }),
    "hnsw_routed_recall" -> ((s, dir) => {
      // The r12 segment-routing claim promoted to the scoreboard (r12
      // verdict item 3): with only p = 4 of ~32 vector-clustered segments
      // probed per query, recall@10 >= 0.9 over 20 queries against the
      // brute-force truth — the sublinear many-segment path measured in
      // the gates' own regime (recall posture of the reference's
      // hnsw_basic.test:28-34). Corpus/layout rationale: [[routedCorpus]].
      // The probe width rides THE PLAN (annTopK's probeSegments
      // override), never a session conf — every other hnsw gate keeps
      // exact-parity p = 0, and a gate builder's conf flip would leak
      // past its return anyway.
      val name = ensureRoutedIndex(s, dir)
      val queries = routedCorpus(s, dir).where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("vec").as("q_vec"))
      val got = graft.api.Vss.annTopK(queries, name, "q_vec", 10,
          probeSegments = Some(4))
        .select(col("q_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // Brute-force truth is ENSURE-CACHED apparatus, unifying the policy
      // across all three recall gates (r16 verdict item 5: the two sibling
      // gates' truths moved to warmup in r16 while this one still ran its
      // crossJoin in-plan every timed run — inconsistent, and the truth is
      // the yardstick, not the engine under test). Driver compare over
      // ≤200 rows, exactly the siblings' structure; same 200-denominator
      // recall value as the old in-plan agg (20 queries x exact top-10).
      val truth = ensureRoutedRecallTruth(s, dir)
      val hit = got.count { case (q, id) => truth.get(q).exists(_.contains(id)) }
      val total = truth.values.map(_.size).sum
      import s.implicits._
      Seq(hit.toDouble / total >= 0.9).toDF("recall_ok")
    })
  )

  /** Idempotently build the IVF layout for this sf dir; rebuild on any
    * stale/unreadable artifact (see [[ensureIndexes]]). */
  private[graft] def ensureIvfLayout(s: SparkSession, dir: String): String = {
    val layout = new java.io.File(Hnsw.baseDir(s),
      s"ivf_emb_${Tables.dirKey(dir)}").getAbsolutePath
    val ok =
      try {
        graft.index.Ivf.readCentroids(new java.io.File(layout, "_ivf_centroids.bin"))
          .nonEmpty && s.read.parquet(layout).head(1).nonEmpty
      } catch { case _: Exception => false }
    if (!ok) {
      graft.index.Ivf.build(Tables.load(s, dir, "embeddings"), "embedding", layout, nCells = 8)
    }
    layout
  }

  /** Process-local cache of ivf_pq_recall's brute-force truth (per sf
    * dir): exact top-10 ids per fixture query, the fixed yardstick the
    * gate's recall is measured against. Ensure-cached for the same reason
    * the LAYOUTS are — it is gate apparatus, not the engine under test,
    * and recomputing it per run made the timed body ~98% truth crossJoin.
    * Fixture files are immutable within a JVM run, so dir-keying is safe. */
  private val pqTruthCache =
    new scala.collection.concurrent.TrieMap[String, Map[Long, Set[Long]]]()

  /** Brute-force top-k truth for the 20-query recall gates, ensure-cached
    * per (dir, k) — the [[ensurePqTruth]] device applied to
    * hnsw_recall_ann / hnsw_recall_lateral (r16, closing the r15 audit):
    * the RecallAudit decomposition measured the gates' timed bodies as
    * ~75% truth crossJoin (ann side 0.10 s vs truth 0.31 s at sf0.1,
    * GraphCache zero churn after warmup), so the truth is apparatus and
    * the timed runs should measure the ENGINE. */
  private val recallTruthCache =
    new scala.collection.concurrent.TrieMap[(String, Int), Map[Long, Set[Long]]]()

  private[graft] def ensureRecallTruth(s: SparkSession, dir: String,
      k: Int): Map[Long, Set[Long]] =
    recallTruthCache.getOrElseUpdate((dir, k), {
      // Null vectors are not index members and have no distance — exclude
      // them or NULLS-FIRST ranks poison every query's truth set.
      val emb = graft.Tables.load(s, dir, "embeddings")
        .where(col("embedding").isNotNull)
      val queries = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("d"), col("vec_id"))
      queries.crossJoin(emb)
        .select(col("q_id"), col("vec_id"),
          array_distance(col("q_vec"), col("embedding")).as("d"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= k)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    })

  /** [[ensureRecallTruth]] for the ROUTED gate's planted-cluster corpus
    * ([[routedCorpus]], not the raw embeddings) — its own cache key, same
    * policy: truth is apparatus, paid in warmup, immutable per (dir, JVM). */
  private val routedTruthCache =
    new scala.collection.concurrent.TrieMap[String, Map[Long, Set[Long]]]()

  private[graft] def ensureRoutedRecallTruth(s: SparkSession,
      dir: String): Map[Long, Set[Long]] =
    routedTruthCache.getOrElseUpdate(dir, {
      val corpus = routedCorpus(s, dir) // null embeddings already excluded
      val queries = corpus.where(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("vec").as("q_vec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("d"), col("vec_id"))
      queries.crossJoin(corpus)
        .select(col("q_id"), col("vec_id"),
          array_distance(col("q_vec"), col("vec")).as("d"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    })

  private[graft] def ensurePqTruth(s: SparkSession, dir: String): Map[Long, Set[Long]] =
    pqTruthCache.getOrElseUpdate(dir, {
      val emb = graft.Tables.load(s, dir, "embeddings")
        .where(col("embedding").isNotNull)
      val queries = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("d"), col("vec_id"))
      queries.crossJoin(emb)
        .select(col("q_id"), col("vec_id"),
          array_distance(col("q_vec"), col("embedding")).as("d"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 10)
        .select(col("q_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    })

  /** Idempotently build the IVF-PQ layout for this sf dir (codes + cells +
    * codebooks); rebuild on any stale/unreadable artifact. */
  private[graft] def ensureIvfPqLayout(s: SparkSession, dir: String): String = {
    val layout = new java.io.File(Hnsw.baseDir(s),
      s"ivfpq_emb_${Tables.dirKey(dir)}").getAbsolutePath
    val ok =
      try {
        graft.index.Pq.readCodebooks(
          new java.io.File(layout, "_pq_codebooks.bin")).m > 0 &&
          s.read.parquet(layout).select("pq_code").head(1).nonEmpty
      } catch { case _: Exception => false }
    if (!ok) {
      graft.index.Pq.buildIvfPq(graft.Tables.load(s, dir, "embeddings"),
        "embedding", layout, nCells = 8, m = 8, ksub = 64)
    }
    layout
  }

  val oracleSql: Map[String, String] = Map(
    "hnsw_topn_scan" ->
      s"""SELECT vec_id, round(list_distance(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]), 4) AS d
          FROM embeddings WHERE embedding IS NOT NULL
          ORDER BY list_distance(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]) LIMIT 10""",
    "hnsw_cosine_scan" ->
      s"""SELECT vec_id, round(1.0 - list_cosine_similarity(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]), 4) AS d
          FROM embeddings WHERE embedding IS NOT NULL
          ORDER BY 1.0 - list_cosine_similarity(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]) LIMIT 10""",
    "hnsw_min_by_scan" ->
      s"""SELECT array_to_string((list(vec_id ORDER BY list_distance(embedding::DOUBLE[], $QueryVecSql::DOUBLE[])))[1:8], ',') AS ids
          FROM embeddings WHERE embedding IS NOT NULL""",
    "hnsw_filtered_topn" ->
      s"""SELECT vec_id, label, round(list_distance(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]), 4) AS d
          FROM embeddings WHERE label % 3 = 0 AND embedding IS NOT NULL
          ORDER BY list_distance(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]) LIMIT 10""",
    "hnsw_ip_scan" ->
      s"""SELECT vec_id, round(-list_inner_product(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]), 4) AS d
          FROM embeddings WHERE embedding IS NOT NULL
          ORDER BY -list_inner_product(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]) LIMIT 10""",
    "hnsw_crud_topk" ->
      s"""WITH final AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id >= 200 AND vec_id < 2000 AND embedding IS NOT NULL
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id,
                   list_transform(embedding, x -> x + 0.25::FLOAT) AS embedding
            FROM embeddings
            WHERE vec_id >= 50 AND vec_id < 100 AND embedding IS NOT NULL)
          SELECT vec_id, round(list_distance(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]), 4) AS d
          FROM final
          ORDER BY list_distance(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]), vec_id LIMIT 10""",
    "ivf_topn_scan" ->
      s"""SELECT vec_id, round(list_distance(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]), 4) AS d
          FROM embeddings WHERE embedding IS NOT NULL
          ORDER BY list_distance(embedding::DOUBLE[], $QueryVecSql::DOUBLE[]), vec_id LIMIT 10""",
    "ivf_topk_join" ->
      """WITH s AS (
           SELECT q.vec_id AS q_id, e.vec_id AS n_id,
                  list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS d
           FROM embeddings e, embeddings q
           WHERE q.vec_id < 5 AND e.embedding IS NOT NULL)
         SELECT q_id, n_id, round(d, 4) AS d, rn FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rn FROM s)
         WHERE rn <= 3""",
    "hnsw_lateral_topk" ->
      """WITH s AS (
           SELECT q.vec_id AS q_id, e.vec_id AS n_id,
                  list_distance(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS d
           FROM embeddings e, embeddings q
           WHERE q.vec_id < 5 AND e.embedding IS NOT NULL)
         SELECT q_id, n_id, round(d, 4) AS d, rn FROM (
           SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d) AS rn FROM s)
         WHERE rn <= 3""",
    "hnsw_recall_ann" ->
      // The Spark side emits `recall@10 >= 0.9` as a boolean; a graph-quality
      // regression flips it to false and fails the hash match.
      "SELECT true AS recall_ok",
    "hnsw_recall_lateral" ->
      "SELECT true AS recall_ok",
    "hnsw_routed_recall" ->
      // Routed search (p = 4 of ~32 segments) must keep recall@10 >= 0.9 on
      // the clustered derived corpus; a routing regression (bad centroids,
      // wrong pruning) flips the boolean and fails the hash match.
      "SELECT true AS recall_ok",
    "ivf_pq_recall" ->
      // PQ quality gate: a codebook/encode/ADC regression flips the Spark
      // side to false and fails the hash match.
      "SELECT true AS recall_ok",
    "hnsw_topn_ann" ->
      // Spark side emits `top-10 ⊆ exact top-20 AND |result| = 10`.
      "SELECT true AS ok",
    "hnsw_index_info" ->
      // Engine-independent fields recomputed by DuckDB from the table;
      // engine-specific ones asserted as invariants on the Spark side.
      """SELECT 'l2sq' AS metric,
           CAST(max(len(embedding)) AS BIGINT) AS dimensions,
           CAST(count(*) AS BIGINT) AS count,
           true AS levels_ok, true AS segments_ok, true AS no_deletes
         FROM embeddings WHERE embedding IS NOT NULL"""
  )
}
