package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.array_cosine_similarity
import TextFunctions._

/**
 * Deduplication operators for training-data pipelines, all designed around
 * bounded shuffles — no stage is ever an all-pairs cross product:
 *
 *  - [[exactDupGroups]]: hash-groupBy — one shuffle on the content hash.
 *  - [[nearDupPairs]] (MinHash + banded LSH): shingle → k-min signature →
 *    band keys; the only joins are equi-joins on band keys and on doc ids,
 *    and the final exact-Jaccard verify touches candidate pairs only.
 *  - [[simHashPairs]]: 64-bit SimHash, candidates via 16-bit chunk equality
 *    (pigeonhole-complete for hamming <= 3).
 *  - [[embeddingNearDupPairs]]: hyperplane-LSH sign buckets over an
 *    embedding column, cosine-verified.
 *
 * At warehouse scale every shuffle key here (content hash, band key, chunk
 * key, bucket key) is high-cardinality and uniformly distributed by
 * construction, so the stages partition evenly; candidate verification is
 * proportional to the number of colliding pairs, not n².
 *
 * Caching contract: NO operator leaves `persist()`ed intermediates behind —
 * the SQL cache is empty when each call returns (asserted by DedupSpec).
 * Corpus-sized intermediates (shingle sets, signatures, bucket keys) are
 * never cached at all: at 100 TB caching them would thrash the executor
 * store, so consumers re-derive them from column-pruned scans, and
 * AQE's stage cache / exchange reuse collapse the identical subtrees a
 * plan references twice (a self-join's two sides are one shuffle; a
 * candidate set feeding both the id fetch and the verify join is one
 * band-join). The two iterative operators ([[nearDupClusters]]'s label
 * propagation, [[signBuckets]]'s split loop) persist per-round state while
 * they run, then release it and hand back their small fixpoint as
 * executor-local `localCheckpoint` blocks (outside the SQL cache, freed by
 * the context cleaner when the result is dropped). Frames read across
 * several actions ([[dropNearDuplicates]]' keeper ids, and its input when
 * that is a composed upstream) are re-rooted over their executed RDD
 * (`Bridge.rddBarrier`) instead: that caches nothing and keeps lineage —
 * later jobs skip the map stages whose shuffle output already exists,
 * and a lost shuffle file recomputes from the plan as any exchange does.
 */
object Dedup {

  /** Groups of byte-identical texts: (text_hash, n, doc ids ascending,
    * keeper = smallest id). */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // NULL texts are UNKNOWN, not byte-identical: md5(NULL) is NULL and a
    // bare groupBy would collapse every null-text row into one "duplicate"
    // group — silent data loss downstream. They can never be exact dups.
    df.where(col(textCol).isNotNull)
      .select(TextFunctions.md5Hex(col(textCol)).as("text_hash"), col(idCol).cast("long").as("_id"))
      .groupBy(col("text_hash"))
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col("_id"))).as("ids"),
        min(col("_id")).as("keep_id"))
      .where(col("n") > 1)

  /** Drop byte-identical duplicates, keeping the smallest id of each
    * identical-text group — the drop-side counterpart of
    * [[exactDupGroups]]. One hash-partitioned window shuffle (no second
    * corpus exchange, unlike a groupBy + self-semi-join spelling). NULL
    * texts pass through untouched: they are unknown content, not
    * byte-identical to each other. A NULL id sorts LAST (DuckDB's default
    * order, and `min` — [[exactDupGroups]]' keep_id — ignores NULLs), so
    * it is kept only when its whole group has NULL ids. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextFunctions.md5Hex(col(textCol)))
      .orderBy(col(idCol).asc_nulls_last)
    df.withColumn("_dedup_rn", row_number().over(w))
      .where(col(textCol).isNull || col("_dedup_rn") === 1)
      .drop("_dedup_rn")
  }

  /**
   * Chunk-level dedup — the line/paragraph-dedup step of C4/Dolma-style
   * pipelines, at token-window granularity: split every doc into
   * NON-overlapping `size`-token windows, keep only the corpus-wide FIRST
   * occurrence (by id, then position) of each distinct window, and rebuild
   * each doc's text from its surviving windows in order. Docs whose every
   * window was seen earlier vanish from the output.
   *
   * One hash-partitioned window shuffle over (chunk-hash) — repeated
   * boilerplate concentrates per hash partition, never all-pairs — plus
   * the per-doc rebuild aggregate. Returns (idCol, textCol rebuilt,
   * n_chunks_kept).
   */
  def dropRepeatedChunks(df: DataFrame, textCol: String, idCol: String,
      size: Int): DataFrame = {
    require(size > 0, "chunk size must be positive")
    val chunks = df.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(TextFunctions.chunkTokens(col(textCol), size, size))
          .as(Seq("_chunk_no", "_chunk")))
    // Two flat longs as the corpus-wide chunk key (r13, the substring-
    // dedup device): fixed-width sort/partition keys through the window
    // exchange instead of a 32-char hex string per chunk.
    val h = TextFunctions.md5Longs(col("_chunk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(h.getField("h1"), h.getField("h2"))
      .orderBy(col(idCol), col("_chunk_no"))
    chunks.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .groupBy(col(idCol))
      .agg(
        array_join(
          sort_array(collect_list(struct(col("_chunk_no"), col("_chunk"))))
            .getField("_chunk"), " ").as(textCol),
        count(lit(1)).as("n_chunks_kept"))
  }

  /**
   * EXACT substring dedup at token resolution — the ExactSubstr step of
   * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
   * Better"), re-expressed for a distributed engine: remove from every
   * document every token covered by a `minTokens`-token window that
   * occurs ≥ 2 times in the corpus (all copies are removed, as the paper
   * recommends — train on text that appears once). Unlike
   * [[dropRepeatedChunks]]'s aligned non-overlapping windows, windows
   * here slide at STRIDE 1, so a repeated span is caught at any offset —
   * the suffix-array semantics at window resolution, without the
   * suffix array: a maximal repeated span of length ≥ minTokens is
   * exactly a run of repeated stride-1 windows, and the union of their
   * coverage is the span.
   *
   * Scale shape: one stride-1 window explode (rows ∝ corpus tokens; each
   * window a zero-copy byte slice), ONE exchange of the narrow
   * (id, start, h1, h2) frame with a corpus-wide count window over the
   * two-long md5 key (see the in-body note for why this beats
   * count-then-join-back at every scale), one per-doc
   * aggregate of repeated start positions, and a single-pass kernel
   * ([[graft.expressions.TextHash.dropCoveredTokens]]) that rebuilds
   * each text with a coverage-watermark sweep — no all-pairs stage, no
   * driver state.
   *
   * Returns one row per non-NULL-text input row: (idCol, textCol
   * rebuilt — possibly empty when the whole doc is repeated,
   * n_tokens_removed).
   */
  def dropRepeatedSubstrings(df: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 50): DataFrame = {
    require(minTokens > 0, "minTokens must be positive")
    // Spread once: both consumers (the stride-1 window explode and the
    // final rebuild join's probe side) inherit core-parallel kernels; the
    // two identical exchanges collapse to one via reuse. Identity at scale.
    val base = graft.spark.ExecTuning.spreadForKernel(
      df.where(col(textCol).isNotNull).select(col(idCol), col(textCol)),
      Seq(col(idCol)))
    // Stride-1 windows; position = start token index. Tail windows
    // shorter than minTokens never count (start + L <= n_tokens). The
    // window STRING collapses to its md5 before anything shuffles — at
    // stride 1 the raw windows are ~minTokens x the corpus bytes, and
    // shipping that through the count exchange would be the operator's
    // scale killer (the same hash device dropRepeatedChunks uses for its
    // window key). Counting by md5 is exact modulo 128-bit collisions.
    val grams = base.select(col(idCol),
        TextFunctions.tokenCount(col(textCol)).as("_ss_n"),
        posexplode(TextFunctions.chunkTokens(col(textCol), minTokens, 1))
          .as(Seq("_ss_start", "_ss_gram")))
      .where(col("_ss_start") + minTokens <= col("_ss_n"))
      .select(col(idCol), col("_ss_start"),
        TextFunctions.md5Longs(col("_ss_gram")).getField("h1").as("_ss_h1"),
        TextFunctions.md5Longs(col("_ss_gram")).getField("h2").as("_ss_h2"))
    // Corpus-wide counts via ONE window over the hash (r13): every exact
    // plan must co-locate all copies of a window hash to recover their
    // spans, so count them right there — one exchange of the narrow
    // (id, start, h1, h2) frame, a fixed-width two-long sort, no join, no
    // second pass. The former shape (groupBy count → join grams back)
    // either broadcast `repeated` and RE-RAN the whole tokenize+md5 pass
    // on the probe side (3.0 s of 7.6 s profiled at sf10), or — past a
    // broadcastable `repeated`, the 100 TB regime — degraded to SMJ,
    // which co-locates the same rows AND pays the agg exchange AND the
    // recompute. Per-hash work stays linear in copies; a pathological
    // single window repeated ~1e9 times serializes one task, the same
    // hotspot every exact-span plan has.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_ss_h1"), col("_ss_h2"))
    val spans = grams
      .withColumn("_ss_c", count(lit(1)).over(w))
      .where(col("_ss_c") >= 2)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("_ss_start").cast("long"))).as("_ss_starts"))
    val rebuilt = Bridge.column(graft.expressions.DropCoveredTokens(
      Bridge.expression(col(textCol)),
      Bridge.expression(coalesce(col("_ss_starts"),
        array().cast("array<bigint>"))),
      minTokens))
    base.join(spans, Seq(idCol), "left")
      .withColumn("_ss_r", rebuilt)
      .select(col(idCol), col("_ss_r.text").as(textCol),
        col("_ss_r.n_removed").as("n_tokens_removed"))
  }

  /** (id, sig) pairs — the shared first stage of the MinHash path. The
    * fused kernel never materializes shingle strings; only the 64×8-byte
    * signature flows into the band join (the property that matters when the
    * corpus is 100 TB of text). */
  def minHashSignatures(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 64, seed: Long = 42L): DataFrame =
    // NOT spread (r16 ABBA 1.1-1.3x worse; RE-confirmed r17 after the
    // count-first probe restructure with a shared-input spread — ABBA
    // 0.86-0.99 favoring off: the floor kernels overlap as concurrent
    // broadcast futures, so a spread exchange only adds a hop).
    df.select(col(idCol).cast("long").as("id"),
        minhashText(col(textCol), shingleN, k, seed).as("sig"))
      .where(size(col("sig")) > 0)

  /** Distinct candidate pairs (id_a < id_b) whose signatures collide in at
    * least one of `bands` bands of `k/bands` rows each.
    *
    * `maxBucketSize` (0 = unlimited, the default — gate semantics) is the
    * hot-bucket escape hatch production near-dedup pipelines carry
    * (BigCode's near-dedup and Dolma both cap or special-case oversized
    * LSH buckets): a band bucket of B members emits B(B−1)/2 candidate
    * pairs, so one degenerate bucket — boilerplate, templated spam, a
    * corpus of replicas — can dominate the whole job quadratically.
    * Capping SKIPS buckets larger than the bound (their members can still
    * pair through their other `bands − 1` buckets), trading recall ONLY
    * on items whose every shared band is oversized, for a hard
    * per-bucket work bound. */
  def lshCandidatePairs(signatures: DataFrame, k: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 0): DataFrame = {
    // Each side's rows carry the keys STRICTLY BELOW the exploded bucket
    // value (SortedPrefixes), and the join emits a pair only when the two
    // prefixes are disjoint — equivalent to emitting from the bucket of
    // the pair's MINIMUM shared value (the r9 FirstSharedIs criterion,
    // restated over prefixes): every candidate pair appears exactly once,
    // so no `distinct()` runs. The prefix spelling (round 10) carries
    // bands(bands−1)/2 longs per doc through the band-join exchange where
    // the full-set spelling carried bands² — the pipeline's largest
    // shuffle, roughly halved. The round-8 spelling — (id, band_key)
    // self-join, then distinct — materialized the full candidate MULTISET
    // first (290M rows / 2.4 GB shuffled into a spilling reduce at
    // derived sf10, 44 s of the measured 105 s total); the per-probe
    // merge this trades it for is O(bands) longs on bucket-colliding
    // rows only, inside codegen.
    val keyed = explodedBandKeySets(signatures, k, bands, maxBucketSize)
    pairJoin(keyed)
  }

  /** The unique-emission pair self-join over a prepared (id, pre, v)
    * frame — the two sides canonicalize to ONE v-exchange. shuffle_hash
    * (not sort-merge) because the prefix-carrying rows are several times
    * wider than a (id, key) row and sort-merge would pay two full sorts
    * of them — a hash build of |rows|/partitions per task is bounded and
    * sortless. */
  private def pairJoin(keyed: DataFrame): DataFrame =
    keyed.as("x").join(keyed.as("y").hint("shuffle_hash"),
        col("x.v") === col("y.v") && col("x.id") < col("y.id") &&
          Bridge.column(graft.expressions.NoSharedSortedLongs(
            Bridge.expression(col("x.pre")), Bridge.expression(col("y.pre")))))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))

  /** (id, ks) rows: each doc's band keys as a SORTED-DISTINCT array —
    * the shape [[graft.expressions.SortedPrefixes]] slices. Distinctness
    * also makes bucket membership per (id, value) unique, so the pair
    * join and the occupancy counts never see intra-doc duplicates.
    * Computed by the [[graft.expressions.BandKeySets]] kernel — see its
    * scaladoc for why the hash choice cannot affect the LSH candidate
    * set and what the HOF spelling it replaced cost. */
  private def bandKeySets(signatures: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    signatures.select(col("id"),
      Bridge.column(graft.expressions.BandKeySets(
        Bridge.expression(col("sig")), bands)).as("ks"))
  }

  /** [[bandKeySets]] exploded to one row per (id, pre, v ∈ ks) where
    * `pre` holds the keys strictly below v ([[graft.expressions.SortedPrefixes]]
    * — the unique-emission predicate's minimal payload), with oversized
    * buckets removed when `maxBucketSize > 0`. Capping filters the
    * exploded rows by bucket occupancy and REBUILDS each id's prefixes
    * from its surviving values — the pair-uniqueness predicate must see
    * only buckets both members actually survive in, or a pair whose
    * minimum shared value lies in a skipped hot bucket would never be
    * emitted from the surviving one.
    *
    * (Measured NOTE, derived sf10: hash-partitioning THIS frame on v so
    * every candidate-stage consumer is co-partitioned was tried and is
    * 6-9 s SLOWER per gate than exchanging the compact sigs frame —
    * the explode×bands and the 10x-wider shuffle rows then run at
    * scan-split parallelism on the exchange's map side.) */
  private def explodedBandKeySets(signatures: DataFrame, k: Int, bands: Int,
      maxBucketSize: Int): DataFrame = {
    require(maxBucketSize >= 0, "maxBucketSize must be >= 0 (0 = unlimited)")
    val base = bandKeySets(signatures, k, bands)
    def prefixed(src: DataFrame): DataFrame = src
      .select(col("id"), explode(Bridge.column(graft.expressions.SortedPrefixes(
        Bridge.expression(col("ks"))))).as("kv"))
      .select(col("id"), col("kv.pre").as("pre"), col("kv.v").as("v"))
    if (maxBucketSize == 0) prefixed(base)
    else {
      val kv = base.select(col("id"), explode(col("ks")).as("v"))
      val surviving = kv.groupBy(col("v")).agg(count(lit(1)).as("_bn"))
        .where(col("_bn") <= maxBucketSize).select(col("v"))
      prefixed(kv.join(surviving, Seq("v"), "left_semi")
        .groupBy(col("id"))
        .agg(sort_array(collect_list(col("v"))).as("ks")))
    }
  }

  /** Bucket size beyond which a warning is logged when the banded LSH
    * frame executes (`spark.graft.dedup.hotBucketWarnBucketSize`, 0
    * disables). A bucket of B members emits B(B−1)/2 candidate pairs,
    * so one degenerate bucket — boilerplate, templated spam, replicas —
    * degrades the whole job quadratically; `maxBucketSize` bounds it but
    * defaults OFF for gate exactness, and without this warning a scale
    * user discovers the knob only after the job hangs. */
  private[graft] val HotBucketWarnSizeKey = "spark.graft.dedup.hotBucketWarnBucketSize"
  private[graft] val DefaultHotBucketWarnSize: Long = 100000L

  /** Sessions that already carry the hot-bucket QueryExecutionListener
    * (weak keys: a retired session must not be pinned by the registry). */
  private val hotBucketListenerSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()

  /** Name prefix of the observed-metrics rows the listener reads. */
  private val HotBucketMetricPrefix = "graft_lsh_max_bucket"
  private val hotBucketMetricSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Max LSH band-bucket size the listener last observed (−1 before any
    * near-dedup query ran). The programmatic face of the warning — a
    * pipeline can poll it after a run to decide whether to re-run with a
    * `maxBucketSize` cap — and what the spec asserts (the log line
    * itself is not capturable portably). Updated asynchronously on query
    * completion. LAST-WRITER-WINS across queries: with concurrent
    * near-dedup queries in flight this holds whichever finished last —
    * poll [[observedMaxBucketSnapshot]] (keyed by the per-query metric
    * name) to attribute observations under concurrency.
    *
    * NOT OBSERVED ≠ NO HOT BUCKETS: the metric rides the occupancy
    * aggregate, which the candidate-semi size gate SKIPS on corpora under
    * `CandidateSemiMinBytesKey` — a query that takes the skip path leaves
    * this scalar at whatever the PREVIOUS query observed (stale). A
    * small-corpus pipeline must therefore diff
    * [[observedMaxBucketSnapshot]] (no new entry appears for a skipped
    * query) rather than read this scalar, or set
    * `candidateSemiMinBytes=0` to force the observation. Pinned by
    * DedupSpec ("hot-bucket observation is skipped..."). */
  private[graft] val lastObservedMaxBucket =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Bound on [[observedMaxBuckets]] (oldest evicted beyond it). */
  private val MaxObservedBuckets = 64

  /** Per-query observations, keyed by the unique observed-metric name
    * (`graft_lsh_max_bucket-<seq>`, monotone seq): the concurrency-safe
    * face of [[lastObservedMaxBucket]] — interleaved near-dedup queries
    * each keep their own entry instead of overwriting one global.
    * Insertion-ordered and bounded (LRU by insertion), so a long-lived
    * session never accumulates unbounded entries. */
  private val observedMaxBuckets =
    new java.util.LinkedHashMap[String, java.lang.Long](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        size() > MaxObservedBuckets
    }

  /** Snapshot of the per-query hot-bucket observations, insertion-ordered
    * (oldest first; the numeric suffix of the key is the query's launch
    * sequence). A pipeline polling after ITS query under concurrent
    * near-dedup traffic diffs snapshots instead of trusting the racy
    * last-writer-wins scalar. */
  private[graft] def observedMaxBucketSnapshot: Seq[(String, Long)] =
    observedMaxBuckets.synchronized {
      import scala.jdk.CollectionConverters._
      observedMaxBuckets.entrySet().asScala
        .map(e => (e.getKey, e.getValue.longValue())).toSeq
    }

  /** Register (once per session) a listener that logs a warning when an
    * executed plan's observed max LSH bucket size exceeds the threshold.
    * The metric rides the plan via `observe()` — ZERO extra jobs or
    * shuffles; it materializes whenever the caller's own action runs. */
  private def ensureHotBucketListener(
      spark: org.apache.spark.sql.SparkSession): Unit =
    hotBucketListenerSessions.synchronized {
      if (!hotBucketListenerSessions.containsKey(spark)) {
        spark.listenerManager.register(
          new org.apache.spark.sql.util.QueryExecutionListener {
            override def onSuccess(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                durationNs: Long): Unit =
              qe.observedMetrics.foreach { case (name, row) =>
                if (name.startsWith(HotBucketMetricPrefix) && !row.isNullAt(0)) {
                  // Re-read per event: the listener registers once per
                  // session, but the threshold is runtime conf the user
                  // may change between queries.
                  val warnAt = graft.spark.ExecTuning.confLong(spark,
                    HotBucketWarnSizeKey, DefaultHotBucketWarnSize)
                  val maxB = row.getLong(0)
                  lastObservedMaxBucket.set(maxB)
                  observedMaxBuckets.synchronized {
                    observedMaxBuckets.put(name, java.lang.Long.valueOf(maxB))
                  }
                  if (warnAt > 0 && maxB > warnAt)
                    org.slf4j.LoggerFactory.getLogger(Dedup.getClass).warn(
                      s"LSH band bucket of $maxB members (> $warnAt): one " +
                        s"bucket of B members emits B(B-1)/2 candidate " +
                        s"pairs — set maxBucketSize on " +
                        s"nearDupPairs/dropNearDuplicates to bound it " +
                        s"(members still pair through their other bands)")
                }
              }
            override def onFailure(funcName: String,
                qe: org.apache.spark.sql.execution.QueryExecution,
                exception: Exception): Unit = ()
          })
        hotBucketListenerSessions.put(spark, java.lang.Boolean.TRUE)
      }
    }

  /** Ids appearing in at least one candidate pair, derived from BUCKET
    * OCCUPANCY (any id in a post-cap bucket of >= 2 members pairs with
    * every other member) rather than from the pair-join output, so the
    * pair subtree keeps exactly one consumer (a second consumer would
    * re-run the whole pair join — AQE reuses EXCHANGES, not post-shuffle
    * results). The id set is EQUAL to the set of ids in the pair output
    * (not merely a superset): every member of a post-cap >= 2 bucket
    * pairs with every other member, and the first-shared-value emission
    * rule only moves WHICH bucket emits a pair among buckets both
    * members survive in, never whether it is emitted.
    *
    * `keyed` is [[explodedBandKeySets]]'s output (post-cap). It is NOT
    * v-partitioned (a v-exchange of the wide exploded frame was tried
    * and measured slower — see explodedBandKeySets), so the counts
    * aggregate and the semi-join each plan their own narrow (id, v) /
    * (v, count) exchanges over the shared upstream sigs exchange, plus
    * the final distinct over candidate ids. The observed hot-bucket
    * metric is post-cap — identical to pre-cap in the default cap=0
    * configuration, which is exactly when the warning has a knob to
    * point at. */
  private def lshCandidateIds(keyed: DataFrame): DataFrame = {
    val kv = keyed.select(col("id"), col("v"))
    ensureHotBucketListener(keyed.sparkSession)
    // Max bucket size rides along as an observed metric (warned on by
    // the listener above); the name carries a sequence number —
    // CollectMetrics names must be unique within a query.
    val occupied = kv.groupBy(col("v")).agg(count(lit(1)).as("_bn"))
      .observe(s"$HotBucketMetricPrefix-${hotBucketMetricSeq.incrementAndGet()}",
        max(col("_bn")).as("max_bucket"))
      .where(col("_bn") >= 2)
      .select(col("v"))
    kv.join(occupied, Seq("v"), "left_semi").select(col("id")).distinct()
  }

  /**
   * MinHash/LSH near-duplicate pairs with exact-Jaccard verification:
   * (id_a, id_b, jaccard) for candidate pairs with jaccard >= threshold.
   * With k=64/bands=16 the probability of missing a pair at J=0.9 is
   * (1-0.9^4)^16 ≈ 2e-3 and vanishes as J → 1 — tune k/bands per corpus.
   */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      seed: Long = 42L, maxBucketSize: Int = 0): DataFrame = {
    // NOT spread (re-measured r17 after the count-first probe restructure,
    // 3-rep ABBA on spreadMaxBytes=default|0: doc_near_dup 0.97,
    // doc_dedup_kept 0.99, doc_curation_e2e 0.86 — off wins or ties,
    // confirming r16): the minhash/shingle kernels run as CONCURRENT
    // broadcast-future jobs at the floor, so their 3-task map stages
    // overlap on idle cores and a shared spread exchange only adds a hop.
    // The signature set feeds both sides of the band self-join; the sides
    // canonicalize to one exchange (reuse), so the minhash stage runs once
    // without caching it.
    val sigs = minHashSignatures(df, textCol, idCol, shingleN, k, seed)
    verifiedPairs(df, sigs, textCol, idCol, threshold, shingleN, k,
      bands, maxBucketSize, sortBarrier = true, sizedBy = df)
  }

  /** Band join + exact-Jaccard verification over prepared (id, sig) rows —
    * the shared tail of [[nearDupPairs]] and [[dropNearDuplicates]]. `df`
    * supplies the shingle sets; `sizedBy` is the frame whose static input
    * estimate drives the size gates (the caller's ORIGINAL input, even
    * when `df` is a re-rooted barrier over it). */
  private def verifiedPairs(df: DataFrame, sigs: DataFrame, textCol: String,
      idCol: String, threshold: Double, shingleN: Int, k: Int, bands: Int,
      maxBucketSize: Int, sortBarrier: Boolean, sizedBy: DataFrame): DataFrame = {
    // The signature frame feeds several subtrees (the pair join's two
    // sides — one canonicalized exchange — plus the occupancy counts and
    // the occupancy semi-join in lshCandidateIds). A bare map-only sigs
    // frame would be RECOMPUTED per subtree (exchange reuse shares
    // exchanges, not projections): at derived sf10 that was three 16 s
    // minhash-the-corpus passes, each at scan-split parallelism (14
    // tasks for the 58 MB documents file). One explicit hash exchange of
    // the compact (id, 64-long sig) rows — ~260 MB at 500k docs — makes
    // every consumer a full-width reader of the same shuffle output.
    // Everything stays lazy — AQE's stage cache reuses the materialized
    // stages across consumers, and keeps exact runtime sizes so the
    // semi-join flips to broadcast when the candidate set is small.
    // Both callers' sigs are map-side over their input (the keeper semi
    // join of dropNearDuplicates is a broadcast probe at the floor), so
    // without the exchange each of the 3+ candidate-stage subtrees
    // re-minhashes the corpus; it runs unless the pair join is the only
    // consumer (the semi skip below), and even at the sf0.1 floor it wins
    // (1.36 vs 1.48 s measured).
    // Candidate-semi size gate (round 10): below CandidateSemiMinBytes the
    // per-doc sets relation is SMALL — the verify joins broadcast it
    // statically (parquet size stats drive autoBroadcastJoinThreshold) —
    // so the occupancy-derived semi-filter only shrinks a broadcast it
    // cannot meaningfully shrink, at the cost of a second exploded-keys
    // pass, an occupancy aggregate, a semi join and a distinct (~5 s of
    // the derived-sf10 kept gate). Above the gate the sets relation
    // shuffles per PAIR and the semi is what keeps that exchange
    // proportional to collisions instead of corpus size — the 100 TB
    // plan, unchanged. Skipping the semi also leaves the pair join as the
    // signature frame's ONLY consumer (its two sides canonicalize to one
    // exchange), so the explicit sigs exchange below is skipped with it —
    // an exchange with one reader is a pure extra hop. CAVEAT: the
    // hot-bucket observation rides the occupancy aggregate, so below the
    // gate no bucket metric is observed and lastObservedMaxBucket stays
    // at its prior value — "not observed", never "no hot buckets".
    // Bucket blowup is member-count-driven, not byte-driven (500k
    // one-line replicas fit in 50 MB and still emit 1.25e11 candidate
    // pairs), so a small-corpus pipeline that needs the diagnostic sets
    // candidateSemiMinBytes=0; the protection that works BEFORE a job
    // finishes is maxBucketSize either way (a hung query never reaches
    // the completion listener that logs the warning).
    val semiMin = graft.spark.ExecTuning.confLong(df.sparkSession,
      CandidateSemiMinBytesKey, DefaultCandidateSemiMinBytes)
    val semiSkipped = semiMin > 0 &&
      (try graft.spark.ExecTuning.inputBytes(sizedBy) < semiMin
       catch { case _: Exception => false })
    // The semi-skip only removes the sigs exchange when the pair join is
    // genuinely the signature frame's ONLY consumer: a maxBucketSize cap
    // rebuilds key sets through occupancy counts + a semi join, giving
    // sigs several non-canonicalizing consumers again (each would
    // re-minhash the corpus from the scan).
    val sigsX = if (semiSkipped && maxBucketSize == 0) sigs
      else sigs.repartition(
        df.sparkSession.sparkContext.defaultParallelism, col("id"))
    val keyed = explodedBandKeySets(sigsX, k, bands, maxBucketSize)
    val cands = pairJoin(keyed)
    // The shingle fetch restricts to candidate ids derived from bucket
    // occupancy (lshCandidateIds), NOT from `cands` — giving the pair
    // subtree a single consumer so the band join runs once (see
    // lshCandidateIds scaladoc). HASHED shingle sets, not strings: the
    // verify join replicates each doc's set per PAIR, so the ~3x payload
    // reduction and the primitive merge cut the two dominant stages of
    // near-dedup at scale (see wordShingleHashesSorted's exactness note).
    val allSets = df.select(col(idCol).cast("long").as("id"),
        Bridge.column(graft.expressions.WordShingleHashes(
          Bridge.expression(col(textCol)), shingleN)).as("sh"))
    val sets = if (semiSkipped) allSets
      else allSets.join(lshCandidateIds(keyed), Seq("id"), "left_semi")
    verifyJaccard(cands, sets, threshold, sortBarrier,
      hugeSets = setsExceedBroadcast(sizedBy))
  }

  /** Fault-tolerance escape hatch for the lineage-truncating
    * materializations ([[nearDupClusters]]' label fixpoint,
    * [[ngramJaccardPairs]]' candidate table, [[signBuckets]]' split
    * fixpoint). Default (unset): eager `localCheckpoint` — executor-local
    * blocks outside the SQL cache, freed by the context cleaner. CLUSTER
    * CAVEAT: local-checkpoint blocks live ONLY on executors and truncate
    * lineage, so on a cluster with executor loss (preemption, dynamic
    * allocation) the frame cannot be recomputed and the query fails —
    * fine in local mode and on resilient executors, an operational risk
    * on preemptible fleets. Set this to a fault-tolerant directory
    * (visible to every executor) to route the same frames through
    * RELIABLE `checkpoint` instead: blocks survive executor loss at the
    * cost of a filesystem write. The first value seen wins for the
    * SparkContext's checkpoint dir. FILES ACCUMULATE: each materialization
    * (every round of a label fixpoint, too) writes a checkpoint directory
    * that Spark deletes only when `spark.cleaner.referenceTracking
    * .cleanCheckpoints=true` is set before the SparkContext starts, and
    * then only once the checkpointed frame is garbage collected; without
    * it, clear the directory after the job. */
  private[graft] val ReliableCheckpointDirKey = "spark.graft.dedup.reliableCheckpointDir"

  /** Eagerly materialize a bounded decision/fixpoint frame with its
    * lineage truncated — local checkpoint by default, reliable checkpoint
    * under [[ReliableCheckpointDirKey]] (see the key's scaladoc for the
    * trade-off). */
  private def truncateLineage(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(ReliableCheckpointDirKey)
      .filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(true)
      case None => df.localCheckpoint(true)
    }

  /** Corpus-size floor under which [[verifiedPairs]] skips the
    * occupancy-derived candidate-id semi-filter on the shingle-set fetch
    * (and with it the then-single-consumer sigs exchange). 0 disables the
    * skip — always filter. See the in-line decision note in
    * [[verifiedPairs]]; the hot-bucket observation only rides the
    * filtered path. */
  private[graft] val CandidateSemiMinBytesKey = "spark.graft.dedup.candidateSemiMinBytes"
  private[graft] val DefaultCandidateSemiMinBytes: Long = 64L << 20

  /** Shared exact-Jaccard verification tail: candidate pairs × per-doc
    * shingle sets → (id_a, id_b, jaccard >= threshold).
    *
    * Two deliberate plan moves. (1) Each doc's shingle array is sorted ONCE
    * (`sort_array`) so the per-PAIR kernel is a merge, not a sort — pairs
    * outnumber docs by orders of magnitude. (2) The candidate set is
    * re-spread over the cluster before the fetch joins: its BYTE size is
    * tiny (two longs/row), so AQE's size-based coalescing would collapse it
    * onto one task, serializing the entire verification CPU — the cost here
    * is per-ROW compute, which byte-based planning cannot see. */
  private def verifyJaccard(cands: DataFrame, sets: DataFrame,
      threshold: Double, sortBarrier: Boolean = true,
      hugeSets: Boolean = false): DataFrame = {
    val par = cands.sparkSession.sparkContext.defaultParallelism
    // `sets.sh` is pre-SORTED by the shingle kernel itself — sorting
    // inside the kernel guarantees one sort per DOCUMENT wherever the
    // optimizer evaluates the projection; a sort_array column here
    // proved fragile (it migrated into AQE-coalesced single-task
    // stages and, in some plans, above the pair join).
    //
    // Measured NOTE (derived sf10): broadcasting the per-doc sets and
    // probing them from the pair stream — killing the two wide exchanges
    // that replicate each array per PAIR (5.4 GB at this scale) — was
    // tried under a 128 MB corpus gate and OOM'd the bench heap: a
    // hundreds-of-MB hashed relation pinned per executor plus 32 probe
    // tasks is exactly the unbounded-memory shape this per-pair shuffle
    // avoids, whose working set per task stays ~|partition| arrays no
    // matter the corpus. The shuffle spelling stays on all paths.
    //
    // `hugeSets` ENFORCES that intent (r16): the planner's post-semi size
    // estimate undershoots, so past the corpus gate Spark still chose
    // BroadcastExchange for the semi-filtered sets — measured at derived
    // sf10 as "Not enough memory to build and broadcast" (the sets
    // relation materializes corpus-sized no matter what the semi
    // estimate says). Callers pass hugeSets when the CORPUS estimate
    // exceeds the broadcast regime; the hint pins shuffled-hash with the
    // sets side as the per-partition build, the bounded plan. At the
    // floor (small corpus) the broadcast stays — it is genuinely small.
    // NOTE: Spark resolves a strategy hint against every join in the
    // hinted SUBTREE, so the candidate-id semi inside `sets` flips to
    // shuffled-hash as well (sf10 receipt: 4 BHJ + 2 SHJ -> 6 SHJ).
    // Accepted: in the huge regime every one of those sides is
    // corpus-correlated, and shuffled-hash is the bounded choice for
    // each; the floor plan (no hint) is untouched.
    val fetch = if (hugeSets) sets.hint("shuffle_hash") else sets
    val verified = cands.repartition(par, col("id_a"))
      .join(fetch.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(fetch.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", sets.schema("sh").dataType match {
        // Kernel dispatch on the payload type: LSH verify ships hashed
        // sets (array<long>); the exact n-gram join ships the strings its
        // prefix stages rank. Same merge, same semantics.
        case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, _) =>
          Bridge.column(graft.expressions.JaccardSimSortedLongs(
            Bridge.expression(col("sh_a")), Bridge.expression(col("sh_b"))))
        case _ => jaccardSorted(col("sh_a"), col("sh_b"))
      })
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // Materialization barrier for DOWNSTREAM consumers: a caller's sort
    // (the pairs gates end in ORDER BY) samples its child for range
    // partitioning, and without a shuffle boundary here that sampling job
    // re-executes the whole verify — doubling the kernel work. The
    // exchange carries only the verified pairs (three narrow columns).
    // Callers whose next step is a PERSIST (the drop path's connected
    // components) pass sortBarrier = false: there the exchange's 290 MB
    // write+read at derived sf10 bought nothing (round 10).
    if (sortBarrier) verified.repartition(par) else verified
  }

  /** Conservative disk->materialized explosion factor for the verify
    * fetch's shingle-set relation: hashed shingles run ~8 bytes per token
    * in memory against ~1 byte per token of zstd'd parquet text, plus
    * hashed-relation overhead. Used by [[setsExceedBroadcast]]. */
  private val SetsExplosionFactor = 16L

  /** Would the per-doc shingle-set relation derived from this corpus
    * overflow the session's broadcast regime once MATERIALIZED? The
    * planner's own estimate is the parquet byte count — measured at
    * derived sf10, it reported the 58 MB documents file under the 64 MB
    * broadcast threshold while the materialized hashed-sets relation ran
    * gigabytes, and the chosen BroadcastExchange died with "Not enough
    * memory to build and broadcast". Compare disk bytes x
    * [[SetsExplosionFactor]] against the session's actual
    * autoBroadcastJoinThreshold; threshold <= 0 (broadcast disabled)
    * never needs the guard. */
  private[graft] def setsExceedBroadcast(df: DataFrame): Boolean = {
    val thr = graft.spark.ExecTuning.sessionBroadcastThreshold(df.sparkSession)
    if (thr <= 0) false
    else (try graft.spark.ExecTuning.inputBytes(df)
          catch { case _: Exception => return false }) * SetsExplosionFactor > thr
  }

  /** Is the corpus small enough that an ID-projection of it (keeper ids,
    * loser ids) certainly fits the session's broadcast regime? Ids are a
    * strict contraction of the corpus bytes (8 B per document vs the
    * document itself), so the raw disk estimate — with no explosion
    * factor — is the conservative bound. Used to broadcast-HINT joins
    * against stats-free LogicalRDD frames (an RDD barrier has no size
    * estimate, and with AQE off at the small-query floor the planner
    * would otherwise fall back to a shuffle join). */
  private[graft] def corpusWithinBroadcast(df: DataFrame): Boolean = {
    val thr = graft.spark.ExecTuning.sessionBroadcastThreshold(df.sparkSession)
    thr > 0 && (try graft.spark.ExecTuning.inputBytes(df) <= thr
      catch { case _: Exception => false })
  }

  /** Payload fetch for verification: restrict `sh` (any (id, payload)
    * frame) to the ids appearing in candidate pairs via semi-join, so
    * verification cost scales with collisions, not corpus size. Join
    * strategy is left to the planner: AQE broadcasts the id set when its
    * runtime size is small and shuffles when it isn't — the right call at
    * 100 TB, where candidate ids can exceed executor memory. */
  private def candidateShingleSets(cands: DataFrame, sh: DataFrame): DataFrame = {
    val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    sh.join(candIds, Seq("id"), "left_semi")
  }

  /**
   * Connected components over near-dup pairs → (id, cluster_id) where
   * cluster_id is the smallest doc id in the component. Only ids that
   * appear in some pair are returned.
   *
   * Hybrid execution: the verified near-dup edge set is orders of magnitude
   * smaller than the corpus (it holds duplicate PAIRS only, post-LSH,
   * post-verify), so when it fits `driverEdgeThreshold` (collected as
   * primitive-long tuples, ~32 B/edge with JVM headers — the 8M default is
   * ~256 MB of transient driver heap) a driver-side union-find answers in
   * one collect instead of one Spark job per graph-diameter round. The
   * driver union-find runs ~10M edges/s where a 1-task distributed round
   * runs ~1M (deserialization + LongMap), so collecting a few-M-edge
   * forest beats one more round (round 10: the r9 1M default forced a
   * 3.5 s single-task round over 3.3M edges the driver resolves in ~0.4 s). Above
   * the bound, distributed SPANNING-FOREST rounds first shrink the edge
   * set to its connectivity skeleton (per-partition union-find, ≤
   * vertices−1 surviving edges per partition — dup clusters carry
   * quadratically more), usually landing under the driver bound in 1–3
   * rounds; if the graph is already near-forest and cannot shrink,
   * iterative min-label propagation finishes distributed: each round is
   * two equi-joins over hash-distributed keys, rounds ≈ log(diameter)
   * via pointer jumping, with the decreasing label sum as a
   * one-aggregate convergence witness.
   */
  def nearDupClusters(pairs: DataFrame, maxIterations: Int = 10,
      driverEdgeThreshold: Long = 8000000L): DataFrame = {
    val spark = pairs.sparkSession
    // Persist before probing: the pairs pipeline (LSH band join + verify)
    // is the expensive part, and the over-threshold path would otherwise
    // recompute it from scratch for the distributed loop.
    val raw = pairs.select(col("id_a").cast("long"), col("id_b").cast("long")).persist()
    // Two-tier probe. Tier 1: one job answers both "does it fit?" and
    // "give me the edges" for SMALL pair sets (the floor case) via a
    // bounded limit-collect. Tier 2: count, then collect only when the
    // set fits the driver threshold — collecting threshold+1 edges just
    // to learn "too big" would drag ~256 MB to the driver at the 8M
    // default on every over-threshold corpus. The tuple encoder collects
    // specialized primitive-long pairs, not Row objects, so the heap cost
    // is the ~32 B/edge the threshold assumes.
    // KEPT as-is after an r17 re-measurement: a count-first probe (count,
    // then collect-from-cache — nominally fewer actions, tried with and
    // without a sized-AQE wrap around the probe actions) measured
    // 0.88-0.94x WORSE on doc_dedup_kept/doc_curation_e2e across three
    // 3-6-rep ABBA sessions: the limit tier's incremental executeTake is
    // cheaper than a full count-the-cache pass at the floor where pairs
    // are scarce. Measured no-go — see OPTIMIZATION_r17.md.
    import spark.implicits._
    val smallCap = math.min(65536L, driverEdgeThreshold).toInt
    val probe = raw.toDF("id_a", "id_b").as[(Long, Long)]
      .limit(smallCap + 1).collect()
    if (probe.length <= smallCap) {
      raw.unpersist()
      return driverUnionFind(spark, probe)
    }
    val edgeCount = raw.count()
    if (edgeCount <= driverEdgeThreshold) {
      val all = raw.toDF("id_a", "id_b").as[(Long, Long)].collect()
      raw.unpersist()
      return driverUnionFind(spark, all)
    }
    // Spanning-forest reduction (the round-9 fix for output-proportional
    // near-dedup DROP cost): connectivity — all the drop path needs — is
    // preserved by any spanning subgraph, so each round runs a
    // per-partition union-find and keeps only the edges that united two
    // components (≤ vertices−1 per partition, vs edges ∝ Σ cluster²
    // for pairwise-verified dup clusters). Rounds shrink the partition
    // count with the edge count until the forest fits the driver bound
    // (then one exact driver union-find finishes), or stop shrinking —
    // a graph that is already near-forest (edges ≈ vertices >
    // threshold) — and hand the REDUCED edge set to label propagation.
    // Per-task state is a LongMap over the partition's vertices; with
    // partitions sized to `forestTaskEdges` edges that is bounded
    // executor memory at any corpus size.
    var cur = raw.toDF("id_a", "id_b").as[(Long, Long)]
    var toRelease: Option[DataFrame] = Some(raw)
    // Size rounds from the actual edge count (one cheap scan of the
    // already-persisted blocks). Two terms per round (round 10):
    //  - memory floor: at most `taskEdges` edges per task bounds the
    //    per-task union-find state at any corpus size;
    //  - parallelism floor: per-task union-find runs ~1M edges/s, so a
    //    round sized by memory alone can serialize (4 tasks × 3.7M edges
    //    = 3.5 s of the r9 kept gate at derived sf10); tasks get at least
    //    taskEdges/4 edges (boundary-dominated below that) up to core
    //    count, and the partition count at most HALVES per round so the
    //    forests still shrink geometrically toward the driver bound
    //    (output ≤ partitions × (vertices − 1)).
    val rawCount = edgeCount
    val taskEdges = forestTaskEdges(spark)
    val minTaskEdges = math.max(1L, taskEdges / 4)
    val corePar = spark.sparkContext.defaultParallelism.toLong
    def sizeParts(count: Long, prev: Long): Int = {
      val memory = (count + taskEdges - 1) / taskEdges
      val parallel = math.min(corePar, (count + minTaskEdges - 1) / minTaskEdges)
      math.max(1L, math.max(memory, math.min(parallel, prev / 2))).toInt
    }
    var parts = sizeParts(rawCount, Long.MaxValue)
    // Round 1 can run on the persisted pairs' EXISTING partitioning when
    // each partition already fits the task bound and the count is at most
    // core parallelism: skips a full repartition exchange of the largest
    // round's edges. The mean per-partition count is only a cheap
    // short-circuit — the upstream layout is hash-on-id_a, so one hot
    // vertex (a large dup cluster) can concentrate far more than the mean
    // in a single partition (r10 advice: up to the whole corpus's edges
    // in the worst case, NOT taskEdges). When the mean passes, the ACTUAL
    // per-partition maximum is verified with one narrow count job over
    // the already-persisted blocks (no shuffle, no row conversion): reuse
    // only if it meets the same taskEdges ceiling the repartition path
    // enforces exactly. The probe costs a cached-scan count; the reuse it
    // guards skips a full exchange of the largest round's edges.
    val rawParts = raw.rdd.getNumPartitions
    var reuseExisting = rawParts >= parts && rawParts <= math.max(parts.toLong, corePar) &&
      rawCount / math.max(1, rawParts) <= taskEdges / 4 && {
        val maxPart = raw.queryExecution.toRdd
          .mapPartitions(it => Iterator.single(it.size.toLong))
          .fold(0L)(math.max)
        maxPart <= taskEdges
      }
    var stalled = false
    var reducedCount = -1L
    while (!stalled) {
      // Hash on the left endpoint: avoids round-robin's determinism sort,
      // and co-locating a vertex's edges improves the reduction ratio.
      // Skew is bounded — a vertex appears on the left of at most
      // (its cluster size) pairs, 16-byte rows.
      // (column referenced positionally: round 1's frame names it id_a,
      // later rounds' tuple frames _1)
      val spread = if (reuseExisting) cur
        else cur.repartition(parts, col(cur.columns.head))
      if (reuseExisting) parts = rawParts // shrink cap starts from reality
      reuseExisting = false
      val reduced = spread.mapPartitions(spanningForest).persist()
      reducedCount = reduced.count()
      toRelease.foreach(_.unpersist())
      toRelease = Some(reduced.toDF()) // released after the NEXT round counts
      cur = reduced
      if (reducedCount <= driverEdgeThreshold) {
        val collected = reduced.collect() // bounded by driverEdgeThreshold
        reduced.unpersist()
        return driverUnionFind(spark, collected)
      }
      val nextParts = sizeParts(reducedCount, parts.toLong)
      if (nextParts >= parts) stalled = true // no further shrink possible
      else parts = nextParts
    }
    val reducedDf = cur.toDF("id_a", "id_b")
    val edges = reducedDf.toDF("src", "dst")
      .union(reducedDf.toDF("dst", "src").select(col("src"), col("dst")))
      .distinct().persist()
    // Labels are lineage-TRUNCATED each round (eager localCheckpoint, a
    // LogicalRDD leaf), not merely persisted: the pointer-jump below embeds
    // the round's plan twice, so an un-truncated lineage would grow
    // exponentially in rounds (2^k subtrees just to canonicalize/print).
    // Label rows are bounded by the pair set's vertex count, and the
    // context cleaner frees each superseded round's blocks.
    var labels = truncateLineage(
      edges.select(col("src").as("id")).distinct()
        .withColumn("cluster_id", col("id")))
    // Labels only ever decrease, so the label sum is a convergence witness:
    // unchanged sum ⟺ fixpoint — one cheap aggregate per round instead of a
    // change-detection join.
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("cluster_id"))).collect().head.getLong(0)
    var prevSum = labelSum(labels) // materializes labels (and edges beneath)
    cur.unpersist() // the last forest round's persisted edges
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val prop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
      // Pointer-jump: also follow the label's OWN label (cluster_id is a
      // vertex id with a label of its own), doubling the propagated
      // distance per round — rounds ≈ log2(diameter) instead of diameter,
      // so the default cap covers chains the hop-per-round loop missed.
      val updated = truncateLineage(prop.join(
          prop.select(col("id").as("cluster_id"), col("cluster_id").as("_g")),
          Seq("cluster_id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("_g"), col("cluster_id")))
            .as("cluster_id"))) // truncate: see labels note above
      val newSum = labelSum(updated)
      labels = updated
      converged = newSum == prevSum
      prevSum = newSum
      iter += 1
    }
    if (!converged) {
      edges.unpersist()
      // Silent non-convergence would hand back wrong cluster ids (and
      // under-dedup downstream) — fail loud; the cap is a parameter.
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIterations rounds " +
          "(component diameter too large); raise maxIterations")
    }
    // labels is already an eager localCheckpoint (truncated per round), so
    // the SQL cache is left empty and the loop's lineage never replays.
    edges.unpersist()
    labels
  }

  /** Edges per spanning-forest task: sizes each round's partition count so
    * per-task union-find state (a LongMap over the partition's vertices,
    * ~40 B/entry) stays bounded regardless of total edge count.
    * Conf-keyed (`spark.graft.dedup.forestTaskEdges`) so constrained
    * executors can lower it — and so the multi-round path is testable
    * without million-edge fixtures. */
  private[graft] val ForestTaskEdgesKey = "spark.graft.dedup.forestTaskEdges"
  private[graft] val DefaultForestTaskEdges = 4000000L
  private def forestTaskEdges(spark: org.apache.spark.sql.SparkSession): Long =
    math.max(1L, graft.spark.ExecTuning.confLong(spark,
      ForestTaskEdgesKey, DefaultForestTaskEdges))

  /** Path-compressed find over a LongMap parent forest — the ONE copy of
    * the union-find core both [[spanningForest]] and [[driverUnionFind]]
    * run (their results are asserted interchangeable; one implementation
    * keeps them so). Min-root union at the call sites keeps every root
    * the component minimum. */
  private def findRoot(parent: scala.collection.mutable.LongMap[Long],
      x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
    var c = x // path compression
    while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Per-partition spanning forest: union-find over the partition's edges,
    * emitting only edges that united two components. Output ≤
    * min(edges, vertices−1) per partition with IDENTICAL connectivity —
    * every vertex survives (a vertex's first edge always unites, pairs
    * have no self-loops). */
  private def spanningForest(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    it.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = findRoot(parent, a); val rb = findRoot(parent, b)
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); out += ((a, b)) }
    }
    out.iterator
  }

  /** Driver-side union-find over a bounded edge array → (id, cluster_id)
    * rows, cluster_id = component minimum. */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = findRoot(parent, a); val rb = findRoot(parent, b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-root union
    }
    val rows = parent.keys.toSeq.sorted.map(id => (id, findRoot(parent, id)))
    import spark.implicits._
    rows.toDF("id", "cluster_id")
  }

  /**
   * End-to-end near-dedup: drop every document that is a near-duplicate of
   * a lower-id document (one representative — the smallest id — survives
   * per cluster). Exact duplicates are near-duplicates at any threshold.
   *
   * Exact dedup runs FIRST: byte-identical documents collide in every LSH
   * band, so a hot document repeated k times adds O(k²) candidate pairs to
   * its buckets — the one skew mode banded LSH can't bound. Collapsing each
   * identical group to its min-id keeper before shingling caps that blowup
   * at one representative per group. The kept set is unchanged: a dropped
   * member shares its keeper's text, so any near-dup connectivity it had
   * flows through the keeper, and the keeper (group min) can only lose to a
   * smaller cluster min the member would also have lost to.
   *
   * The input is read by five consumers — the keeper aggregate, the
   * exact-loser anti join, the signatures, the verify's shingle sets and
   * the final anti join — spread over several Spark actions (the
   * connected-components probe runs at construction; the caller's action
   * runs the rest). When re-deriving the input re-runs an exchange
   * (`ExecTuning.nontrivialUpstream`: a composed upstream such as scrub →
   * quality → decontamination → the exact-dedup window), the input is
   * re-rooted ONCE over its executed RDD (`Bridge.rddBarrier`) and every
   * consumer reads that frame: the upstream's map stages run in the first
   * job and are skipped in every later one, and nothing is persisted. A
   * bare or filtered scan re-reads its pruned columns cheaply and keeps
   * the un-rooted plan. Every size decision reads the ORIGINAL input's
   * estimate, so a re-rooted leaf never flips a plan.
   */
  def dropNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      seed: Long = 42L, maxIterations: Int = 10,
      maxBucketSize: Int = 0): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // Evaluated once per call, not once per consumer (see the scaladoc).
    // `df` stays the size reference for every gate below.
    val in = if (graft.spark.ExecTuning.nontrivialUpstream(df)) Bridge.rddBarrier(df)
      else df
    // Keeper ids (smallest id per identical-text group) from ONE narrow
    // aggregate: min(id) partial-combines map-side and only
    // (16-byte md5-longs hash, id) rows shuffle. The r9 spelling ran a
    // window over the hash with the minhash signature ALONGSIDE — 276 MB
    // of (id, hash, 64-long sig) rows through the window exchange at
    // derived sf10, and losers' signatures computed then thrown away —
    // where this aggregate ships ~20 MB and loser signatures never exist
    // (round-10; the semi join below computes minhash post-join).
    // NULL-text rows never enter the dedup logic (md5(NULL) would pool
    // them into one bogus "exact-dup" group); absent from both loser sets,
    // they all survive the final anti-join untouched.
    val keepersAgg = in.where(col(textCol).isNotNull)
      .select(TextFunctions.md5Longs(col(textCol)).as("_h"),
        col(idCol).cast("long").as("id"))
      .groupBy(col("_h")).agg(min(col("id")).as("id"))
      .select(col("id"))
    // Keeper ids feed TWO SEPARATE ACTIONS — the CC probe that runs inside
    // nearDupClusters at construction time, and the caller's final
    // anti-join. Separate QueryExecutions share no exchanges, so the
    // md5-aggregate CORPUS SCAN ran once per action. Re-rooting the
    // aggregate over its executed RDD (Bridge.rddBarrier) registers its
    // shuffle once; the DAGScheduler then skips the map stage — the whole
    // text scan + md5 + partial agg — in every job after the first. At
    // 100 TB that is one full corpus pass removed from the drop; shuffle
    // files carry normal lineage (lost map output recomputes), so no
    // fault-tolerance caveat. A LogicalRDD leaf has NO size estimate, so
    // the semi/anti joins against it are broadcast-HINTED exactly when the
    // corpus estimate fits the session's broadcast regime (ids are a
    // contraction of corpus bytes — see corpusWithinBroadcast); past the
    // regime the keeper relation is corpus-correlated and the planner's
    // shuffle choice is right anyway (AQE is on there and refines it at
    // runtime).
    val keepersRdd = Bridge.rddBarrier(keepersAgg, sizedBy = df)
    val keepers =
      if (corpusWithinBroadcast(df)) broadcast(keepersRdd) else keepersRdd
    val exactLosers = in.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"))
      .join(keepers, Seq("id"), "left_anti")
    // LSH over exact-dup representatives only: byte-identical documents all
    // collide in every band, so a document repeated k times would add
    // O(k²) pairs to its buckets — the one skew mode banded LSH can't
    // bound. Collapsing to the min-id keeper first caps it at one row per
    // distinct text; connectivity through the keeper preserves every
    // cluster minimum, so the kept set is unchanged. minhash runs BELOW
    // the semi join: when keepers outgrow a broadcast (warehouse scale —
    // keeper count ≈ distinct-text count) AQE plans a shuffle semi whose
    // probe side is then (id, fixed 512 B sig), never the text itself —
    // the "document text never shuffles" invariant. The price is loser
    // signatures computed and discarded (one kernel pass over duplicate
    // text; the alternative — semi first, minhash after — would shuffle
    // every byte of text in the shuffle-semi regime).
    // NOT spread — same re-measured no-go as [[nearDupPairs]] (r17 ABBA
    // post-probe-restructure: the floor kernels overlap as concurrent
    // broadcast futures; a shared spread exchange only adds a hop).
    val sigs = in.select(col(idCol).cast("long").as("id"),
        minhashText(col(textCol), shingleN, k, seed).as("sig"))
      .where(size(col("sig")) > 0)
      .join(keepers, Seq("id"), "left_semi")
    // sortBarrier = false: the pairs feed nearDupClusters' persist, not a
    // sort — the barrier exchange would be a pure extra hop.
    val pairs = verifiedPairs(in, sigs, textCol, idCol, threshold,
      shingleN, k, bands, maxBucketSize, sortBarrier = false, sizedBy = df)
    val nearLosers = nearDupClusters(pairs, maxIterations)
      .where(col("id") =!= col("cluster_id"))
      .select(col("id"))
    in.join(exactLosers.union(nearLosers).withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
  }

  /**
   * EXACT n-gram Jaccard similarity join: every pair (id_a < id_b) with
   * Jaccard(shingles_a, shingles_b) >= threshold — no LSH approximation.
   *
   * Scale path is prefix filtering (Chaudhuri et al. SSJoin / Xiao et al.
   * PPJoin): order each document's grams rarest-first by global document
   * frequency; a pair at J >= t must share a gram inside each side's first
   * `sz - ceil(t*sz) + 1` grams, so posting lists are built over those
   * prefixes only. The two properties that survive 100 TB:
   *  - ultra-hot grams (stopword shingles with df in the millions) sort
   *    LAST in every document's ordering, so they almost never enter a
   *    prefix — the quadratic hot-key blowup a naive inverted-index join
   *    suffers cannot happen;
   *  - every stage is an equi-join or hash aggregation on uniformly
   *    distributed keys (gram, doc id); candidate verification touches
   *    candidate pairs only (semi-joined shingle fetch, as [[nearDupPairs]]).
   * A length filter (min size >= t * max size) prunes candidates before the
   * verify join. Exactness: with prefix length sz - ceil(t*sz) + 1 on both
   * sides under one global order, J >= t implies the prefixes intersect.
   */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3,
      broadcastDfCap: Int = 1000000): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val spark = df.sparkSession
    // The filter bounds are computed with EXACT integer arithmetic over the
    // rational t' = num/denom (threshold rounded DOWN at 5 decimals): double
    // ceil(0.28 * 25) = 8 though the exact ceiling is 7, which over-tightens
    // the prefix/positional bounds by 1 and silently drops pairs sitting at
    // J = threshold. t' <= threshold only LOOSENS every bound (longer
    // prefixes, weaker length/positional cuts), so completeness is exact for
    // the true threshold; the final verify still compares against the
    // caller's double. All products stay < 2^53 (sz <= 2^31, num <= 1e5), so
    // long arithmetic + one double division with >= 5e-6 integer granularity
    // is exact.
    val num = math.floor(threshold * 100000d).toLong
    val denom = 100000L
    def ceilDiv(x: Column, n: Long, d: Long): Column =
      floor((x * n + (d - 1)) / d).cast("long")
    // Sorted HASHED shingle kernel (64-bit gram identities): the verify
    // tail merges pre-sorted long arrays; the prefix stages re-rank by
    // df, and prefix filtering is exact under any fixed total gram order
    // — (df, hash) included. Hashing is what lets a 60x corpus run: the
    // string spelling's posting lists, prefix rows and per-pair verify
    // arrays held UTF8Strings and OOM'd the 4.6 GB bench heap at derived
    // sf10. Jaccard over hash sets equals the string-set value absent an
    // in-pair 64-bit collision (see wordShingleHashesSorted).
    // NOT spread (r16 ABBA: 1.37x WORSE with spreadForKernel here): this
    // subtree feeds 3+ separate jobs (the eager hot-gram collect, the
    // prefix explode, the candidate shingle fetch), and the added
    // exchange is re-paid per job without cross-job reuse.
    val sh = df.select(col(idCol).cast("long").as("id"),
        Bridge.column(graft.expressions.WordShingleHashes(
          Bridge.expression(col(textCol)), shingleN)).as("sh"))
      .where(size(col("sh")) > 0)
    // Global document frequencies of REPEATED grams only: a gram absent
    // from this set has df = 1 exactly (every gram occurs at least once),
    // so dropping the df=1 long tail changes nothing about the (df, gram)
    // order while shrinking the frequency table to the repeated vocabulary.
    val hot = sh.select(explode(col("sh")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("gdf"))
      .where(col("gdf") > 1)
    // One eager job answers both "does it fit?" and "give me the table":
    // the limit returns cap+1 rows only when the repeated vocabulary is too
    // big for the driver (cap rows ≈ 150 MB transient worst-case at the 1M
    // default; typical corpora sit far below it). Nothing is cached: on
    // the over-cap path the lazy plan re-aggregates — one extra map-side-
    // combined count pass, the price of deciding adaptively.
    val hotRows = hot.limit(broadcastDfCap + 1).collect()
    val prefix = if (hotRows.length <= broadcastDfCap) {
      // Fast path — rank grams per document against a BROADCAST frequency
      // map, entirely array-side: the prefix derivation costs zero
      // shuffles and no join (vs posting ⋈ df ⋈ window, which cost two
      // shuffles and a per-doc sort in round 5).
      val nHot = hotRows.length
      val hotPairs = new Array[Array[Long]](nHot)
      var i = 0
      while (i < nHot) {
        hotPairs(i) = Array(hotRows(i).getLong(0), hotRows(i).getLong(1))
        i += 1
      }
      java.util.Arrays.sort(hotPairs,
        java.util.Comparator.comparingLong((p: Array[Long]) => p(0)))
      val ks = new Array[Long](nHot)
      val ds = new Array[Long](nHot)
      i = 0
      while (i < nHot) { ks(i) = hotPairs(i)(0); ds(i) = hotPairs(i)(1); i += 1 }
      val pre = Bridge.column(graft.expressions.PrefixByDfLongs(
        Bridge.expression(col("sh")),
        spark.sparkContext.broadcast(ks), spark.sparkContext.broadcast(ds),
        num, denom))
      sh.select(col("id"), size(col("sh")).cast("long").as("sz"), explode(pre).as("p"))
        .select(col("id"), col("sz"), col("p.g").as("g"), col("p.rn").cast("long").as("rn"))
    } else {
      // 100 TB path — repeated vocabulary exceeds the driver cap: derive
      // the same (df, gram) order distributed. One equi-join posting ⋈ hot
      // (absent ⇒ df 1) and one groupBy(id) that sorts each document's
      // grams as an array replace round 5's row_number window.
      val posting = sh.select(col("id"), explode(col("sh")).as("g"))
      val ord = posting.join(hot, Seq("g"), "left")
        .groupBy(col("id"))
        .agg(sort_array(collect_list(struct(coalesce(col("gdf"), lit(1L)).as("gdf"),
          col("g").as("g")))).as("ord"))
        .select(col("id"), size(col("ord")).cast("long").as("sz"), col("ord"))
      ord.select(col("id"), col("sz"),
          posexplode(slice(col("ord"), lit(1),
            (col("sz") - ceilDiv(col("sz"), num, denom) + 1).cast("int"))))
        .select(col("id"), col("sz"), col("col.g").as("g"),
          (col("pos") + 1).cast("long").as("rn"))
    }
    // The candidate join's cost is quadratic in per-gram posting counts,
    // not linear in bytes — its input is tiny (a few MB of (id,sz,g,rn)
    // rows) while its probe work is the whole algorithm, so AQE's
    // byte-based partition coalescing would serialize it onto one task.
    // Pin the partition count to cluster parallelism instead; hash(g)
    // spreads evenly because rarest-first prefixes exclude hot grams.
    val prefixP = prefix.repartition(
      sh.sparkSession.sparkContext.defaultParallelism, col("g"))
    // PPJoin positional filter: a pair colliding on a gram at positions
    // (rnA, rnB) of the shared rarity order can overlap by at most
    // 1 + min(szA−rnA, szB−rnB); J >= t needs overlap >= t(szA+szB)/(1+t)
    // = num(szA+szB)/(num+denom). The bound is loosest at the pair's FIRST
    // collision, so filtering every collision row before distinct() keeps
    // exactly the pairs whose first collision passes — completeness
    // preserved, candidates cut hard. The two sides of the self-join
    // canonicalize to one exchange, so `prefix` is computed once.
    val candsLazy = prefixP.as("x").join(prefixP.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id") &&
          least(col("x.sz"), col("y.sz")) * denom >=
            lit(num) * greatest(col("x.sz"), col("y.sz")) &&
          lit(1) + least(col("x.sz") - col("x.rn"), col("y.sz") - col("y.rn")) >=
            ceilDiv(col("x.sz") + col("y.sz"), num, num + denom))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // Materialize the candidate-pair DECISION TABLE once (two longs per
    // surviving pair — the "small rows" of guide §8). Left lazy, the
    // final plan references this subtree THREE times — the verify's pairs
    // stream plus each per-side shingle fetch's semi-join — and physical
    // exchange reuse does not collapse the three differently-shaped
    // copies, so the prefix self-join (the whole algorithm) runs 3x
    // (r16 plan receipt: plans/r16/doc_jaccard_join_before.txt, nodes
    // 28-59 and 60-91 re-deriving nodes 3-27). localCheckpoint, not
    // persist: executor-local blocks outside the SQL cache (the
    // nearDupClusters fixpoint device), freed by the context cleaner.
    // Eager by design — the operator pays the candidate join at
    // construction, like the gridSum dim collect. SIZE-GATED (r16
    // measurements): at the sf0.1 floor the three copies largely OVERLAP
    // as concurrent broadcast-future jobs on idle cores, so eager
    // materialization buys nothing there (ABBA medians 1.1-1.2x) — while
    // at derived sf1+ the box is CPU-saturated and the checkpoint wins
    // on min AND median (0.90x/0.82x). So: checkpoint exactly when the
    // corpus is past the broadcast regime (the same gate the verify fetch
    // uses). One plan walk serves both decisions.
    val huge = setsExceedBroadcast(df)
    val cands = if (huge) truncateLineage(candsLazy) else candsLazy
    // Verify: exact Jaccard over candidate pairs only, shingles re-derived
    // for candidate ids via semi-join (see the caching contract — the
    // corpus-sized shingle set is never cached).
    verifyJaccard(cands, candidateShingleSets(cands, sh), threshold,
      hugeSets = huge)
  }

  /**
   * SimHash near-duplicate pairs: (id_a, id_b, hamming). Candidates are
   * pairs agreeing on at least one `chunkBits`-bit chunk of the 64-bit
   * simhash — pigeonhole-complete for hamming < 64/chunkBits.
   *
   * Default `chunkBits=16` (4 chunks, complete for hamming <= 3): each of
   * the 4 candidate tables keys on 65,536 distinct values, so on a corpus
   * whose simhashes are spread (the normal case — simhash bits are near-
   * uniform for non-duplicate text) the self-join output stays near-linear
   * in n. `chunkBits=8` extends completeness to hamming <= 7 but keys each
   * table on only 256 values, making the candidate join ~8·n²/256 on ANY
   * corpus — quadratic at warehouse scale regardless of similarity (the
   * round-4 verdict's one scale-killer). Raise `maxHamming` past
   * 64/chunkBits - 1 only accepting recall loss; for deep hamming radii
   * prefer more tables of wider chunks (split 64 bits differently), not
   * narrower chunks.
   */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, chunkBits: Int = 16): DataFrame = {
    // chunkBits == 64 passes the divisibility check but degenerates: the
    // JVM shift count is mod 64, so mask+1 == 1 and every row lands in
    // chunk_val 0 — a full cross join. (It would also leave fewer chunks
    // than maxHamming+1, breaking the pigeonhole completeness argument.)
    require(chunkBits > 0 && chunkBits < 64 && 64 % chunkBits == 0,
      "chunkBits must divide 64 and be in [1, 32]")
    val nChunks = 64 / chunkBits
    val mask = (1L << chunkBits) - 1
    val sigs = graft.spark.ExecTuning.spreadForKernel(
        df.select(col(idCol).cast("long").as("id"), col(textCol).as("_sp_t")),
        Seq(col("id")))
      .select(col("id"), simhash64(tokens(col("_sp_t"))).as("sh"))
    val chunked = sigs.select(col("id"), col("sh"),
      explode(array((0 until nChunks).map(i => struct(lit(i).as("chunk_no"),
        pmod(shiftright(col("sh"), i * chunkBits), lit(mask + 1)).as("chunk_val"))): _*)).as("c"))
      .select(col("id"), col("sh"), col("c.chunk_no"), col("c.chunk_val"))
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk_no") === col("y.chunk_no") &&
          col("x.chunk_val") === col("y.chunk_val") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /**
   * Embedding near-duplicates: (id_a, id_b, cosine) pairs with cosine
   * similarity >= threshold, candidates via hyperplane-LSH sign buckets
   * (several independent bucketings to boost recall), cosine-verified.
   *
   * Skew guard (`maxBucketSize`): real embedding corpora cluster, so a
   * fixed plane count can leave hot buckets whose within-bucket join is
   * quadratic — the one skew mode static LSH can't bound. When set, buckets
   * over the cap are adaptively SPLIT: their members are re-hashed with
   * fresh planes (bucket ⊕ extra sign bits, seed varied per round) until
   * every bucket fits or `maxSplitRounds` is exhausted. Identical
   * directions always agree on every extra plane, so exact-duplicate
   * recall is unaffected; near-identical pairs in a split bucket survive a
   * round with P ≈ (1−θ/π)^splitPlanes per table and still have the other
   * tables' buckets — the standard adaptive-LSH recall/size tradeoff,
   * opt-in and off by default.
   */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, planes: Int = 16, tables: Int = 4, seed: Long = 42L,
      maxBucketSize: Option[Int] = None, maxSplitRounds: Int = 8,
      splitPlanes: Int = 4): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val keys = signBuckets(base, planes, tables, seed, maxBucketSize,
      maxSplitRounds, splitPlanes)
    // signBuckets leaves nothing cached (see its scaladoc); the self-join's
    // two sides canonicalize to one exchange, and the candidate subtree's
    // stages are AQE-reused across the id fetch and the verify join.
    val cands = keys.as("x").join(keys.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // Verify joins fetch vectors straight from the base relation: unlike
    // the shingle fetches there is no per-row payload computation to
    // restrict, so a semi-join pre-filter would only add stages.
    cands
      .join(base.select(col("id").as("id_a"), col("vec").as("v_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("vec").as("v_b")), "id_b")
      .withColumn("cosine", array_cosine_similarity(col("v_a"), col("v_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** (id, t, bucket) sign-LSH assignment with optional adaptive splitting
    * of over-cap buckets (see [[embeddingNearDupPairs]]). Splitting can only
    * separate buckets whose members DISAGREE on fresh planes — a bucket of
    * genuinely near-identical directions is irreducible (and its quadratic
    * output is then the true answer, not skew).
    *
    * Caching: the no-cap path builds nothing stateful. The split loop
    * persists each round's assignment (the convergence probe would
    * otherwise replay every prior round), then checkpoints the fixpoint —
    * (id, t, bucket) longs, the same footprint the loop already cached —
    * and unpersists, so the SQL cache is empty on return either way. */
  private[graft] def signBuckets(base: DataFrame, planes: Int, tables: Int,
      seed: Long, maxBucketSize: Option[Int], maxSplitRounds: Int,
      splitPlanes: Int): DataFrame = {
    var bucketed = base.select(col("id"), col("vec"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          signProjection(col("vec"), planes, seed + t).as("bucket"))): _*)).as("b"))
      .select(col("id"), col("vec"), col("b.t"), col("b.bucket"))
    if (maxBucketSize.isEmpty) return bucketed.select(col("id"), col("t"), col("bucket"))
    val cap = maxBucketSize.get
    var round = 0
    var done = false
    bucketed = bucketed.persist()
    while (round < maxSplitRounds && !done) {
      val hot = bucketed.groupBy(col("t"), col("bucket"))
        .agg(count(lit(1)).as("_n")).where(col("_n") > cap)
        .select(col("t"), col("bucket"))
      if (hot.isEmpty) done = true
      else {
        // Members of hot buckets get splitPlanes fresh sign bits mixed
        // into the key; everyone else keeps their bucket. Persist each
        // round so the convergence probe doesn't replay prior rounds.
        val marked = bucketed.join(hot.withColumn("_hot", lit(true)),
          Seq("t", "bucket"), "left")
        val next = marked.select(col("id"), col("vec"), col("t"),
          when(col("_hot").isNotNull,
            xxhash64(col("bucket"),
              signProjection(col("vec"), splitPlanes, seed * 31 + round + 7)))
            .otherwise(col("bucket")).as("bucket"))
          .persist()
        bucketed.unpersist()
        bucketed = next
        round += 1
      }
    }
    val out = truncateLineage(
      bucketed.select(col("id"), col("t"), col("bucket")))
    bucketed.unpersist()
    out
  }
}
