package graft

import org.apache.spark.sql.functions._

import graft.text.{Dedup, TextFunctions => TF}

/** LLM-pipeline operators: exact dedup, MinHash/LSH + SimHash near-dup,
  * embedding near-dup, text stats, language ID, fingerprinting. */
class DedupSpec extends SparkSuite {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines and vector search"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "unrelated short text"),
    (6L, "spark query engines enable vector search over completely different content")
  ).toDF("doc_id", "text")

  test("dedup operators leave the SQL cache empty (caching contract)") {
    // Each operator materializes + releases its per-round state internally;
    // nothing survives the call (Dedup scaladoc "Caching contract").
    val emb = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vec_id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    def assertEmpty(tag: String): Unit =
      assert(spark.sharedState.cacheManager.isEmpty, s"cache not empty after $tag")
    Dedup.exactDupGroups(docs, "text", "doc_id").collect()
    assertEmpty("exactDupGroups")
    Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.5).collect()
    assertEmpty("nearDupPairs")
    Dedup.dropNearDuplicates(docs, "text", "doc_id", threshold = 0.5).collect()
    assertEmpty("dropNearDuplicates")
    Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.5).collect()
    assertEmpty("ngramJaccardPairs")
    Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = 3).collect()
    assertEmpty("simHashPairs")
    Dedup.embeddingNearDupPairs(emb, "vec", "vec_id", threshold = 0.9,
      maxBucketSize = Some(8)).collect()
    assertEmpty("embeddingNearDupPairs")
  }

  test("exactDupGroups finds byte-identical texts only") {
    val g = Dedup.exactDupGroups(docs, "text", "doc_id").collect()
    assert(g.length == 1)
    assert(g.head.getAs[scala.collection.Seq[Long]]("ids").toSeq == Seq(1L, 4L))
    assert(g.head.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH near-dup finds the planted pair, never all-pairs") {
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // (1,4) exact dup -> jaccard 1.0; (1,2)/(2,4) near-dups above 0.5
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 4L)) && keys.contains((1L, 2L)) && keys.contains((2L, 4L)))
    assert(pairs.find(p => (p._1, p._2) == (1L, 4L)).get._3 == 1.0)
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 5L || p._2 == 5L))
  }

  test("lshCandidatePairs equals brute-force shared-band-key reference, no duplicates") {
    // Random signatures over a SMALL value alphabet force plenty of
    // band-key collisions; the reference recomputes each doc's band-key
    // SET with the same kernel and takes every i<j pair with a non-empty
    // intersection. The join must produce exactly that set, exactly once
    // per pair (unique emission — no distinct() runs downstream).
    val rnd = new scala.util.Random(7)
    val k = 8; val bands = 4
    val sigsLocal = (1L to 60L).map(id =>
      id -> Seq.fill(k)(rnd.nextInt(3).toLong))
    val expected = (for {
      (ia, sa) <- sigsLocal; (ib, sb) <- sigsLocal if ia < ib
      ksA = graft.expressions.TextHash.bandKeySets(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(sa.toArray), bands)
        .toLongArray.toSet
      ksB = graft.expressions.TextHash.bandKeySets(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(sb.toArray), bands)
        .toLongArray.toSet
      if ksA.intersect(ksB).nonEmpty
    } yield (ia, ib)).toSet
    val got = Dedup.lshCandidatePairs(
        sigsLocal.toDF("id", "sig"), k = k, bands = bands)
      .as[(Long, Long)].collect().toSeq
    assert(got.distinct.size == got.size, "a pair was emitted twice")
    assert(got.toSet == expected)
    assert(expected.size > 100, s"fixture too sparse (${expected.size} pairs)")
    // Capped path (the surviving-key-set rebuild): reference = pairs
    // sharing at least one bucket whose occupancy is within the cap.
    val keySets = sigsLocal.map { case (id, s) =>
      id -> graft.expressions.TextHash.bandKeySets(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(s.toArray), bands)
        .toLongArray.toSet
    }.toMap
    val occupancy = keySets.values.flatten.groupBy(identity).map {
      case (v, vs) => v -> keySets.count(_._2.contains(v))
    }
    for (cap <- Seq(3, 8, 20)) {
      val surviving = occupancy.filter(_._2 <= cap).keySet
      val expC = (for {
        (ia, _) <- sigsLocal; (ib, _) <- sigsLocal if ia < ib
        if keySets(ia).intersect(keySets(ib)).exists(surviving)
      } yield (ia, ib)).toSet
      val gotC = Dedup.lshCandidatePairs(
          sigsLocal.toDF("id", "sig"), k = k, bands = bands, maxBucketSize = cap)
        .as[(Long, Long)].collect().toSeq
      assert(gotC.distinct.size == gotC.size, s"cap=$cap emitted a pair twice")
      assert(gotC.toSet == expC, s"cap=$cap candidate set mismatch")
    }
  }

  test("band key sets fail loud when the sig length is not divisible by bands") {
    // The DataFrame-level require only sees the caller-passed k; a sig
    // COLUMN whose actual length differs must fail at the kernel, not
    // silently drop the doc from LSH candidacy with an empty key set.
    val bad = Seq((1L, (1 to 10).map(_.toLong)), (2L, (1 to 10).map(_.toLong)))
      .toDF("id", "sig")
    val ex = intercept[Exception] {
      Dedup.lshCandidatePairs(bad, k = 16, bands = 16).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.getMessage != null && c.getMessage.contains("not divisible by bands")),
      s"expected the kernel's divisibility error, got: $ex")
  }

  test("hot-bucket observation rides the near-dup query (warning plumbing)") {
    // Four identical texts collide in every band: each band bucket has 4
    // members, so the observed max bucket must reach 4. The metric rides
    // the caller's own action via observe() and lands in the session
    // listener asynchronously — poll briefly.
    val rep = (1 to 4).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    // Diff the per-query snapshot rather than the last-writer-wins scalar:
    // a concurrent suite's near-dup query can overwrite the scalar between
    // our query's completion and the poll.
    val before = Dedup.observedMaxBucketSnapshot.map(_._1).toSet
    Dedup.lastObservedMaxBucket.set(-1L)
    // The observation rides the occupancy aggregate of the candidate-id
    // semi path, which the size gate skips on small corpora — force it.
    spark.conf.set("spark.graft.dedup.candidateSemiMinBytes", "0")
    try assert(Dedup.nearDupPairs(rep, "text", "doc_id", 0.8).count() == 6)
    finally spark.conf.unset("spark.graft.dedup.candidateSemiMinBytes")
    val deadline = System.nanoTime() + 10000000000L
    def fresh(): Seq[(String, Long)] =
      Dedup.observedMaxBucketSnapshot.filterNot(e => before.contains(e._1))
    while (fresh().isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(fresh().exists(_._2 == 4L),
      s"observed max buckets ${fresh()}, expected an entry of 4")
    assert(Dedup.lastObservedMaxBucket.get() >= 0,
      "last-observed scalar never updated")
  }

  test("hot-bucket observation is skipped below the candidate-semi gate (stale scalar pinned)") {
    // The occupancy aggregate carries the bucket metric, and the size gate
    // skips that aggregate on small corpora — so a skipped query must add
    // NO snapshot entry and leave lastObservedMaxBucket untouched ("not
    // observed", never "no hot buckets"; see the scalar's scaladoc). The
    // assertion rides the ordered listener bus: a second, FORCED query's
    // entry arriving proves any would-be entry from the earlier skipped
    // query (which completed first) would already be visible.
    val rep = (1 to 4).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val before = Dedup.observedMaxBucketSnapshot.map(_._1).toSet
    Dedup.lastObservedMaxBucket.set(-7L) // sentinel no observation writes
    spark.conf.set("spark.graft.dedup.candidateSemiMinBytes", s"${Long.MaxValue}")
    try assert(Dedup.nearDupPairs(rep, "text", "doc_id", 0.8).count() == 6)
    finally spark.conf.unset("spark.graft.dedup.candidateSemiMinBytes")
    // Escape hatch: candidateSemiMinBytes=0 forces the observation back.
    spark.conf.set("spark.graft.dedup.candidateSemiMinBytes", "0")
    try assert(Dedup.nearDupPairs(rep, "text", "doc_id", 0.8).count() == 6)
    finally spark.conf.unset("spark.graft.dedup.candidateSemiMinBytes")
    val deadline = System.nanoTime() + 10000000000L
    def fresh(): Seq[(String, Long)] =
      Dedup.observedMaxBucketSnapshot.filterNot(e => before.contains(e._1))
    while (fresh().isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(fresh().map(_._2) == Seq(4L),
      s"expected exactly the forced query's entry (4), got ${fresh()} — " +
        "a skipped query must not observe")
    // The only writer is the listener, and it wrote exactly once (above),
    // so the scalar held the stale sentinel until the forced observation.
    assert(Dedup.lastObservedMaxBucket.get() == 4L)
  }

  test("kept set survives the shuffle-semi keeper regime (broadcast disabled)") {
    // At warehouse scale the keeper id set outgrows any broadcast and the
    // keeper semi join runs as a shuffle join whose probe side carries
    // (id, sig) — never text (round-10 review). Forcing that regime here
    // must not change the result.
    def kept(): Set[Long] =
      Dedup.dropNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled = try kept()
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    assert(shuffled == Set(1L, 3L, 5L, 6L))
  }

  test("candidate-semi policy settings never change pairs or the kept set") {
    // The occupancy semi-filter is pure plan shape (it shrinks the verify
    // fetch, never the candidate pairs): results must be identical with
    // the filter forced ON (min=0) and forced OFF (huge min).
    def run(): (Set[(Long, Long)], Set[Long]) = (
      Dedup.nearDupPairs(docs, "text", "doc_id", threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet,
      Dedup.dropNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet)
    spark.conf.set("spark.graft.dedup.candidateSemiMinBytes", "0")
    val filtered = try run()
    finally spark.conf.unset("spark.graft.dedup.candidateSemiMinBytes")
    spark.conf.set("spark.graft.dedup.candidateSemiMinBytes", s"${Long.MaxValue}")
    val unfiltered = try run()
    finally spark.conf.unset("spark.graft.dedup.candidateSemiMinBytes")
    assert(filtered == unfiltered && filtered._2 == Set(1L, 3L, 5L, 6L))
  }

  test("keeper-barrier drop keeps the smallest id per cluster") {
    // The keeper-id RDD barrier (+ size-gated broadcast hint) is pure plan
    // shape — cross-action map-stage reuse; the kept set is the
    // smallest id per near-duplicate cluster.
    val kept = Dedup.dropNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L, 6L))
  }

  /** (doc_id, text, lang) rows written as parquet and read back: a file
    * scan the re-rooting specs can count and inspect. */
  private def scanOf(rows: Seq[(Long, String)], tag: String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile
    val path = new java.io.File(dir, "docs").getAbsolutePath
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .repartition(2).write.parquet(path)
    spark.read.parquet(path)
  }

  /** 40-word texts: one substituted word keeps 3-shingle Jaccard at
    * 35/41 ≈ 0.85, two far-apart substitutions drop it to 32/44 ≈ 0.73. */
  private def words(p: String): IndexedSeq[String] = (0 until 40).map(i => s"$p$i")
  private def sub(ws: IndexedSeq[String], at: Int): IndexedSeq[String] =
    ws.updated(at, s"x${ws(at)}")

  /** Near-duplicate chain 1 ~ 3 ~ 2 with 1 !~ 2 at J >= 0.8 (2 is dropped
    * only through the component), exact copies (5 of 4, 6 of 1), NULL
    * texts (7, 8) and an unrelated doc (9). Kept: 1, 4, 7, 8, 9. */
  private lazy val chainRows: Seq[(Long, String)] = {
    val a = words("w"); val b = sub(a, 30); val c = sub(b, 5)
    Seq(1L -> a, 3L -> b, 2L -> c, 4L -> words("v"), 5L -> words("v"),
      6L -> a, 9L -> words("u")).map { case (i, ws) => i -> ws.mkString(" ") } ++
      Seq(7L -> null, 8L -> null)
  }
  private val chainKept = Set(1L, 4L, 7L, 8L, 9L)

  test("dropExactDuplicates keeps the smallest non-NULL id (NULLS LAST)") {
    // A NULL id must not win its group: the keeper is exactDupGroups'
    // keep_id (2), as under DuckDB's default NULLS LAST order. The
    // dedup_drop_exact TVF runs the same operator.
    val df = Seq((Some(2L), "t"), (None, "t"), (Some(5L), "t"), (Some(7L), "u"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropExactDuplicates(df, "text", "doc_id")
      .select("doc_id").as[Option[Long]].collect().toSet
    assert(kept == Set(Some(2L), Some(7L)))
    assert(Dedup.exactDupGroups(df, "text", "doc_id")
      .select("keep_id").as[Long].collect().toSeq == Seq(2L))
    df.createOrReplaceTempView("dde_null_ids")
    val viaSql = spark.sql(
      "SELECT doc_id FROM dedup_drop_exact(TABLE(dde_null_ids), 'text', 'doc_id')")
      .as[Option[Long]].collect().toSet
    assert(viaSql == kept)
  }

  test("a composed near-dedup input runs its scan stage once per call plus collect") {
    // Upstream = file scan -> counting UDF filter -> the exact-dedup
    // window: re-deriving it re-runs the window exchange, so
    // dropNearDuplicates re-roots it once and its five consumers (keeper
    // aggregate, exact losers, signatures, shingle sets, final anti join)
    // read that one RDD — the scan's map stage runs in the first job only
    // (3 scan stages without the re-rooting). Nothing is cached.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import org.apache.spark.sql.graftbridge.Bridge
    val rows = (1L to 60L).map(i => i -> words(s"d${i % 45}_").mkString(" ")) ++
      chainRows.map { case (i, t) => (i + 100L, t) }
    val scan = scanOf(rows, "dedup-once")
    val calls = spark.sparkContext.longAccumulator("dedup-once-udf")
    val counted = udf { (t: String) => calls.add(1); true }
    val upstream = Dedup.dropExactDuplicates(scan.where(counted(col("text"))),
      "text", "doc_id")
    assert(graft.spark.ExecTuning.nontrivialUpstream(upstream))
    val scanStages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD")))
          scanStages.incrementAndGet()
    }
    Bridge.drainListenerBus(spark, 60000)
    spark.sparkContext.addSparkListener(listener)
    val kept = try {
      val k = Dedup.dropNearDuplicates(upstream, "text", "doc_id", threshold = 0.8)
        .select("doc_id").as[Long].collect().toSet
      Bridge.drainListenerBus(spark, 60000)
      k
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(scanStages.get == 1, s"scan stages run: ${scanStages.get}")
    assert(calls.value == rows.size, s"UDF calls: ${calls.value} for ${rows.size} rows")
    // 45 distinct texts among ids 1-60 keep their first 45 ids.
    assert(kept == (1L to 45L).toSet ++ chainKept.map(_ + 100L))
    assert(spark.sharedState.cacheManager.isEmpty, "cache not empty after dropNearDuplicates")
  }

  test("re-rooted and un-rooted near-dedup keep the same ids, AQE off and on") {
    // A bare scan is not re-rooted; the same rows behind the exact-dedup
    // window are. Both must keep the chain's answer, with the small-query
    // policy disabling AQE (default) and with AQE forced on, which makes
    // the barriers materialize eagerly.
    val scan = scanOf(chainRows, "dedup-same")
    val composed = Dedup.dropExactDuplicates(scan, "text", "doc_id")
    assert(!graft.spark.ExecTuning.nontrivialUpstream(scan))
    assert(graft.spark.ExecTuning.nontrivialUpstream(composed))
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.dropNearDuplicates(df, "text", "doc_id", threshold = 0.8)
        .select("doc_id").as[Long].collect().toSet
    val key = graft.spark.ExecTuning.SmallQueryBytesKey
    for (aqeOn <- Seq(false, true)) {
      if (aqeOn) spark.conf.set(key, "0")
      try {
        assert(kept(scan) == chainKept, s"bare scan, AQE on = $aqeOn")
        assert(kept(composed) == chainKept, s"re-rooted, AQE on = $aqeOn")
      } finally spark.conf.unset(key)
    }
    assert(spark.sharedState.cacheManager.isEmpty, "cache not empty after dropNearDuplicates")
  }

  test("a bare-scan near-dedup input is not re-rooted: the keeper side reads a pruned scan") {
    // The keeper barrier's lineage reaches the file scan directly, reading
    // only (doc_id, text); a re-rooted composed input reads every column
    // once, through the input barrier.
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    def scanColumns(rdd: org.apache.spark.rdd.RDD[_]): Seq[Seq[String]] = rdd match {
      case f: FileScanRDD => Seq(f.readSchema.fieldNames.toSeq)
      case r => r.dependencies.flatMap(d => scanColumns(d.rdd))
    }
    def barrierScans(df: org.apache.spark.sql.DataFrame): Seq[Seq[Seq[String]]] =
      Dedup.dropNearDuplicates(df, "text", "doc_id", threshold = 0.8)
        .queryExecution.optimizedPlan.collect { case r: LogicalRDD => r.rdd }
        .distinctBy(_.id).map(scanColumns)
    val scan = scanOf(chainRows, "dedup-bare")
    val bare = barrierScans(scan)
    assert(bare.size == 1, s"bare scan: expected only the keeper barrier, got $bare")
    assert(bare.head.nonEmpty && bare.head.forall(_.toSet == Set("doc_id", "text")),
      s"keeper side scan columns: ${bare.head}")
    val composed = barrierScans(Dedup.dropExactDuplicates(scan, "text", "doc_id"))
    assert(composed.size == 2, s"composed: expected input + keeper barriers, got $composed")
    assert(composed.forall(_.forall(_.toSet == Set("doc_id", "text", "lang"))),
      s"composed barrier scan columns: $composed")
  }

  test("jaccard candidate-checkpoint policy settings never change the pair set") {
    // The candidate table is checkpointed exactly when setsExceedBroadcast
    // holds. A 1-byte broadcast threshold makes it hold (checkpoint); the
    // default threshold leaves this corpus lazy. Materialization policy
    // only: the pairs and their values must be identical.
    def pairs(): Set[(Long, Long, Double)] =
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.5)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val ckpt = try {
      assert(Dedup.setsExceedBroadcast(docs))
      pairs()
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!Dedup.setsExceedBroadcast(docs))
    val lazily = pairs()
    assert(ckpt == lazily && ckpt.nonEmpty)
  }

  test("sessionBroadcastThreshold parses -1, byte suffixes, and bare longs") {
    // r16 ADVICE (medium): "-1" — the standard broadcast-disable value —
    // threw in byteStringAsBytes and fell back to the 10 MB default,
    // making the guards' 'threshold <= 0 => not needed' branch
    // unreachable with broadcast disabled.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    def withThr[T](v: String)(body: => T): T = {
      spark.conf.set(key, v); try body finally spark.conf.set(key, before)
    }
    assert(withThr("-1") { graft.spark.ExecTuning.sessionBroadcastThreshold(spark) } == -1L)
    assert(withThr("10MB") { graft.spark.ExecTuning.sessionBroadcastThreshold(spark) } == 10L << 20)
    assert(withThr("1048576") { graft.spark.ExecTuning.sessionBroadcastThreshold(spark) } == 1L << 20)
    // Guard consequences: broadcast disabled => neither guard fires
    // (shuffle plans need no enforcement), regardless of corpus size.
    withThr("-1") {
      assert(!Dedup.setsExceedBroadcast(docs))
      assert(!Dedup.corpusWithinBroadcast(docs))
    }
    // Tiny corpus inside a real threshold: id-broadcast OK, sets explosion
    // does not overflow.
    withThr("64MB") {
      assert(Dedup.corpusWithinBroadcast(docs))
      assert(!Dedup.setsExceedBroadcast(docs))
    }
  }

  test("spanning-forest reduction: multi-round path matches driver union-find") {
    // 100 dense 30-vertex cliques (43.5k edges). forestTaskEdges=25000
    // forces parts=2 in round 1 (each task's forest ≈ the full 2.9k-edge
    // skeleton → ~5.8k total > threshold), then parts=1 in round 2
    // (≤ 2.9k ≤ threshold → driver collect): exercises BOTH the
    // multi-round loop (incl. the per-round unpersist choreography) and
    // the collect tail. Expected clusters are closed-form: min id per
    // clique.
    val edges = (for {
      c <- 0 until 100
      i <- 0 until 30
      j <- i + 1 until 30
    } yield (c * 1000L + i, c * 1000L + j)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.dedup.forestTaskEdges", "25000")
    try {
      val got = Dedup.nearDupClusters(edges, driverEdgeThreshold = 3000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 3000)
      assert((0 until 100).forall(c =>
        (0 until 30).forall(i => got(c * 1000L + i) == c * 1000L)))
      assert(spark.sharedState.cacheManager.isEmpty,
        "forest rounds left persisted state behind")
    } finally spark.conf.unset("spark.graft.dedup.forestTaskEdges")
  }

  test("pair-uniqueness and band-key kernels: edge cases") {
    import graft.expressions.TextHash
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Long*) = new GenericArrayData(xs.toArray)
    // sortedPrefixes + noSharedSortedLongs: the prefix form of the
    // unique-emission rule — a pair colliding at v is emitted iff the
    // prefixes below v are disjoint (⟺ v is the minimum shared key).
    val ps = TextHash.sortedPrefixes(arr(1L, 5L, 9L))
    assert(ps.numElements() == 3)
    val row1 = ps.getStruct(1, 2)
    assert(row1.getLong(0) == 5L &&
      row1.getArray(1).toLongArray.toSeq == Seq(1L)) // prefix below 5
    assert(TextHash.sortedPrefixes(arr()).numElements() == 0)
    // shared-at-5 pair: prefixes below 5 are {1} vs {2} — disjoint (emit);
    // below 9 they are {1,5} vs {2,5} — share 5 (suppress)
    assert(TextHash.noSharedSortedLongs(arr(1L), arr(2L)))
    assert(!TextHash.noSharedSortedLongs(arr(1L, 5L), arr(2L, 5L)))
    assert(TextHash.noSharedSortedLongs(arr(), arr(1L))) // empty side
    // bandKeySets: sorted-distinct, equal slices ⟹ equal keys, band
    // identity matters (same rows in a different band ⟹ different key)
    val ks = TextHash.bandKeySets(arr(10L, 11L, 20L, 21L), 2)
    assert(ks.numElements() == 2 &&
      ks.getLong(0) < ks.getLong(1)) // sorted
    val ks2 = TextHash.bandKeySets(arr(10L, 11L, 20L, 21L), 2)
    assert(ks.toLongArray.toSeq == ks2.toLongArray.toSeq) // deterministic
    val swapped = TextHash.bandKeySets(arr(20L, 21L, 10L, 11L), 2)
    assert(ks.toLongArray.toSet.intersect(swapped.toLongArray.toSet).isEmpty)
    assert(TextHash.bandKeySets(arr(), 2).numElements() == 0) // empty sig
    // indivisible sig length fails LOUD (was: silent empty set = the doc
    // silently dropped from LSH candidacy)
    assert(intercept[IllegalArgumentException] {
      TextHash.bandKeySets(arr(1L, 2L, 3L), 2)
    }.getMessage.contains("not divisible by bands"))
    // jaccardSimSortedLongs: exact set semantics over sorted longs
    assert(TextHash.jaccardSimSortedLongs(arr(1L, 2L, 3L), arr(2L, 3L, 4L)) == 0.5)
    assert(TextHash.jaccardSimSortedLongs(arr(), arr()) == 0.0)
    assert(TextHash.jaccardSimSortedLongs(arr(7L), arr(7L)) == 1.0)
    // wordShingleHashesSorted: same shingle identity as minHashText's
    // window fold; set size matches the string kernel's distinct count
    import org.apache.spark.unsafe.types.UTF8String
    val t = UTF8String.fromString("a b c a b c d")
    val hs = TextHash.wordShingleHashesSorted(t, 3)
    val ss = TextHash.wordShinglesSorted(t, 3)
    assert(hs.numElements() == ss.numElements()) // distinct 3-gram count
    var i = 1
    while (i < hs.numElements()) {
      assert(hs.getLong(i - 1) < hs.getLong(i)); i += 1 // sorted distinct
    }
    assert(TextHash.wordShingleHashesSorted(UTF8String.fromString("a b"), 3)
      .numElements() == 0) // fewer tokens than n
  }

  test("minhash signature is deterministic and jaccard-correlated") {
    val sigs = Dedup.minHashSignatures(docs, "text", "doc_id").select("id", "sig")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(4L)) // identical text, identical signature
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree12 > 32, s"near-dup agreement $agree12 should be high")
    assert(agree13 < 8, s"unrelated agreement $agree13 should be low")
  }

  test("nearDupClusters resolves transitive chains to the min id (both paths)") {
    val pairs = Seq((2L, 3L), (1L, 2L), (5L, 6L), (4L, 6L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L)
    // driver union-find path (edge set under the threshold)
    val small = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(small == expected)
    // distributed label-propagation path (threshold 0 forces it)
    val dist = Dedup.nearDupClusters(pairs, driverEdgeThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
  }

  test("NULL texts are never 'duplicates' of each other") {
    // md5(NULL) is NULL — without the guard every null-text row pools into
    // one bogus exact-dup group and all but one are silently dropped.
    val df = Seq((1L, "same"), (2L, "same"), (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(df, "text", "doc_id").collect()
    assert(groups.length == 1 &&
      groups.head.getAs[scala.collection.Seq[Long]]("ids").toSeq == Seq(1L, 2L))
    val kept = Dedup.dropNearDuplicates(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L)) // both null-text rows survive
  }

  test("distributed label propagation converges on a long chain (pointer jumping)") {
    // A 40-node path graph: hop-per-round propagation would need 39 rounds;
    // pointer jumping converges within the default cap of 10.
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.nearDupClusters(chain, driverEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 40 && labels.values.forall(_ == 1L))
  }

  test("dropNearDuplicates keeps one representative per cluster") {
    val kept = Dedup.dropNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 1,2,4 form one near-dup cluster → keep 1; 3,5,6 untouched
    assert(kept == Set(1L, 3L, 5L, 6L))
  }

  test("ngramJaccardPairs equals brute-force all-pairs (prefix filter is exact)") {
    // Brute force: all pairs over the same shingle sets.
    val sh = docs.select(col("doc_id").cast("long").as("id"),
      TF.wordShingles(col("text"), 3).as("sh")).where(size(col("sh")) > 0)
    def brute(t: Double) = sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        TF.jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
      .where(col("jaccard") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (t <- Seq(0.3, 0.5, 0.9, 1.0)) {
      val got = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == brute(t), s"threshold $t")
    }
    // Sanity on content: the exact-dup pair is there at J=1.
    val at1 = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at1 == Set((1L, 4L)))
  }

  test("simHashPairs: identical and near-identical texts collide") {
    // hamming(1,2)=7 on this data → found under 8-bit chunking, which is
    // pigeonhole-complete for hamming <= 7 (opt-in: the 256-value buckets
    // are quadratic at corpus scale — see Dedup.simHashPairs).
    val pairs = Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = 7, chunkBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => (p._1, p._2) == (1L, 4L) && p._3 == 0))
    assert(pairs.exists(p => (p._1, p._2) == (1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // Default 16-bit chunking: still complete for hamming <= 3 — the exact
    // dup (hamming 0) is always found; any reported hamming is <= 3.
    val defPairs = Dedup.simHashPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(defPairs.exists(p => (p._1, p._2) == (1L, 4L) && p._3 == 0))
    assert(defPairs.forall(_._3 <= 3))
  }

  test("ngramJaccardPairs keeps pairs sitting exactly AT the threshold (exact-ceiling regression)") {
    // J(a, b) = 7/25 = 0.28 exactly: a is a 9-word prefix of the 27-word b,
    // so a's 7 shingles are all shared and b has 25. Double arithmetic
    // computes ceil(0.28 * 25) = 8 (0.28*25 = 7.000000000000001) — an
    // over-tightened prefix bound silently dropped this pair before the
    // rational-arithmetic fix (round-4 ADVICE).
    val words = (1 to 27).map(i => s"w$i")
    val boundary = Seq(
      (1L, words.take(9).mkString(" ")),
      (2L, words.mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(boundary, "text", "doc_id", threshold = 0.28)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 0.28)), got.mkString(","))
    // Strictly above the pair's J: excluded.
    assert(Dedup.ngramJaccardPairs(boundary, "text", "doc_id", threshold = 0.281).collect().isEmpty)
  }

  test("embeddingNearDupPairs finds planted near-identical vectors") {
    val rnd = new scala.util.Random(11)
    val v1 = Array.fill(32)(rnd.nextFloat())
    val v1b = v1.clone(); v1b(0) += 0.001f // near-dup
    val vecs = (Seq((1L, v1), (2L, v1b)) ++
      (3L to 40L).map(i => (i, Array.fill(32)(rnd.nextFloat()))))
      .toDF("id", "vec").withColumn("vec", col("vec").cast("array<float>"))
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec", "id", threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("embedding LSH bucket-split cap bounds hot buckets, keeps exact-dup recall") {
    // 400 DIVERSE random vectors under planes=2 (only 4 sign buckets →
    // every bucket is hot at cap=16). Splitting with fresh planes must
    // drive the max bucket size down to the cap — diverse members disagree
    // on new planes, so the split converges.
    val rnd = new scala.util.Random(7)
    val diverse = (0 until 400).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    val planted = Seq(
      (1000L, Array(-5f, 3f, 0.5f, 1f, -2f, 0.3f, 4f, -1f)),
      (1001L, Array(-10f, 6f, 1f, 2f, -4f, 0.6f, 8f, -2f)))   // ×2 → cosine 1
    val vecs = (diverse ++ planted).toDF("id", "vec")
      .withColumn("vec", col("vec").cast("array<float>"))
    val base = vecs.select(col("id").cast("long").as("id"), col("vec"))
    val buckets = Dedup.signBuckets(base, planes = 2, tables = 1, seed = 42L,
      maxBucketSize = Some(16), maxSplitRounds = 12, splitPlanes = 4)
    val maxBucket = buckets.groupBy("t", "bucket").count()
      .agg(max("count")).collect().head.getLong(0)
    assert(maxBucket <= 16, s"hot bucket survived splitting: $maxBucket")
    // No splitting requested → the static assignment keeps its 4 hot buckets.
    val unsplit = Dedup.signBuckets(base, planes = 2, tables = 1, seed = 42L,
      maxBucketSize = None, maxSplitRounds = 0, splitPlanes = 4)
      .groupBy("t", "bucket").count().agg(max("count")).collect().head.getLong(0)
    assert(unsplit > 16)
    // Exact-direction duplicates agree on every fresh plane, so they are
    // never split apart: the planted pair still comes back end-to-end.
    val r = Dedup.embeddingNearDupPairs(vecs, "vec", "id", threshold = 0.9999,
        planes = 2, tables = 1, maxBucketSize = Some(16))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r.contains((1000L, 1001L)))
  }

  test("textStats matches hand-computed values") {
    val r = docs.where(col("doc_id") === 5L)
      .select(TF.textStats(col("text")).as("s")).select("s.*").collect().head
    // "unrelated short text": 20 chars, 3 tokens, mean (20-3+1)/3 = 6
    assert(r.getAs[Int]("n_chars") == 20)
    assert(r.getAs[Int]("n_tokens") == 3)
    assert(r.getAs[Double]("mean_tok_len") == 6.0)
    assert(r.getAs[Double]("alpha_ratio") == 0.9)   // 18 letters / 20
    assert(r.getAs[Double]("punct_ratio") == 0.0)
  }

  test("md5Hex kernel is byte-identical to the built-in md5") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val samples = Seq("", " ", "hello", "héllo 漢 🎉") ++
      (1 to 200).map(_ => rnd.nextString(rnd.nextInt(80)))
    val rows = samples.toDF("s")
      .select(TF.md5Hex(col("s")).as("fast"), md5(col("s")).as("builtin"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
    val nul = Seq((null: String, 1)).toDF("s", "x")
      .select(TF.md5Hex(col("s"))).collect().head
    assert(nul.isNullAt(0))
  }

  test("decontaminate flags and drops docs overlapping the eval set") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares 3-grams with eval 100
      (2L, "completely different content about spark query engines"),
      (3L, "short text"), // < 3 tokens: no shingles, can never be flagged
      (4L, "the quick brown cat sleeps")) // shares only "the quick brown"
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val hits = graft.text.Decontaminate
      .overlapCounts(corpus, eval, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 1 shares: "the quick brown", "quick brown fox", "brown fox jumps"
    assert(hits == Map(1L -> 3L, 4L -> 1L))
    val kept = graft.text.Decontaminate
      .dropContaminated(corpus, eval, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 3L))
    // SQL TVF surface
    corpus.createOrReplaceTempView("decon_corpus")
    eval.createOrReplaceTempView("decon_eval")
    val viaSql = spark.sql(
      """SELECT doc_id, n_hits
         FROM decontaminate(TABLE(decon_corpus), TABLE(decon_eval), 'text', 'doc_id')
         ORDER BY doc_id""").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql == Seq((1L, 3L), (4L, 1L)))
    // scale posture: an equi-join on the shingle (broadcastable eval side),
    // never a nested-loop/cartesian over corpus x eval
    val plan = graft.text.Decontaminate
      .overlapCounts(corpus, eval, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
  }

  test("decontaminate fused kernel == join plan on randomized corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "the", "a")
    def doc() = (1 to (1 + rnd.nextInt(30))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = (1L to 300L).map(i => (i, if (i % 37 == 0) null else doc()))
      .toDF("doc_id", "text")
    val eval = (1000L to 1010L).map(i => (i, doc())).toDF("doc_id", "text")
    val fused = graft.text.Decontaminate
      .overlapCounts(corpus, eval, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val joined = graft.text.Decontaminate
      .overlapCountsJoin(corpus, eval, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fused == joined)
    // dropContaminated keeps exactly the complement (incl. null-text rows)
    val keptF = graft.text.Decontaminate
      .dropContaminated(corpus, eval, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val flagged = fused.map(_._1).toSet
    assert(keptF == (1L to 300L).filterNot(flagged), "complement mismatch")
    // plan shape: the fused path never joins — the corpus side is one
    // kernel scan; the only aggregate is the id rollup over the already-
    // filtered (contaminated-rows-only) frame.
    val plan = graft.text.Decontaminate
      .overlapCounts(corpus, eval, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    // ... and dropContaminated's fused path is PURE scan-filter — no join,
    // no aggregate, no exchange (the 100 TB shape).
    val dropPlan = graft.text.Decontaminate
      .dropContaminated(corpus, eval, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!dropPlan.contains("Join") && !dropPlan.contains("Aggregate") &&
      !dropPlan.contains("Exchange"), dropPlan)
  }

  test("decontaminate overlapCounts: duplicate-id corpora roll up per id " +
      "on BOTH the fused and the past-cap path") {
    import spark.implicits._
    // id 1 appears twice: one row shares 2 shingles, the other 1.
    val corpus = Seq(
      (1L, "a b c d"),      // shares "a b c", "b c d"
      (1L, "b c d zz"),     // shares "b c d"
      (2L, "p q r s"))      // clean
      .toDF("doc_id", "text")
    val eval = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    val fused = graft.text.Decontaminate
      .overlapCounts(corpus, eval, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fused == Seq((1L, 3L)))
    spark.conf.set("spark.graft.decontam.maxEvalGrams", "1")
    try {
      val twoPhase = graft.text.Decontaminate
        .overlapCounts(corpus, eval, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(twoPhase == fused)
    } finally spark.conf.unset("spark.graft.decontam.maxEvalGrams")
  }

  test("shingleHitCount kernel: dedup, byte verification, equal-hash walk") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.expressions.TextHash
    def u(s: String) = UTF8String.fromString(s)
    def table(grams: String*): (Array[Long], Array[UTF8String]) = {
      val pairs = grams.toArray.map(g => (TextHash.fnv1a64(u(g)), u(g)))
        .sortBy(_._1)
      (pairs.map(_._1), pairs.map(_._2))
    }
    val (h, g) = table("a b c", "b c d", "x y z")
    // distinct hits only: "a b c" occurs twice in the text but counts once
    assert(TextHash.shingleHitCount(u("a b c a b c d"), 3, h, g) == 2L)
    // fewer than n tokens -> 0
    assert(TextHash.shingleHitCount(u("a b"), 3, h, g) == 0L)
    // no overlap -> 0
    assert(TextHash.shingleHitCount(u("p q r s"), 3, h, g) == 0L)
    // equal-hash walk: craft a probe table whose hash array has DUPLICATE
    // hash values for different grams (unreachable via real fnv collisions
    // — call the kernel directly). The matching gram sits AFTER a
    // non-matching gram with the same hash, so the probe must walk
    // neighbors and byte-verify, not trust the first hash hit.
    val target = u("m n o")
    val decoy = u("q r s")
    val hh = TextHash.fnv1a64(target)
    val hs = Array(hh, hh)
    val gs = Array(decoy, target) // same claimed hash, decoy first
    assert(TextHash.shingleHitCount(u("m n o p"), 3, hs, gs) == 1L)
    // and a hash hit whose gram does NOT byte-match counts nothing
    assert(TextHash.shingleHitCount(u("q r s"), 3, Array(TextHash.fnv1a64(u("q r s"))),
      Array(u("totally different"))) == 0L)
  }

  test("decontaminate past the gram cap: Bloom screen + exact join, " +
      "value-identical to the fused path") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val eval = Seq((9L, "a b c q")).toDF("doc_id", "text")
    spark.conf.set("spark.graft.decontam.maxEvalGrams", "1")
    try {
      val r = graft.text.Decontaminate.overlapCounts(corpus, eval, "text", "doc_id")
      val plan = r.queryExecution.executedPlan.toString
      assert(plan.contains("Join"), plan) // the exact verify phase
      // The screen phase: on LocalRelation fixtures Catalyst evaluates the
      // filter at optimization time, so look at the analyzed plan.
      val analyzed = r.queryExecution.analyzed.toString
      assert(analyzed.contains("bloom_hit_count"), analyzed)
      assert(r.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq == Seq((1L, 1L)))

      // randomized value identity: two-phase == fused (the under-cap path)
      val rnd = new scala.util.Random(7)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
      def doc() = (1 to (3 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val bigCorpus = (1L to 200L).map(i => (i, if (i % 41 == 0) null else doc()))
        .toDF("doc_id", "text")
      val bigEval = (900L to 905L).map(i => (i, doc())).toDF("doc_id", "text")
      val twoPhase = graft.text.Decontaminate
        .overlapCounts(bigCorpus, bigEval, "text", "doc_id")
        .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      val dropped = graft.text.Decontaminate
        .dropContaminated(bigCorpus, bigEval, "text", "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      spark.conf.unset("spark.graft.decontam.maxEvalGrams")
      val fused = graft.text.Decontaminate
        .overlapCounts(bigCorpus, bigEval, "text", "doc_id")
        .collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      assert(twoPhase == fused)
      assert(dropped == (1L to 200L).filterNot(twoPhase.map(_._1).toSet))
    } finally spark.conf.unset("spark.graft.decontam.maxEvalGrams")
  }

  test("chunkTokens matches the sliding-window reference incl. edge cases") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Seq("alpha", "b", "cc", "", "dddd")
    val samples = Seq("", " ", "one", "a b c", "a  b", " lead", "trail ") ++
      (1 to 80).map(_ => (1 to (1 + rnd.nextInt(25)))
        .map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    for ((size, stride) <- Seq((4, 4), (4, 2), (3, 5), (1, 1))) {
      val got = samples.toDF("text")
        .select(TF.chunkTokens(col("text"), size, stride).as("c"))
        .collect().map(_.getSeq[String](0))
      samples.zip(got).foreach { case (text, chunks) =>
        val toks = text.split(" ", -1).toSeq
        val exp = (0 until toks.size by stride)
          .map(st => toks.slice(st, st + size).mkString(" "))
        assert(chunks == exp, s"size=$size stride=$stride text='$text'")
      }
    }
    // SQL surface + NULL propagation
    val viaSql = Seq(("a b c d e", 1)).toDF("text", "x")
      .selectExpr("chunk_tokens(text, 2, 2) AS c").collect().head.getSeq[String](0)
    assert(viaSql == Seq("a b", "c d", "e"))
    val nul = Seq((null: String, 1)).toDF("text", "x")
      .selectExpr("chunk_tokens(text, 2, 2) AS c").collect().head
    assert(nul.isNullAt(0))
  }

  test("repetitionStats matches a naive split/group computation") {
    // property-style check against a Scala-collections reference on random
    // texts incl. empty-token edge cases (leading/trailing/double spaces)
    val rnd = new scala.util.Random(7)
    val words = Seq("a", "b", "cat", "dog", "", "the")
    val samples = Seq("", " ", "a", "a a", "a b a b a",  "  x ") ++
      (1 to 100).map(_ => (1 to (1 + rnd.nextInt(30)))
        .map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    import spark.implicits._
    val got = samples.toDF("text")
      .select(TF.repetitionStats(col("text")).as("r")).select("r.*")
      .collect()
    samples.zip(got).foreach { case (text, row) =>
      val toks = text.split(" ", -1).toSeq
      val bigrams = toks.sliding(2).filter(_.size == 2).toSeq
      val expTop = if (bigrams.isEmpty) 0L
        else bigrams.groupBy(identity).values.map(_.size).max.toLong
      assert(row.getLong(0) == toks.size.toLong, s"n_tokens for '$text'")
      assert(row.getLong(1) == toks.distinct.size.toLong, s"n_distinct for '$text'")
      assert(row.getLong(2) == math.max(0, toks.size - 1).toLong, s"n_bigrams for '$text'")
      assert(row.getLong(3) == expTop, s"top_bigram for '$text'")
    }
    // NULL text → NULL struct; SQL surface registered
    val nullRow = Seq((1L, null: String)).toDF("id", "text")
      .selectExpr("repetition_stats(text) AS r").collect().head
    assert(nullRow.isNullAt(0))
  }

  test("asciiClassCount kernel equals the regex formulations on arbitrary unicode") {
    import graft.expressions.TextHash
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(99)
    // Sampled per CODE POINT (parquet text is valid UTF-8; indexing a raw
    // string by UTF-16 unit would manufacture unpaired surrogates no real
    // column can contain).
    val alphabet = Seq("a", "b", "z", "0", "9", " ", "A", "Z", ".", ",", "!",
      "\t", "\n", "\u00e9", "\u6f22", new String(Character.toChars(0x1F389)), "\u00fc")
    val samples = Seq("", " ", "   ", "hello world", alphabet.mkString) ++
      (1 to 200).map(_ => (1 to rnd.nextInt(60)).map(_ =>
        alphabet(rnd.nextInt(alphabet.size))).mkString)
    samples.foreach { s =>
      val u = UTF8String.fromString(s)
      assert(TextHash.asciiClassCount(u, TextHash.ClassAlpha) ==
        s.replaceAll("[^a-z]", "").codePointCount(0, s.replaceAll("[^a-z]", "").length),
        s"alpha on ${s.take(30)}")
      val punctRef = s.replaceAll("[a-z0-9 ]", "")
      assert(TextHash.asciiClassCount(u, TextHash.ClassNonAlnumSpace) ==
        punctRef.codePointCount(0, punctRef.length), s"punct on ${s.take(30)}")
      assert(TextHash.asciiClassCount(u, TextHash.ClassSpace) + 1 ==
        s.split(" ", -1).length, s"spaces on ${s.take(30)}")
    }
  }

  test("langId classifies obvious samples") {
    val samples = Seq(
      ("the cat is on the table and it is not happy with you", "en"),
      ("el gato es un animal que vive en la casa con los niños", "es"),
      ("der hund ist ein tier und das ist nicht schlecht", "de"),
      ("le chien est un animal qui vit dans la maison avec les enfants", "fr"),
      ("这是一个中文句子 关于向量搜索", "zh"),
      ("zzz qqq xxx", "und")
    ).toDF("text", "expected")
    val got = samples.select(TF.langId(col("text")).as("got"), col("expected")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got ${r.getString(0)} expected ${r.getString(1)}"))
  }

  test("fingerprint64 is deterministic and content-sensitive") {
    val f = docs.select(col("doc_id"), TF.fingerprint64(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) == f(4L))
    assert(f(1L) != f(2L))
    assert(f.values.toSet.size == 5) // 6 docs, one exact dup pair
  }

  test("qualityScore ranks clean prose above symbol soup; filter applies") {
    val samples = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank " * 2),
      (2L, "@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( ))))"),
      (3L, "ok")
    ).toDF("id", "text")
    val scores = samples.select(col("id"), TF.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > 0.8, s"prose ${scores(1L)}")
    assert(scores(2L) < 0.4, s"soup ${scores(2L)}")
    assert(scores(1L) > scores(3L))
    val kept = TF.filterByQuality(samples, "text", 0.5).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(2L))
  }

  /** The score as the composition over `textStats` spelled it. */
  private def composedQualityScore(text: org.apache.spark.sql.Column) = {
    val st = TF.textStats(text)
    val lengthOk = least(st.getField("n_tokens").cast("double") / 20.0, lit(1.0))
    val punctOk = lit(1.0) - least(st.getField("punct_ratio") * 4.0, lit(1.0))
    val tokOk = when(st.getField("mean_tok_len").between(2.0, 12.0), 1.0).otherwise(0.25)
    round(lengthOk * 0.25 + st.getField("alpha_ratio") * 0.35 + punctOk * 0.2 + tokOk * 0.2, 6)
  }

  test("qualityScore equals the textStats composition, NULL and empty text included") {
    val edge = Seq(null, "a", " ", "   ", "!!!! ???? ...", "naïve café — 東京 😀 ok",
      "ÀÉÎ õü 123 abc", "x" * 400, "one two  three   four", "12 34 56", "a\tb\nc")
    val texts = (spark.read.parquet(sf("0.01") + "/documents.parquet").select("text")
      .as[String].collect().toSeq ++ edge ++ Seq("")).toDF("text")
    def both(df: org.apache.spark.sql.DataFrame) =
      df.select(TF.qualityScore(col("text")), composedQualityScore(col("text")))
    val saved = spark.conf.getOption("spark.sql.ansi.enabled")
    try for (ansi <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val nonEmpty = texts.where(col("text").isNull || length(col("text")) > 0)
      val pairs = both(nonEmpty).collect()
      assert(pairs.length >= 500 + edge.size)
      pairs.foreach(r => assert(r.get(0) == r.get(1), r))
      assert(pairs.count(_.isNullAt(0)) == 1)
      // Interpreted, as a filter folded into a local relation evaluates it.
      val local = spark.createDataFrame(
        java.util.Arrays.asList(edge.map(org.apache.spark.sql.Row(_)): _*), nonEmpty.schema)
      both(local).collect().foreach(r => assert(r.get(0) == r.get(1), r))
      assert(local.where(TF.qualityScore(col("text")) >= 0.0).count() == edge.size - 1)
      val empty = Seq("").toDF("text")
      if (ansi == "true") {
        def err(c: org.apache.spark.sql.Column) =
          intercept[org.apache.spark.SparkThrowable](empty.select(c).collect()).getCondition
        assert(err(TF.qualityScore(col("text"))) == "DIVIDE_BY_ZERO")
        assert(err(composedQualityScore(col("text"))) == "DIVIDE_BY_ZERO")
      } else assert(both(empty).collect().head == org.apache.spark.sql.Row(null, null))
    } finally saved.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
      spark.conf.set("spark.sql.ansi.enabled", _))
  }

  test("a quality filter over a scrubbed text evaluates the scrub once per row in the filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scrub").toFile
    val path = new java.io.File(dir, "docs").getAbsolutePath
    Seq((1L, "mail me at a@b.com please"), (2L, "call 555-123-4567 now")).toDF("id", "text")
      .write.parquet(path)
    val scrubbed = spark.read.parquet(path).withColumn("text", TF.redactPii(col("text")))
    def redacts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect { case n => n.expressions.map(_.collect {
        case e: graft.expressions.RedactPii => e }.size).sum }.sum
    // One in the projection, one in the filter pushed below it.
    val q = TF.filterByQuality(scrubbed, "text", 0.0)
    assert(redacts(q) == 2, q.queryExecution.optimizedPlan)
    assert(q.count() == 2)
    // The composition refers to the text once per feature.
    assert(redacts(scrubbed.where(composedQualityScore(col("text")) >= 0.0)) > 2)
  }

  test("dropRepeatedSubstrings: spans removed everywhere, overlaps merge") {
    // 3-token windows. "a b c d" appears in docs 1 and 2 (offset 0 and 1):
    // doc1 tokens a,b,c,d are covered by repeated windows (a b c), (b c d);
    // doc2 likewise at offsets 1-4; doc3 shares no 3-window with anyone;
    // doc4 is shorter than the window and passes through untouched.
    val docs = Seq(
      (1L, "a b c d x"),
      (2L, "z a b c d"),
      (3L, "p q r s t"),
      (4L, "u v")
    ).toDF("doc_id", "text")
    val got = Dedup.dropRepeatedSubstrings(docs, "text", "doc_id", minTokens = 3)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "x", 4L),       // a,b,c,d removed (both windows repeat), x kept
      (2L, "z", 4L),       // the other copy removed too (remove-all-copies)
      (3L, "p q r s t", 0L),
      (4L, "u v", 0L)))
    // A doc that is entirely one repeated span rebuilds to the empty string
    val twin = Seq((1L, "m n o"), (2L, "m n o")).toDF("doc_id", "text")
    val t = Dedup.dropRepeatedSubstrings(twin, "text", "doc_id", minTokens = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(t == Seq((1L, "", 3L), (2L, "", 3L)))
    // Repetition WITHIN one doc counts toward the >= 2 occurrences
    val selfRep = Seq((1L, "a b c a b c"), (2L, "q r s t u v")).toDF("doc_id", "text")
    val sr = Dedup.dropRepeatedSubstrings(selfRep, "text", "doc_id", minTokens = 3)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(sr.head == ((1L, "", 6L)))
    // SQL TVF surface mirrors the API
    docs.createOrReplaceTempView("substr_docs")
    val viaSql = spark.sql(
      "SELECT * FROM dedup_substr(TABLE(substr_docs), 'text', 'doc_id', 3)")
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    assert(viaSql == got)
  }

  test("lshCandidatePairs maxBucketSize: oversized buckets skipped, others intact") {
    // Hand-built signatures, k=4 / bands=2 (band = 2 sig slots): ids 1-5
    // share one full signature (both band buckets size 5), ids 6-7 share
    // another (buckets size 2), id 8 collides with 1-5 in band 0 ONLY
    // (band-0 bucket size 6).
    val s1 = Seq(10L, 11L, 20L, 21L)
    val s2 = Seq(30L, 31L, 40L, 41L)
    val s3 = Seq(10L, 11L, 50L, 51L) // band 0 = s1's, band 1 distinct
    val sigs = ((1L to 5L).map((_, s1)) ++ Seq((6L, s2), (7L, s2), (8L, s3)))
      .toDF("id", "sig")
    def pairs(cap: Int): Set[(Long, Long)] =
      Dedup.lshCandidatePairs(sigs, k = 4, bands = 2, maxBucketSize = cap)
        .as[(Long, Long)].collect().toSet
    val all = pairs(0)
    assert(all == ((1L to 5L).combinations(2).map(c => (c(0), c(1))).toSet
      ++ Set((6L, 7L)) ++ (1L to 5L).map((_, 8L)).toSet))
    // cap 4: both s1 buckets (5) and the band-0 bucket (6) oversized ->
    // only the size-2 bucket survives
    assert(pairs(4) == Set((6L, 7L)))
    // cap 6: the size-6 band-0 bucket passes, s1's band-1 bucket (5) too
    assert(pairs(6) == all)
    // nearDupPairs threads the cap end-to-end: a corpus of one repeated
    // text (every band oversized) yields no pairs under the cap, all
    // C(4,2) verified pairs without it
    val rep = (1 to 4).map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    assert(Dedup.nearDupPairs(rep, "text", "doc_id", 0.8).count() == 6)
    assert(Dedup.nearDupPairs(rep, "text", "doc_id", 0.8,
      maxBucketSize = 3).count() == 0)
  }

  test("deterministicSample: reproducible, nested across fractions, near-rate") {
    import spark.implicits._
    val ids = spark.range(10000L).select(col("id").as("doc_id"))
    def keys(f: Double) = TF.deterministicSample(ids, "doc_id", f)
      .as[Long].collect().toSet
    val s20 = keys(0.2)
    assert(keys(0.2) == s20)            // pure function of the key
    assert(s20.subsetOf(keys(0.5)))     // thresholds nest: bigger ⊇ smaller
    assert(math.abs(s20.size / 10000.0 - 0.2) < 0.02, s20.size.toString)
    assert(keys(0.0).isEmpty && keys(1.0).size == 10000)
  }

  test("tokenCountBpe counts subword units") {
    val r = Seq("abc123 def!").toDF("t")
      .select(TF.tokenCountBpe(col("t"))).collect().head.getInt(0)
    assert(r == 4) // "abc", "123", "def", "!"
  }

  test("tokenCountBpe run-count kernel matches the regex spelling") {
    // Uppercase and multi-byte chars fall to the per-char branch; runs
    // break on any non-class byte exactly as leftmost-greedy matching does.
    val samples = Seq("", " ", "a", "1", "!", "a1b2", "ab 12 cd!ef", "  x  ",
      "uber straße", "a!b?c", "99 bottles!!", "mixedCASE and umlaut ü",
      "a" * 100 + "!" + "9" * 3, "trailing space ", " leading", "!!??..")
    val rows = samples.toDF("t").select(
        TF.tokenCountBpe(col("t")).as("k"),
        size(regexp_extract_all(col("t"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("r"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }
}
