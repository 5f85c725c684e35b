package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.expressions.{Fingerprint64, LangId, MinHashSignature, SignRandomProjection, SimHash64}

/**
 * Text-analysis Column surface for training-data pipelines: tokenization
 * helpers, quality statistics, language ID, fingerprinting, and the hashing
 * primitives behind MinHash/SimHash dedup. Everything is either composed
 * from codegen'd Spark built-ins or a native Catalyst expression — no UDFs,
 * so the whole surface stays inside whole-stage codegen at 100 TB.
 */
object TextFunctions {

  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Bridge.column(e)
  private def expr(c: Column) = Bridge.expression(c)

  /** Whitespace tokens (the convention shared with the DuckDB oracle). */
  def tokens(text: Column): Column = split(text, " ")

  /** = size(tokens(text)), computed as space-count + 1 — identical for
    * every string (split on " " yields one segment per space, empties
    * included, in Spark and DuckDB alike) without materializing the token
    * array per row. */
  def tokenCount(text: Column): Column =
    col(graft.expressions.AsciiClassCount(expr(text),
      graft.expressions.TextHash.ClassSpace)) + 1

  /** BPE-ish subword unit count: letter runs, digit runs, other symbols.
    * Single-pass byte kernel — the regexp_extract_all spelling materializes
    * every match through java.util.regex per row (it was the dominant cost
    * of doc_text_stats); counting run starts needs no match objects. */
  def tokenCountBpe(text: Column): Column =
    col(graft.expressions.AsciiClassCount(expr(text),
      graft.expressions.TextHash.ClassBpeRuns))

  /** Distinct word n-gram shingles (empty array when fewer than n tokens).
    * Fused byte-loop kernel — the HOF spelling (transform + concat_ws +
    * array_distinct) evaluates interpreted per element and was the dominant
    * cost of every shingle-based dedup pipeline. */
  def wordShingles(text: Column, n: Int): Column =
    col(graft.expressions.WordShingles(expr(text), n))

  /** [[wordShingles]] sorted ascending (binary order) inside the kernel —
    * feeds [[jaccardSorted]] verify joins with one guaranteed sort/doc. */
  def wordShinglesSorted(text: Column, n: Int): Column =
    col(graft.expressions.WordShingles(expr(text), n, sorted = true))

  /** Exact Jaccard similarity of two string arrays (DOUBLE), one-pass set
    * semantics (= array_intersect / array_union composition). */
  def jaccard(a: Column, b: Column): Column =
    col(graft.expressions.JaccardSim(expr(a), expr(b)))

  /** [[jaccard]] over `sort_array`-ordered inputs: merge-only, no per-pair
    * sort — pair verification cost drops to O(|a|+|b|) comparisons. */
  def jaccardSorted(a: Column, b: Column): Column =
    col(graft.expressions.JaccardSimSorted(expr(a), expr(b)))

  /** MinHash signature of a shingle array: ARRAY<BIGINT> of k minima. */
  def minhashSignature(shingles: Column, k: Int = 64, seed: Long = 42L): Column =
    col(MinHashSignature(expr(shingles), k, seed))

  /** Fused word-n-gram MinHash straight from text — no shingle strings
    * materialized; empty array when the text has fewer than n tokens. */
  def minhashText(text: Column, n: Int = 3, k: Int = 64, seed: Long = 42L): Column =
    col(graft.expressions.MinHashText(expr(text), n, k, seed))

  /** 64-bit SimHash of a token array. */
  def simhash64(tokenArr: Column): Column = col(SimHash64(expr(tokenArr)))

  /** Rolling-hash document fingerprint. */
  def fingerprint64(text: Column): Column = col(Fingerprint64(expr(text)))

  /** Lowercase-hex MD5, byte-identical to the built-in `md5(string)` but
    * with a reused thread-local digest (the built-in pays a per-row
    * MessageDigest.getInstance) — the dedup/sampling content hash. */
  def md5Hex(text: Column): Column = col(graft.expressions.Md5Hex(expr(text)))

  /** MD5 as struct(h1, h2) of signed-order-flipped longs: (h1, h2) order ==
    * the hex string's lexicographic order, in 16 primitive bytes — the
    * shuffle/sort-friendly spelling of the md5-order devices
    * ([[graft.expressions.Md5Longs]]). */
  def md5Longs(text: Column): Column = col(graft.expressions.Md5Longs(expr(text)))

  /** Repetition signals (Gopher-style): struct(n_tokens, n_distinct,
    * n_bigrams, top_bigram) — see [[graft.expressions.RepetitionStats]]. */
  def repetitionStats(text: Column): Column =
    col(graft.expressions.RepetitionStats(expr(text)))

  /** Token-window chunks of `size` tokens every `stride` tokens (training
    * sequence segmentation) — see [[graft.expressions.ChunkTokens]]. */
  def chunkTokens(text: Column, size: Int, stride: Int): Column =
    col(graft.expressions.ChunkTokens(expr(text), size, stride))

  /** Heuristic language ID: 'en'|'es'|'de'|'fr'|'zh'|'und'. */
  def langId(text: Column): Column = col(LangId(expr(text)))

  /** Hyperplane-LSH sign bucket of a float vector. */
  def signProjection(vec: Column, planes: Int = 16, seed: Long = 42L): Column =
    col(SignRandomProjection(expr(vec.cast("array<float>")), planes, seed))

  /**
   * Composite quality score in [0, 1] from the [[textStats]] features — the
   * standard cheap pre-filter for corpus curation: long-enough docs with
   * mostly alphabetic content and sane token lengths score high; symbol
   * soup, fragments, and over-long tokens score low.
   *
   *   round(least(n_tokens / 20, 1) × 0.25 + alpha_ratio × 0.35
   *     + (1 − least(punct_ratio × 4, 1)) × 0.2
   *     + (mean_tok_len between 2 and 12 ? 1 : 0.25) × 0.2, 6)
   *
   * The 4-decimal inputs × 2-decimal weights make every term an exact
   * 6-decimal value, so rounding at 6 never sits on a half boundary —
   * engines with different round-half conventions (DuckDB vs JVM
   * BigDecimal HALF_UP) agree bit-for-bit. Rounding at 4 would not:
   * e.g. alpha_ratio 0.815 × 0.35 = 0.28525 lands exactly on .xxxx5.
   *
   * One expression ([[graft.expressions.QualityScore]], one byte pass), not
   * a composition over [[textStats]]: a filter pushed below a projection
   * substitutes the projected expression into every reference to the text,
   * and a composition refers to it once per feature.
   */
  def qualityScore(text: Column): Column = col(graft.expressions.QualityScore(expr(text)))

  /** Keep rows whose [[qualityScore]] meets `minScore` — the corpus filter. */
  def filterByQuality(df: org.apache.spark.sql.DataFrame, textCol: String,
      minScore: Double = 0.5): org.apache.spark.sql.DataFrame =
    df.where(qualityScore(df(textCol)) >= minScore)

  /**
   * Deterministic hash sample: keep a row iff the first 60 bits of
   * md5(keyCol as string) fall below fraction × 2⁶⁰. Unlike `df.sample`,
   * the decision is a pure function of the key — reproducible across runs,
   * engines, partitionings, and retries, and consistent for the same key in
   * different snapshots of the corpus (the property training-data splits
   * need). Embarrassingly parallel; no RNG state.
   */
  def deterministicSample(df: org.apache.spark.sql.DataFrame, keyCol: String,
      fraction: Double): org.apache.spark.sql.DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    val threshold = (fraction * (1L << 60).toDouble).toLong
    df.where(conv(substring(md5Hex(df(keyCol).cast("string")), 1, 15), 16, 10)
      .cast("long") < threshold)
  }

  // === PII scrubbing ======================================================
  // Patterns are deliberately restricted to constructs whose match semantics
  // coincide between java.util.regex (Spark's regexp_* builtins) and RE2
  // (DuckDB's): character classes, bounded/greedy quantifiers, \b — no
  // backreferences, no lookaround, no lazy quantifiers. That keeps the
  // operator oracle-checkable byte-for-byte across engines.

  /** Email addresses: maximal local part, domain with an alpha TLD ≥ 2. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IPv4 (word-bounded; no range check — scrubbing favors
    * recall, and 999.1.1.1 in text is still a quad worth redacting). */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** International-format phone numbers: +CC-NNN-NNN(N)-NNNN. */
  val PhoneRe = "\\+\\d{1,3}-\\d{3}-\\d{3,4}-\\d{4}\\b"

  /**
   * Redact emails / phone numbers / IPv4 addresses to typed placeholders —
   * the standard pre-training scrub step (C4/Dolma-style pipelines). The
   * three regexes above are the SPEC; evaluation is the single-pass byte
   * kernel [[graft.expressions.PiiScrub]] (for these class-run patterns,
   * leftmost-greedy matching reduces to maximal-run scanning — the
   * backtracking java.util.regex spelling re-walked every word at every
   * start position and was ~the whole per-row cost). Email first (its
   * domain may contain digits/dots an IP pass would chew up), then phone
   * (so the +CC prefix isn't orphaned), then IPv4 — same pass order as the
   * oracle's regexp_replace nesting. Embarrassingly parallel, no shuffle.
   */
  def redactPii(text: Column): Column = col(graft.expressions.RedactPii(expr(text)))

  /** Per-category PII match counts as struct(n_emails, n_ips, n_phones) —
    * the audit/reporting side of [[redactPii]] (counts over the ORIGINAL
    * text, so a doc can be scored without rewriting it). Same kernel. */
  def piiStats(text: Column): Column = col(graft.expressions.PiiStats(expr(text)))

  /** The regexp_* builtin composition [[redactPii]] replaces — the
    * executable spec, checked against the kernel THROUGH Spark in
    * PipelineOpsSpec ("kernel matches the regexp_* Column spelling"), so
    * the regexp codegen path is validated too, not just java.util.regex. */
  private[graft] def redactPiiRegex(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Regex spelling of [[piiStats]] — spec-checked the same way as
    * [[redactPiiRegex]]. */
  private[graft] def piiStatsRegex(text: Column): Column = struct(
    regexp_count(text, lit(EmailRe)).cast("long").as("n_emails"),
    regexp_count(text, lit(Ipv4Re)).cast("long").as("n_ips"),
    regexp_count(text, lit(PhoneRe)).cast("long").as("n_phones"))

  /**
   * Corpus-level top-k word n-grams by occurrence count (vocabulary /
   * boilerplate analysis; the global-statistics pass of a curation
   * pipeline). `chunk_tokens(text, n, 1)` IS the n-gram stream — sliding
   * windows of n tokens at stride 1 — with the short tail windows dropped
   * by token count. At scale: explode → map-side partial count collapses
   * each partition to its distinct grams, the one shuffle carries
   * (gram, partial) pairs, and the k-row result is a TakeOrdered merge —
   * no all-grams sort anywhere.
   */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
      n: Int, k: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && k >= 1, "n and k must be positive")
    df.where(df(textCol).isNotNull)
      .select(explode(chunkTokens(df(textCol), n, 1)).as("gram"))
      .where(tokenCount(org.apache.spark.sql.functions.col("gram")) === n)
      .groupBy("gram")
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(org.apache.spark.sql.functions.col("n_occ").desc,
        org.apache.spark.sql.functions.col("gram"))
      .limit(k)
  }

  /** Gopher/MassiveText's stopword list — the "does this look like real
    * prose" device: a quality filter requires ≥ `minDistinct` of these to
    * appear in the doc. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Number of DISTINCT words from `words` present in the text
    * (set semantics — `array_intersect` of the token array, codegen'd;
    * the oracle spelling is `list_intersect`). */
  def distinctWordsPresent(text: Column, words: Seq[String]): Column =
    size(array_intersect(tokens(text), lit(words.toArray)))

  /** Gopher-style stopword filter: keep docs containing at least
    * `minDistinct` distinct words from `words`. Stateless scan filter —
    * no shuffle, embarrassingly parallel. */
  def filterByStopwords(df: org.apache.spark.sql.DataFrame, textCol: String,
      minDistinct: Int = 2,
      words: Seq[String] = GopherStopwords): org.apache.spark.sql.DataFrame =
    df.where(distinctWordsPresent(df(textCol), words) >= minDistinct)

  /** Host component of an http(s) URL (regex restricted to the
    * java.util.regex ∩ RE2 common subset, like the PII patterns). */
  val UrlHostRe = "^https?://([^/:?#]+)"

  /** Lowercased domain of an http(s) URL; empty string when the value is
    * not an http(s) URL (both regex engines return '' on no-match for
    * group extraction). The key for domain-level curation: blocklists,
    * per-domain caps, provenance stats. */
  def extractDomain(url: Column): Column =
    col(graft.expressions.UrlHost(expr(url)))

  /** The regex spelling [[extractDomain]]'s byte kernel is property-tested
    * against (same device as the PII kernel/regex pair). */
  private[graft] def extractDomainRegex(url: Column): Column =
    lower(regexp_extract(url, UrlHostRe, 1))

  /** Drop rows whose [[extractDomain]] appears in `blocklist` (a
    * one-column `domain` DataFrame — dimension-sized, broadcast
    * anti-join). The standard web-corpus blocklist filter. */
  def filterByDomainBlocklist(df: org.apache.spark.sql.DataFrame,
      urlCol: String, blocklist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.join(broadcast(blocklist.select(org.apache.spark.sql.functions.col("domain"))),
      extractDomain(df(urlCol)) === org.apache.spark.sql.functions.col("domain"),
      "left_anti")

  /**
   * Corpus-relative token-frequency statistics per document: n_tokens plus
   * the sum and minimum of each token's CORPUS occurrence count — the
   * integer-exact analogue of an LM-perplexity quality signal (CCNet-style
   * pipelines score docs by how surprising their tokens are; min_freq = 1
   * flags docs with corpus-unique tokens, low freq_sum/n_tokens flags
   * rare-vocabulary docs). Two passes over the exploded token stream: a
   * vocabulary count aggregate (vocab ≪ corpus by Zipf), then a token-keyed
   * join back — both shuffles carry tokens, never documents, and the
   * per-doc reduce is the only doc-keyed exchange. Integer outputs keep the
   * oracle comparison exact (a log-prob sum would be float-order-dependent
   * across engines).
   *
   * Input determinism: the fused small-corpus path collects the vocabulary
   * in one job and scores documents in a later scan of the SAME plan. A
   * `df` with non-deterministic lineage (rand(), a changing external
   * table) can present tokens in the scoring scan that the collected
   * vocabulary never saw; the kernel scores those as count 1 (exact for
   * any token a deterministic plan would have counted once) rather than
   * detecting the drift. Pass a deterministic plan, or persist/checkpoint
   * the input first — the standing requirement of every two-pass operator
   * in this module.
   */
  def tokenFrequencyStats(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val c = org.apache.spark.sql.functions.col(_)
    val vocabThreshold = graft.spark.ExecTuning.confLong(df.sparkSession,
      BroadcastVocabBytesKey, DefaultBroadcastVocabBytes)
    val small = vocabThreshold > 0 &&
      (try graft.spark.ExecTuning.inputBytes(df) <= vocabThreshold
       catch { case _: Exception => false })
    val base = df.where(df(textCol).isNotNull)
      .select(df(idCol), df(textCol).as("_tfs_text"))
    val tok = base.select(c(idCol), explode(tokens(c("_tfs_text"))).as("tok"))
    val counts = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    // Measured NOTE (derived sf10, local[32]): a (doc, token) pre-aggregate
    // below a shared exchange — explode once, ReuseExchange, join deduped
    // pairs — was tried and is 1.7x SLOWER (2.7 s → 4.6 s): the pair
    // shuffle moves ~50M rows where THIS spelling shuffles almost nothing
    // (counts reduces map-side to per-task vocabulary, and the doc
    // aggregate's partials reduce before its exchange). The double explode
    // is two memory-speed scans; the "optimization" was a real shuffle.
    //
    // The vocab join must be broadcast at STATIC planning to get that
    // plan: left to AQE, the conversion happens only after the probe-side
    // exchange — all token occurrences, 99 MB at derived sf10 — is already
    // materialized, a 2.6 s write+read of data the broadcast plan never
    // ships (and below a shuffle join the doc aggregate cannot partial-
    // reduce, because cnt arrives only after the shuffle). Statically the
    // optimizer knows counts is small only by OUR contract, so this is
    // size-gated the usual ExecTuning way: corpus under the threshold ⟹
    // vocabulary (≤ distinct tokens, Heaps-law sublinear) is broadcast-
    // sized; a 100 TB corpus keeps the adaptive token-keyed shuffle join,
    // where a billion-token web vocabulary could not broadcast.
    // Under the small gate, go further than a broadcast JOIN: collect the
    // vocabulary once (bounded by VocabRowCap; the limit answers "does it
    // fit?" and "give me the rows" in one job — the ngramJaccardPairs
    // device), key it by token FNV-1a hash into sorted parallel long
    // arrays, and score every document in ONE fused kernel pass
    // (TokenFreqLookup): no exploded (doc, token) rows, no string probe,
    // no per-doc aggregate — the probe stage was measured ALLOCATION-
    // bound at derived sf10 (2.4 s at 14- and at 32-wide alike). Hash
    // keying is exact by CONSTRUCTION, not by luck: the build detects any
    // 64-bit collision between distinct vocabulary tokens (adjacent equal
    // hashes after the sort — counts rows are distinct tokens) and falls
    // back to the string-keyed broadcast-join plan, which also serves
    // over-cap vocabularies. On the fallback paths counts re-aggregates
    // lazily — one extra map-side-combined pass, the price of deciding
    // adaptively.
    if (small) {
      val vocabRows = counts.limit(VocabRowCap + 1).collect()
      if (vocabRows.length <= VocabRowCap) {
        val n = vocabRows.length
        val pairs = new Array[Array[Long]](n)
        var i = 0
        while (i < n) {
          val tokS = vocabRows(i).getString(0)
          pairs(i) = Array(graft.expressions.TextHash.fnv1a64(
            org.apache.spark.unsafe.types.UTF8String.fromString(tokS)),
            vocabRows(i).getLong(1))
          i += 1
        }
        java.util.Arrays.sort(pairs, java.util.Comparator.comparingLong(
          (p: Array[Long]) => p(0)))
        var collided = false
        i = 1
        while (i < n && !collided) {
          if (pairs(i)(0) == pairs(i - 1)(0)) collided = true
          i += 1
        }
        if (!collided) {
          val ks = new Array[Long](n)
          val cs = new Array[Long](n)
          i = 0
          while (i < n) { ks(i) = pairs(i)(0); cs(i) = pairs(i)(1); i += 1 }
          val sc = df.sparkSession.sparkContext
          val stats = col(graft.expressions.TokenFreqLookup(
            expr(c("_tfs_text")), sc.broadcast(ks), sc.broadcast(cs)))
          return base.select(c(idCol), stats.as("_tfs"))
            .select(c(idCol), c("_tfs.n_tokens").as("n_tokens"),
              c("_tfs.freq_sum").as("freq_sum"),
              c("_tfs.min_freq").as("min_freq"))
        }
      }
    }
    val countsSide = if (small) broadcast(counts) else counts
    tok.join(countsSide, "tok")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(c("cnt")).as("freq_sum"),
        min(c("cnt")).as("min_freq"))
  }

  /** Vocabulary row bound for the fused-kernel path: above it the
    * driver-side collect + per-executor broadcast would outgrow the
    * "small by contract" reasoning, so the broadcast-join plan serves
    * instead. 4M rows ≈ 64 MB of hash/count longs broadcast. */
  private[graft] val VocabRowCap = 4000000

  /** Corpus-size ceiling under which [[tokenFrequencyStats]] broadcast-
    * hints the vocabulary join (0 disables the hint).
    *
    * FAILURE MODE: the gate reads the plan's STATIC leaf estimate, which
    * for parquet is compressed on-disk bytes — a corpus under the ceiling
    * can still decompress to a vocabulary too large to broadcast
    * (driver-materialized + shipped to every executor; Spark hard-fails
    * broadcasts at 8 GB and degrades well before). The vocabulary is
    * Heaps-law sublinear in corpus bytes, which is the contract that
    * makes the hint safe, but the constant varies with tokenization —
    * hence a conservative 64 MB default (a 64 MB compressed corpus's
    * vocabulary is at most a few million tokens ≈ tens of MB broadcast)
    * rather than the 256 MB the gate once used. Corpora over the ceiling
    * keep the adaptive token-keyed shuffle join, which never ships the
    * vocabulary anywhere. */
  private[graft] val BroadcastVocabBytesKey = "spark.graft.text.broadcastVocabBytes"
  private[graft] val DefaultBroadcastVocabBytes: Long = 64L << 20

  /**
   * Deterministic split assignment: label each row 'train'/'val'/'test'
   * (or any label set) by which hash-range its key falls in — the n-way
   * generalization of [[deterministicSample]], and the same device, so
   * the assignment is a pure function of the key: reproducible across
   * runs/engines/partitionings, stable when the corpus grows, and
   * consistent with [[deterministicSample]] (a fraction-f sample is
   * exactly the union of the first splits totaling f). Fractions must sum
   * to ≤ 1; keys hashing past the last boundary get NULL (callers
   * filtering to labeled rows get an exact-fraction split).
   *
   * @param fractions (label, fraction) pairs in boundary order
   */
  def assignSplit(key: Column, fractions: Seq[(String, Double)]): Column = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0.0) &&
      fractions.map(_._2).sum <= 1.0 + 1e-12,
      "fractions must be non-negative and sum to <= 1")
    val h = conv(substring(md5Hex(key.cast("string")), 1, 15), 16, 10).cast("long")
    val bounds = fractions.scanLeft(0.0)(_ + _._2).tail
      .map(f => (f * (1L << 60).toDouble).toLong)
    fractions.map(_._1).zip(bounds).foldRight(lit(null).cast("string")) {
      case ((label, bound), otherwise) => when(h < bound, label).otherwise(otherwise)
    }
  }

  /**
   * Quality statistics struct: token count, mean token length, alpha ratio,
   * punctuation ratio, stopword ratio — the usual cheap quality-scoring
   * features for corpus filtering. All arithmetic is exact-int-then-double
   * so an oracle can reproduce it bit-for-bit.
   */
  def textStats(text: Column): Column = {
    val nChars = length(text)
    val nTok = tokenCount(text)
    // Single-pass byte-loop kernels, value-identical to the oracle's
    // length(regexp_replace(...)) formulations (see TextHash.asciiClassCount)
    // — java.util.regex with a replaced-string allocation per row was the
    // dominant cost of the corpus quality filter.
    val alpha = col(graft.expressions.AsciiClassCount(expr(text),
      graft.expressions.TextHash.ClassAlpha))
    val punct = col(graft.expressions.AsciiClassCount(expr(text),
      graft.expressions.TextHash.ClassNonAlnumSpace))
    struct(
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      round((nChars - nTok + 1).cast("double") / nTok.cast("double"), 4).as("mean_tok_len"),
      round(alpha.cast("double") / nChars.cast("double"), 4).as("alpha_ratio"),
      round(punct.cast("double") / nChars.cast("double"), 4).as("punct_ratio"))
  }
}
