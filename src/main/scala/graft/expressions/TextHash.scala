package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic text-hashing kernels for the LLM-pipeline operators
 * (dedup, fingerprinting). All algorithms are standard public constructions:
 * FNV-1a 64, the splitmix64 finalizer, MinHash (Broder 1997), SimHash
 * (Charikar 2002), and a polynomial rolling hash.
 *
 * Like [[VectorMath]], kernels are static and allocation-light so the
 * expressions below can call them from whole-stage-generated code.
 */
object TextHash {

  final val Fnv64Offset = 0xcbf29ce484222325L
  final val Fnv64Prime = 0x100000001b3L

  /** FNV-1a 64 over UTF-8 bytes. */
  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = Fnv64Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Fnv64Prime
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — cheap independent re-mix of one hash. */
  @inline def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /**
   * MinHash signature: k minima of independently re-mixed shingle hashes.
   * One base hash per shingle, k cheap mixes — O(|shingles| * k).
   */
  def minHashSignature(shingles: ArrayData, k: Int, seed: Long): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val h = fnv1a64(shingles.getUTF8String(i))
        var j = 0
        while (j < k) {
          val v = mix64(h ^ mix64(seed + j))
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /**
   * Fused tokenize → word-n-gram-shingle → MinHash kernel: one pass over
   * the UTF-8 bytes, no shingle strings materialized. Shingle identity is
   * the mix of the n token FNV hashes (equivalent power to hashing the
   * joined string; duplicates can't affect a min). Returns an empty array
   * when there are fewer than n tokens.
   */
  def minHashText(s: UTF8String, n: Int, k: Int, seed: Long): ArrayData = {
    val bytes = s.getBytes
    // 1. token FNV hashes (split on single spaces, like split(text, ' '))
    var tokenHashes = new Array[Long](math.max(8, bytes.length / 5))
    var nTokens = 0
    var h = Fnv64Offset
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (nTokens == tokenHashes.length) {
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTokens * 2)
        }
        tokenHashes(nTokens) = h
        nTokens += 1
        h = Fnv64Offset
      } else {
        h ^= (bytes(i) & 0xffL)
        h *= Fnv64Prime
      }
      i += 1
    }
    if (nTokens < n) return new GenericArrayData(Array.empty[Long])
    // 2. sliding window shingle hash + k-min signature
    val seeds = new Array[Long](k)
    var j = 0
    while (j < k) { seeds(j) = mix64(seed + j); j += 1 }
    val mins = Array.fill(k)(Long.MaxValue)
    var w = 0
    while (w <= nTokens - n) {
      var sh = 0L
      var t = 0
      while (t < n) { sh = mix64(sh ^ tokenHashes(w + t)); t += 1 }
      j = 0
      while (j < k) {
        val v = mix64(sh ^ seeds(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }

  /**
   * Lowercased host of an http(s) URL — the single-pass byte kernel for
   * `lower(regexp_extract(url, "^https?://([^/:?#]+)", 1))`, value-
   * identical by construction: a literal-prefix match ("http", optional
   * 's', "://"), then the maximal non-empty run of chars outside
   * {'/', ':', '?', '#'} (those stops are ASCII, so byte scanning is
   * exact on UTF-8 — continuation bytes can never equal them). Returns
   * "" on no match, like both engines' group extraction.
   */
  def urlHost(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    // literal "http"
    if (n < 7 || s.getByte(0) != 'h' || s.getByte(1) != 't' ||
      s.getByte(2) != 't' || s.getByte(3) != 'p') return UTF8String.EMPTY_UTF8
    i = 4
    if (i < n && s.getByte(i) == 's') i += 1
    if (i + 3 > n || s.getByte(i) != ':' || s.getByte(i + 1) != '/' ||
      s.getByte(i + 2) != '/') return UTF8String.EMPTY_UTF8
    i += 3
    val start = i
    while (i < n && {
      val b = s.getByte(i)
      b != '/' && b != ':' && b != '?' && b != '#'
    }) i += 1
    if (i == start) return UTF8String.EMPTY_UTF8
    // byte-range copy (UTF8String.substring takes CODE-POINT indices, and
    // the host may follow multi-byte chars only in degenerate inputs — but
    // never rely on byte==char here)
    val out = new Array[Byte](i - start)
    var j = 0
    while (j < out.length) { out(j) = s.getByte(start + j); j += 1 }
    UTF8String.fromBytes(out).toLowerCase
  }

  /** [[wordShingles]] in ascending binary order — the shape
    * [[jaccardSimSorted]] consumes. Sorting INSIDE the kernel (vs a
    * sort_array column) guarantees exactly one sort per document no matter
    * where the optimizer ends up evaluating the projection. */
  def wordShinglesSorted(s: UTF8String, n: Int): ArrayData = {
    val arr = wordShingles(s, n)
    val vals = arr.asInstanceOf[GenericArrayData].array
    java.util.Arrays.sort(vals.asInstanceOf[Array[Object]], 0, vals.length,
      Utf8Cmp.asInstanceOf[java.util.Comparator[Object]])
    arr
  }

  /**
   * Distinct word n-gram shingles as strings, first-occurrence order —
   * semantically `array_distinct(transform(...))` over `split(text, " ")`
   * but in one byte pass: tokens come from a single-space split and
   * shingles re-join with single spaces, so each shingle IS the original
   * byte slice spanning n consecutive space-separated fields (empty fields
   * included) and no string is ever rebuilt. Empty array when the text has
   * fewer than n fields.
   */
  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    // Field start offsets; split(" ") keeps empties, so fields = spaces + 1.
    var starts = new Array[Int](math.max(8, bytes.length / 8))
    var nTok = 1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') {
        if (nTok == starts.length) starts = java.util.Arrays.copyOf(starts, nTok * 2)
        starts(nTok) = i + 1
        nTok += 1
      }
      i += 1
    }
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    // Open-addressing dedup (first-occurrence order, = array_distinct).
    // java.util collections are deliberately avoided: a HashSet per row
    // costs ~4 node allocations + a murmur hash per element per resize,
    // and at millions of rows that allocation storm dominated the whole
    // dedup pipeline (measured via JFR: HashMap.newNode + resize were the
    // top frames). Linear probing over a right-sized array hashes each
    // shingle once and allocates nothing but the two output arrays.
    val m = nTok - n + 1
    var cap = 8
    while (cap < m * 2) cap <<= 1
    val table = new Array[UTF8String](cap)
    val out = new Array[Any](m)
    var cnt = 0
    var w = 0
    while (w <= nTok - n) {
      val off = starts(w)
      val end = if (w + n < nTok) starts(w + n) - 1 else bytes.length
      val s = UTF8String.fromBytes(bytes, off, end - off)
      var idx = s.hashCode & (cap - 1)
      var dup = false
      while (!dup && (table(idx) ne null)) {
        if (table(idx).equals(s)) dup = true
        else idx = (idx + 1) & (cap - 1)
      }
      if (!dup) { table(idx) = s; out(cnt) = s; cnt += 1 }
      w += 1
    }
    if (cnt == m) new GenericArrayData(out)
    else {
      val trimmed = new Array[Any](cnt)
      System.arraycopy(out, 0, trimmed, 0, cnt)
      new GenericArrayData(trimmed)
    }
  }

  /**
   * Count of DISTINCT word n-gram shingles of `s` that appear in the probe
   * table — the fused form of "explode shingles, join a broadcast eval-gram
   * set, count" (decontamination's hot loop). Same single byte pass and
   * open-addressing dedup as [[wordShingles]]; each NEW distinct shingle
   * probes `hashes` (fnv1a64, sorted ascending) by binary search and, on a
   * hash hit, VERIFIES bytes against the parallel `grams` entries sharing
   * that hash — hash equality alone is never trusted, so the count equals
   * the string-join semantics exactly at any collision rate.
   */
  def shingleHitCount(s: UTF8String, n: Int,
      hashes: Array[Long], grams: Array[UTF8String]): Long = {
    val bytes = s.getBytes
    var starts = new Array[Int](math.max(8, bytes.length / 8))
    var nTok = 1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') {
        if (nTok == starts.length) starts = java.util.Arrays.copyOf(starts, nTok * 2)
        starts(nTok) = i + 1
        nTok += 1
      }
      i += 1
    }
    if (nTok < n) return 0L
    val m = nTok - n + 1
    var cap = 8
    while (cap < m * 2) cap <<= 1
    val table = new Array[UTF8String](cap)
    var hits = 0L
    var w = 0
    while (w <= nTok - n) {
      val off = starts(w)
      val end = if (w + n < nTok) starts(w + n) - 1 else bytes.length
      val sh = UTF8String.fromBytes(bytes, off, end - off)
      var idx = sh.hashCode & (cap - 1)
      var dup = false
      while (!dup && (table(idx) ne null)) {
        if (table(idx).equals(sh)) dup = true
        else idx = (idx + 1) & (cap - 1)
      }
      if (!dup) {
        table(idx) = sh
        val h = fnv1a64(sh)
        var lo = java.util.Arrays.binarySearch(hashes, h)
        if (lo >= 0) {
          while (lo > 0 && hashes(lo - 1) == h) lo -= 1
          var j = lo
          var found = false
          while (!found && j < hashes.length && hashes(j) == h) {
            if (grams(j).equals(sh)) found = true
            j += 1
          }
          if (found) hits += 1
        }
      }
      w += 1
    }
    hits
  }

  // binaryCompare, NOT compareTo: Spark 4's UTF8String.compareTo re-checks
  // System.getenv("SPARK_TESTING") on EVERY call (a collation assertion),
  // and ProcessEnvironment.get re-encodes the key bytes each time — inside
  // a per-row sort it was ~90% of task CPU (observed via jstack). Default
  // collation IS binary order, so binaryCompare is semantically identical.
  private val Utf8Cmp: java.util.Comparator[UTF8String] =
    new java.util.Comparator[UTF8String] {
      override def compare(a: UTF8String, b: UTF8String): Int = a.binaryCompare(b)
    }

  /** Exact Jaccard of two string arrays under set semantics (duplicates
    * collapse; a null element counts as one distinct value on each side,
    * matching array_intersect/array_union). 0.0 when the union is empty.
    * Sort + two-pointer merge instead of hash sets: evaluated once per
    * candidate pair inside verify joins, hash-set construction (node
    * allocations, resize re-hashing) was the single hottest code path of
    * the dedup operators; sorting a few dozen pointers and merging does
    * the same exact count allocation-free. */
  def jaccardSim(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val ua = new Array[UTF8String](na)
    val ub = new Array[UTF8String](nb)
    var aNull = false
    var bNull = false
    var ka = 0
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) aNull = true
      else { ua(ka) = a.getUTF8String(i); ka += 1 }
      i += 1
    }
    var kb = 0
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bNull = true
      else { ub(kb) = b.getUTF8String(i); kb += 1 }
      i += 1
    }
    java.util.Arrays.sort(ua.asInstanceOf[Array[Object]], 0, ka, Utf8Cmp.asInstanceOf[java.util.Comparator[Object]])
    java.util.Arrays.sort(ub.asInstanceOf[Array[Object]], 0, kb, Utf8Cmp.asInstanceOf[java.util.Comparator[Object]])
    var da = 0L; var db = 0L; var inter = 0L
    var x = 0; var y = 0
    while (x < ka && y < kb) {
      val c = ua(x).binaryCompare(ub(y))
      if (c == 0) {
        da += 1; db += 1; inter += 1
        val v = ua(x)
        x += 1; while (x < ka && ua(x).equals(v)) x += 1
        y += 1; while (y < kb && ub(y).equals(v)) y += 1
      } else if (c < 0) {
        da += 1
        val v = ua(x)
        x += 1; while (x < ka && ua(x).equals(v)) x += 1
      } else {
        db += 1
        val v = ub(y)
        y += 1; while (y < kb && ub(y).equals(v)) y += 1
      }
    }
    while (x < ka) {
      da += 1
      val v = ua(x)
      x += 1; while (x < ka && ua(x).equals(v)) x += 1
    }
    while (y < kb) {
      db += 1
      val v = ub(y)
      y += 1; while (y < kb && ub(y).equals(v)) y += 1
    }
    if (aNull && bNull) inter += 1
    val union = da + db - inter + (if (aNull || bNull) 1L else 0L)
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }

  /**
   * [[jaccardSim]] for inputs already sorted ascending in binary order with
   * nulls first (= `sort_array(x)`): a straight two-pointer merge, no
   * per-call sort. The verify joins sort each document's shingle array ONCE
   * (per doc) and merge per candidate PAIR — candidates outnumber documents
   * by orders of magnitude, so moving the sort across the join boundary
   * removes the dominant per-pair cost (TimSort over ~100 pointers), which
   * also matters doubly on a cold JVM: the first single-pass execution runs
   * interpreted, and the merge loop is ~50× less interpreted work.
   *
   * PRECONDITION: elements are distinct as well as sorted (true of every
   * producer: wordShingles dedups, sort_array preserves distinctness).
   * Duplicate elements would be counted, not collapsed — use [[jaccardSim]]
   * for arbitrary arrays.
   */
  def jaccardSimSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    // nulls sort first: count and skip them.
    var x = 0
    while (x < na && a.isNullAt(x)) x += 1
    var y = 0
    while (y < nb && b.isNullAt(y)) y += 1
    val aNull = x > 0
    val bNull = y > 0
    // Strict merge, one binaryCompare per advance: sorted-DISTINCT inputs
    // mean no duplicate-skip loop is needed (a per-element equals check was
    // the top frame in the verify profile). wordShingles output is distinct
    // by construction and sort_array preserves that.
    var da = 0L; var db = 0L; var inter = 0L
    var va: UTF8String = null
    var vb: UTF8String = null
    while (x < na && y < nb) {
      if (va == null) va = a.getUTF8String(x)
      if (vb == null) vb = b.getUTF8String(y)
      val c = va.binaryCompare(vb)
      if (c == 0) {
        da += 1; db += 1; inter += 1
        x += 1; y += 1
        va = null; vb = null
      } else if (c < 0) {
        da += 1; x += 1; va = null
      } else {
        db += 1; y += 1; vb = null
      }
    }
    da += na - x
    db += nb - y
    if (aNull && bNull) inter += 1
    val union = da + db - inter + (if (aNull || bNull) 1L else 0L)
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }

  /** Sorted-distinct LSH band keys of a MinHash signature: band b's key
    * mixes b with the band's r = |sig|/bands signature rows (splitmix64
    * chaining — equal slices ⟹ equal keys, distinct slices collide at
    * 2^-64 like any 64-bit hash; WHICH hash is immaterial to LSH because
    * band agreement is decided by the signature rows, the key only names
    * the bucket). One pass, no per-row array/lambda machinery — the
    * sort_array(array_distinct(transform(sequence(...), slice/xxhash64)))
    * spelling this replaces ran as interpreted higher-order functions,
    * measured 3-5 s PER CONSUMER over 500k docs at derived sf10. */
  def bandKeySets(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    // Fail LOUD on an indivisible signature: the DataFrame-level require
    // only validates the caller-PASSED k, so a sig column whose actual
    // length differs would otherwise silently drop its docs from LSH
    // candidacy (an empty key set joins nothing).
    if (n % bands != 0) throw new IllegalArgumentException(
      s"minhash signature length $n is not divisible by bands=$bands — " +
        "the signature column does not match the k this call was given")
    val r = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mix64(b.toLong ^ 0x9e3779b97f4a7c15L)
      var i = 0
      while (i < r) { h = mix64(h ^ sig.getLong(b * r + i)); i += 1 }
      out(b) = h
      b += 1
    }
    java.util.Arrays.sort(out)
    var d = 1
    var i = 1
    while (i < bands) {
      if (out(i) != out(d - 1)) { out(d) = out(i); d += 1 }
      i += 1
    }
    new GenericArrayData(if (d == bands) out else java.util.Arrays.copyOf(out, d))
  }

  /** Fused per-document token-frequency statistics against a hash-keyed
    * vocabulary (sorted parallel arrays of token FNV-1a hash → corpus
    * count): one pass over the UTF-8 bytes, no token strings, no explode
    * rows, no join. Token identity is split-on-single-space INCLUDING
    * empty segments — exactly `split(text, ' ')` / DuckDB
    * `string_split`. The caller guarantees the vocabulary was built from
    * the same corpus AND is collision-free on the 64-bit hash (checked
    * at build time; collision ⟹ fall back to the join plan), so every
    * lookup hits; a miss — only possible if a caller hands a foreign
    * vocabulary — scores the token as df 1, a token's floor occurrence.
    * Returns (n_tokens, freq_sum, min_freq). */
  def tokenFreqStats(s: UTF8String, keys: Array[Long],
      cnts: Array[Long]): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    var n = 0L
    var sum = 0L
    var mn = Long.MaxValue
    var h = Fnv64Offset
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        val idx = java.util.Arrays.binarySearch(keys, h)
        val cnt = if (idx >= 0) cnts(idx) else 1L
        n += 1
        sum += cnt
        if (cnt < mn) mn = cnt
        h = Fnv64Offset
      } else {
        h ^= (bytes(i) & 0xffL)
        h *= Fnv64Prime
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, sum, mn))
  }

  /** Sorted-distinct 64-bit word-shingle hashes: the same fused
    * tokenize → n-gram → hash pass as [[minHashText]] (identical shingle
    * identity — the iterated mix64 of the window's token FNV hashes),
    * stopping at the hash instead of folding k minima. The exact-Jaccard
    * verify runs over THESE instead of shingle strings: per-doc payload
    * drops ~3x (8 B/element vs ~20 B string + offset) and the per-pair
    * merge compares longs instead of UTF-8 byte strings. Jaccard over
    * hash sets equals Jaccard over the string sets absent a 64-bit
    * collision inside one candidate pair's shingle union (≤ thousands of
    * elements → P ≈ 1e-8 across tens of millions of pairs) — the same
    * exposure class the MinHash/LSH candidate stage already accepts, via
    * the same hash identity. */
  def wordShingleHashesSorted(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    var tokenHashes = new Array[Long](math.max(8, bytes.length / 5))
    var nTokens = 0
    var h = Fnv64Offset
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (nTokens == tokenHashes.length) {
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTokens * 2)
        }
        tokenHashes(nTokens) = h
        nTokens += 1
        h = Fnv64Offset
      } else {
        h ^= (bytes(i) & 0xffL)
        h *= Fnv64Prime
      }
      i += 1
    }
    if (nTokens < n) return new GenericArrayData(Array.empty[Long])
    val m = nTokens - n + 1
    val out = new Array[Long](m)
    var w = 0
    while (w < m) {
      var sh = 0L
      var t = 0
      while (t < n) { sh = mix64(sh ^ tokenHashes(w + t)); t += 1 }
      out(w) = sh
      w += 1
    }
    java.util.Arrays.sort(out)
    // in-place unique (sets, matching wordShingles' distinct semantics)
    var d = 1
    i = 1
    while (i < m) {
      if (out(i) != out(d - 1)) { out(d) = out(i); d += 1 }
      i += 1
    }
    new GenericArrayData(if (d == m) out else java.util.Arrays.copyOf(out, d))
  }

  /** Jaccard similarity of two sorted-distinct long arrays — the
    * [[jaccardSimSorted]] merge specialized to [[wordShingleHashesSorted]]
    * output (no null elements, primitive compares). */
  def jaccardSimSortedLongs(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na.toLong + nb.toLong - inter
    if (union == 0L) 0.0 else inter.toDouble / union.toDouble
  }

  /** 64-bit SimHash over a token array (term-frequency weighted). */
  def simHash64(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv1a64(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Polynomial rolling hash (base 1000003, mod 2^64) of the whole string —
    * the document-fingerprint primitive. */
  def rollingFingerprint(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  final val ClassAlpha = 0
  final val ClassNonAlnumSpace = 1
  final val ClassSpace = 2
  final val ClassBpeRuns = 3

  /**
   * Single-pass ASCII character-class counter over UTF-8 bytes — the
   * text-quality kernels without java.util.regex. Exactly equals the regex
   * formulations the oracle uses (the classes are pure-ASCII, so every
   * non-ASCII code point is "not in class"; a code point's leading byte
   * stands for the whole char, continuation bytes are skipped):
   *
   *   ClassAlpha         = length(regexp_replace(s, "[^a-z]", "")): bytes
   *                        'a'..'z' (never part of a multi-byte char)
   *   ClassNonAlnumSpace = length(regexp_replace(s, "[a-z0-9 ]", "")):
   *                        char-start bytes not a-z / 0-9 / space
   *   ClassSpace         = count of ' ' (0x20)
   *   ClassBpeRuns       = len(regexp_extract_all(s, "[a-z]+|[0-9]+|[^a-z0-9 ]")):
   *                        the alternation's branches are disjoint, so the
   *                        leftmost-greedy match count is maximal a-z runs
   *                        + maximal 0-9 runs + one per other non-space
   *                        char — countable in the same single byte pass
   *                        (a multi-byte char breaks a run exactly like the
   *                        regex does, since its bytes are outside a-z/0-9)
   *
   * java.util.regex with per-row replaced-string allocation runs at tens of
   * MB/s; this loop runs at memory bandwidth — the difference is the whole
   * cost of the corpus quality filter at scale.
   */
  def asciiClassCount(s: UTF8String, mode: Int): Int = {
    val n = s.numBytes
    var cnt = 0
    var i = 0
    mode match {
      case ClassAlpha =>
        while (i < n) {
          val b = s.getByte(i)
          if (b >= 'a' && b <= 'z') cnt += 1
          i += 1
        }
      case ClassNonAlnumSpace =>
        while (i < n) {
          val b = s.getByte(i)
          // count char-start bytes (ASCII or UTF-8 leading) outside the class
          if ((b & 0xC0) != 0x80 && !(b >= 'a' && b <= 'z') &&
            !(b >= '0' && b <= '9') && b != ' ') cnt += 1
          i += 1
        }
      case ClassBpeRuns =>
        var prev = ' '.toByte
        while (i < n) {
          val b = s.getByte(i)
          if (b >= 'a' && b <= 'z') {
            if (!(prev >= 'a' && prev <= 'z')) cnt += 1
          } else if (b >= '0' && b <= '9') {
            if (!(prev >= '0' && prev <= '9')) cnt += 1
          } else if (b != ' ' && (b & 0xC0) != 0x80) cnt += 1
          prev = b
          i += 1
        }
      case _ =>
        while (i < n) {
          if (s.getByte(i) == ' ') cnt += 1
          i += 1
        }
    }
    cnt
  }

  /**
   * The corpus quality score of a non-null text ([[graft.text.TextFunctions.qualityScore]])
   * from one byte pass: chars as `length` counts them
   * (`UTF8String.numChars`), tokens (spaces + 1), a-z bytes
   * ([[ClassAlpha]]) and char-start bytes outside a-z / 0-9 / space
   * ([[ClassNonAlnumSpace]]). The arithmetic and rounding are those of the
   * [[graft.text.TextFunctions.textStats]] composition it replaces, in the
   * same order, so the doubles are bit-identical. NaN for the empty text,
   * whose ratios divide by zero.
   */
  def qualityScore(s: UTF8String): Double = {
    val n = s.numBytes
    var chars = 0
    var spaces = 0
    var alpha = 0
    var punct = 0
    var nextChar = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (i >= nextChar) {
        chars += 1
        nextChar = i + UTF8String.numBytesForFirstByte(b)
      }
      if (b >= 'a' && b <= 'z') alpha += 1
      else if (b == ' ') spaces += 1
      else if ((b & 0xC0) != 0x80 && !(b >= '0' && b <= '9')) punct += 1
      i += 1
    }
    if (chars == 0) return Double.NaN
    val tokens = spaces + 1
    val meanTokLen = roundHalfUp((chars - tokens + 1).toDouble / tokens.toDouble, 4)
    val alphaRatio = roundHalfUp(alpha.toDouble / chars.toDouble, 4)
    val punctRatio = roundHalfUp(punct.toDouble / chars.toDouble, 4)
    val lengthOk = math.min(tokens.toDouble / 20.0, 1.0)
    val punctOk = 1.0 - math.min(punctRatio * 4.0, 1.0)
    val tokOk = if (meanTokLen >= 2.0 && meanTokLen <= 12.0) 1.0 else 0.25
    roundHalfUp(lengthOk * 0.25 + alphaRatio * 0.35 + punctOk * 0.2 + tokOk * 0.2, 6)
  }

  /** Spark's `round(d, scale)` of a finite double. */
  private def roundHalfUp(d: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(d).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue

  /**
   * Single-pass repetition signals over space-split tokens — the raw
   * counts behind the Gopher/MassiveText repetition filters (Rae et al.
   * 2021 §A1.1): total tokens, distinct tokens, total bigrams
   * (= max(0, n_tokens−1)) and the occurrence count of the most frequent
   * bigram. Downstream filters derive e.g. `1 − n_distinct/n_tokens`
   * (duplicate-token fraction) and `top_bigram/n_bigrams`.
   *
   * Token identity is the FNV-1a 64 hash (the [[minHashText]] convention):
   * at document scale a 64-bit collision is ~1e-13, so the counts equal
   * exact string grouping — which is what the unnest+GROUP BY oracle
   * computes. Split semantics mirror `split(text, ' ')` with empty tokens
   * kept, so both engines tokenize identically. One pass over the UTF-8
   * bytes plus two open-addressed count tables; no strings materialized.
   */
  def repetitionStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    var tokenHashes = new Array[Long](math.max(8, bytes.length / 5))
    var nTokens = 0
    var h = Fnv64Offset
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (nTokens == tokenHashes.length) {
          tokenHashes = java.util.Arrays.copyOf(tokenHashes, nTokens * 2)
        }
        tokenHashes(nTokens) = h
        nTokens += 1
        h = Fnv64Offset
      } else {
        h ^= (bytes(i) & 0xffL)
        h *= Fnv64Prime
      }
      i += 1
    }
    def pow2(atLeast: Int): Int = {
      var c = 8
      while (c < atLeast) c <<= 1
      c
    }
    // distinct tokens: open-addressed set keyed by token hash (count==0 ⇔
    // slot empty — a present key always has count ≥ 1, so no sentinel key)
    val tcap = pow2(nTokens * 2)
    val tkeys = new Array[Long](tcap)
    val tcnt = new Array[Int](tcap)
    var nDistinct = 0
    var w = 0
    while (w < nTokens) {
      val k = tokenHashes(w)
      var slot = (mix64(k) & (tcap - 1)).toInt
      while (tcnt(slot) != 0 && tkeys(slot) != k) slot = (slot + 1) & (tcap - 1)
      if (tcnt(slot) == 0) { tkeys(slot) = k; nDistinct += 1 }
      tcnt(slot) += 1
      w += 1
    }
    val nBigrams = math.max(0, nTokens - 1)
    var top = 0
    if (nBigrams > 0) {
      val bcap = pow2(nBigrams * 2)
      val bkeys = new Array[Long](bcap)
      val bcnt = new Array[Int](bcap)
      w = 0
      while (w < nBigrams) {
        val k = mix64(mix64(tokenHashes(w)) ^ tokenHashes(w + 1))
        var slot = (k & (bcap - 1)).toInt
        while (bcnt(slot) != 0 && bkeys(slot) != k) slot = (slot + 1) & (bcap - 1)
        if (bcnt(slot) == 0) bkeys(slot) = k
        bcnt(slot) += 1
        if (bcnt(slot) > top) top = bcnt(slot)
        w += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens.toLong, nDistinct.toLong, nBigrams.toLong, top.toLong))
  }

  private[expressions] val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  /**
   * Lowercase-hex MD5 of the UTF-8 bytes — byte-identical to Spark's
   * built-in `md5` (and DuckDB's), but with a THREAD-LOCAL reused digest:
   * the built-in goes through commons-codec `DigestUtils.md5Hex`, which
   * calls `MessageDigest.getInstance` per ROW (a JCA provider lookup +
   * allocation that dominated the exact-dedup scan: ~1 µs/row ≈ half the
   * corpus-hash stage at 500k docs/s-scale row counts).
   */
  def md5Hex(s: UTF8String): UTF8String = {
    val d = md5Digest.get()
    d.reset()
    val out = d.digest(s.getBytes)
    val hex = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = HexChars((out(i) >> 4) & 0xf).toByte
      hex(2 * i + 1) = HexChars(out(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  /** Sorted-distinct keys → one struct per key: (v, pre = the keys
    * strictly below v). The LSH band explode emits these so each bucket
    * row carries only the PREFIX the unique-emission check needs: a pair
    * colliding at bucket v is emitted iff the two sides share no key
    * BELOW v (⟺ v is the minimum shared key — the FirstSharedIs
    * criterion restated over prefixes). Total longs carried per doc fall
    * from bands² (the full set on every exploded row) to
    * bands(bands−1)/2 — the band-join exchange is the near-dup
    * pipeline's largest, so the prefix spelling roughly halves it
    * (round 10). */
  def sortedPrefixes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val pre = new Array[Long](i)
      var j = 0
      while (j < i) { pre(j) = arr.getLong(j); j += 1 }
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](arr.getLong(i), new GenericArrayData(pre)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** True iff two SORTED long arrays share no element (one merge pass,
    * exits on the first match) — the prefix form of the unique-emission
    * predicate: see [[sortedPrefixes]]. */
  def noSharedSortedLongs(a: ArrayData, b: ArrayData): Boolean = {
    val na = a.numElements()
    val nb = b.numElements()
    var x = 0
    var y = 0
    while (x < na && y < nb) {
      val va = a.getLong(x)
      val vb = b.getLong(y)
      if (va == vb) return false
      else if (va < vb) x += 1
      else y += 1
    }
    true
  }

  /**
   * MD5 digest as TWO SIGNED-ORDER-FLIPPED longs: h1 = bytes 0–7
   * big-endian, h2 = bytes 8–15, each XOR'd with Long.MinValue so that
   * SIGNED (h1, h2) tuple order equals unsigned 128-bit digest order —
   * which equals the lowercase-hex string's lexicographic order. The
   * md5-order devices (Mix fill order, deterministic sampling order) can
   * therefore shuffle and sort 16 bytes of primitive longs instead of a
   * 32-char string, with the IDENTICAL total order the oracles pin
   * (hex-lex = byte-lex = unsigned numeric = flipped-signed numeric).
   */
  def md5Longs(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val d = md5Digest.get()
    d.reset()
    val out = d.digest(s.getBytes)
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < 8) { h1 = (h1 << 8) | (out(i) & 0xffL); i += 1 }
    while (i < 16) { h2 = (h2 << 8) | (out(i) & 0xffL); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](h1 ^ Long.MinValue, h2 ^ Long.MinValue))
  }

  /**
   * Token-window chunking — the sequence-segmentation step of a training
   * pipeline: split a document into windows of `size` tokens starting
   * every `stride` tokens (stride < size ⇒ overlapping windows; the last
   * window may be short). Because tokens are the `split(text, ' ')`
   * convention (single-space separators, empty tokens kept), every chunk
   * is a CONTIGUOUS BYTE SLICE of the original string — the kernel records
   * token boundary offsets in one pass and emits zero-copy-adjacent
   * substrings, identical to `array_to_string(w[a:b], ' ')` in the oracle.
   */
  /**
   * Remove every token covered by a `size`-token window starting at any
   * index in `starts` (ASCENDING longs — the caller sorts, like
   * [[jaccardSimSorted]]'s contract): struct(text rebuilt from the kept
   * tokens single-space-joined, n_removed). The span-removal half of
   * exact substring dedup (Lee et al. 2021): the caller supplies the
   * start positions of corpus-repeated windows; a token at index k is
   * removed iff some start s satisfies s ≤ k < s + size. One sweep with
   * a coverage-end watermark — O(tokens + starts) per document.
   */
  /** Token-boundary scan shared by [[chunkTokens]] and
    * [[dropCoveredTokens]]: (start byte offsets, token count) under the
    * `split(text, ' ')` convention. Token k ends at starts(k+1) − 1 (the
    * space) except the last, which ends at the byte length. */
  private[expressions] def tokenBoundaries(bytes: Array[Byte]): (Array[Int], Int) = {
    var starts = new Array[Int](16)
    var nTokens = 0
    var i = 0
    var tokenStart = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (nTokens == starts.length) starts = java.util.Arrays.copyOf(starts, nTokens * 2)
        starts(nTokens) = tokenStart
        nTokens += 1
        tokenStart = i + 1
      }
      i += 1
    }
    (starts, nTokens)
  }

  def dropCoveredTokens(s: UTF8String, starts: ArrayData, size: Int):
      org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val (st, nTokens) = tokenBoundaries(bytes)
    def tokenEnd(k: Int): Int =
      if (k == nTokens - 1) bytes.length else st(k + 1) - 1
    val ss = starts.toLongArray()
    val kept = new Array[UTF8String](nTokens)
    var nKept = 0
    var removed = 0L
    var p = 0
    var covEnd = -1L
    var k = 0
    while (k < nTokens) {
      while (p < ss.length && ss(p) <= k) {
        val e = ss(p) + size
        if (e > covEnd) covEnd = e
        p += 1
      }
      if (k < covEnd) {
        removed += 1
      } else {
        kept(nKept) = UTF8String.fromBytes(bytes, st(k), tokenEnd(k) - st(k))
        nKept += 1
      }
      k += 1
    }
    val outText = UTF8String.concatWs(UTF8String.fromString(" "),
      java.util.Arrays.copyOf(kept, nKept).toIndexedSeq: _*)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](outText, removed))
  }

  def chunkTokens(s: UTF8String, size: Int, stride: Int): ArrayData = {
    require(size > 0 && stride > 0, "chunk size and stride must be positive")
    val bytes = s.getBytes
    val (starts, nTokens) = tokenBoundaries(bytes)
    def tokenEnd(k: Int): Int =
      if (k == nTokens - 1) bytes.length else starts(k + 1) - 1
    val nChunks = 1 + (nTokens - 1) / stride
    val out = new Array[Any](nChunks)
    var c = 0
    var a = 0
    while (a < nTokens) {
      val last = math.min(a + size, nTokens) - 1
      val from = starts(a)
      out(c) = UTF8String.fromBytes(bytes, from, tokenEnd(last) - from)
      c += 1
      a += stride
    }
    new GenericArrayData(out)
  }
}

/** minhash_signature(shingles ARRAY<STRING>, k, seed) -> ARRAY<BIGINT>. */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {
  require(k > 0, "minhash k must be positive")
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHash.minHashSignature(v.asInstanceOf[ArrayData], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.minHashSignature($c, $k, ${seed}L)")
  override def prettyName: String = "minhash_signature"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** minhash_text(text STRING, n, k, seed) -> ARRAY<BIGINT>: fused
  * shingle+MinHash (no intermediate shingle array). */
case class MinHashText(child: Expression, n: Int, k: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0 && k > 0, "shingle n and minhash k must be positive")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHash.minHashText(v.asInstanceOf[UTF8String], n, k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.minHashText($c, $n, $k, ${seed}L)")
  override def prettyName: String = "minhash_text"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** simhash64(tokens ARRAY<STRING>) -> BIGINT. */
case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = TextHash.simHash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.simHash64($c)")
  override def prettyName: String = "simhash64"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** fingerprint64(text STRING) -> BIGINT (rolling hash). */
case class Fingerprint64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextHash.rollingFingerprint(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.rollingFingerprint($c)")
  override def prettyName: String = "fingerprint64"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** url_host(url STRING) -> STRING — see [[TextHash.urlHost]]. */
case class UrlHost(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = TextHash.urlHost(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.urlHost($c)")
  override def prettyName: String = "url_host"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ascii_class_count(text, mode) -> INT — see [[TextHash.asciiClassCount]]. */
case class AsciiClassCount(child: Expression, mode: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    TextHash.asciiClassCount(v.asInstanceOf[UTF8String], mode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.asciiClassCount($c, $mode)")
  override def prettyName: String = "ascii_class_count"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** quality_score(text) -> DOUBLE — see [[TextHash.qualityScore]]. NULL for
  * a NULL text. The empty text gives NULL, or under ANSI mode (read when
  * the expression is built, as Spark's `/` reads it) the DIVIDE_BY_ZERO
  * error, as the composition's ratios do. One expression, so a filter
  * pushed below a projection evaluates the projected text once, not once
  * per feature. */
case class QualityScore(child: Expression, failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val q = TextHash.qualityScore(v.asInstanceOf[UTF8String])
    if (!q.isNaN) q else if (failOnError) throw Bridge.divideByZero() else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val q = ctx.freshName("quality")
    nullSafeCodeGen(ctx, ev, c =>
      s"""double $q = graft.expressions.TextHash.qualityScore($c);
         |if (!Double.isNaN($q)) { ${ev.value} = $q; }
         |else if ($failOnError) { throw org.apache.spark.sql.graftbridge.Bridge.divideByZero(); }
         |else { ${ev.isNull} = true; }""".stripMargin)
  }
  override def prettyName: String = "quality_score"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** word_shingles(text, n) -> ARRAY<STRING> — see [[TextHash.wordShingles]].
  * A fused kernel for what `array_distinct(transform(sequence(...),
  * concat_ws(slice(split(text, " "), ...))))` spells: higher-order
  * functions evaluate interpreted per element, which made shingling the
  * dominant cost of every text-dedup pipeline. */
case class WordShingles(child: Expression, n: Int, sorted: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, "shingle n must be positive")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  private def fn = if (sorted) "wordShinglesSorted" else "wordShingles"
  override def nullSafeEval(v: Any): Any =
    if (sorted) TextHash.wordShinglesSorted(v.asInstanceOf[UTF8String], n)
    else TextHash.wordShingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.$fn($c, $n)")
  override def prettyName: String = "word_shingles"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[TextHash.bandKeySets]] as a codegen'd expression. */
case class BandKeySets(child: Expression, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands > 0, "bands must be positive")
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHash.bandKeySets(v.asInstanceOf[ArrayData], bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.bandKeySets($c, $bands)")
  override def prettyName: String = "band_key_sets"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[TextHash.tokenFreqStats]] as a codegen'd expression: per-document
  * (n_tokens, freq_sum, min_freq) against a BROADCAST hash-keyed
  * vocabulary — the zero-allocation plan for corpus-relative token
  * scoring when the vocabulary is small by contract. The arrays ride a
  * `Broadcast` (fetched once per executor, not shipped per task in the
  * codegen references); `.value` is hoisted into generated-class init so
  * the per-row path is one byte scan + binary searches. */
case class TokenFreqLookup(child: Expression,
    keys: org.apache.spark.broadcast.Broadcast[Array[Long]],
    cnts: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = TokenFreqLookup.schema
  override def nullSafeEval(v: Any): Any =
    TextHash.tokenFreqStats(v.asInstanceOf[UTF8String], keys.value, cnts.value)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kRef = ctx.addReferenceObj("tfKeysBc", keys,
      "org.apache.spark.broadcast.Broadcast")
    val cRef = ctx.addReferenceObj("tfCntsBc", cnts,
      "org.apache.spark.broadcast.Broadcast")
    val kArr = ctx.addMutableState("long[]", "tfKeys",
      v => s"$v = (long[])$kRef.value();")
    val cArr = ctx.addMutableState("long[]", "tfCnts",
      v => s"$v = (long[])$cRef.value();")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextHash.tokenFreqStats($c, $kArr, $cArr)")
  }
  override def prettyName: String = "token_freq_lookup"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TokenFreqLookup {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("freq_sum", LongType, nullable = false),
    StructField("min_freq", LongType, nullable = false)))
}

/** [[TextHash.shingleHitCount]] as a codegen'd expression: per-document
  * count of distinct word n-gram shingles present in a BROADCAST eval-gram
  * table (fnv1a64-sorted hashes + parallel grams for byte verification).
  * Same `Broadcast`-hoisting shape as [[TokenFreqLookup]]: arrays fetched
  * once per executor, `.value` unwrapped in generated-class init, so the
  * per-row path is one byte scan + binary searches — no explode, no join,
  * no aggregation. */
case class ShingleHitCount(child: Expression, n: Int,
    hashes: org.apache.spark.broadcast.Broadcast[Array[Long]],
    grams: org.apache.spark.broadcast.Broadcast[Array[UTF8String]])
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, "shingle n must be positive")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    TextHash.shingleHitCount(v.asInstanceOf[UTF8String], n, hashes.value, grams.value)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hRef = ctx.addReferenceObj("shingleHashesBc", hashes,
      "org.apache.spark.broadcast.Broadcast")
    val gRef = ctx.addReferenceObj("shingleGramsBc", grams,
      "org.apache.spark.broadcast.Broadcast")
    val hArr = ctx.addMutableState("long[]", "shingleHashes",
      v => s"$v = (long[])$hRef.value();")
    val gArr = ctx.addMutableState("org.apache.spark.unsafe.types.UTF8String[]",
      "shingleGrams",
      v => s"$v = (org.apache.spark.unsafe.types.UTF8String[])$gRef.value();")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextHash.shingleHitCount($c, $n, $hArr, $gArr)")
  }
  override def prettyName: String = "shingle_hit_count"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[TextHash.wordShingleHashesSorted]] as a codegen'd expression —
  * sorted-distinct 64-bit shingle hashes, the compact verify-side
  * payload. */
case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, "shingle n must be positive")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHash.wordShingleHashesSorted(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.wordShingleHashesSorted($c, $n)")
  override def prettyName: String = "word_shingle_hashes"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** bloom_hit_count(hashes) -> BIGINT: how many of a row's 64-bit shingle
  * hashes a BROADCAST Bloom filter claims to contain. The screening half
  * of the two-phase decontamination plan for eval sets too large to
  * materialize (see `text/Decontaminate.scala`): 0 positives proves a doc
  * clean (Bloom filters have no false negatives); positives are verified
  * exactly downstream. Same `Broadcast`-hoisting shape as
  * [[TokenFreqLookup]]. */
case class BloomHitCount(child: Expression,
    bf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    BloomHitCount.count(v.asInstanceOf[ArrayData], bf.value)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfRef = ctx.addReferenceObj("bloomBc", bf,
      "org.apache.spark.broadcast.Broadcast")
    val bfv = ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter",
      "bloom", v => s"$v = (org.apache.spark.util.sketch.BloomFilter)$bfRef.value();")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.BloomHitCount.count($c, $bfv)")
  }
  override def prettyName: String = "bloom_hit_count"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object BloomHitCount {
  def count(arr: ArrayData, bf: org.apache.spark.util.sketch.BloomFilter): Long = {
    var hits = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (bf.mightContainLong(arr.getLong(i))) hits += 1
      i += 1
    }
    hits
  }
}

/** [[TextHash.jaccardSimSortedLongs]] as a codegen'd expression. */
case class JaccardSimSortedLongs(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.jaccardSimSortedLongs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.TextHash.jaccardSimSortedLongs($a, $b)")
  override def prettyName: String = "jaccard_sim_sorted_longs"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** jaccard_sim(a ARRAY<STRING>, b ARRAY<STRING>) -> DOUBLE — one-pass
  * set-semantics Jaccard (see [[TextHash.jaccardSim]]); replaces the
  * array_intersect/array_union composition in verify joins. */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.jaccardSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.TextHash.jaccardSim($a, $b)")
  override def prettyName: String = "jaccard_sim"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** repetition_stats(text) -> STRUCT<n_tokens, n_distinct, n_bigrams,
  * top_bigram: BIGINT> — see [[TextHash.repetitionStats]]. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = RepetitionStats.schema
  override def nullSafeEval(v: Any): Any =
    TextHash.repetitionStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.repetitionStats($c)")
  override def prettyName: String = "repetition_stats"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** md5_hex(text) -> STRING — drop-in for the built-in `md5(string)` with a
  * reused thread-local digest; see [[TextHash.md5Hex]]. */
case class Md5Hex(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    TextHash.md5Hex(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.md5Hex($c)")
  override def prettyName: String = "md5_hex"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** md5_longs(text) -> STRUCT<h1: BIGINT, h2: BIGINT> — the digest as two
  * signed-order-flipped longs whose (h1, h2) order equals the hex string's
  * lexicographic order; see [[TextHash.md5Longs]]. The md5-order devices
  * shuffle/sort these 16 bytes instead of the 32-char hex. */
case class Md5Longs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))
  override def nullSafeEval(v: Any): Any =
    TextHash.md5Longs(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.md5Longs($c)")
  override def prettyName: String = "md5_longs"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** drop_covered_tokens(text, starts ARRAY<BIGINT> ascending, size) ->
  * STRUCT<text: STRING, n_removed: BIGINT> — see
  * [[TextHash.dropCoveredTokens]]. */
case class DropCoveredTokens(left: Expression, right: Expression, size: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(size > 0, "window size must be positive")
  override def inputTypes = Seq(StringType, ArrayType(LongType))
  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.dropCoveredTokens(a.asInstanceOf[UTF8String],
      b.asInstanceOf[ArrayData], size)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expressions.TextHash.dropCoveredTokens($a, $b, $size)")
  override def prettyName: String = "drop_covered_tokens"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** chunk_tokens(text, size, stride) -> ARRAY<STRING> — see
  * [[TextHash.chunkTokens]]. */
case class ChunkTokens(child: Expression, size: Int, stride: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(size > 0 && stride > 0, "chunk size and stride must be positive")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHash.chunkTokens(v.asInstanceOf[UTF8String], size, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.chunkTokens($c, $size, $stride)")
  override def prettyName: String = "chunk_tokens"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RepetitionStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("top_bigram", LongType, nullable = false)))
}

/** [[TextHash.sortedPrefixes]] as an expression: sorted-distinct keys →
  * ARRAY<STRUCT<v: BIGINT, pre: ARRAY<BIGINT>>> — the band explode's
  * prefix-carrying shape (each bucket row ships only the keys below its
  * own value; see the kernel scaladoc for the exchange-size argument). */
case class SortedPrefixes(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v", LongType, nullable = false),
    StructField("pre", ArrayType(LongType, containsNull = false), nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    TextHash.sortedPrefixes(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHash.sortedPrefixes($c)")
  override def prettyName: String = "sorted_prefixes"
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[TextHash.noSharedSortedLongs]] as a codegen'd join predicate: true
  * iff two sorted long arrays are disjoint — with [[SortedPrefixes]] this
  * is the unique-emission check (no shared key below the shared bucket
  * ⟺ the bucket is the pair's minimum shared key). */
case class NoSharedSortedLongs(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.noSharedSortedLongs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.TextHash.noSharedSortedLongs($a, $b)")
  override def prettyName: String = "no_shared_sorted"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** jaccard_sim over arrays the caller guarantees are `sort_array`-ordered —
  * see [[TextHash.jaccardSimSorted]]; the verify-join fast path. */
case class JaccardSimSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHash.jaccardSimSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expressions.TextHash.jaccardSimSorted($a, $b)")
  override def prettyName: String = "jaccard_sim_sorted"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
