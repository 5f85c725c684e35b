package vssbench

import scala.util.Random

/**
 * Seeded input generators. The program receives only what these produce;
 * the same seed always gives the same inputs.
 */

/** Clustered vectors with a low intrinsic dimension, like real embeddings:
  * `clusters` Gaussian centers in a `latent`-dimensional space, mapped to
  * `dim` dimensions by a fixed random linear map, plus small isotropic
  * noise. (An isotropic corpus is unrealistic: HNSW recall@10 at ef=64
  * falls to about 0.5 on it.) */
final class VectorSpace(seed: Long, val dim: Int, clusters: Int = 32, latent: Int = 12) {
  private val init = new Random(seed)
  private val proj = Array.fill(latent, dim)((init.nextGaussian() / math.sqrt(latent)).toFloat)
  private val centers = Array.fill(clusters, latent)((init.nextGaussian() * 2.0).toFloat)

  def draw(r: Random): Array[Float] = {
    val c = centers(r.nextInt(clusters))
    val z = Array.tabulate(latent)(i => c(i) + r.nextGaussian().toFloat)
    Array.tabulate(dim) { j =>
      var s = 0f
      var i = 0
      while (i < latent) { s += z(i) * proj(i)(j); i += 1 }
      s + 0.05f * r.nextGaussian().toFloat
    }
  }

  /** `n` vectors from an independent stream named `stream`. */
  def sample(stream: Long, n: Int): Array[Array[Float]] = {
    val r = new Random(seed * 1000003L + stream)
    Array.fill(n)(draw(r))
  }
}

object Exact {
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact top-k (key, squared l2) of `q` among `keys`/`vecs` that pass `keep`. */
  def topK(q: Array[Float], keys: Array[Long], vecs: Array[Array[Float]], k: Int,
      keep: Int => Boolean = _ => true): Array[(Long, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    var i = 0
    while (i < keys.length) {
      if (keep(i)) {
        val d = l2sq(q, vecs(i))
        if (heap.size < k) heap.enqueue((d, keys(i)))
        else if (d < heap.head._1) { heap.dequeue(); heap.enqueue((d, keys(i))) }
      }
      i += 1
    }
    heap.toArray.sortBy(_._1).map { case (d, key) => (key, d) }
  }

  /** Share of `exact` keys that `got` contains. */
  def recall(got: Iterable[Long], exact: Array[(Long, Double)]): Double =
    if (exact.isEmpty) 1.0
    else { val g = got.toSet; exact.count(e => g.contains(e._1)).toDouble / exact.length }
}

/**
 * A document corpus with planted curation targets: exact-duplicate groups,
 * near-duplicate clusters (one word substituted per variant), documents
 * carrying PII, low-quality documents and documents that copy a span of
 * an evaluation document. Clean documents are random draws from a seeded
 * vocabulary, so they share no 3-word shingles with each other or with the
 * evaluation set except by negligible chance.
 */
final class DocCorpus(seed: Long, val n: Int) {
  private val r = new Random(seed * 7919L + 17)
  private val vocab: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000)
      seen += Array.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    seen.toArray
  }
  private def words(k: Int): Array[String] = Array.fill(k)(vocab(r.nextInt(vocab.length)))

  val sources: Array[String] = Array("web", "books", "news", "code")
  val evalDocs: Array[String] = Array.fill(40)(words(30).mkString(" "))

  /** (id, source, text) rows in id order. */
  val docs: Array[(Long, String, String)] = Array.ofDim(n)
  /** Groups of ids holding byte-identical text. */
  val exactGroups = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
  /** Clusters of ids whose texts are pairwise near-duplicates through a base. */
  val nearClusters = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
  val lowQuality = scala.collection.mutable.ArrayBuffer.empty[Long]
  val contaminated = scala.collection.mutable.ArrayBuffer.empty[Long]

  locally {
    // Ids are assigned to roles in a seeded random order, so planted
    // groups are scattered across the id range and across partitions.
    val ids = r.shuffle((0 until n).map(_.toLong).toVector)
    var next = 0
    def take(k: Int): Seq[Long] = { val s = ids.slice(next, next + k); next += k; s }
    def src(): String = sources(r.nextInt(sources.length))
    def put(id: Long, text: String): Unit = docs(id.toInt) = (id, src(), text)
    val budget = n / 25
    while (next + 3 <= n && exactGroups.map(_.size).sum < budget) {
      val g = take(2 + r.nextInt(2))
      val t = words(40 + r.nextInt(30)).mkString(" ")
      g.foreach(put(_, t))
      exactGroups += g
    }
    while (next + 3 <= n && nearClusters.map(_.size).sum < budget) {
      val g = take(2 + r.nextInt(2))
      val base = words(60 + r.nextInt(20))
      g.zipWithIndex.foreach { case (id, i) =>
        val w = base.clone()
        if (i > 0) w(5 + i * 17 % (w.length - 10)) = vocab(r.nextInt(vocab.length))
        put(id, w.mkString(" "))
      }
      nearClusters += g
    }
    val junk = Array("###", "123", "!!!", "$$", "%%%", "0000", "--", "**")
    take(n / 50).foreach { id =>
      put(id, Array.fill(12)(junk(r.nextInt(junk.length))).mkString(" ")); lowQuality += id
    }
    take(n / 50).foreach { id =>
      val e = evalDocs(r.nextInt(evalDocs.length)).split(' ')
      val at = r.nextInt(e.length - 12)
      put(id, (words(20) ++ e.slice(at, at + 12) ++ words(20)).mkString(" "))
      contaminated += id
    }
    take(n / 25).foreach { id =>
      val pii = r.nextInt(3) match {
        case 0 => s"${words(1).head}.${words(1).head}@example${r.nextInt(90)}.com"
        case 1 => s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
        case _ => f"+1-555-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d"
      }
      put(id, (words(25) ++ Array("contact", pii) ++ words(25)).mkString(" "))
    }
    while (next < n) { put(ids(next), words(40 + r.nextInt(40)).mkString(" ")); next += 1 }
  }

  /** Ids the chain must keep before the token-budget mix: quality and
    * decontamination drop their planted targets, and each duplicate group
    * or near-duplicate cluster keeps only its smallest id. */
  val expectedKept: Set[Long] = {
    val dropped = lowQuality.toSet ++ contaminated ++
      (exactGroups ++ nearClusters).flatMap(g => g.filterNot(_ == g.min))
    docs.map(_._1).filterNot(dropped.contains).toSet
  }

  def tokens(text: String): Long = text.count(_ == ' ') + 1L

  /** Per-source token budgets: 60% of each source's tokens among the kept
    * documents, so the mix has to cut every source. */
  val budgets: Map[String, Long] = docs.filter(d => expectedKept.contains(d._1))
    .groupBy(_._2).map { case (s, ds) => s -> (ds.map(d => tokens(d._3)).sum * 6 / 10) }
}
