package perfbench

import graft.fixtures.CodeCorpus

/** Seeded input generator. Everything the engine sees in a run is derived
  * from the run's seed through these pure functions, so the same seed
  * replays the same corpus slice, query stream and update batches. */
object Gen {

  /** SplitMix64 finaliser: a well-mixed 64-bit value per (seed, salt). */
  def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + 0x632BE59BD9B4E5L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** First corpus doc index of the run: `CodeCorpus.fileFor(i)` is a pure
    * function of `i`, so shifting the offset yields a different corpus with
    * the same statistical shape (different `uniq_tok_*` terms, different
    * keyword/identifier draws). */
  def docOffset(seed: Long): Long = 1000000L * (1L + java.lang.Math.floorMod(mix(seed, 1L), 4093L))

  /** A seeded stream of uniform draws. */
  final class Rng(seed: Long, salt: Long) {
    private var state = mix(seed, salt)
    def nextLong(): Long = { state += 0x9E3779B97F4A7C15L; mix(state, 0L) }
    def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  }

  /** Zipf(s = 1) draw over `0 until n`: index 0 is the most frequent. */
  def zipf(rng: Rng, n: Int): Int = {
    val h = (1 to n).map(1.0 / _).sum
    var u = rng.nextDouble() * h
    var i = 0
    while (i < n - 1 && u >= 1.0 / (i + 1)) { u -= 1.0 / (i + 1); i += 1 }
    i
  }

  // Vocabulary of CodeCorpus (Zipf-head keywords, mid-frequency identifiers).
  val keywords: Vector[String] = Vector("if", "return", "import", "def", "val", "for", "while", "new", "class")
  val identifiers: Vector[String] = Vector(
    "indexwriter", "parsequery", "mergepolicy", "segment", "buffer",
    "analyzer", "tokenstream", "directory", "scoredoc", "collector",
    "postings", "docvalues", "codec", "similarity", "weight")

  /** Query shapes. Each block of `shapes.size` consecutive queries holds
    * every shape once (in a seeded order), so the shape mix of a run does
    * not depend on the seed and medians stay comparable across seeds. */
  val shapes: Vector[String] =
    Vector("term", "rare", "and", "or", "skewed_or", "phrase", "prefix", "not")

  final case class Q(shape: String, text: String)

  /** Distinct queries per shape. */
  val PoolSize = 3

  /** The `uniq_tok_*` terms of corpus doc `i` (singleton postings). */
  def rareTerms(i: Long): Seq[String] =
    "uniq_tok_[0-9]+_[0-9]+".r.findAllIn(CodeCorpus.contentFor(i)).toSeq.distinct

  /** `n` queries over a corpus of docs `[offset, offset + docs)`. Terms are
    * Zipf-drawn from per-shape pools, so popular queries repeat (and hit
    * the searcher's term-stats cache) while the tail stays distinct. */
  def queries(seed: Long, n: Int, offset: Long, docs: Long): Vector[Q] = {
    val rng = new Rng(seed, 2L)
    // a seeded permutation of the identifier pool: which identifier is the
    // Zipf head differs per seed
    val ids = identifiers.sortBy(_ => rng.nextLong())
    val kws = keywords.take(6)
    def ident(): String = ids(zipf(rng, ids.size))
    def distinctIdents(k: Int): Seq[String] = {
      val out = collection.mutable.LinkedHashSet.empty[String]
      while (out.size < k) out += ident()
      out.toSeq
    }
    // rare-term pool: PoolSize docs of the corpus, each with at least one
    // uniq_tok term
    val rarePool: Vector[String] = {
      val b = Vector.newBuilder[String]
      var got = 0
      while (got < PoolSize) {
        val ts = rareTerms(offset + (rng.nextLong() & Long.MaxValue) % docs)
        if (ts.nonEmpty) { b += ts(rng.nextInt(ts.size)); got += 1 }
      }
      b.result()
    }
    def make(shape: String): String = shape match {
      case "term" => ident()
      case "and" => distinctIdents(2 + rng.nextInt(2)).mkString(" AND ")
      case "or" => distinctIdents(3).mkString(" OR ")
      case "skewed_or" =>
        val out = collection.mutable.LinkedHashSet.empty[String]
        while (out.size < 3) out += kws(zipf(rng, kws.size))
        out.mkString(" OR ")
      case "phrase" => distinctIdents(2).mkString("\"", " ", "\"")
      case "prefix" => ident().take(4) + "*"
      case "not" => distinctIdents(2).mkString(" NOT ")
    }
    // per-shape pools of distinct queries, drawn Zipf-wise below
    val pools: Map[String, Vector[String]] = shapes.map { sh =>
      sh -> (if (sh == "rare") rarePool else {
        val p = collection.mutable.LinkedHashSet.empty[String]
        var tries = 0
        while (p.size < PoolSize && tries < 1000) { p += make(sh); tries += 1 }
        p.toVector
      })
    }.toMap
    def one(shape: String): String = { val p = pools(shape); p(zipf(rng, p.size)) }
    val out = Vector.newBuilder[Q]
    var made = 0
    while (made < n) {
      val block = shapes.sortBy(_ => rng.nextLong())
      block.foreach { s => if (made < n) { out += Q(s, one(s)); made += 1 } }
    }
    out.result()
  }

  /** One update round: append corpus docs `[appendFrom, appendFrom +
    * appendDocs)` and tombstone `deleteIds`. */
  final case class Round(appendFrom: Long, appendDocs: Int, deleteIds: Vector[Long])

  /** `n` update rounds over a base index of `baseDocs` dense docIds. DocIds
    * are dense per segment (docBase = previous maxDocId + 1), so the live id
    * space after each append is known without asking the engine; deletes
    * are drawn from the ids still live after that round's append. */
  def rounds(seed: Long, n: Int, offset: Long, baseDocs: Int, batchDocs: Int, deletes: Int): Vector[Round] = {
    val rng = new Rng(seed, 3L)
    val deleted = collection.mutable.HashSet.empty[Long]
    var total = baseDocs.toLong
    (0 until n).map { r =>
      val from = offset + total
      total += batchDocs
      val ids = collection.mutable.LinkedHashSet.empty[Long]
      while (ids.size < deletes) {
        val id = (rng.nextLong() & Long.MaxValue) % total
        if (!deleted.contains(id)) ids += id
      }
      deleted ++= ids
      Round(from, batchDocs, ids.toVector)
    }.toVector
  }
}
