package graft.search

import graft.codec.{ByteReader, ForDeltaUtil, PForUtil}
import graft.index.{BlockRow, ScoreDoc, ScoreDocD}

/** Execution counters (Spark accumulators) proving block-max pruning does
  * real work at query time: posting blocks decoded vs skipped whole on
  * impact metadata. Nullable everywhere — absent in oracle/test contexts. */
final case class ScorerCounters(
    decoded: org.apache.spark.util.LongAccumulator,
    skipped: org.apache.spark.util.LongAccumulator) extends Serializable

/** Per-partition live-docs filter — the `.liv` bitset analog (reference:
  * lucene/core/src/java/org/apache/lucene/index/PendingDeletes.java; applied
  * at the leaf like `BulkScorer.score(collector, liveDocs)`). Holds the
  * SORTED deleted docIds that fall into this doc-range partition; iterators
  * skip them during traversal, so deleted docs never reach a collector,
  * never occupy a top-k slot, and never satisfy a NOT/MatchAll. */
final class LiveDocs(deletedSorted: Array[Long]) extends Serializable {
  @inline def isLive(doc: Long): Boolean =
    java.util.Arrays.binarySearch(deletedSorted, doc) < 0
  def numDeleted: Int = deletedSorted.length
}

/** Doc-at-a-time scorer iterator, the analog of Lucene's
  * `DocIdSetIterator` + `Scorer` pair. `docId` starts at -1; `NO_MORE`
  * (Long.MaxValue) means exhausted. Docs are always visited in increasing
  * docId order — the top-k collectors rely on that for score-only pruning
  * (ties arriving later lose the docId tie-break automatically, mirroring
  * `TopScoreDocCollector.collect`, reference:
  * lucene/core/src/java/org/apache/lucene/search/TopScoreDocCollector.java:88-102). */
trait DocScorer {
  def docId: Long
  def nextDoc(): Long
  def advance(target: Long): Long
  /** Score at the current doc. */
  def score(): Float
  /** Double-precision score at the current doc — the oracle-facing scored
    * path (`DoubleSimScorer`); iterators without a double scorer widen
    * their Float score (exact). Composite scorers sum sub-scores in clause
    * order (NOT cost order) so the result matches the oracle SQL's fixed
    * left-to-right addition. */
  def scoreD(): Double = score().toDouble
  /** Static upper bound over all remaining docs. */
  def maxScore: Float
  def cost: Long

  /** Upper bound of score() over docs in [target, [[blockEnd]](target)] —
    * refined with per-block impact metadata where available. Default: the
    * static [[maxScore]], which is valid for ALL remaining docs (so the
    * default [[blockEnd]] is unbounded). Composite scorers fold their
    * children's bounds (the `MaxScoreCache.shallowAdvance` analog,
    * reference: lucene/core/src/java/org/apache/lucene/search/ImpactsDISI.java:75-126). */
  def shallowMax(target: Long): Float = maxScore

  /** Furthest docId the [[shallowMax]] bound is valid for. */
  def blockEnd(target: Long): Long = Long.MaxValue - 1
}

object DocScorer {
  val NO_MORE: Long = Long.MaxValue

  /** Sum clause scores the way Lucene does: accumulate in double, cast to
    * float at the end (DisjunctionSumScorer / ConjunctionScorer semantics) —
    * makes the float result insensitive to clause evaluation order. */
  @inline def sumScores(d: Double): Float = d.toFloat
}

/** Postings iterator over a term's encoded blocks (sorted by firstDocId,
  * non-overlapping), clipped to the doc range `range` ([lo, hi)), skipping
  * its tombstones and scoring with its per-doc norms ([[DocRange.norm]]).
  * Blocks are decoded lazily — `advance` skips whole non-matching blocks by
  * metadata only (the skip-list analog), and position payloads are decoded
  * only if `positionsOfCurrent` is called (two-phase phrase matching). */
final class TermIterator(
    blocks: Array[BlockRow],
    val scorer: SimScorer,
    range: DocRange,
    dScorer: DoubleSimScorer = null,
    counters: ScorerCounters = null) extends DocScorer {

  private val lo = range.lo
  private val hi = range.hi
  private val liveDocs = range.live

  /** Collector-fed score floor (Lucene `setMinCompetitiveScore` pushed into
    * `ImpactsDISI`): advance() skips — without decoding — any block whose
    * impact frontier can't beat it. Sound under docId-ordered iteration:
    * an equal-score later doc loses the docId tie-break. Only the
    * single-term top-level path sets this; inside conjunctions/disjunctions
    * the clause's own bound is not the query threshold, so it stays -inf
    * and the collectors prune with shallowMaxScore instead. */
  var minCompetitive: Float = Float.NegativeInfinity

  private var blockIdx = -1
  private var docs: Array[Long] = null
  private var freqs: Array[Int] = null
  private var positions: Array[Array[Int]] = null // lazy
  private var pos = -1
  private var cur: Long = -1L

  override def docId: Long = cur
  override def cost: Long = blocks.map(_.count.toLong).sum

  override val maxScore: Float = {
    var m = 0f
    var i = 0
    while (i < blocks.length) {
      val b = blocks(i)
      var j = 0
      while (j < b.impactFreqs.length) {
        val s = scorer.score(b.impactFreqs(j).toFloat, b.impactNorms(j))
        if (s > m) m = s
        j += 1
      }
      i += 1
    }
    m
  }

  /** Max score of block i (impact frontier), without decoding payloads. */
  def blockMaxScore(i: Int): Float = {
    val b = blocks(i)
    var m = 0f
    var j = 0
    while (j < b.impactFreqs.length) {
      val s = scorer.score(b.impactFreqs(j).toFloat, b.impactNorms(j))
      if (s > m) m = s
      j += 1
    }
    m
  }

  /** Upper bound for docs in [target, end-of-current-block] without decoding
    * (`ImpactsDISI.advanceShallow` + `MaxScoreCache`, reference:
    * lucene/core/src/java/org/apache/lucene/search/ImpactsDISI.java:75-126). */
  def shallowMaxScore(target: Long): Float = {
    var i = math.max(blockIdx, 0)
    while (i < blocks.length && blocks(i).lastDocId < target) i += 1
    if (i >= blocks.length || blocks(i).firstDocId >= hi) 0f
    else blockMaxScore(i)
  }

  /** lastDocId of the block containing/following `target` — the furthest
    * doc the [[shallowMaxScore]] bound covers; metadata only, no decode. */
  def blockEndFor(target: Long): Long = {
    var i = math.max(blockIdx, 0)
    while (i < blocks.length && blocks(i).lastDocId < target) i += 1
    if (i >= blocks.length) Long.MaxValue - 1 else blocks(i).lastDocId
  }

  override def shallowMax(target: Long): Float = shallowMaxScore(target)
  override def blockEnd(target: Long): Long = blockEndFor(target)

  /** Impact-frontier bound of the block at/after `target`, scored with an
    * EXTERNAL scorer (a phrase's summed-idf weight over this term's
    * (freq, norm) frontier) — metadata only, no decode. */
  def blockImpactBound(target: Long, s: SimScorer): Float = {
    var i = math.max(blockIdx, 0)
    while (i < blocks.length && blocks(i).lastDocId < target) i += 1
    if (i >= blocks.length || blocks(i).firstDocId >= hi) return 0f
    val b = blocks(i)
    var m = 0f
    var j = 0
    while (j < b.impactFreqs.length) {
      val v = s.score(b.impactFreqs(j).toFloat, b.impactNorms(j))
      if (v > m) m = v
      j += 1
    }
    m
  }

  private def decodeBlock(i: Int): Unit = {
    val b = blocks(i)
    blockIdx = i
    if (counters != null) counters.decoded.add(1)
    docs = new Array[Long](b.count)
    ForDeltaUtil.decode(new ByteReader(b.docsEnc), b.count, b.firstDocId - 1, docs)
    freqs = new Array[Int](b.count)
    PForUtil.decode(new ByteReader(b.freqsEnc), b.count, freqs)
    positions = null
  }

  override def nextDoc(): Long = advance(if (cur < 0) lo else cur + 1)

  override def advance(target0: Long): Long = {
    val target = math.max(target0, lo)
    if (target >= hi) { cur = DocScorer.NO_MORE; return cur }
    // find the block containing/following target, by metadata only
    var i = math.max(blockIdx, 0)
    while (i < blocks.length && blocks(i).lastDocId < target) i += 1
    // impacts skip: blocks whose frontier can't beat the collector's floor
    // are never decoded (ImpactsDISI.java:102-126 — the block-max half of
    // the skip list; the docId half is the metadata scan above)
    if (minCompetitive > Float.NegativeInfinity) {
      while (i < blocks.length && blocks(i).firstDocId < hi &&
          blockMaxScore(i) <= minCompetitive) {
        if (counters != null) counters.skipped.add(1)
        i += 1
      }
    }
    var found = false
    while (!found) {
      if (i >= blocks.length || blocks(i).firstDocId >= hi) { cur = DocScorer.NO_MORE; return cur }
      if (i != blockIdx || docs == null) decodeBlock(i)
      // binary search first doc >= target
      var loI = 0
      var hiI = docs.length
      while (loI < hiI) {
        val mid = (loI + hiI) >>> 1
        if (docs(mid) < target) loI = mid + 1 else hiI = mid
      }
      // step over tombstoned docs (liveDocs filter at the leaf)
      var p = loI
      if (liveDocs != null)
        while (p < docs.length && docs(p) < hi && !liveDocs.isLive(docs(p))) p += 1
      if (p < docs.length) {
        pos = p
        cur = docs(pos)
        if (cur >= hi) { cur = DocScorer.NO_MORE; return cur }
        found = true
      } else {
        i += 1
      }
    }
    cur
  }

  def freq: Int = freqs(pos)
  def norm: Int = range.norm(cur)

  override def score(): Float = scorer.score(freqs(pos).toFloat, norm)
  override def scoreD(): Double =
    if (dScorer != null) dScorer.score(freqs(pos).toDouble, norm)
    else score().toDouble

  def positionsOfCurrent(): Array[Int] = {
    if (positions == null) {
      val b = blocks(blockIdx)
      positions = graft.codec.PostingsCodec.decodePositions(b.toEncodedBlock, freqs)
    }
    positions(pos)
  }
}

/** Empty scorer (missing term). */
object EmptyScorer extends DocScorer {
  override def docId: Long = DocScorer.NO_MORE
  override def nextDoc(): Long = DocScorer.NO_MORE
  override def advance(target: Long): Long = DocScorer.NO_MORE
  override def score(): Float = 0f
  override def maxScore: Float = 0f
  override def cost: Long = 0L
}

/** Matches every LIVE doc in [lo, hi) with a constant score. */
final class MatchAllScorer(
    lo: Long,
    hi: Long,
    value: Float,
    liveDocs: LiveDocs = null) extends DocScorer {
  private var cur = -1L
  override def docId: Long = cur
  override def nextDoc(): Long = advance(if (cur < 0) lo else cur + 1)
  override def advance(target: Long): Long = {
    cur = math.max(target, lo)
    if (liveDocs != null)
      while (cur < hi && !liveDocs.isLive(cur)) cur += 1
    if (cur >= hi) cur = DocScorer.NO_MORE
    cur
  }
  override def score(): Float = value
  override def maxScore: Float = value
  override def cost: Long = hi - lo
}

object ConjunctionScorer {
  /** Collector-fed pruning hooks, installed by `TopK.conjunctionTopK` on the
    * query's required conjunction: `theta` is the current competitive floor
    * (-inf disables); `boundAt`/`endAt` are the QUERY-ROOT's compositional
    * impact bound and its validity horizon (so optional clauses, exclusion
    * wrappers and phrase semantics are all priced correctly); `skipped()`
    * bumps the pruning counters. */
  trait PruneContext {
    def theta: Double
    def boundAt(target: Long): Float
    def endAt(target: Long): Long
    def skipped(): Unit
  }
}

/** Leapfrog intersection, cheapest-first (`ConjunctionDISI.intersectIterators`,
  * reference: lucene/core/src/java/org/apache/lucene/search/ConjunctionDISI.java:61).
  * With a [[ConjunctionScorer.PruneContext]] installed, every lead candidate
  * is first bound-checked against the collector floor using per-block impact
  * metadata ONLY — a non-competitive candidate range is jumped whole before
  * any other clause advances (= decodes) to it: the mixed-shape
  * generalization of `BlockMaxConjunctionScorer` (reference:
  * lucene/core/src/java/org/apache/lucene/search/BlockMaxConjunctionScorer.java:30-249). */
final class ConjunctionScorer(subsIn: Array[DocScorer]) extends DocScorer {
  private val subs = subsIn.sortBy(_.cost)
  private var cur = -1L
  private var pruneCtx: ConjunctionScorer.PruneContext = null
  def enablePruning(ctx: ConjunctionScorer.PruneContext): Unit = pruneCtx = ctx
  override def docId: Long = cur
  override def cost: Long = subs.head.cost
  override val maxScore: Float = {
    var d = 0.0; subs.foreach(s => d += s.maxScore); DocScorer.sumScores(d)
  }
  override def shallowMax(target: Long): Float = {
    var d = 0.0
    var i = 0
    while (i < subs.length) { d += subs(i).shallowMax(target); i += 1 }
    DocScorer.sumScores(d)
  }
  override def blockEnd(target: Long): Long = {
    var e = Long.MaxValue - 1
    var i = 0
    while (i < subs.length) { e = math.min(e, subs(i).blockEnd(target)); i += 1 }
    e
  }
  override def nextDoc(): Long = advance(cur + 1)

  /** Jump the lead past every candidate range whose impact bound can't beat
    * the floor; returns the first potentially-competitive lead doc. Only the
    * LEAD advances here — the other clauses never decode a pruned range. */
  private def pruneLead(doc0: Long): Long = {
    var doc = doc0
    var live = false
    while (!live && doc != DocScorer.NO_MORE) {
      val th = pruneCtx.theta
      if (th == Double.NegativeInfinity) live = true
      else if (pruneCtx.boundAt(doc) <= th) {
        pruneCtx.skipped()
        doc = subs(0).advance(math.max(doc, pruneCtx.endAt(doc)) + 1)
      } else live = true
    }
    doc
  }

  override def advance(target: Long): Long = {
    var doc = subs(0).advance(math.max(target, cur + 1))
    var agreed = false
    while (!agreed && doc != DocScorer.NO_MORE) {
      if (pruneCtx != null) doc = pruneLead(doc)
      if (doc == DocScorer.NO_MORE) return { cur = doc; cur }
      agreed = true
      var i = 1
      while (i < subs.length && agreed) {
        if (subs(i).docId < doc) subs(i).advance(doc)
        if (subs(i).docId != doc) {
          agreed = false
          doc = if (subs(i).docId == DocScorer.NO_MORE) DocScorer.NO_MORE
                else subs(0).advance(subs(i).docId)
        }
        i += 1
      }
    }
    cur = doc
    cur
  }
  override def score(): Float = {
    var d = 0.0
    var i = 0
    while (i < subs.length) { d += subs(i).score(); i += 1 }
    DocScorer.sumScores(d)
  }
  override def scoreD(): Double = {
    // clause order (subsIn), not cost order: double addition is
    // order-sensitive and the oracle SQL adds left-to-right
    var d = 0.0
    var i = 0
    while (i < subsIn.length) { d += subsIn(i).scoreD(); i += 1 }
    d
  }
}

/** Doc-ordered union, score = sum of matching clauses
  * (`DisjunctionSumScorer`, linear scan — query clause counts are small). */
final class DisjunctionSumScorer(subs: Array[DocScorer]) extends DocScorer {
  private var cur = -1L
  override def docId: Long = cur
  override def cost: Long = subs.map(_.cost).sum
  override val maxScore: Float = {
    var d = 0.0; subs.foreach(s => d += s.maxScore); DocScorer.sumScores(d)
  }
  override def shallowMax(target: Long): Float = {
    var d = 0.0
    var i = 0
    while (i < subs.length) { d += subs(i).shallowMax(target); i += 1 }
    DocScorer.sumScores(d)
  }
  override def blockEnd(target: Long): Long = {
    var e = Long.MaxValue - 1
    var i = 0
    while (i < subs.length) { e = math.min(e, subs(i).blockEnd(target)); i += 1 }
    e
  }
  override def nextDoc(): Long = advance(cur + 1)
  override def advance(target: Long): Long = {
    var min = DocScorer.NO_MORE
    var i = 0
    while (i < subs.length) {
      val d = if (subs(i).docId < target) subs(i).advance(target) else subs(i).docId
      if (d < min) min = d
      i += 1
    }
    cur = min
    cur
  }
  override def score(): Float = {
    var d = 0.0
    var i = 0
    while (i < subs.length) {
      if (subs(i).docId == cur) d += subs(i).score()
      i += 1
    }
    DocScorer.sumScores(d)
  }
  override def scoreD(): Double = {
    var d = 0.0
    var i = 0
    while (i < subs.length) {
      if (subs(i).docId == cur) d += subs(i).scoreD()
      i += 1
    }
    d
  }
  /** Number of clauses matching the current doc (for minShouldMatch). */
  def matchCount: Int = {
    var c = 0
    var i = 0
    while (i < subs.length) { if (subs(i).docId == cur) c += 1; i += 1 }
    c
  }
}

/** Required + excluded (`ReqExclScorer`). */
final class ReqExclScorer(req: DocScorer, excl: DocScorer) extends DocScorer {
  override def docId: Long = req.docId
  override def cost: Long = req.cost
  override def maxScore: Float = req.maxScore
  override def shallowMax(target: Long): Float = req.shallowMax(target)
  override def blockEnd(target: Long): Long = req.blockEnd(target)
  override def nextDoc(): Long = advance(req.docId + 1)
  override def advance(target: Long): Long = {
    var doc = req.advance(target)
    var ok = false
    while (!ok && doc != DocScorer.NO_MORE) {
      if (excl.docId < doc) excl.advance(doc)
      if (excl.docId == doc) doc = req.nextDoc() else ok = true
    }
    doc
  }
  override def score(): Float = req.score()
  override def scoreD(): Double = req.scoreD()
}

/** Required + optional: iterate required, add optional scores when aligned
  * (`ReqOptSumScorer`). */
final class ReqOptSumScorer(req: DocScorer, opt: DocScorer) extends DocScorer {
  override def docId: Long = req.docId
  override def cost: Long = req.cost
  override val maxScore: Float = DocScorer.sumScores(req.maxScore.toDouble + opt.maxScore.toDouble)
  override def shallowMax(target: Long): Float =
    DocScorer.sumScores(req.shallowMax(target).toDouble + opt.shallowMax(target).toDouble)
  override def blockEnd(target: Long): Long =
    math.min(req.blockEnd(target), opt.blockEnd(target))
  override def nextDoc(): Long = req.nextDoc()
  override def advance(target: Long): Long = req.advance(target)
  override def score(): Float = {
    val doc = req.docId
    if (opt.docId < doc) opt.advance(doc)
    var d: Double = req.score()
    if (opt.docId == doc) d += opt.score()
    DocScorer.sumScores(d)
  }
  override def scoreD(): Double = {
    val doc = req.docId
    if (opt.docId < doc) opt.advance(doc)
    var d: Double = req.scoreD()
    if (opt.docId == doc) d += opt.scoreD()
    d
  }
}

/** Constant score over the union of term iterators (MultiTermQuery
  * CONSTANT_SCORE rewrite). */
final class ConstantScoreScorer(inner: DocScorer, value: Float) extends DocScorer {
  override def docId: Long = inner.docId
  override def cost: Long = inner.cost
  override def maxScore: Float = value
  // shallowMax/blockEnd defaults: the constant bound is valid forever
  override def nextDoc(): Long = inner.nextDoc()
  override def advance(target: Long): Long = inner.advance(target)
  override def score(): Float = value
  override def scoreD(): Double = value.toDouble
}

/** Terms scored as one pseudo-term: freq at a doc = sum of clause tfs
  * (`SynonymQuery`, reference:
  * lucene/core/src/java/org/apache/lucene/search/SynonymQuery.java:199-218). */
final class SynonymScorer(
    subs: Array[TermIterator],
    scorer: SimScorer,
    dScorer: DoubleSimScorer = null) extends DocScorer {
  private val union = new DisjunctionSumScorer(subs.map(s => s: DocScorer))
  override def docId: Long = union.docId
  override def cost: Long = union.cost
  override val maxScore: Float = scorer.maxScore
  override def nextDoc(): Long = union.nextDoc()
  override def advance(target: Long): Long = union.advance(target)
  private def freqNorm: (Long, Int) = {
    var freq = 0L
    var norm = 0
    var i = 0
    while (i < subs.length) {
      if (subs(i).docId == union.docId) { freq += subs(i).freq; norm = subs(i).norm }
      i += 1
    }
    (freq, norm)
  }
  override def score(): Float = {
    val (freq, norm) = freqNorm
    scorer.score(freq.toFloat, norm)
  }
  override def scoreD(): Double = {
    if (dScorer == null) return score().toDouble
    val (freq, norm) = freqNorm
    dScorer.score(freq.toDouble, norm)
  }
}

/** SynonymQuery with per-term boosts: the blended frequency at a doc is
  * Σ boost_i · tf_i accumulated in FLOAT in clause order — verbatim
  * `FreqBoostTermScorer.freq()` (reference: lucene/core/src/java/org/
  * apache/lucene/search/SynonymQuery.java:389-421); the double twin
  * accumulates the identical clause order in double for the oracle. */
final class SynonymBoostScorer(
    subs: Array[TermIterator],
    boosts: Array[Float],
    scorer: SimScorer,
    dScorer: DoubleSimScorer = null) extends DocScorer {
  private val union = new DisjunctionSumScorer(subs.map(s => s: DocScorer))
  override def docId: Long = union.docId
  override def cost: Long = union.cost
  override val maxScore: Float = scorer.maxScore
  override def nextDoc(): Long = union.nextDoc()
  override def advance(target: Long): Long = union.advance(target)
  override def score(): Float = {
    var freq = 0f
    var norm = 0
    var i = 0
    while (i < subs.length) {
      if (subs(i).docId == union.docId) {
        freq += boosts(i) * subs(i).freq
        norm = subs(i).norm
      }
      i += 1
    }
    scorer.score(freq, norm)
  }
  override def scoreD(): Double = {
    if (dScorer == null) return score().toDouble
    var freq = 0d
    var norm = 0
    var i = 0
    while (i < subs.length) {
      if (subs(i).docId == union.docId) {
        freq += boosts(i).toDouble * subs(i).freq
        norm = subs(i).norm
      }
      i += 1
    }
    dScorer.score(freq, norm)
  }
}

/** Max-of-disjuncts: score = max + tieBreak * Σ(other matching clauses),
  * float loop verbatim from `DisjunctionMaxScorer.score` (reference:
  * lucene/core/src/java/org/apache/lucene/search/DisjunctionMaxQuery.java). */
final class DisMaxScorer(subs: Array[DocScorer], tieBreak: Float) extends DocScorer {
  private val union = new DisjunctionSumScorer(subs)
  override def docId: Long = union.docId
  override def cost: Long = union.cost
  override val maxScore: Float = {
    var mx = 0f
    var sum = 0.0
    subs.foreach { s => sum += s.maxScore; mx = math.max(mx, s.maxScore) }
    (mx + (sum - mx) * tieBreak).toFloat
  }
  override def shallowMax(target: Long): Float = {
    var mx = 0f
    var sum = 0.0
    var i = 0
    while (i < subs.length) {
      val s = subs(i).shallowMax(target)
      sum += s
      if (s > mx) mx = s
      i += 1
    }
    (mx + (sum - mx) * tieBreak).toFloat
  }
  override def blockEnd(target: Long): Long = {
    var e = Long.MaxValue - 1
    var i = 0
    while (i < subs.length) { e = math.min(e, subs(i).blockEnd(target)); i += 1 }
    e
  }
  override def nextDoc(): Long = union.nextDoc()
  override def advance(target: Long): Long = union.advance(target)
  override def score(): Float = {
    var scoreMax = 0f
    var otherSum = 0.0
    var i = 0
    while (i < subs.length) {
      if (subs(i).docId == union.docId) {
        val s = subs(i).score()
        if (s >= scoreMax) { otherSum += scoreMax; scoreMax = s }
        else otherSum += s
      }
      i += 1
    }
    (scoreMax + otherSum * tieBreak).toFloat
  }
  override def scoreD(): Double = {
    var scoreMax = 0.0
    var otherSum = 0.0
    var i = 0
    while (i < subs.length) {
      if (subs(i).docId == union.docId) {
        val s = subs(i).scoreD()
        if (s >= scoreMax) { otherSum += scoreMax; scoreMax = s }
        else otherSum += s
      }
      i += 1
    }
    scoreMax + otherSum * tieBreak.toDouble
  }
}

/** Exact phrase: conjunction over term iterators + position verification
  * (two-phase iteration, `ExactPhraseMatcher`, reference:
  * lucene/core/src/java/org/apache/lucene/search/ExactPhraseMatcher.java:36-117).
  * `offsets(i)` is term i's analyzed position inside the phrase.
  * phraseFreq = number of phrase occurrences; scored via the multi-term
  * (summed-idf) scorer at the doc's norm. */
final class PhraseScorer(
    terms: Array[TermIterator],
    offsets: Array[Int],
    scorer: SimScorer,
    dScorer: DoubleSimScorer = null,
    slop: Int = 0,
    /** True when no term string repeats across phrase slots (the builder
      * knows the strings; repeats force the anchored fallback because a
      * window cover could otherwise bind one occurrence to two slots). */
    noRepeats: Boolean = true) extends DocScorer {

  private val conj = new ConjunctionScorer(terms.map(t => t: DocScorer))
  private var freqCur = 0

  /** The phrase's required term conjunction — `TopK.conjunctionTopK`
    * installs its block-max pruning hooks here so non-competitive candidate
    * ranges skip the position decode entirely. */
  def innerConjunction: ConjunctionScorer = conj

  override def docId: Long = conj.docId
  override def cost: Long = conj.cost
  override val maxScore: Float = scorer.maxScore

  /** Exact phrases refine per block: phraseFreq <= tf of EVERY term, so the
    * tightest per-term impact-frontier bound (scored with the phrase's
    * summed-idf weight) caps the phrase score. Sloppy matching can reuse a
    * term occurrence across windows (freq is NOT <= every tf), so only the
    * static bound is sound there. */
  override def shallowMax(target: Long): Float = {
    if (slop > 0) return maxScore
    var m = Float.MaxValue
    var i = 0
    while (i < terms.length) {
      val b = terms(i).blockImpactBound(target, scorer)
      if (b < m) m = b
      i += 1
    }
    m
  }
  override def blockEnd(target: Long): Long = {
    var e = Long.MaxValue - 1
    var i = 0
    while (i < terms.length) { e = math.min(e, terms(i).blockEndFor(target)); i += 1 }
    e
  }

  override def nextDoc(): Long = advance(conj.docId + 1)
  override def advance(target: Long): Long = {
    var doc = conj.advance(target)
    while (doc != DocScorer.NO_MORE && { freqCur = phraseFreq(); freqCur == 0 })
      doc = conj.nextDoc()
    doc
  }

  private def phraseFreq(): Int =
    if (slop > 0 && terms.length >= 3 && noRepeats) windowFreq()
    else anchoredFreq()

  /** Lucene-window sloppy matching for >= 3 terms (the edit-distance
    * condition of `SloppyPhraseMatcher`, reference:
    * lucene/core/src/java/org/apache/lucene/search/SloppyPhraseMatcher.java:
    * a doc matches iff ONE occurrence per slot can be chosen whose
    * offset-adjusted positions span <= slop — equivalently every pairwise
    * |Δposition − Δoffset| <= slop). Implemented as the classic
    * smallest-covering-range pointer sweep over the adjusted position
    * lists; freq counts the locally-minimal covering windows (deviation
    * from Lucene's 1/(1+matchLength) weighted freq is documented at the
    * [[graft.search.PhraseQ]] AST node). */
  private def windowFreq(): Int = {
    val n = terms.length
    val lists = new Array[Array[Int]](n)
    var t = 0
    while (t < n) {
      val ps = terms(t).positionsOfCurrent()
      val adj = new Array[Int](ps.length)
      var i = 0
      while (i < ps.length) { adj(i) = ps(i) - offsets(t); i += 1 }
      lists(t) = adj // positions ascending; constant shift keeps order
      t += 1
    }
    val ptr = new Array[Int](n)
    var count = 0
    var done = false
    while (!done) {
      var minV = Int.MaxValue
      var maxV = Int.MinValue
      var minT = -1
      var i = 0
      while (i < n) {
        val v = lists(i)(ptr(i))
        if (v < minV) { minV = v; minT = i }
        if (v > maxV) maxV = v
        i += 1
      }
      if (maxV - minV <= slop) count += 1
      ptr(minT) += 1
      if (ptr(minT) >= lists(minT).length) done = true
    }
    count
  }

  /** Exact (slop=0) and 2-term / repeated-term sloppy matching: every
    * anchor occurrence of the first term with each other slot within
    * `slop` of its exact-phrase position. For 2-term phrases this is
    * EXACTLY Lucene's match set (|Δposition − Δoffset| <= slop). */
  private def anchoredFreq(): Int = {
    val lead = terms(0).positionsOfCurrent()
    var count = 0
    var i = 0
    while (i < lead.length) {
      val base = lead(i) - offsets(0)
      var ok = true
      var t = 1
      while (t < terms.length && ok) {
        val ps = terms(t).positionsOfCurrent()
        ok =
          if (slop == 0) java.util.Arrays.binarySearch(ps, base + offsets(t)) >= 0
          else {
            val want = base + offsets(t)
            val ins = java.util.Arrays.binarySearch(ps, want)
            ins >= 0 || {
              val ip = -ins - 1
              (ip < ps.length && ps(ip) - want <= slop) ||
                (ip > 0 && want - ps(ip - 1) <= slop)
            }
          }
        t += 1
      }
      if (ok) count += 1
      i += 1
    }
    count
  }

  override def score(): Float = scorer.score(freqCur.toFloat, terms(0).norm)
  override def scoreD(): Double =
    if (dScorer != null) dScorer.score(freqCur.toDouble, terms(0).norm)
    else score().toDouble
}

/** Span-near matcher over single-term spans (reference:
  * lucene/core/src/java/org/apache/lucene/search/spans/NearSpansOrdered.java:34-61;
  * NearSpansUnordered.java:34-50). Two-phase like [[PhraseScorer]]: the term
  * conjunction drives iteration, positions decode only on candidate docs.
  *
  * Ordered: for each anchor occurrence of slot 0, greedily extend with the
  * SMALLEST next-slot position strictly after the previous slot's choice —
  * greedy minimizes the chain end, hence the width, so an anchor matches
  * iff its greedy chain has gap (end − start − (n−1)) <= slop. Strictly
  * increasing positions make repeated terms bind distinct occurrences.
  *
  * Unordered: the smallest-covering-window sweep (one occurrence per slot,
  * window width − (n−1) <= slop) — for width-1 spans this is exactly
  * NearSpansUnordered's (maxEnd − minStart) − totalSpanLength <= slop.
  * freq counts matching anchors (ordered) / locally-minimal windows
  * (unordered); Lucene's sloppyFreq weighting is a documented deviation
  * ([[graft.search.SpanNearQ]]) — the match set is identical. */
final class SpanNearScorer(
    terms: Array[TermIterator],
    slop: Int,
    inOrder: Boolean,
    scorer: SimScorer,
    dScorer: DoubleSimScorer = null,
    /** SpanNotQuery exclusion: a chain overlapped by an occurrence of this
      * term is rejected (SpanNotQuery.java). null = no exclusion. */
    exclude: TermIterator = null,
    /** SpanContainingQuery requirement: a chain is kept only when an
      * occurrence of this term falls inside it. null = no requirement. */
    containing: TermIterator = null) extends DocScorer {

  private val conj = new ConjunctionScorer(terms.map(t => t: DocScorer))
  private var freqCur = 0

  /** Pruning hook parity with [[PhraseScorer.innerConjunction]]. */
  def innerConjunction: ConjunctionScorer = conj

  override def docId: Long = conj.docId
  override def cost: Long = conj.cost
  override val maxScore: Float = scorer.maxScore
  // spans can reuse term occurrences across matches: only the static bound
  // is sound (same reasoning as the sloppy-phrase case in PhraseScorer)
  override def shallowMax(target: Long): Float = maxScore
  override def blockEnd(target: Long): Long = {
    var e = Long.MaxValue - 1
    var i = 0
    while (i < terms.length) { e = math.min(e, terms(i).blockEndFor(target)); i += 1 }
    e
  }

  override def nextDoc(): Long = advance(conj.docId + 1)
  override def advance(target: Long): Long = {
    var doc = conj.advance(target)
    while (doc != DocScorer.NO_MORE && { freqCur = spanFreq(); freqCur == 0 })
      doc = conj.nextDoc()
    doc
  }

  private def spanFreq(): Int = {
    val n = terms.length
    val lists = new Array[Array[Int]](n)
    var t = 0
    while (t < n) { lists(t) = terms(t).positionsOfCurrent(); t += 1 }
    val excl: Array[Int] =
      if (exclude == null) SpanMatch.NO_EXCLUSIONS
      else {
        val doc = conj.docId
        val d = if (exclude.docId >= doc) exclude.docId else exclude.advance(doc)
        if (d == doc) exclude.positionsOfCurrent() else SpanMatch.NO_EXCLUSIONS
      }
    val cont: Array[Int] =
      if (containing == null) null
      else {
        val doc = conj.docId
        val d = if (containing.docId >= doc) containing.docId else containing.advance(doc)
        // empty (non-null) = requirement unmeetable on this doc: reject all
        if (d == doc) containing.positionsOfCurrent() else SpanMatch.NO_EXCLUSIONS
      }
    if (inOrder) SpanMatch.orderedFreq(lists, slop, excl, cont)
    else SpanMatch.unorderedFreq(lists, slop, excl, cont)
  }

  override def score(): Float = scorer.score(freqCur.toFloat, terms(0).norm)
  override def scoreD(): Double =
    if (dScorer != null) dScorer.score(freqCur.toDouble, terms(0).norm)
    else score().toDouble
}

/** Pure span-near matching over per-slot ascending position lists — shared
  * by [[SpanNearScorer]] (postings path) and the percolator's per-document
  * evaluator ([[graft.streaming.QueryMonitor]]). Semantics documented on
  * [[graft.search.SpanNearQ]]. */
object SpanMatch {
  /** Shared empty exclusion list (SpanNot with no exclude hit on the doc). */
  val NO_EXCLUSIONS: Array[Int] = Array.emptyIntArray

  /** True iff `excl` (ascending) has an element in [lo, hi]. */
  @inline private def overlaps(excl: Array[Int], lo: Int, hi: Int): Boolean = {
    if (excl.length == 0) return false
    val ins = java.util.Arrays.binarySearch(excl, lo)
    val ip = if (ins >= 0) ins else -ins - 1
    ip < excl.length && excl(ip) <= hi
  }

  def orderedFreq(lists: Array[Array[Int]], slop: Int,
      excl: Array[Int] = NO_EXCLUSIONS,
      /** SpanContaining requirement: when non-null, a chain is kept only if
        * one of these (ascending) positions falls inside it — the dual of
        * `excl` (SpanContainingQuery.java). */
      contain: Array[Int] = null): Int = {
    val n = lists.length
    var count = 0
    val anchors = lists(0)
    var i = 0
    while (i < anchors.length) {
      val start = anchors(i)
      var prev = start
      var ok = true
      var t = 1
      while (t < n && ok) {
        val ps = lists(t)
        val ins = java.util.Arrays.binarySearch(ps, prev + 1)
        val ip = if (ins >= 0) ins else -ins - 1
        if (ip >= ps.length) ok = false else prev = ps(ip)
        t += 1
      }
      if (ok && prev - start - (n - 1) <= slop && !overlaps(excl, start, prev) &&
        (contain == null || overlaps(contain, start, prev))) count += 1
      i += 1
    }
    count
  }

  def unorderedFreq(lists: Array[Array[Int]], slop: Int,
      excl: Array[Int] = NO_EXCLUSIONS,
      contain: Array[Int] = null): Int = {
    val n = lists.length
    val ptr = new Array[Int](n)
    var count = 0
    var done = false
    while (!done) {
      var minV = Int.MaxValue
      var maxV = Int.MinValue
      var minT = -1
      var i = 0
      while (i < n) {
        val v = lists(i)(ptr(i))
        if (v < minV) { minV = v; minT = i }
        if (v > maxV) maxV = v
        i += 1
      }
      if (maxV - minV - (n - 1) <= slop && !overlaps(excl, minV, maxV) &&
        (contain == null || overlaps(contain, minV, maxV))) count += 1
      ptr(minT) += 1
      if (ptr(minT) >= lists(minT).length) done = true
    }
    count
  }
}

/** SpanNear over or-slots (SpanOrQuery clauses under SpanNearQuery): each
  * slot is a disjunction of terms; doc iteration is a leapfrog conjunction
  * of slot-level disjunctions, and per-doc matching merges each slot's
  * member positions into one sorted list before the [[SpanMatch]] window
  * conditions (reference: SpanOrQuery.java's SpanPositionQueue or-merge,
  * NearSpans{Ordered,Unordered}.java). */
final class SpanOrNearScorer(
    slots: Array[Array[TermIterator]],
    slop: Int,
    inOrder: Boolean,
    scorer: SimScorer,
    dScorer: DoubleSimScorer = null) extends DocScorer {

  private var cur: Long = -1L
  private var freqCur = 0

  override def docId: Long = cur
  // conjunction cost = cheapest slot; a slot's cost = sum of its members
  override val cost: Long = slots.map(_.map(_.cost).sum).min
  override val maxScore: Float = scorer.maxScore
  override def shallowMax(target: Long): Float = maxScore
  override def blockEnd(target: Long): Long = {
    var e = Long.MaxValue - 1
    var s = 0
    while (s < slots.length) {
      var i = 0
      while (i < slots(s).length) {
        e = math.min(e, slots(s)(i).blockEndFor(target)); i += 1
      }
      s += 1
    }
    e
  }

  /** Smallest member docId >= target within one slot. */
  private def slotDoc(s: Array[TermIterator], target: Long): Long = {
    var min = DocScorer.NO_MORE
    var i = 0
    while (i < s.length) {
      var d = s(i).docId
      if (d < target) d = s(i).advance(target)
      if (d < min) min = d
      i += 1
    }
    min
  }

  override def nextDoc(): Long = advance(cur + 1)
  override def advance(target0: Long): Long = {
    var doc = slotDoc(slots(0), target0)
    var s = 1
    while (doc != DocScorer.NO_MORE) {
      if (s == slots.length) { // all slots aligned on doc: two-phase check
        freqCur = spanFreq(doc)
        if (freqCur > 0) { cur = doc; return cur }
        doc = slotDoc(slots(0), doc + 1); s = 1
      } else {
        val d = slotDoc(slots(s), doc)
        if (d == doc) s += 1
        else if (d == DocScorer.NO_MORE) doc = DocScorer.NO_MORE
        else { doc = slotDoc(slots(0), d); s = 1 } // leapfrog restart
      }
    }
    cur = DocScorer.NO_MORE
    cur
  }

  private def spanFreq(doc: Long): Int = {
    val lists = new Array[Array[Int]](slots.length)
    var s = 0
    while (s < slots.length) {
      var single: Array[Int] = null
      var multi: scala.collection.mutable.ArrayBuffer[Array[Int]] = null
      var i = 0
      while (i < slots(s).length) {
        val t = slots(s)(i)
        if (t.docId == doc) {
          val ps = t.positionsOfCurrent()
          if (single == null && multi == null) single = ps
          else {
            if (multi == null) { multi = scala.collection.mutable.ArrayBuffer(single); single = null }
            multi += ps
          }
        }
        i += 1
      }
      val merged =
        if (multi == null) single
        else { val a = multi.toArray.flatten; java.util.Arrays.sort(a); a }
      lists(s) = merged
      s += 1
    }
    if (inOrder) SpanMatch.orderedFreq(lists, slop) else SpanMatch.unorderedFreq(lists, slop)
  }

  private def curNorm: Int = {
    var i = 0
    while (i < slots(0).length) {
      if (slots(0)(i).docId == cur) return slots(0)(i).norm
      i += 1
    }
    0
  }

  override def score(): Float = scorer.score(freqCur.toFloat, curNorm)
  override def scoreD(): Double =
    if (dScorer != null) dScorer.score(freqCur.toDouble, curNorm)
    else score().toDouble
}

/** SpanFirst matcher: a single-term span accepted only when it ends within
  * the first `end` positions (reference:
  * lucene/core/src/java/org/apache/lucene/search/spans/SpanFirstQuery.java;
  * SpanPositionRangeQuery.java acceptPosition). Two-phase: the term
  * iterator drives, positions decode per candidate; freq = qualifying
  * occurrences (p + 1 <= end). */
final class SpanFirstScorer(
    term: TermIterator,
    start: Int,
    end: Int,
    scorer: SimScorer,
    dScorer: DoubleSimScorer = null) extends DocScorer {

  private var freqCur = 0

  override def docId: Long = term.docId
  override def cost: Long = term.cost
  override val maxScore: Float = scorer.maxScore
  // positional filtering only shrinks freq: the term bound stays sound but
  // per-block impacts can't be refined (tf there counts ALL positions)
  override def shallowMax(target: Long): Float = maxScore
  override def blockEnd(target: Long): Long = term.blockEndFor(target)

  override def nextDoc(): Long = advance(term.docId + 1)
  override def advance(target: Long): Long = {
    var doc = term.advance(target)
    while (doc != DocScorer.NO_MORE && { freqCur = firstFreq(); freqCur == 0 })
      doc = term.nextDoc()
    doc
  }

  private def firstFreq(): Int = {
    val ps = term.positionsOfCurrent()
    var c = 0
    var i = 0
    while (i < ps.length && ps(i) + 1 <= end) {
      if (ps(i) >= start) c += 1
      i += 1
    }
    c
  }

  override def score(): Float = scorer.score(freqCur.toFloat, term.norm)
  override def scoreD(): Double =
    if (dScorer != null) dScorer.score(freqCur.toDouble, term.norm)
    else score().toDouble
}

/** Bounded top-k heap with Lucene's tie discipline: the WORST hit (smallest
  * score, then LARGEST docId) sits on top
  * (reference: lucene/core/src/java/org/apache/lucene/search/HitQueue.java:76-81).
  * Scores are stored as Double so one heap serves both the Float engine path
  * (float→double widening is exact, so order and ties are unchanged) and the
  * double-precision oracle-facing path. */
final class HitQueue(k: Int) {
  private val heapDoc = new Array[Long](k + 1)
  private val heapScore = new Array[Double](k + 1)
  private var n = 0

  def size: Int = n
  def isFull: Boolean = n == k
  def topScore: Double = heapScore(1)
  def topDoc: Long = heapDoc(1)

  /** `a` strictly worse than `b`? */
  @inline private def worse(sa: Double, da: Long, sb: Double, db: Long): Boolean =
    sa < sb || (sa == sb && da > db)

  def wouldBeCompetitive(doc: Long, score: Double): Boolean =
    n < k || worse(heapScore(1), heapDoc(1), score, doc)

  def insert(doc: Long, score: Double): Boolean = {
    if (n < k) {
      n += 1
      heapDoc(n) = doc; heapScore(n) = score
      upHeap(n)
      true
    } else if (worse(heapScore(1), heapDoc(1), score, doc)) {
      heapDoc(1) = doc; heapScore(1) = score
      downHeap()
      true
    } else false
  }

  private def upHeap(i0: Int): Unit = {
    var i = i0
    val d = heapDoc(i); val s = heapScore(i)
    while (i > 1 && worse(s, d, heapScore(i >> 1), heapDoc(i >> 1))) {
      heapDoc(i) = heapDoc(i >> 1); heapScore(i) = heapScore(i >> 1)
      i >>= 1
    }
    heapDoc(i) = d; heapScore(i) = s
  }

  private def downHeap(): Unit = {
    var i = 1
    val d = heapDoc(1); val s = heapScore(1)
    var done = false
    while (!done) {
      var child = i << 1
      if (child > n) done = true
      else {
        if (child + 1 <= n && worse(heapScore(child + 1), heapDoc(child + 1), heapScore(child), heapDoc(child)))
          child += 1
        if (worse(heapScore(child), heapDoc(child), s, d)) {
          heapDoc(i) = heapDoc(child); heapScore(i) = heapScore(child)
          i = child
        } else done = true
      }
    }
    heapDoc(i) = d; heapScore(i) = s
  }

  /** Results best-first (score desc, docId asc). Exact: every stored value
    * arrived as a Float on this path. */
  def results(): Array[ScoreDoc] = {
    val out = (1 to n).map(i => ScoreDoc(heapDoc(i), heapScore(i).toFloat)).toArray
    out.sortBy(sd => (-sd.score, sd.docId))
  }

  /** Double-precision results best-first. */
  def resultsD(): Array[ScoreDocD] = {
    val out = (1 to n).map(i => ScoreDocD(heapDoc(i), heapScore(i))).toArray
    out.sortBy(sd => (-sd.score, sd.docId))
  }
}

/** Per-partition totalHits counter (`TotalHits` + `TOTAL_HITS_THRESHOLD`,
  * reference: lucene/core/src/java/org/apache/lucene/search/TotalHits.java,
  * IndexSearcher.java:105): collectors count every match they observe; once
  * `seen >= threshold` pruning may engage and the count becomes a
  * GTE_OR_EQUAL_TO lower bound. A null counter = the production path:
  * prune immediately, count nothing. */
final class TotalCounter(val threshold: Long) {
  var seen: Long = 0L
  @inline def count(): Unit = seen += 1
  @inline def countedEnough: Boolean = seen >= threshold
}

/** The k-th-best score handed from doc range to doc range inside one search
  * task — Lucene's `MaxScoreAccumulator`, which likewise lives for one
  * search only (reference:
  * lucene/core/src/java/org/apache/lucene/search/MaxScoreAccumulator.java:26;
  * consumed in TopScoreDocCollector.java:303-318). A range raises it with
  * its full heap's k-th score; the ranges after it prune docs scoring
  * STRICTLY below it (a tie could still win the global docId tie-break, so
  * consumers compare against `nextDown(floor)`). Plain mutable state: the
  * ranges of a task run one after another ([[DocRangeLayout.serial]]). */
final class TopKFloor {
  private var floor: Float = Float.NegativeInfinity

  /** Raises the floor to `kth`; zero and negative scores never prune. */
  def raise(kth: Float): Unit = if (kth > 0f && kth > floor) floor = kth

  /** Strict-compare form: `bound <= strictBound` iff `bound < floor`
    * (-inf until a range raises it). */
  def strictBound: Double = Math.nextDown(floor).toDouble
}

/** Top-k collectors: the generic exhaustive one, and the dynamically pruned
  * disjunction one (MaxScore essential/non-essential split + impact-derived
  * per-term upper bounds — the WAND family, reference:
  * lucene/core/src/java/org/apache/lucene/search/WANDScorer.java:45-588).
  * Score-only pruning (`bound <= theta` skips) is sound because docs are
  * visited in docId order: an equal-score later doc loses the tie-break.
  * The pruned collectors start from the task's [[TopKFloor]] (null = none)
  * and raise it once their heap is full. While one runs, only it can raise
  * the floor, and its own heap already holds that value, so each reads the
  * floor once, at its start. */
object TopK {

  /** searchAfter predicate: hit must sort strictly after the marker. */
  @inline private def isAfter(after: ScoreDoc, doc: Long, score: Float): Boolean =
    score < after.score || (score == after.score && doc > after.docId)

  @inline private def isAfterD(after: ScoreDocD, doc: Long, score: Double): Boolean =
    score < after.score || (score == after.score && doc > after.docId)

  def iterate(root: DocScorer, k: Int, after: ScoreDoc = null,
      tc: TotalCounter = null): Array[ScoreDoc] = {
    val pq = new HitQueue(k)
    var doc = root.nextDoc()
    while (doc != DocScorer.NO_MORE) {
      if (tc != null) tc.count()
      val s = root.score()
      if (after == null || isAfter(after, doc, s)) pq.insert(doc, s)
      doc = root.nextDoc()
    }
    pq.results()
  }

  /** Round-to-4-decimals applied BEFORE ranking on the double-scored path,
    * so top-k inclusion and tie-breaks are decided on exactly the value the
    * oracle SQL ranks on (`round(score, 4) DESC, doc_id`). Half-away-from-
    * zero for the non-negative BM25 scores — the SAME rounding function as
    * DuckDB's `round(s, 4)` (math.rint would round half-to-even). */
  @inline def round4(x: Double): Double = math.floor(x * 10000d + 0.5d) / 10000d

  /** Exhaustive top-k over double-precision scores, rounded before ranking.
    * The oracle-facing scored-search family runs through this collector; the
    * production path stays Float + pruning. */
  def iterateD(root: DocScorer, k: Int, after: ScoreDocD = null): Array[ScoreDocD] = {
    val pq = new HitQueue(k)
    var doc = root.nextDoc()
    while (doc != DocScorer.NO_MORE) {
      val s = round4(root.scoreD())
      if (after == null || isAfterD(after, doc, s)) pq.insert(doc, s)
      doc = root.nextDoc()
    }
    pq.resultsD()
  }

  /** Single-term top-k with impacts pruning: the collector feeds its floor
    * into the iterator (`setMinCompetitiveScore` -> `ImpactsDISI`), which
    * then skips non-competitive blocks without decoding them. The task's
    * floor seeds it, so a range whose blocks are all sub-floor decodes
    * nothing. */
  def singleTerm(it: TermIterator, k: Int, after: ScoreDoc = null,
      tc: TotalCounter = null, floor: TopKFloor = null): Array[ScoreDoc] = {
    val pq = new HitQueue(k)
    if (floor != null && (tc == null || tc.countedEnough)) {
      val g = floor.strictBound.toFloat
      if (g > it.minCompetitive) it.minCompetitive = g
    }
    var doc = it.nextDoc()
    while (doc != DocScorer.NO_MORE) {
      if (tc != null) tc.count()
      val s = it.score()
      if (after == null || isAfter(after, doc, s)) {
        // the collector floor only feeds the iterator's impact skipping once
        // the hit-count threshold is crossed (null counter = immediately)
        if (pq.insert(doc, s) && pq.isFull && (tc == null || tc.countedEnough)) {
          val kth = pq.topScore.toFloat
          if (kth > it.minCompetitive) it.minCompetitive = kth
          if (floor != null) floor.raise(kth)
        }
      }
      doc = it.nextDoc()
    }
    pq.results()
  }

  /** Block-max top-k for any query whose root REQUIRES a conjunction —
    * arbitrary scorer children (terms, phrases, nested booleans), optional
    * SHOULD clauses (ReqOpt or msm-required) and MUST_NOT exclusion. `root`
    * is the exact scorer tree the exhaustive path executes (identical float
    * composition); `conj` is the root's required conjunction (a phrase's
    * inner term conjunction for phrase roots), which gets the
    * candidate-level pruning hooks ([[ConjunctionScorer.PruneContext]])
    * whose bounds delegate to the ROOT's compositional shallowMax/blockEnd.
    * Mixed-shape generalization of `BlockMaxConjunctionScorer` (reference:
    * lucene/core/src/java/org/apache/lucene/search/BlockMaxConjunctionScorer.java:30-249). */
  def conjunctionTopK(
      root: DocScorer,
      conj: ConjunctionScorer,
      k: Int,
      after: ScoreDoc = null,
      counters: ScorerCounters = null,
      tc: TotalCounter = null,
      floor: TopKFloor = null): Array[ScoreDoc] = {
    val pq = new HitQueue(k)
    val seed = if (floor == null) Double.NegativeInfinity else floor.strictBound
    if (conj != null) conj.enablePruning(new ConjunctionScorer.PruneContext {
      override def theta: Double = {
        if (tc != null && !tc.countedEnough) return Double.NegativeInfinity
        val local = if (pq.isFull) pq.topScore else Double.NegativeInfinity
        math.max(local, seed)
      }
      // the ROOT's compositional bound prices every shape correctly:
      // ReqOpt folds in the optional clauses, ReqExcl ignores the excluded
      // side, PhraseScorer caps by the phrase-frequency semantics
      override def boundAt(target: Long): Float = root.shallowMax(target)
      override def endAt(target: Long): Long = root.blockEnd(target)
      override def skipped(): Unit = if (counters != null) counters.skipped.add(1)
    })
    var doc = root.nextDoc()
    while (doc != DocScorer.NO_MORE) {
      if (tc != null) tc.count()
      val s = root.score()
      if (after == null || isAfter(after, doc, s)) {
        if (pq.insert(doc, s) && pq.isFull && (tc == null || tc.countedEnough) &&
            floor != null) floor.raise(pq.topScore.toFloat)
      }
      doc = root.nextDoc()
    }
    pq.results()
  }

  /** Pruned top-k for a pure disjunction of scoring clauses: MaxScore
    * essential/non-essential split on static bounds, refined per candidate
    * with block-level impact bounds, plus whole-block skips when even the
    * refined sum can't beat the floor (the block-max WAND family, reference:
    * lucene/core/src/java/org/apache/lucene/search/WANDScorer.java:265-366). */
  def disjunction(
      subsIn: Array[DocScorer],
      k: Int,
      after: ScoreDoc = null,
      counters: ScorerCounters = null,
      tc: TotalCounter = null,
      excl: DocScorer = null,
      floor: TopKFloor = null): Array[ScoreDoc] = {
    // zero-weight clauses can never score but they DO match: Lucene returns
    // docs matching only a boost-0 clause (score 0), so they stay in on BOTH
    // the counting and the production path. Sorted first by maxScore, they
    // drop out of the essential list as soon as the heap floor is positive —
    // near-zero overhead once pruning engages.
    val subs = subsIn.sortBy(_.maxScore)
    val n = subs.length
    if (n == 0) return Array.empty
    if (n == 1 && excl == null) return subs(0) match {
      case t: TermIterator => singleTerm(t, k, after, tc, floor)
      case s => iterate(s, k, after, tc)
    }
    val prefix = new Array[Double](n) // prefix(i) = sum of maxScore of subs[0..i]
    var acc = 0.0
    for (i <- 0 until n) { acc += subs(i).maxScore; prefix(i) = acc }

    val pq = new HitQueue(k)
    var essStart = 0
    // strict-compare form: bound <= gFloor iff bound < the task's floor
    val gFloor = if (floor == null) Double.NegativeInfinity else floor.strictBound

    // local floor prunes with <= (docId-ordered ties lose the tie-break
    // INSIDE a partition); the task's floor is already strict
    def theta: Double = {
      if (tc != null && !tc.countedEnough) return Double.NegativeInfinity
      val local = if (pq.isFull) pq.topScore else Double.NegativeInfinity
      math.max(local, gFloor)
    }

    // below the totalHits threshold every clause stays essential, so every
    // match is observed and counted; shrinking the essential list is the
    // step that starts skipping (= uncounted) matches
    def updateEssential(): Unit = {
      val th = theta
      if (th == Double.NegativeInfinity) { essStart = 0; return }
      var s = 0
      while (s < n && prefix(s) <= th) s += 1
      essStart = s
    }

    // position all subs at their first doc
    subs.foreach(_.nextDoc())

    var running = true
    while (running) {
      if (essStart >= n) { running = false }
      else {
        // candidate = min docId among essential clauses
        var cand = DocScorer.NO_MORE
        var i = essStart
        while (i < n) { if (subs(i).docId < cand) cand = subs(i).docId; i += 1 }
        if (cand == DocScorer.NO_MORE) running = false
        else {
          // BMW step: refine the essential bound with per-block impacts; if
          // even that can't beat the floor, jump every essential clause past
          // the nearest block boundary — the blocks are never decoded
          var skippedRange = false
          val th = theta
          if (th != Double.NegativeInfinity) {
            var bound = if (essStart > 0) prefix(essStart - 1) else 0.0
            i = essStart
            while (i < n) { bound += subs(i).shallowMax(cand); i += 1 }
            if (DocScorer.sumScores(bound) <= th) {
              var boundary = Long.MaxValue
              i = essStart
              while (i < n) { boundary = math.min(boundary, subs(i).blockEnd(cand)); i += 1 }
              if (counters != null) counters.skipped.add(1)
              i = essStart
              while (i < n) {
                if (subs(i).docId <= boundary) subs(i).advance(boundary + 1)
                i += 1
              }
              skippedRange = true
            }
          }
          if (!skippedRange) {
            // MUST_NOT exclusion rides the candidate stream: an excluded doc
            // is not a hit — not counted, not scored
            var excluded = false
            if (excl != null) {
              if (excl.docId < cand) excl.advance(cand)
              excluded = excl.docId == cand
            }
            if (!excluded) {
              // cand matches at least one (essential) clause — a real hit
              if (tc != null) tc.count()
              // sum essential clauses at cand
              var partial = 0.0
              i = essStart
              while (i < n) {
                if (subs(i).docId == cand) partial += subs(i).score()
                i += 1
              }
              // probe non-essential from the highest max-score down; each
              // clause's static cap is refined to its block-level bound at
              // cand before the clause is advanced (= decoded)
              i = essStart - 1
              var live = true
              while (i >= 0 && live) {
                val below = if (i > 0) prefix(i - 1) else 0.0
                if (DocScorer.sumScores(partial + below + subs(i).shallowMax(cand)) <= th) {
                  live = false
                } else {
                  if (subs(i).docId < cand) subs(i).advance(cand)
                  if (subs(i).docId == cand) partial += subs(i).score()
                  i -= 1
                }
              }
              if (live) {
                val s = DocScorer.sumScores(partial)
                if (after == null || isAfter(after, cand, s)) {
                  if (pq.insert(cand, s)) {
                    if (pq.isFull && (tc == null || tc.countedEnough) && floor != null)
                      floor.raise(pq.topScore.toFloat)
                    updateEssential()
                  }
                }
              }
            }
            // advance essential clauses that sit at cand
            i = essStart
            while (i < n) {
              if (subs(i).docId == cand) subs(i).nextDoc()
              i += 1
            }
          }
        }
      }
    }
    pq.results()
  }
}
