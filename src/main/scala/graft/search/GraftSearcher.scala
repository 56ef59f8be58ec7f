package graft.search

import scala.reflect.ClassTag
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.index._

/** Serializable per-query context shipped to executors: collection stats,
  * scoring settings and the query terms' statistics — the analog of
  * `IndexSearcher.collectionStatistics/termStatistics` (reference:
  * lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:901-914).
  * `plan` makes it without term statistics; the search task fills them in
  * from the blocks it holds ([[DocRangeLayout]]). */
final case class SearchContext(
    k1: Float,
    b: Float,
    stats: CollectionStats,
    /** (docFreq, totalTermFreq) of each exact query term the index holds,
      * summed over the doc ranges ([[DocRange.termStats]]); language-model
      * similarities need the ttf (LMSimilarity.computeProbability). */
    termStats: Map[String, (Long, Long)] = Map.empty,
    /** When set, term/phrase/synonym iterators also carry a
      * [[Bm25.DoubleScorer]] and top-k runs on round4'd double scores — the
      * oracle-facing scored-search family (DuckDB recomputes every score). */
    doubleMode: Boolean = false,
    /** Optional block decode/skip accumulators (pruning evidence). */
    counters: ScorerCounters = null,
    /** Scoring model override — `IndexSearcher.setSimilarity` analog. null
      * = Lucene's default, BM25(k1, b). */
    simOverride: Similarity = null) extends Serializable {
  /** The active [[Similarity]]. */
  lazy val sim: Similarity = if (simOverride != null) simOverride else Bm25Sim(k1, b)
  def has(t: String): Boolean = termStats.contains(t)
  def docFreq(t: String): Long = termStats(t)._1
  def ttfOf(t: String): Long = termStats(t)._2
}

/** One doc-range's contribution to a counting search: its local top-k, the
  * number of matches it observed, and whether it crossed the totalHits
  * threshold (after which its count is only a lower bound). */
final case class RangeHits(hits: Array[ScoreDoc], seen: Long, pruned: Boolean)

/** minShouldMatch >= m over a disjunction (`MinShouldMatchSumScorer` analog). */
final class MinShouldMatchScorer(union: DisjunctionSumScorer, m: Int) extends DocScorer {
  override def docId: Long = union.docId
  override def cost: Long = union.cost
  override def maxScore: Float = union.maxScore
  override def shallowMax(target: Long): Float = union.shallowMax(target)
  override def blockEnd(target: Long): Long = union.blockEnd(target)
  override def nextDoc(): Long = advance(union.docId + 1)
  override def advance(target: Long): Long = {
    var doc = union.advance(target)
    while (doc != DocScorer.NO_MORE && union.matchCount < m) doc = union.nextDoc()
    doc
  }
  override def score(): Float = union.score()
  override def scoreD(): Double = union.scoreD()
}

/** Builds the per-partition scorer tree from the query AST — the analog of
  * `Boolean2ScorerSupplier`'s scorer selection
  * (reference: lucene/core/src/java/org/apache/lucene/search/Boolean2ScorerSupplier.java:60-230). */
object ScorerBuilder {

  def build(
      q: Query,
      boost: Float,
      termBlocks: Map[String, Array[BlockRow]],
      ctx: SearchContext,
      range: DocRange): DocScorer =
    new Clauses(termBlocks, ctx, range).scorer(q, boost)

  /** Root-level execution, Lucene's scorer selection by shape
    * (`Boolean2ScorerSupplier`): single terms feed the collector floor into
    * the iterator's impact skipping; disjunctions run block-max WAND (with
    * MUST_NOT riding the candidate stream); ANY conjunction-rooted query —
    * mixed term/phrase/nested children, with or without SHOULD / MUST_NOT /
    * minShouldMatch — runs the generalized block-max conjunction over the
    * very scorer tree [[build]] makes; phrases prune through their inner
    * term conjunction; only msm>1 pure-should and boosted roots iterate
    * exhaustively. `floor` is the search task's [[TopKFloor]] (null = none). */
  def topK(
      q: Query,
      termBlocks: Map[String, Array[BlockRow]],
      ctx: SearchContext,
      range: DocRange,
      k: Int,
      after: ScoreDoc,
      tc: TotalCounter = null,
      floor: TopKFloor = null): Array[ScoreDoc] = {
    val c = new Clauses(termBlocks, ctx, range)
    q match {
      case BoolQ(Nil, should, mustNot, msm) if msm <= 1 && should.nonEmpty =>
        TopK.disjunction(c.clauses(should, 1f).toArray, k, after, ctx.counters, tc,
          c.anyOf(c.clauses(mustNot, 0f)), floor)
      case bq: BoolQ if bq.must.nonEmpty =>
        val (root, conj) = c.bool(bq, 1f)
        if (root eq EmptyScorer) Array.empty
        else TopK.conjunctionTopK(root, conj, k, after, ctx.counters, tc, floor)
      case _: TermQ =>
        c.scorer(q, 1f) match {
          case ti: TermIterator => TopK.singleTerm(ti, k, after, tc, floor)
          case _ => Array.empty
        }
      case _: PhraseQ =>
        c.scorer(q, 1f) match {
          case ps: PhraseScorer =>
            TopK.conjunctionTopK(ps, ps.innerConjunction, k, after, ctx.counters, tc, floor)
          case _ => Array.empty
        }
      case _ =>
        val root = c.scorer(q, 1f)
        if (root eq EmptyScorer) Array.empty
        else TopK.iterate(root, k, after, tc)
    }
  }

  /** Double-precision top-k (oracle-facing family): exhaustive collector on
    * round4'd scores — correctness surface, not the pruned production path. */
  def topKD(
      q: Query,
      termBlocks: Map[String, Array[BlockRow]],
      ctx: SearchContext,
      range: DocRange,
      k: Int,
      after: ScoreDocD): Array[ScoreDocD] = {
    val root = build(q, 1f, termBlocks, ctx, range)
    if (root eq EmptyScorer) Array.empty
    else TopK.iterateD(root, k, after)
  }

  /** The scorer factory of one doc range: every clause iterates the
    * range's blocks through [[postings]] (clipped to `[lo, hi)`, tombstones
    * skipped, scored with the range's norms), and every weight gets its
    * double twin on the double path only. */
  private final class Clauses(
      termBlocks: Map[String, Array[BlockRow]],
      ctx: SearchContext,
      range: DocRange) {

    private def postings(blocks: Array[BlockRow], sim: SimScorer,
        dSim: DoubleSimScorer = null): TermIterator =
      new TermIterator(blocks, sim, range, dSim, ctx.counters)

    private def double(dSim: => DoubleSimScorer): DoubleSimScorer =
      if (ctx.doubleMode) dSim else null

    private def weights(boost: Float, df: Long, ttf: Long): (SimScorer, DoubleSimScorer) =
      (ctx.sim.scorer(boost, df, ttf, ctx.stats),
        double(ctx.sim.doubleScorer(boost.toDouble, df, ttf, ctx.stats)))

    private def multiWeights(boost: Float, ts: Seq[String]): (SimScorer, DoubleSimScorer) = {
      val freqs = ts.map(ctx.termStats)
      (ctx.sim.multiTermScorer(boost, freqs, ctx.stats),
        double(ctx.sim.multiTermDoubleScorer(boost.toDouble, freqs, ctx.stats)))
    }

    /** The range holds blocks of `t` and the index has its stats. */
    private def present(t: String): Boolean =
      termBlocks.contains(t) && ctx.has(t)

    /** `t`'s postings at weight 1: the composite or constant score owning
      * the iterator prices its matches (multi-term expansions carry no term
      * statistics and weigh as df 1). */
    private def unweighted(t: String, blocks: Array[BlockRow]): TermIterator = {
      val (df, ttf) = ctx.termStats.getOrElse(t, (1L, 1L))
      postings(blocks, ctx.sim.scorer(1f, df, ttf, ctx.stats))
    }

    private def unit(t: String): Option[TermIterator] =
      if (present(t)) Some(unweighted(t, termBlocks(t))) else None

    private def repeats(ts: Seq[String]): Boolean = ts.distinct.size != ts.size

    /** A positional composite over `ts`, scored as one multi-term weight;
      * EmptyScorer when any of the terms is absent. */
    private def positional(ts: Seq[String], boost: Float)(
        make: (Array[TermIterator], SimScorer, DoubleSimScorer) => DocScorer): DocScorer = {
      val tis = ts.flatMap(unit)
      if (tis.size < ts.size) EmptyScorer
      else {
        val (s, ds) = multiWeights(boost, ts)
        make(tis.toArray, s, ds)
      }
    }

    // repeated terms force the ordered path: the unordered window sweep
    // could bind one occurrence to two slots (SpanNearQ scaladoc)
    private def spanNear(near: SpanNearQ, boost: Float, exclude: TermIterator = null,
        contain: TermIterator = null): DocScorer =
      positional(near.spanTerms, boost)((tis, s, ds) => new SpanNearScorer(tis, near.slop,
        near.inOrder || repeats(near.spanTerms), s, ds, exclude, contain))

    /** A synonym group scores as one pseudo-term: docFreq = min(sum of
      * clause dfs, docCount), collection freqs summed the same way
      * (reference: lucene/core/src/java/org/apache/lucene/search/SynonymQuery.java:199-218). */
    private def synonym(ts: Seq[String], boost: Float)(
        make: (Array[TermIterator], SimScorer, DoubleSimScorer) => DocScorer): DocScorer =
      if (ts.isEmpty) EmptyScorer
      else {
        val df = math.min(ts.map(ctx.docFreq).sum, ctx.stats.docCount)
        val (s, ds) = weights(boost, df, ts.map(ctx.ttfOf).sum)
        make(ts.map(t => unweighted(t, termBlocks(t))).toArray, s, ds)
      }

    private def constant(tis: Seq[DocScorer], boost: Float): DocScorer =
      if (tis.isEmpty) EmptyScorer
      else new ConstantScoreScorer(new DisjunctionSumScorer(tis.toArray), boost)

    def clauses(qs: Seq[Query], boost: Float): Seq[DocScorer] =
      qs.map(scorer(_, boost)).filterNot(_ eq EmptyScorer)

    /** The union of `scorers`; null when there are none. */
    def anyOf(scorers: Seq[DocScorer]): DocScorer =
      if (scorers.isEmpty) null
      else if (scorers.size == 1) scorers.head
      else new DisjunctionSumScorer(scorers.toArray)

    /** A BoolQ's scorer plus its required conjunction — the clauses every
      * match needs, where the pruned top-k installs its hooks (null without
      * MUST clauses). A one-clause conjunction scores exactly like its
      * clause: it sums in double, then casts to float. */
    def bool(bq: BoolQ, boost: Float): (DocScorer, ConjunctionScorer) = {
      val BoolQ(must, should, mustNot, msm) = bq
      val none = (EmptyScorer, null)
      val reqs = must.map(scorer(_, boost))
      if (reqs.exists(_ eq EmptyScorer)) return none
      val opts = clauses(should, boost)
      val (base, conj): (DocScorer, ConjunctionScorer) =
        if (must.isEmpty) {
          if (opts.isEmpty) return none
          if (opts.size == 1 && msm <= 1) (opts.head, null)
          else {
            val union = new DisjunctionSumScorer(opts.toArray)
            (if (msm > 1) new MinShouldMatchScorer(union, msm) else union, null)
          }
        } else if (msm > 0 && should.nonEmpty) {
          // minShouldMatch with MUST clauses present: the opt union becomes
          // a REQUIRED clause constrained to >= msm matching disjuncts
          // (Boolean2ScorerSupplier routes msm>0 through req, reference:
          // lucene/core/src/java/org/apache/lucene/search/Boolean2ScorerSupplier.java:118-137)
          if (opts.size < msm) return none
          val c = new ConjunctionScorer(
            (reqs :+ new MinShouldMatchScorer(new DisjunctionSumScorer(opts.toArray), msm)).toArray)
          (c, c)
        } else {
          val c = new ConjunctionScorer(reqs.toArray)
          (if (opts.isEmpty) c else new ReqOptSumScorer(c, anyOf(opts)), c)
        }
      val excl = anyOf(clauses(mustNot, 0f))
      (if (excl == null) base else new ReqExclScorer(base, excl), conj)
    }

    def scorer(q: Query, boost: Float): DocScorer = q match {
      case TermQ(t) =>
        if (!present(t)) EmptyScorer
        else {
          val (s, ds) = weights(boost, ctx.docFreq(t), ctx.ttfOf(t))
          postings(termBlocks(t), s, ds)
        }

      case PhraseQ(terms, positions, slop) =>
        positional(terms, boost)((tis, s, ds) =>
          new PhraseScorer(tis, positions.toArray, s, ds, slop, noRepeats = !repeats(terms)))

      case near: SpanNearQ => spanNear(near, boost)

      // exclude-term stats absent -> nothing to exclude: plain span-near
      case SpanNotQ(inc, excl) => spanNear(inc, boost, exclude = unit(excl).orNull)

      // the little term absent from the index -> nothing can be contained
      case SpanContainingQ(big, little) =>
        unit(little).fold[DocScorer](EmptyScorer)(c => spanNear(big, boost, contain = c))

      case SpanOrNearQ(slots, slop, inOrder) =>
        // a term absent from the index just drops out of its slot; a slot
        // with no surviving term can never match (SpanOrQuery of nothing)
        val slotIters = slots.map(_.flatMap(unit))
        if (slotIters.exists(_.isEmpty)) EmptyScorer
        else {
          val flat = slots.flatten
          val (s, ds) = multiWeights(boost, flat.filter(ctx.has))
          new SpanOrNearScorer(slotIters.map(_.toArray).toArray, slop,
            inOrder || repeats(flat), s, ds)
        }

      case sq @ (_: SpanFirstQ | _: SpanPosRangeQ) =>
        val (t, start, end) = sq match {
          case SpanFirstQ(t0, e) => (t0, 0, e)
          case SpanPosRangeQ(t0, s0, e) => (t0, s0, e)
        }
        if (!present(t)) EmptyScorer
        else {
          val (s, ds) = weights(boost, ctx.docFreq(t), ctx.ttfOf(t))
          new SpanFirstScorer(unweighted(t, termBlocks(t)), start, end, s, ds)
        }

      case DisMaxQ(disjuncts, tieBreak) =>
        val subs = clauses(disjuncts, boost)
        if (subs.isEmpty) EmptyScorer
        else if (subs.size == 1) subs.head
        else new DisMaxScorer(subs.toArray, tieBreak)

      case SynonymQ(terms) =>
        synonym(terms.filter(present), boost)(new SynonymScorer(_, _, _))

      case SynonymBoostQ(termBoosts) =>
        // the boosts only blend the per-doc frequency
        val kept = termBoosts.filter(tb => present(tb._1))
        synonym(kept.map(_._1), boost)(new SynonymBoostScorer(_, kept.map(_._2).toArray, _, _))

      case BlendedTermQ(terms, tieBreak) =>
        val kept = terms.filter(present)
        if (kept.isEmpty) EmptyScorer
        else {
          // BlendedTermQuery.adjustFrequencies: every clause scored with the
          // MAX df / ttf across the group, then DisjunctionMax(tieBreak)
          // (reference: lucene/core/src/java/org/apache/lucene/search/
          // BlendedTermQuery.java:281-306)
          val (s, ds) = weights(boost, kept.map(ctx.docFreq).max, kept.map(ctx.ttfOf).max)
          val subs = kept.map(t => postings(termBlocks(t), s, ds): DocScorer)
          if (subs.size == 1) subs.head
          else new DisMaxScorer(subs.toArray, tieBreak)
        }

      case ConstSetQ(terms) =>
        constant(terms.flatMap(t => termBlocks.get(t).map(unweighted(t, _))), boost)

      // multi-term queries expand IN-PARTITION against the terms the doc
      // range selected for them (DocRange.select) — distributed, uncapped
      // (MultiTermQuery CONSTANT_SCORE rewrite; no 1024-term truncation, no
      // driver-side dictionary collect)
      case mt: MultiTermQ =>
        constant(termBlocks.iterator.collect {
          case (t, blocks) if mt.matches(t) => unweighted(t, blocks)
        }.toSeq, boost)

      case bq: BoolQ => bool(bq, boost)._1
      case BoostQ(sub, bst) => scorer(sub, boost * bst)
      case MatchAllQ => new MatchAllScorer(range.lo, range.hi, boost, range.live)
      case MatchNoneQ => EmptyScorer
    }
  }
}

object GraftSearcher {
  /** Per-term boost for a scoring rewrite: fuzzy similarity for FuzzyQ
    * (reference: lucene/core/src/java/org/apache/lucene/search/FuzzyTermsEnum.java),
    * 1 for every other multi-term shape. */
  def rewriteBoost(mt: MultiTermQ, term: String): Float = mt match {
    case f: FuzzyQ =>
      val d = Query.levenshtein(term, f.term)
      if (d == 0) 1f
      else 1f - d.toFloat / math.min(term.length, f.term.length).toFloat
    case _ => 1f
  }

  /** The gather order: score desc, docId asc (equal scores, including
    * 0.0 and -0.0, tie on docId). */
  private def scoreDescDocAsc[T](score: T => Double, docId: T => Long): Ordering[T] =
    (a, b) => {
      val (sa, sb) = (score(a), score(b))
      if (sa > sb) -1 else if (sa < sb) 1 else java.lang.Long.compare(docId(a), docId(b))
    }

  val bestFirst: Ordering[ScoreDoc] = scoreDescDocAsc(_.score.toDouble, _.docId)
  val bestFirstD: Ordering[ScoreDocD] = scoreDescDocAsc(_.score, _.docId)
}

/** Query-side engine over a [[GraftIndex]].
  *
  * Distributed execution shape (SURVEY.md §3.2-3.3): the index is laid out
  * once into P aligned docId ranges ([[DocRangeLayout]], resident and
  * shared by every searcher over the index; blocks straddling a boundary
  * sit in both ranges and are clipped). A query is one map-only job over
  * that layout: its one task sums the query terms' statistics over the
  * blocks of all its ranges, then each range picks the query's blocks from
  * its own term dictionary and runs the pruned top-k, and the driver
  * merges the ≤ k·P hits by (score desc, docId asc) — Solr's
  * scatter-gather merge (`QueryComponent.mergeIds`) over
  * document-partitioned shards.
  */
final class GraftSearcher(
    val index: GraftIndex,
    val analyzer: Analyzer = graft.analysis.Analyzers.standard,
    k1: Float = Bm25.DEFAULT_K1,
    b: Float = Bm25.DEFAULT_B,
    /** Scoring model (`IndexSearcher.setSimilarity` analog); null = BM25(k1, b). */
    sim: Similarity = null) extends Serializable {

  /** A searcher over the same index scoring with `s` — cheap (shares the
    * cached index tables; only the per-query SearchContext changes). */
  def withSimilarity(s: Similarity): GraftSearcher =
    new GraftSearcher(index, analyzer, k1, b, s)

  @transient private val spark = index.spark
  import spark.implicits._

  val parser = new QueryParser(analyzer)
  lazy val fieldStats: FieldStatsRow = index.fieldStats

  /** Pruning evidence: posting blocks decoded vs skipped whole on impact
    * metadata, accumulated across every query this searcher runs. */
  @transient lazy val counters: ScorerCounters = ScorerCounters(
    spark.sparkContext.longAccumulator("graft.blocksDecoded"),
    spark.sparkContext.longAccumulator("graft.blocksSkipped"))

  /** Multi-term SCORING rewrites — the `TOP_TERMS_SCORING_BOOLEAN_REWRITE`
    * family (reference:
    * lucene/core/src/java/org/apache/lucene/search/MultiTermQuery.java:114-140;
    * TopTermsRewrite.java): instead of the CONSTANT_SCORE union, the top-N
    * matching dictionary terms become SCORED should-clauses. Fuzzy terms are
    * boosted by similarity `1 − dist / min(|term|, |query|)` (reference:
    * lucene/core/src/java/org/apache/lucene/search/FuzzyTermsEnum.java boost
    * computation); other multi-term shapes boost 1. Selection ranks
    * (boost desc, term asc) — our documented tie order. The dictionary walk
    * is a distributed termStats scan + TakeOrdered(N), the Spark analog of
    * Lucene's rewrite-time TermsEnum walk; N bounds the clause count like
    * `BooleanQuery.maxClauseCount`. */
  def scoringRewrite(mt: MultiTermQ, topN: Int = 1024): Query = {
    import spark.implicits._
    val mtB = mt
    val matching = dictTerms(mt)
      .map(ts => (ts.term, GraftSearcher.rewriteBoost(mtB, ts.term)))
      .toDF("term", "boost")
      .orderBy(desc("boost"), asc("term"))
      .limit(topN)
      .as[(String, Float)]
      .collect()
    if (matching.isEmpty) MatchNoneQ
    else Query.rewrite(BoolQ(should = matching.toSeq.map {
      case (t, b) => BoostQ(TermQ(t), b)
    }))
  }

  /** PhraseWildcardQuery (reference:
    * lucene/sandbox/src/java/org/apache/lucene/search/PhraseWildcardQuery.java:44-70):
    * a phrase whose positions may be multi-term queries. The reference
    * resolves single terms first, then expands each multi-term SEQUENTIALLY,
    * stopping immediately when a position has no matching term, and bounds
    * the total expansions (`maxMultiTermExpansions`). Here each multi-term
    * expands against `index.termStats` — the same dictionary-first scan
    * scoringRewrite uses (1 row per term, scan-prefilter pushdown) — and the
    * expanded slots match like MultiPhraseQuery (union postings per slot +
    * exact adjacency), which PhraseWildcardQuery's own scaladoc declares
    * rank-equivalent (:55-60). The fold short-circuits on an empty slot, so
    * later multi-terms are never expanded — the reference's early stop. */
  def phraseWildcard(slots: Seq[Query], maxExpansions: Int = 1024): Query = {
    import spark.implicits._
    val expanded = slots.foldLeft(Option(Vector.empty[Seq[String]])) {
      (acc, slot) => acc.flatMap { v =>
        slot match {
          case TermQ(t) =>
            Some(v :+ Seq(t))
          case mt: MultiTermQ =>
            val terms = dictTerms(mt)
              .map(_.term)
              .orderBy("value")
              .limit(maxExpansions)
              .as[String].collect()
            if (terms.isEmpty) None else Some(v :+ terms.toSeq)
          case other => throw new IllegalArgumentException(
            s"phraseWildcard slots must be TermQ or MultiTermQ, got $other")
        }
      }
    }
    expanded.map(Query.multiPhrase).getOrElse(MatchNoneQ)
  }

  /** FuzzyLikeThisQuery, ignoreTF mode (reference:
    * lucene/sandbox/src/java/org/apache/lucene/sandbox/queries/FuzzyLikeThisQuery.java
    * — addTerms :188-247, rewrite :277-340, ignoreTF ConstantScore :261-265):
    * per source word, fuzzy variants enumerate off the dictionary
    * (transpositions=true, matching the FuzzyTermsEnum call :207) with
    * similarity boost 1 − dist/min(len); all variants of a word share one
    * idf whose df is the word's own docFreq, or the INTEGER-AVERAGED variant
    * df when the word is absent (:230-233); the ranking score is
    * boost² · ClassicSimilarity.idf = ln((N+1)/(df+1)) + 1 (:240). A doc
    * scores the SUM of its matched variants' scores (the SHOULD-of-
    * constant-score-variants shape the rewrite builds). Scores are
    * micro-quantized to floor(1e6·s) integers before the per-doc sum, so
    * the addition order across variants can never perturb the result —
    * the double-precision oracle recomputes every step. One dictionary
    * scan per word + one postings fetch per variant (a k-clause
    * disjunction's cost shape). */
  def fuzzyLikeThis(words: Seq[String], maxEdits: Int = 1): DataFrame = {
    import spark.implicits._
    val n = fieldStats.docCount
    val variantRows: Seq[(String, Long)] = words.flatMap { w =>
      val fq = FuzzyQ(w, maxEdits, 0, transpositions = true)
      val variants = dictTerms(fq)
        .map(ts => (ts.term, ts.docFreq))
        .collect().sortBy(_._1).toSeq
      if (variants.isEmpty) Nil
      else {
        val dfSrc = variants.find(_._1 == w).map(_._2)
          .getOrElse(variants.map(_._2).sum / variants.length)
        val idf = math.log((n + 1).toDouble / (dfSrc + 1).toDouble) + 1.0
        variants.map { case (t, _) =>
          val b = 1.0 - Query.damerauLevenshtein(w, t).toDouble /
            math.min(w.length, t.length).toDouble
          (t, math.floor(b * b * idf * 1e6).toLong)
        }
      }
    }
    import org.apache.spark.sql.functions.{col, lit, sum => sqlSum}
    variantRows.map { case (t, micro) =>
      matchesDS(TermQ(t)).toDF("docId").withColumn("micro", lit(micro))
    }.reduce(_ unionByName _)
      .groupBy("docId")
      .agg((sqlSum(col("micro")).cast("double") / lit(1e6)).as("score"))
  }

  /** CommonTermsQuery (reference:
    * lucene/queries/src/java/org/apache/lucene/queries/CommonTermsQuery.java:123-180
    * `buildQuery`): terms whose docFreq exceeds `maxTermFrequency * docCount`
    * are demoted to SHOULD (they refine the score but cannot gate the match);
    * the rest are MUST. The df lookup is one tiny parquet-pushdown scan of
    * the term dictionary. Terms absent from the dictionary stay MUST (they
    * make the query match nothing, like Lucene). */
  def commonTermsQuery(terms: Seq[String], maxTermFrequency: Double = 0.3): Query = {
    import spark.implicits._
    val rows = index.termStats.filter($"term".isin(terms: _*)).collect()
    val df = rows.map(t => t.term -> t.docFreq).toMap
    val cutoff = maxTermFrequency * fieldStats.docCount
    val (high, low) = terms.partition(t => df.getOrElse(t, 0L) > cutoff)
    Query.rewrite(BoolQ(
      must = low.map(TermQ.apply),
      should = high.map(TermQ.apply)))
  }

  /** The rewritten query and its [[SearchContext]] without term
    * statistics: the collection statistics and scoring settings. It runs
    * no Spark job. The search task sums the query terms' statistics over
    * the blocks it holds ([[DocRangeLayout]]), and multi-term clauses
    * expand inside each doc range over that range's own terms (no
    * driver-side term collection, no expansion cap). */
  def plan(q0: Query): (Query, SearchContext) =
    (Query.rewrite(q0), SearchContext(k1, b,
      CollectionStats(fieldStats.docCount, fieldStats.sumTotalTermFreq),
      counters = counters, simOverride = sim))

  def parse(s: String): Query = parser.parse(s)

  /** The dictionary rows a multi-term clause expands to — the one
    * driver-side expansion, Lucene's rewrite-time `TermsEnum` walk: the
    * pushable [[Query.scanPrefilter]] narrows the term-stats scan (one row
    * per DICTIONARY TERM, never per block row) and `mt.matches` decides. */
  private[graft] def dictTerms(mt: MultiTermQ): Dataset[TermStatsRow] =
    index.termStats.filter(Query.scanPrefilter(mt)).filter(ts => mt.matches(ts.term))

  /** WordBreakSpellChecker.suggestWordBreaks (reference:
    * lucene/suggest/src/java/org/apache/lucene/search/spell/WordBreakSpellChecker.java:1-514,
    * generateBreakUpSuggestions :180-230): one-change splits of each input
    * whose halves are BOTH dictionary terms of length >= minBreakLength.
    * Ranked like the reference's SuggestWordQueue ordering — fewest changes
    * first is trivial at maxChanges=1, then higher frequency (the rarer
    * half bounds a suggestion's usefulness, so the tie key is the MIN of
    * the two dfs), then break position. The candidate splits are a handful
    * of driver-side strings broadcast against the dictionary — two
    * equi-joins, never a dictionary scan. */
  def suggestWordBreaks(terms: Seq[String], minBreakLength: Int = 2): DataFrame = {
    import spark.implicits._
    val cands = terms.flatMap { w =>
      (minBreakLength to w.length - minBreakLength)
        .map(i => (w, i.toLong, w.substring(0, i), w.substring(i)))
    }.toDF("input", "break_at", "left_part", "right_part")
    val dict = index.termStats.toDF()
    index.termStats.toDF()
      .select($"term".as("left_part"), $"docFreq".as("df_left"))
      .join(broadcast(cands), Seq("left_part"))
      .join(dict.select($"term".as("right_part"), $"docFreq".as("df_right")),
        Seq("right_part"))
      .select($"input", $"break_at", $"left_part", $"right_part",
        $"df_left", $"df_right")
      .orderBy($"input", least($"df_left", $"df_right").desc, $"break_at")
  }

  /** WordBreakSpellChecker.suggestWordCombinations (reference:
    * WordBreakSpellChecker.java generateSuggestWordCombinations :232-280):
    * adjacent input-term pairs whose concatenation is a dictionary term.
    * Same broadcast-candidates-into-dictionary shape as word breaks. */
  def suggestWordCombinations(terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val cands = terms.iterator.sliding(2).withPartial(false).zipWithIndex
      .map { case (pair, i) => (i.toLong, pair.head, pair(1), pair.head + pair(1)) }
      .toSeq.toDF("pos", "w1", "w2", "combined")
    index.termStats.toDF()
      .select($"term".as("combined"), $"docFreq".as("df"))
      .join(broadcast(cands), Seq("combined"))
      .select($"pos", $"w1", $"w2", $"combined", $"df")
      .orderBy("pos")
  }

  /** Distributed top-k. Returns hits best-first (score desc, docId asc). */
  def search(queryStr: String, k: Int): Array[ScoreDoc] = search(parse(queryStr), k, null)

  /** Top-k best-first: one job over the resident layout whose ≤ k·P hits
    * come back through [[DocRangeLayout.collect]], merged on the driver. */
  def search(q0: Query, k: Int, after: ScoreDoc = null, numPartitions: Int = 0): Array[ScoreDoc] =
    searchJob(q0, k, after, numPartitions).gather().sorted(GraftSearcher.bestFirst).take(k)

  /** One query's search task over the index's resident layout, run either
    * way: [[rdd]] for the Dataset surfaces, [[gather]] for the driver-side
    * merges (its one job runs a closure [[DocRangeLayout]] declares, so
    * Spark's closure cleaner does not parse `RDD`'s bytecode per query).
    * A null layout is a job with no ranges: the index holds no doc, or the
    * query rewrote to MatchNone. */
  private final class RangeJob[T: ClassTag](
      layout: DocRangeLayout,
      terms: Set[String],
      ctx: SearchContext,
      f: (DocRange, SearchContext, TopKFloor) => Iterator[T]) {
    def rdd: RDD[T] =
      if (layout == null) spark.sparkContext.emptyRDD[T] else layout.serial(terms, ctx)(f)
    def gather(): Array[T] =
      if (layout == null) Array.empty[T] else layout.collect(terms, ctx)(f)
  }

  /** The search task that plans `q0` and runs `f` once per doc range of the
    * index's resident layout — the one map-only job behind every search
    * surface (Float top-k, double top-k, match set, counting and
    * index-order collection), as a [[RangeJob]] the caller runs as an RDD
    * or gathers to the driver. Each range hands `f` the rewritten query,
    * its blocks from the range's own dictionary (exact terms by lookup,
    * multi-term clauses by `matches`), the [[SearchContext]] the task
    * completed with the exact terms' statistics over all its ranges, the
    * range itself (`[lo, hi)`, tombstones and norms) and the task's
    * [[TopKFloor]]. Every range runs, including ranges holding none of the
    * query's blocks (a MatchAll-anchored query such as NOT matches there;
    * any other query builds an empty scorer). Ranges run in ascending docId
    * order inside one task, so the floor each range starts from is the same
    * on every run of the job. P = `numPartitions`, or `defaultParallelism`
    * when 0. */
  private def perRange[T: ClassTag](
      q0: Query,
      numPartitions: Int,
      doubleMode: Boolean = false)(
      f: (Query, Map[String, Array[BlockRow]], SearchContext, DocRange, TopKFloor) => Iterator[T]): RangeJob[T] = {
    val (q, ctx) = plan(q0)
    if (q == MatchNoneQ || fieldStats.maxDocId < 0) return new RangeJob[T](null, null, null, null)
    val p = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    val exact = Query.terms(q)
    val mts = Query.multiTerms(q)
    new RangeJob[T](index.docRangeLayout(p), exact, ctx.copy(doubleMode = doubleMode),
      (r, c, floor) => f(q, r.select(exact, mts), c, r, floor))
  }

  /** Top-k with totalHits + relation (`TopScoreDocCollector` /
    * `TotalHits.Relation` semantics, reference:
    * lucene/core/src/java/org/apache/lucene/search/TotalHits.java): each
    * doc-range partition counts every match it observes and holds pruning
    * back until it has counted `totalHitsThreshold` matches (Lucene's
    * TOTAL_HITS_THRESHOLD = 1000, per leaf — same approximation here, per
    * doc-range). Returns (hits best-first, totalHits, "EQ" | "GTE"): EQ =
    * no partition crossed its threshold, the count is exact; GTE = the
    * count is a lower bound because pruning may have skipped matches. The
    * per-range counts come back through [[DocRangeLayout.collect]]: one
    * job, one stage, one task. */
  def searchWithTotal(
      q0: Query,
      k: Int,
      totalHitsThreshold: Long = 1000L,
      numPartitions: Int = 0): (Array[ScoreDoc], Long, String) = {
    val ranges = perRange[RangeHits](q0, numPartitions) { (q, blocks, ctx, r, _) =>
      val tc = new TotalCounter(totalHitsThreshold)
      val hits = ScorerBuilder.topK(q, blocks, ctx, r, k, null, tc)
      Iterator.single(RangeHits(hits, tc.seen, tc.countedEnough))
    }.gather()
    val total = ranges.map(_.seen).sum
    val gte = ranges.exists(_.pruned)
    val hits = ranges.flatMap(_.hits).sorted(GraftSearcher.bestFirst).take(k)
    (hits, total, if (gte) "GTE" else "EQ")
  }

  /** The per-range top-k hits as a Dataset: up to k rows per doc range,
    * whose k best rows are the global top-k. Each range starts from the
    * k-th score the ranges before it in the task left ([[TopKFloor]]) and
    * may drop docs scoring below it (they cannot make the global top-k), so
    * a range full of non-competitive docs skips whole block ranges. Every
    * collect returns the same rows. */
  def searchDS(q0: Query, k: Int, after: ScoreDoc = null, numPartitions: Int = 0): Dataset[ScoreDoc] =
    spark.createDataset(searchJob(q0, k, after, numPartitions).rdd)

  private def searchJob(q0: Query, k: Int, after: ScoreDoc, numPartitions: Int): RangeJob[ScoreDoc] =
    perRange[ScoreDoc](q0, numPartitions) { (q, blocks, ctx, r, floor) =>
      ScorerBuilder.topK(q, blocks, ctx, r, k, after, floor = floor).iterator
    }

  /** Double-precision per-partition top-k (oracle-facing scored family):
    * same index, same iterators, textbook double BM25 on the quantized norm
    * lengths, rounded to 4 decimals BEFORE ranking — every score is exactly
    * recomputable by the DuckDB oracle. */
  def searchDoubleDS(q0: Query, k: Int, after: ScoreDocD = null, numPartitions: Int = 0): Dataset[ScoreDocD] =
    spark.createDataset(searchDoubleJob(q0, k, after, numPartitions).rdd)

  private def searchDoubleJob(q0: Query, k: Int, after: ScoreDocD,
      numPartitions: Int): RangeJob[ScoreDocD] =
    perRange[ScoreDocD](q0, numPartitions, doubleMode = true) { (q, blocks, ctx, r, _) =>
      ScorerBuilder.topKD(q, blocks, ctx, r, k, after).iterator
    }

  /** Global double-precision top-k, best-first. */
  def searchDouble(q0: Query, k: Int, after: ScoreDocD = null): Array[ScoreDocD] =
    searchDoubleJob(q0, k, after, 0).gather().sorted(GraftSearcher.bestFirstD).take(k)

  /** Index-sorted top-k with EARLY TERMINATION — Lucene's
    * `TopFieldCollector` over a congruent index sort (reference:
    * lucene/core/src/java/org/apache/lucene/search/TopFieldCollector.java:212-227
    * `canEarlyTerminate`; sorted collection stops a leaf after k competitive
    * hits). DocIds inside a sorted run are ranked by the index sort, so each
    * doc-range partition collects only its FIRST k matches per run and stops
    * iterating — later posting blocks in the range are never decoded. The
    * global answer is the k sort-smallest of the ≤ k·(runs·ranges)
    * candidates (caller joins sort-field values and orders). At 100 TB this
    * bounds per-partition work by k instead of the match count. */
  def searchByIndexOrder(q0: Query, k: Int, numPartitions: Int = 0): Dataset[Long] = {
    require(index.indexSort.nonEmpty,
      "searchByIndexOrder needs an index built with IndexConfig.sortFields")
    val bases = index.sortRunBases.toArray.sorted
    spark.createDataset(perRange[Long](q0, numPartitions) { (q, blocks, ctx, r, _) =>
      // split [lo, hi) at sorted-run boundaries: docId order equals the index
      // sort only WITHIN a run (appends/merges concatenate runs unsorted)
      val cuts = (r.lo +: bases.filter(b => b > r.lo && b < r.hi).toSeq :+ r.hi).distinct.sorted
      cuts.sliding(2).flatMap {
        case Seq(l, h) =>
          val root = ScorerBuilder.build(q, 1f, blocks, ctx, r.clip(l, h))
          if (root eq EmptyScorer) Iterator.empty[Long]
          else {
            val out = new scala.collection.mutable.ArrayBuffer[Long](k)
            var d = root.nextDoc()
            while (d != DocScorer.NO_MORE && out.size < k) { out += d; d = root.nextDoc() }
            out.iterator // stopped WITHOUT exhausting the run — the ET
          }
        case _ => Iterator.empty[Long]
      }
    }.rdd)
  }

  /** All matching docIds, unranked — the boolean match-set surface
    * (ConstantScore bulk collection). Same distributed shape as [[searchDS]]
    * but each doc-range partition emits every match instead of a top-k heap. */
  def matchesDS(q0: Query, numPartitions: Int = 0): Dataset[Long] =
    spark.createDataset(perRange[Long](q0, numPartitions) { (q, blocks, ctx, r, _) =>
      val root = ScorerBuilder.build(q, 1f, blocks, ctx, r)
      if (root eq EmptyScorer) Iterator.empty[Long]
      else new Iterator[Long] {
        private var d = root.nextDoc()
        override def hasNext: Boolean = d != DocScorer.NO_MORE
        override def next(): Long = { val out = d; d = root.nextDoc(); out }
      }
    }.rdd)

  /** Every match with its double-precision score, round4'd like
    * [[searchDoubleDS]] — the value surface behind rescoring and
    * function-score composition. `docFilter` (sorted docIds), when non-null,
    * restricts evaluation to those docs: Lucene's QueryRescorer advances the
    * second-pass query only over the first pass's topN (reference:
    * lucene/core/src/java/org/apache/lucene/search/QueryRescorer.java:54-107)
    * — here the topN ships as a broadcast and each doc-range partition
    * leapfrogs the scorer across its slice of it, so the second query's full
    * match set is never materialized. */
  def scoreAllDoubleDS(q0: Query, docFilter: Array[Long] = null): Dataset[ScoreDocD] = {
    val bc =
      if (docFilter == null) null
      else spark.sparkContext.broadcast(docFilter.sorted)
    spark.createDataset(perRange[ScoreDocD](q0, 0, doubleMode = true) { (q, blocks, ctx, r, _) =>
      val root = ScorerBuilder.build(q, 1f, blocks, ctx, r)
      if (root eq EmptyScorer) Iterator.empty[ScoreDocD]
      else if (bc == null) new Iterator[ScoreDocD] {
        private var d = root.nextDoc()
        override def hasNext: Boolean = d != DocScorer.NO_MORE
        override def next(): ScoreDocD = {
          val out = ScoreDocD(d, TopK.round4(root.scoreD()))
          d = root.nextDoc()
          out
        }
      } else {
        // leapfrog: advance the scorer to each filter doc in this range
        val ids = bc.value
        var from = java.util.Arrays.binarySearch(ids, r.lo)
        if (from < 0) from = -from - 1
        new Iterator[ScoreDocD] {
          private var i = from
          private var nextHit: ScoreDocD = fetch()
          private def fetch(): ScoreDocD = {
            while (i < ids.length && ids(i) < r.hi) {
              val target = ids(i)
              i += 1
              val d = if (root.docId >= target) root.docId else root.advance(target)
              if (d == target) return ScoreDocD(d, TopK.round4(root.scoreD()))
            }
            null
          }
          override def hasNext: Boolean = nextHit != null
          override def next(): ScoreDocD = { val out = nextHit; nextHit = fetch(); out }
        }
      }
    }.rdd)
  }

  /** Driver-side exhaustive oracle: same scorer tree, zero pruning, one
    * doc range over the whole doc space — the `CheckHits` / TestWANDScorer
    * differential baseline (reference:
    * lucene/core/src/test/org/apache/lucene/search/TestWANDScorer.java:209).
    * It reads the stored tables, not the resident layout: the blocks of
    * the query's exact terms and of its multi-term expansions
    * ([[dictTerms]]) and every doc's norm, as one [[DocRange]] whose
    * [[DocRange.termStats]] are the exact terms' statistics. */
  def bruteForce(q0: Query, k: Int, after: ScoreDoc = null): Array[ScoreDoc] = {
    val (q, ctx) = plan(q0)
    if (q == MatchNoneQ) return Array.empty
    val exact = Query.terms(q)
    val terms = exact ++ Query.multiTerms(q).flatMap(mt => dictTerms(mt).collect().map(_.term))
    val live =
      if (!index.hasDeletes) null
      else new LiveDocs(index.deletes.collect().sorted)
    val maxDoc = fieldStats.maxDocId + 1
    val all = DocRange(0L, maxDoc,
      index.blocks.filter($"term".isin(terms.toSeq: _*)).collect()
        .groupBy(_.term).map { case (t, arr) => t -> arr.sortBy(_.firstDocId) },
      live,
      DocRange.normsOf(0L, maxDoc, index.docs.select("docId", "norm").as[(Long, Int)].collect().iterator))
    val root = ScorerBuilder.build(q, 1f, all.blocks,
      ctx.copy(termStats = DocRange.termStats(Array(all), exact)), all)
    if (root eq EmptyScorer) Array.empty
    else TopK.iterate(root, k, after)
  }
}
