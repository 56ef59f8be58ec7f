package graft.search

import graft.analysis.Analyzer

/** Query AST — the subset of Lucene's query zoo required by the reference
  * query-set shapes (lucene/benchmark/conf/query-terms.txt, query-phrases.txt,
  * query-wildcards.txt): terms, boolean AND/OR/NOT, quoted phrases, prefix /
  * wildcard expansion, synonyms, boosts. */
sealed trait Query extends Serializable

final case class TermQ(term: String) extends Query
/** positions = the analyzed position offset of each term inside the phrase
  * (stop-filtered gaps preserved, like Lucene's QueryParser). slop = 0 is
  * the exact phrase. slop > 0 matches with Lucene's window condition
  * (reference:
  * lucene/core/src/java/org/apache/lucene/search/SloppyPhraseMatcher.java):
  * one occurrence per slot whose offset-adjusted positions span <= slop.
  * For 2-term phrases this is the anchored check |Δposition − Δoffset| <=
  * slop; for >= 3 distinct terms the smallest-covering-range sweep
  * evaluates the same condition. Documented deviations from Lucene: the
  * sloppy FREQ counts locally-minimal covering windows (Lucene weights
  * each match 1/(1+matchLength)), and phrases that repeat a term fall back
  * to anchored matching. */
final case class PhraseQ(terms: Seq[String], positions: Seq[Int], slop: Int = 0) extends Query

/** Span-near proximity over single-term spans (reference:
  * lucene/core/src/java/org/apache/lucene/search/spans/SpanNearQuery.java;
  * ordered matching: NearSpansOrdered.java:34-61, unordered:
  * NearSpansUnordered.java). For single-term subspans each span has width
  * 1, so the ordered condition reduces to a strictly increasing occurrence
  * chain p_1 < p_2 < ... < p_n with total gap p_n - p_1 - (n-1) <= slop,
  * and the unordered condition to a one-occurrence-per-slot covering
  * window of width max - min - (n-1) <= slop. Unlike [[PhraseQ]] the terms
  * carry no fixed offsets — any in-order (or any-order) placement within
  * the gap budget matches. freq counts anchor occurrences of the first /
  * leftmost slot that begin a valid chain (Lucene weights matches by
  * sloppyFreq — documented deviation; the MATCH SET is identical for
  * distinct terms). Repeated terms are matched on distinct positions by
  * construction on the ordered path; the unordered path requires distinct
  * terms (the builder falls back to ordered when terms repeat). */
final case class SpanNearQ(spanTerms: Seq[String], slop: Int, inOrder: Boolean = true)
  extends Query

/** SpanNearQuery over SpanOrQuery clauses (reference:
  * lucene/core/src/java/org/apache/lucene/search/spans/SpanOrQuery.java —
  * the or-merge of sub-span position streams — composed under
  * SpanNearQuery.java). Each slot matches ANY of its terms; slot position
  * lists are the sorted union of member term positions, then the
  * [[SpanNearQ]] ordered/unordered window conditions apply unchanged.
  * A term repeated across slots forces the ordered path (same
  * distinct-binding reasoning as [[SpanNearQ]]). */
final case class SpanOrNearQ(slots: Seq[Seq[String]], slop: Int, inOrder: Boolean = true)
  extends Query

/** SpanNotQuery (reference:
  * lucene/core/src/java/org/apache/lucene/search/spans/SpanNotQuery.java:
  * include spans are rejected when an exclude span overlaps them; for a
  * width-1 exclude term at position q and an include chain spanning
  * [start, last], overlap means start <= q <= last). The include side is a
  * [[SpanNearQ]]; each anchor's GREEDY minimal-width chain (the same chain
  * [[SpanNearQ]] matching evaluates) is the span tested for overlap — the
  * oracle recomputes the identical greedy choice. Docs where the exclude
  * term is absent reduce to plain span-near. */
final case class SpanNotQ(include: SpanNearQ, exclude: String) extends Query

/** SpanContainingQuery (reference:
  * lucene/core/src/java/org/apache/lucene/search/spans/SpanContainingQuery.java:
  * big spans are kept only when they CONTAIN a little span) — the exact dual
  * of [[SpanNotQ]]'s overlap rejection: the same greedy chain is ACCEPTED
  * only when an occurrence of `little` falls inside [start, last]. The
  * little side is a single term, the same honest subset SpanNotQ declares
  * for its exclude side. `SpanWithinQuery` (little-in-big) matches the same
  * DOCUMENT set — only the emitted span differs — so the match surface
  * covers both. */
final case class SpanContainingQ(big: SpanNearQ, little: String) extends Query

/** SpanFirstQuery (reference:
  * lucene/core/src/java/org/apache/lucene/search/spans/SpanFirstQuery.java;
  * SpanPositionRangeQuery.java `acceptPosition`: spans ending past `end`
  * are rejected): the wrapped single-term span must END within the first
  * `end` positions — a width-1 span at position p has end p+1, so the
  * condition is p + 1 <= end. freq counts qualifying occurrences. */
final case class SpanFirstQ(term: String, end: Int) extends Query

/** SpanPositionRangeQuery (reference:
  * lucene/core/src/java/org/apache/lucene/search/spans/SpanPositionRangeQuery.java
  * `acceptPosition`: keep spans with startPosition >= start AND
  * endPosition <= end — SpanFirstQuery is the start=0 special case). */
final case class SpanPosRangeQ(term: String, start: Int, end: Int)
  extends Query

/** Max-of-disjuncts scoring: score = max + tieBreak * Σ(other matching
  * clauses) (reference:
  * lucene/core/src/java/org/apache/lucene/search/DisjunctionMaxQuery.java). */
final case class DisMaxQ(disjuncts: Seq[Query], tieBreak: Float = 0f) extends Query
final case class BoolQ(
    must: Seq[Query] = Nil,
    should: Seq[Query] = Nil,
    mustNot: Seq[Query] = Nil,
    minShouldMatch: Int = 0) extends Query
final case class BoostQ(q: Query, boost: Float) extends Query
/** Multi-term queries: a term-dictionary predicate executed as a
  * CONSTANT_SCORE union of the matching terms' postings (MultiTermQuery
  * CONSTANT_SCORE rewrite, reference:
  * lucene/core/src/java/org/apache/lucene/search/MultiTermQuery.java:68,94).
  *
  * Expansion is DISTRIBUTED and uncapped (Lucene never truncates
  * CONSTANT_SCORE rewrites): `matches` runs inside each doc range of the
  * resident layout against that range's sorted terms, from the clause's
  * seek key ([[Query.literalPrefix]]). Driver-side expansions (scoring
  * rewrites, phrase slots, the exhaustive `bruteForce`) walk the term
  * dictionary once (`GraftSearcher.dictTerms`): [[Query.scanPrefilter]]
  * narrows the scan and `matches` decides. */
sealed trait MultiTermQ extends Query {
  def matches(term: String): Boolean
}
final case class PrefixQ(prefix: String) extends MultiTermQ {
  override def matches(term: String): Boolean = term.startsWith(prefix)
}
final case class WildcardQ(pattern: String) extends MultiTermQ {
  @transient private lazy val re =
    java.util.regex.Pattern.compile(Query.wildcardRegex(pattern))
  override def matches(term: String): Boolean = re.matcher(term).matches()
}
/** Terms within `maxEdits` plain Levenshtein distance (reference:
  * lucene/core/src/java/org/apache/lucene/search/FuzzyQuery.java:243 — the
  * reference walks a Levenshtein automaton over the dictionary and blends
  * scores; this engine keeps the match semantics (plain edit distance, so a
  * SQL oracle can recompute it with `levenshtein()`) and the CONSTANT_SCORE
  * rewrite). */
final case class FuzzyQ(term: String, maxEdits: Int = 2,
                        prefixLength: Int = 0,
                        transpositions: Boolean = false) extends MultiTermQ {
  /** Lucene's FuzzyQuery(term, maxEdits, prefixLength): the first
    * `prefixLength` characters must match EXACTLY (no edits there) — the
    * standard production setting (1-2) that anchors the dictionary scan to
    * a prefix seek instead of a full-dictionary edit-distance pass.
    *
    * `transpositions = true` is Lucene's DEFAULT constructor setting
    * (FuzzyQuery.java `defaultTranspositions = true`): an adjacent-character
    * swap costs ONE edit (Damerau-Levenshtein) instead of two. We implement
    * the unrestricted Damerau distance — the same function DuckDB exposes as
    * `damerau_levenshtein()`, so the oracle recomputes it exactly. */
  override def matches(t: String): Boolean = {
    val p = math.min(prefixLength, term.length)
    t.length >= p && t.startsWith(term.substring(0, p)) &&
      math.abs(t.length - term.length) <= maxEdits &&
      (if (transpositions) Query.damerauLevenshtein(t, term) <= maxEdits
       else Query.levenshtein(t, term) <= maxEdits)
  }
}
/** Anchored regular-expression term query (reference:
  * lucene/core/src/java/org/apache/lucene/search/RegexpQuery.java — automaton
  * intersection there, a dictionary regex filter here; keep patterns in the
  * Java/RE2 common subset). */
final case class RegexpQ(pattern: String) extends MultiTermQ {
  @transient private lazy val re = java.util.regex.Pattern.compile(pattern)
  override def matches(term: String): Boolean = re.matcher(term).matches()
}
/** Lexicographic term range (reference:
  * lucene/core/src/java/org/apache/lucene/search/TermRangeQuery.java).
  * null bound = open end. */
final case class TermRangeQ(
    lower: String,
    upper: String,
    includeLower: Boolean = true,
    includeUpper: Boolean = true) extends MultiTermQ {
  override def matches(t: String): Boolean = {
    val loOk = lower == null ||
      (if (includeLower) t.compareTo(lower) >= 0 else t.compareTo(lower) > 0)
    val hiOk = upper == null ||
      (if (includeUpper) t.compareTo(upper) <= 0 else t.compareTo(upper) < 0)
    loOk && hiOk
  }
}
/** Explicit constant-score set of terms — `TermInSetQuery` (reference:
  * lucene/core/src/java/org/apache/lucene/search/TermInSetQuery.java:47-76:
  * a doc matches when it contains ANY set member; scores are constant, the
  * rewrite that large programmatic filters take instead of a BooleanQuery
  * with its clause limit). */
final case class ConstSetQ(terms: Seq[String]) extends Query
/** Terms scored as one pseudo-term (reference:
  * lucene/core/src/java/org/apache/lucene/search/SynonymQuery.java:55-218). */
final case class SynonymQ(terms: Seq[String]) extends Query
/** SynonymQuery with per-term boosts (reference: lucene/core/src/java/org/
  * apache/lucene/search/SynonymQuery.java:75-109 `Builder#addTerm(Term,
  * float)` — 0 < boost <= 1; at scoring the blended frequency is
  * Σ boost_i · tf_i, `FreqBoostTermScorer` :389-421), sharing [[SynonymQ]]'s
  * pseudo-term df/ttf blending. */
final case class SynonymBoostQ(terms: Seq[(String, Float)]) extends Query
/** BlendedTermQuery (reference:
  * lucene/core/src/java/org/apache/lucene/search/BlendedTermQuery.java:
  * each term is scored as a TermQuery whose df/ttf are REPLACED by the
  * maximum across the group — `adjustFrequencies` — then combined by
  * DisjunctionMax with `tieBreakerMultiplier`; the cross-field shape
  * Elasticsearch's `cross_fields` uses). Differs from [[SynonymQ]], which
  * merges the postings into one pseudo-term with min(Σdf, docCount). */
final case class BlendedTermQ(terms: Seq[String], tieBreak: Float = 0f) extends Query
case object MatchAllQ extends Query
case object MatchNoneQ extends Query

object Query {

  /** MultiPhraseQuery (reference:
    * lucene/core/src/java/org/apache/lucene/search/MultiPhraseQuery.java:41-74):
    * a phrase whose positions each accept a SET of terms (the shape synonym
    * expansion produces). Lucene matches it with a union-postings iterator
    * per position feeding the exact phrase matcher
    * (`UnionPostingsEnum`, MultiPhraseQuery.java:521-586) — exactly the
    * or-merged slot position streams [[SpanOrNearQ]] builds, with slop 0 and
    * in-order adjacency = consecutive positions. */
  def multiPhrase(slots: Seq[Seq[String]]): Query =
    SpanOrNearQ(slots, 0, inOrder = true)

  /** Normalization pass mirroring `BooleanQuery.rewrite`
    * (reference: lucene/core/src/java/org/apache/lucene/search/BooleanQuery.java:194-520):
    * single-clause unwrap, nested flatten, SHOULD dedup, MatchNone
    * propagation, MUST ∩ MUST_NOT -> MatchNone. */
  def rewrite(q: Query): Query = q match {
    case BoostQ(sub, b) =>
      rewrite(sub) match {
        case MatchNoneQ => MatchNoneQ
        case s if b == 1.0f => s
        case BoostQ(s2, b2) => BoostQ(s2, b * b2)
        case s => BoostQ(s, b)
      }
    case DisMaxQ(ds0, tb) =>
      val ds = ds0.map(rewrite).filterNot(_ == MatchNoneQ).distinct
      if (ds.isEmpty) MatchNoneQ
      else if (ds.size == 1) ds.head
      else DisMaxQ(ds, tb)
    case BoolQ(must0, should0, mustNot0, msm) =>
      var must = must0.map(rewrite)
      var should = should0.map(rewrite).distinct
      val mustNot = mustNot0.map(rewrite).filterNot(_ == MatchNoneQ).distinct
      // flatten nested pure-should disjunctions into this one
      should = should.flatMap {
        case BoolQ(Nil, innerShould, Nil, 0) => innerShould
        case s => Seq(s)
      }.distinct
      // flatten nested pure-must conjunctions
      must = must.flatMap {
        case BoolQ(innerMust, Nil, Nil, 0) => innerMust
        case m => Seq(m)
      }
      if (must.contains(MatchNoneQ)) return MatchNoneQ
      if (must.exists(m => mustNot.contains(m))) return MatchNoneQ
      if (must.isEmpty && should.isEmpty) return MatchNoneQ
      should = should.filterNot(_ == MatchNoneQ)
      if (must.isEmpty && should.isEmpty) return MatchNoneQ
      // minShouldMatch binds the SHOULD clauses regardless of MUST clauses
      // (BooleanQuery semantics): more required matches than clauses exist
      // can never be satisfied
      if (msm > should.size) return MatchNoneQ
      // single-clause unwrap
      if (mustNot.isEmpty && msm <= 1) {
        if (must.size == 1 && should.isEmpty) return must.head
        if (must.isEmpty && should.size == 1) return should.head
      }
      BoolQ(must, should, mustNot, msm)
    case other => other
  }

  /** All index terms the (rewritten) query touches, pre-expansion. */
  def terms(q: Query): Set[String] = q match {
    case TermQ(t) => Set(t)
    case PhraseQ(ts, _, _) => ts.toSet
    case SpanNearQ(ts, _, _) => ts.toSet
    case SpanOrNearQ(slots, _, _) => slots.flatten.toSet
    case SpanNotQ(inc, excl) => inc.spanTerms.toSet + excl
    case SpanContainingQ(big, little) => big.spanTerms.toSet + little
    case SpanFirstQ(t, _) => Set(t)
    case SpanPosRangeQ(t, _, _) => Set(t)
    case SynonymQ(ts) => ts.toSet
    case SynonymBoostQ(ts) => ts.map(_._1).toSet
    case BlendedTermQ(ts, _) => ts.toSet
    case ConstSetQ(ts) => ts.toSet
    case BoolQ(m, s, n, _) => (m ++ s ++ n).flatMap(terms).toSet
    case DisMaxQ(ds, _) => ds.flatMap(terms).toSet
    case BoostQ(sub, _) => terms(sub)
    case _ => Set.empty
  }

  /** All multi-term (dictionary-predicate) sub-queries. */
  def multiTerms(q: Query): Seq[MultiTermQ] = q match {
    case mt: MultiTermQ => Seq(mt)
    case BoolQ(m, s, n, _) => (m ++ s ++ n).flatMap(multiTerms)
    case DisMaxQ(ds, _) => ds.flatMap(multiTerms)
    case BoostQ(sub, _) => multiTerms(sub)
    case _ => Nil
  }

  /** Wildcard pattern -> regex body (unanchored; callers anchor). */
  def wildcardRegex(pattern: String): String = pattern.flatMap {
    case '*' => ".*"
    case '?' => "."
    case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
    case c => c.toString
  }

  /** edismax `mm` specification evaluator (reference: solr/core/src/java/
    * org/apache/solr/util/SolrPluginUtils.java calculateMinShouldMatch:
    * conditional `N<spec` segments apply their spec only when
    * optionalClauses > N; percentages truncate through the same
    * `(result*percent)*(1/100f)` float product; negatives mean "all but";
    * the result clamps to [0, optionalClauseCount]). */
  def calculateMinShouldMatch(optionalClauseCount: Int, spec0: String): Int = {
    var result = optionalClauseCount
    var spec = spec0.trim
    if (spec.contains("<")) {
      spec = spec.replaceAll("\\s*<\\s*", "<")
      for (s <- spec.split("\\s+")) {
        val parts = s.split("<", 2)
        require(parts.length == 2, s"invalid mm spec segment: $s")
        if (optionalClauseCount <= parts(0).toInt) return result
        result = calculateMinShouldMatch(optionalClauseCount, parts(1))
      }
      result
    } else {
      if (spec.contains("%")) {
        val percent = spec.substring(0, spec.length - 1).toInt
        val calc = (result * percent) * (1 / 100f)
        result = if (calc < 0) result + calc.toInt else calc.toInt
      } else {
        val calc = spec.toInt
        result = if (calc < 0) result + calc else calc
      }
      if (optionalClauseCount < result) optionalClauseCount
      else if (result < 0) 0 else result
    }
  }

  /** Plain Levenshtein distance — same semantics as Spark's / DuckDB's
    * `levenshtein()` (no transpositions), so fuzzy matching is
    * oracle-recomputable. */
  def levenshtein(a: String, b: String): Int = {
    if (a == b) return 0
    val n = b.length
    var prev = Array.tabulate(n + 1)(identity)
    var cur = new Array[Int](n + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= n) {
        val sub = prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(n)
  }

  /** Unrestricted Damerau-Levenshtein distance (adjacent transposition = one
    * edit, and — unlike the cheaper "optimal string alignment" variant — a
    * transposed pair may be edited again, so e.g. dl("ca","abc") = 2 where
    * OSA gives 3). This is the variant DuckDB's `damerau_levenshtein()`
    * computes, which keeps the SQL oracle bit-compatible; it is also the
    * distance Lucene's transposition-enabled Levenshtein automata accept
    * (reference: lucene/core/src/java/org/apache/lucene/util/automaton/
    * LevenshteinAutomata.java — the Schulz-Mihov construction with the
    * transposition parameter). Lowe's standard DP with a last-occurrence
    * row, O(|a|·|b|) time. */
  def damerauLevenshtein(a: String, b: String): Int = {
    if (a == b) return 0
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    val inf = n + m
    // d is offset by 1: d(i+1)(j+1) = distance over prefixes a[0,i) b[0,j)
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= n) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= m) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    val last = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= n) {
      var db = 0
      j = 1
      while (j <= m) {
        val i1 = { val v = last.get(b.charAt(j - 1)); if (v == null) 0 else v.intValue() }
        val j1 = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        val subst = d(i)(j) + cost
        val insert = d(i + 1)(j) + 1
        val delete = d(i)(j + 1) + 1
        val transp = d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
        d(i + 1)(j + 1) = math.min(math.min(subst, insert), math.min(delete, transp))
        j += 1
      }
      last.put(a.charAt(i - 1), i)
      i += 1
    }
    d(n + 1)(m + 1)
  }

  /** Longest literal prefix every match of an anchored regex must start
    * with: literal chars up to the first metachar; a quantifier makes the
    * preceding char optional, so it is dropped. Conservative (may return
    * ""), used only to push a `startsWith` pre-filter into the scan. */
  private[search] def regexLiteralPrefix(pat: String): String = {
    // a top-level alternation drops the prefix ("ab|cd" matches "cd")
    var depth = 0
    var inClass = false
    var j = 0
    while (j < pat.length) {
      pat.charAt(j) match {
        case '\\' => j += 1
        case '[' => inClass = true
        case ']' => inClass = false
        case '(' if !inClass => depth += 1
        case ')' if !inClass => depth -= 1
        case '|' if !inClass && depth == 0 => return ""
        case _ =>
      }
      j += 1
    }
    val meta = "\\^$.|?*+()[]{}"
    val sb = new StringBuilder
    var i = 0
    var stop = false
    while (i < pat.length && !stop) {
      val c = pat.charAt(i)
      if (meta.indexOf(c) >= 0) {
        if ((c == '*' || c == '?' || c == '{') && sb.nonEmpty) sb.setLength(sb.length - 1)
        stop = true
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The literal prefix every term `mt` matches starts with ("" = none):
    * the dictionary seek key of a prefix, wildcard, regexp or
    * prefix-anchored fuzzy clause. Term ranges seek their lower bound
    * instead and return "". */
  def literalPrefix(mt: MultiTermQ): String = mt match {
    case PrefixQ(p) => p
    case w: WildcardQ => w.pattern.takeWhile(c => c != '*' && c != '?')
    case r: RegexpQ => regexLiteralPrefix(r.pattern)
    case f: FuzzyQ => f.term.substring(0, math.min(f.prefixLength, f.term.length))
    case _: TermRangeQ => ""
  }

  /** Cheap parquet-pushable SUPERSET predicate over the `term` column for
    * one multi-term clause; the EXACT decision is always `mt.matches`.
    * Prefix, wildcard, regexp and prefix-anchored fuzzy clauses push their
    * literal prefix, which reaches parquet min/max row-group pruning (the
    * dictionary seek). Fuzzy adds a length window widened for UTF-16 vs
    * code-point counting (`matches` uses Java String.length = UTF-16 units,
    * Spark `length()` counts code points; a term of `cp` code points has
    * UTF-16 length in [cp, 2cp], so the window never excludes a match).
    * Term ranges push a bound only when every char of it is below U+D800:
    * Spark compares strings in code-point order and `matches` in UTF-16
    * order, and the two disagree only where a surrogate meets a char in
    * U+E000–U+FFFF. */
  def scanPrefilter(mt: MultiTermQ): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val term = col("term")
    val seek = utf8Exact(literalPrefix(mt))
    val anchor = if (seek.nonEmpty) term.startsWith(seek) else lit(true)
    mt match {
      case f: FuzzyQ =>
        val q16 = f.term.length
        anchor && length(term) <= q16 + f.maxEdits && length(term) * 2 >= q16 - f.maxEdits
      case tr: TermRangeQ =>
        def pushable(bound: String) = bound != null && bound.forall(_ < '\uD800')
        var c = lit(true)
        if (pushable(tr.lower))
          c = c && (if (tr.includeLower) term >= tr.lower else term > tr.lower)
        if (pushable(tr.upper))
          c = c && (if (tr.includeUpper) term <= tr.upper else term < tr.upper)
        c
      case _ => anchor
    }
  }

  /** The longest prefix of `p` that a Spark (UTF-8) string holds exactly:
    * a lone surrogate, such as a prefix cut inside a surrogate pair,
    * encodes as '?'. */
  private def utf8Exact(p: String): String = {
    var i = 0
    while (i < p.length && (!Character.isSurrogate(p.charAt(i)) ||
        Character.isSupplementaryCodePoint(p.codePointAt(i))))
      i += Character.charCount(p.codePointAt(i))
    p.substring(0, i)
  }
}

/** Recursive-descent parser for the classic query grammar subset
  * (reference grammar: lucene/queryparser/src/java/org/apache/lucene/queryparser/classic/QueryParserBase.java:105):
  *
  *   query   := or ; or := and (OR and)* ; and := not (AND not)*
  *   not     := [NOT] atom [^boost]
  *   atom    := '(' query ')' | '"' phrase '"' | term | prefix* | wild?card
  *
  * Bare juxtaposition = OR (Lucene's default operator). Term text is run
  * through the analyzer; a term analyzing to multiple tokens becomes a
  * phrase, like Lucene's query-time analysis. */
final class QueryParser(analyzer: Analyzer) extends Serializable {
  import QueryParser.{Clause, Neg, Pos}

  private sealed trait Tok
  private case class Word(s: String) extends Tok
  private case class Phrase(s: String) extends Tok
  private case class RangeT(body: String, inclLower: Boolean, inclUpper: Boolean) extends Tok
  private case class RegexT(pattern: String) extends Tok
  private case object LP extends Tok
  private case object RP extends Tok
  private case object AND extends Tok
  private case object OR extends Tok
  private case object NOT extends Tok
  private case class Caret(boost: Float) extends Tok

  /** If a classic range token (`[a TO b]` / `{a TO b}`) starts at `i`,
    * return the index of its closing bracket; -1 otherwise. A range token
    * requires a closing bracket AND a ` TO ` separator in the body —
    * anything else (e.g. the `arr[0` / `foo{bar` shapes common in code
    * queries) is NOT a range and lexes as part of the surrounding word
    * (Lucene's classic parser errors on malformed ranges; we fall back to
    * word characters so code-ish input stays searchable). */
  private def rangeEnd(s: String, i: Int): Int = {
    var j = i + 1
    while (j < s.length && s.charAt(j) != ']' && s.charAt(j) != '}') j += 1
    if (j >= s.length) -1
    else if (s.substring(i + 1, j).split("\\s+TO\\s+", 2).length == 2) j
    else -1
  }

  private def lex(s: String): List[Tok] = {
    val out = collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    // a range token may only START at a term boundary (input start,
    // whitespace, or an opening paren) — never mid-word
    var boundary = true
    while (i < s.length) {
      val c = s.charAt(i)
      val atBoundary = boundary
      boundary = c.isWhitespace || c == '('
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += LP; i += 1 }
      else if (c == ')') { out += RP; i += 1 }
      else if (c == '"') {
        val j = s.indexOf('"', i + 1)
        val end = if (j < 0) s.length else j
        out += Phrase(s.substring(i + 1, end))
        i = if (j < 0) s.length else j + 1
      } else if ((c == '[' || c == '{') && atBoundary && rangeEnd(s, i) >= 0) {
        // term range: [a TO b] inclusive, {a TO b} exclusive (classic syntax)
        val j = rangeEnd(s, i)
        out += RangeT(s.substring(i + 1, j), c == '[', s.charAt(j) == ']')
        i = j + 1
      } else if (c == '/') {
        val j = s.indexOf('/', i + 1)
        val end = if (j < 0) s.length else j
        out += RegexT(s.substring(i + 1, end))
        i = if (j < 0) s.length else j + 1
      } else if (c == '^') {
        var j = i + 1
        while (j < s.length && (s.charAt(j).isDigit || s.charAt(j) == '.')) j += 1
        out += Caret(s.substring(i + 1, j).toFloat)
        i = j
      } else {
        // '[' / '{' mid-word never starts a range (see rangeEnd) — they lex
        // as word characters and the analyzer strips them
        var j = i
        while (j < s.length && !s.charAt(j).isWhitespace && !"()\"^/".contains(s.charAt(j))) j += 1
        val w = s.substring(i, j)
        w match {
          case "AND" | "&&" => out += AND
          case "OR" | "||" => out += OR
          case "NOT" | "!" => out += NOT
          case "" => ()
          case _ => out += Word(w)
        }
        i = j
      }
    }
    out.toList
  }

  private var toks: List[Tok] = Nil
  private def peek: Option[Tok] = toks.headOption
  private def pop(): Tok = { val t = toks.head; toks = toks.tail; t }

  /** SimpleQueryParser subset (reference: lucene/queryparser/src/java/org/
    * apache/lucene/queryparser/simple/SimpleQueryParser.java): `+` = AND,
    * `|` = OR, leading `-` = NOT; quotes/slop/prefix/fuzzy share the classic
    * lexer. SimpleQueryParser's contract is "never throw on user input" —
    * the operators are translated onto the classic grammar, which already
    * degrades malformed input to terms. */
  def parseSimple(s: String): Query = parse(
    s.replaceAll("\\s\\+\\s", " AND ")
      .replaceAll("\\s\\|\\s", " OR ")
      .replaceAll("(^|\\s)-(?=\\S)", "$1NOT "))

  def parse(s: String): Query = {
    toks = lex(s)
    if (toks.isEmpty) return MatchNoneQ
    Query.rewrite(query(parseOr()))
  }

  /** The query of a clause. A negation with nothing to subtract it from is
    * anchored on MatchAll: Lucene matches nothing, we read `NOT x` as "all
    * docs except x". */
  private def query(c: Clause): Query = c match {
    case Pos(q) => q
    case Neg(n) => BoolQ(must = Seq(MatchAllQ), mustNot = Seq(n))
  }

  /** Several clauses joined by one operator: `positive` combines the plain
    * ones, and the negations become mustNot clauses beside them. */
  private def combine(cs: List[Clause], positive: Seq[Query] => BoolQ): Clause = cs match {
    case single :: Nil => single
    case _ =>
      val pos = cs.collect { case Pos(q) => q }
      val negs = cs.collect { case Neg(q) => q }
      Pos(
        if (negs.isEmpty) positive(pos)
        else if (pos.isEmpty) BoolQ(must = Seq(MatchAllQ), mustNot = negs)
        else positive(pos).copy(mustNot = negs))
  }

  private def parseOr(): Clause = {
    var clauses = List(parseAnd())
    var loop = true
    while (loop) peek match {
      case Some(OR) => pop(); clauses ::= parseAnd()
      case Some(Word(_)) | Some(Phrase(_)) | Some(LP) | Some(NOT) =>
        clauses ::= parseAnd() // bare juxtaposition = OR (default operator)
      case _ => loop = false
    }
    combine(clauses.reverse, qs => BoolQ(should = qs))
  }

  private def parseAnd(): Clause = {
    var clauses = List(parseNot())
    while (peek.contains(AND)) { pop(); clauses ::= parseNot() }
    combine(clauses.reverse, qs => BoolQ(must = qs))
  }

  private def parseNot(): Clause = peek match {
    case Some(NOT) => pop(); Neg(query(parseAtom()))
    case _ => parseAtom()
  }

  private def parseAtom(): Clause = {
    val base = pop() match {
      case LP =>
        val c = parseOr()
        if (peek.contains(RP)) pop()
        c
      case Phrase(text) =>
        val slop = peek match {
          case Some(Word(w)) if w.startsWith("~") && w.length > 1 &&
              w.drop(1).forall(_.isDigit) =>
            pop(); w.drop(1).toInt
          case _ => 0
        }
        val toks = analyzer.analyze(text).toSeq
        Pos(
          if (toks.isEmpty) MatchNoneQ
          else if (toks.size == 1) TermQ(toks.head.term)
          else PhraseQ(toks.map(_.term), toks.map(_.position), slop))
      case RangeT(body, inclL, inclU) =>
        val parts = body.split("\\s+TO\\s+", 2)
        val lo0 = if (parts.length > 0) parts(0).trim else ""
        val hi0 = if (parts.length > 1) parts(1).trim else ""
        val lo = if (lo0.isEmpty || lo0 == "*") null else analyzer.lowercase(lo0)
        val hi = if (hi0.isEmpty || hi0 == "*") null else analyzer.lowercase(hi0)
        Pos(TermRangeQ(lo, hi, inclL, inclU))
      case RegexT(pat) =>
        Pos(RegexpQ(pat))
      case Word(w) =>
        val tilde = w.lastIndexOf('~')
        Pos(
          if (tilde > 0 && !w.contains("*") && !w.contains("?") &&
              w.substring(tilde + 1).forall(_.isDigit)) {
            val ed = w.substring(tilde + 1)
            FuzzyQ(analyzer.lowercase(w.substring(0, tilde)),
              if (ed.isEmpty) 2 else math.min(ed.toInt, 2))
          }
          else if (w.endsWith("*") && !w.dropRight(1).contains("*") && !w.contains("?"))
            PrefixQ(analyzer.lowercase(w.dropRight(1)))
          else if (w.contains("*") || w.contains("?"))
            WildcardQ(analyzer.lowercase(w))
          else {
            val toks = analyzer.analyze(w).toSeq
            if (toks.isEmpty) MatchNoneQ
            else if (toks.size == 1) TermQ(toks.head.term)
            else PhraseQ(toks.map(_.term), toks.map(_.position))
          })
      case other =>
        throw new IllegalArgumentException(s"unexpected token $other")
    }
    peek match {
      // a boosted negation excludes the same docs as the plain one: it
      // stays a negation, so it still floats up as a mustNot clause
      case Some(Caret(b)) => pop(); base match {
        case Pos(q) => Pos(BoostQ(q, b))
        case neg => neg
      }
      case _ => base
    }
  }
}

private object QueryParser {

  /** A parsed clause: a query, or a negated one (`NOT x`), which floats up
    * into its enclosing boolean as a mustNot clause. It is not a [[Query]]:
    * only the parser's `query` turns one into a query, so no negation
    * marker can reach the AST or the scorers. */
  sealed trait Clause
  final case class Pos(q: Query) extends Clause
  final case class Neg(q: Query) extends Clause
}

/** Minimal surround-query-language parser (reference: lucene/queryparser/
  * src/java/org/apache/lucene/queryparser/surround/parser/QueryParser.jj —
  * prefix notation `Nw(...)`/`Nn(...)` for ordered/unordered proximity,
  * `and`/`or`/`not` above them; DistanceQuery.java builds
  * SpanNearQuery(slop = N − 1, ordered = W). Supported subset: distance
  * operands are terms or `or(term, ...)` slot alternatives (mapping to
  * [[SpanOrNearQ]] slots); `and`/`or`/`not` combine complete sub-queries
  * into a [[BoolQ]]. N defaults to 1 (adjacent). */
object SurroundParser {
  def parse(input: String): Query = {
    val p = new P(input)
    val q = p.expr()
    p.ws()
    require(p.atEnd, s"surround parse error: trailing input in '$input'")
    q
  }

  private final class P(s: String) {
    private var i = 0
    def atEnd: Boolean = i >= s.length
    def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    private def peekIs(c: Char): Boolean = { ws(); i < s.length && s.charAt(i) == c }
    private def eat(c: Char): Unit = {
      ws()
      require(i < s.length && s.charAt(i) == c, s"expected '$c' at $i in '$s'")
      i += 1
    }
    private def ident(): String = {
      ws()
      val st = i
      while (i < s.length && s.charAt(i).isLetterOrDigit) i += 1
      require(i > st, s"expected identifier at $st in '$s'")
      s.substring(st, i)
    }

    private val Dist = "([0-9]*)([wn])".r

    def expr(): Query = {
      val tok = ident().toLowerCase
      if (!peekIs('(')) return TermQ(tok) // bare term
      eat('(')
      val q = tok match {
        case "and" =>
          val args = exprs(); BoolQ(must = args)
        case "or" =>
          val args = exprs(); BoolQ(should = args)
        case "not" =>
          val args = exprs()
          BoolQ(must = Seq(args.head), mustNot = args.tail)
        case Dist(n, op) =>
          val dist = if (n.isEmpty) 1 else n.toInt
          require(dist >= 1, s"distance must be >= 1 in '$s'")
          val sl = slots()
          val inOrder = op == "w"
          if (sl.forall(_.size == 1)) SpanNearQ(sl.map(_.head), dist - 1, inOrder)
          else SpanOrNearQ(sl, dist - 1, inOrder)
        case other =>
          throw new IllegalArgumentException(s"unknown surround operator '$other'")
      }
      eat(')')
      q
    }

    private def exprs(): Seq[Query] = {
      val out = scala.collection.mutable.ArrayBuffer(expr())
      while (peekIs(',')) { eat(','); out += expr() }
      out.toSeq
    }

    /** distance operands: term | or(term, ...) */
    private def slots(): Seq[Seq[String]] = {
      def slot(): Seq[String] = {
        val tok = ident().toLowerCase
        if (tok == "or" && peekIs('(')) {
          eat('(')
          val terms = scala.collection.mutable.ArrayBuffer(ident().toLowerCase)
          while (peekIs(',')) { eat(','); terms += ident().toLowerCase }
          eat(')')
          terms.toSeq
        } else Seq(tok)
      }
      val out = scala.collection.mutable.ArrayBuffer(slot())
      while (peekIs(',')) { eat(','); out += slot() }
      require(out.size >= 2, "distance operator needs >= 2 operands")
      out.toSeq
    }
  }
}
