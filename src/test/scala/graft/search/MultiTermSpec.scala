package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.index._
import graft.analysis.Analyzers

/** Multi-term query family: distributed, uncapped dictionary expansion
  * (prefix / wildcard / fuzzy / regexp / term range) — the MultiTermQuery
  * CONSTANT_SCORE rewrite without Lucene's automaton machinery. */
class MultiTermSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3000 docs so `uniq_tok_*` expands far past the old 1024-term cap
  private val nDocs = 3000
  private lazy val files = CodeCorpus.files(nDocs)
  private lazy val index = IndexBuilder.build(
    spark.createDataset(files), IndexConfig(numPartitions = 4))
  private lazy val searcher = new GraftSearcher(index)

  /** Driver-side oracle: docs whose analyzed token set has a term matching
    * the predicate (paths are unique, docIds assigned by (repo,path,commit)
    * order — compare by path). */
  private def expectedPaths(pred: String => Boolean): Set[String] =
    files.filter(f =>
      Analyzers.standard.analyze(f.content).exists(t => pred(t.term))).map(_.path).toSet

  private def matchedPaths(q: Query): Set[String] = {
    val ids = searcher.matchesDS(q).collect().toSet
    index.docs.filter($"docId".isInCollection(ids)).collect().map(_.path).toSet
  }

  test("parser produces the new multi-term shapes") {
    val p = searcher.parser
    assert(p.parse("sort~2") == FuzzyQ("sort", 2))
    assert(p.parse("sort~") == FuzzyQ("sort", 2))
    assert(p.parse("sort~1") == FuzzyQ("sort", 1))
    assert(p.parse("[row TO sort]") == TermRangeQ("row", "sort", true, true))
    assert(p.parse("{row TO sort}") == TermRangeQ("row", "sort", false, false))
    assert(p.parse("[row TO *]") == TermRangeQ("row", null, true, true))
    assert(p.parse("/s(can|ort)/") == RegexpQ("s(can|ort)"))
  }

  test("malformed ranges lex as words, not open-ended ranges") {
    val p = searcher.parser
    // 'arr[0' / 'foo{bar' must NOT become TermRangeQ(...) — a range token
    // requires a term boundary start, a closing bracket and a TO separator
    def hasRange(q: Query): Boolean = Query.multiTerms(q).exists(_.isInstanceOf[TermRangeQ])
    assert(!hasRange(p.parse("arr[0")))
    assert(!hasRange(p.parse("foo{bar")))
    assert(!hasRange(p.parse("arr[0] AND foo")))
    assert(!hasRange(p.parse("[broken")))
    assert(!hasRange(p.parse("[a b c]")))
    // well-formed ranges still parse
    assert(p.parse("[row TO sort]") == TermRangeQ("row", "sort", true, true))
    assert(p.parse("x AND [row TO sort]") ==
      BoolQ(must = Seq(TermQ("x"), TermRangeQ("row", "sort", true, true))))
  }

  test("regexLiteralPrefix is a sound pushdown prefix") {
    assert(Query.regexLiteralPrefix("s(can|ort|low)") == "s")
    assert(Query.regexLiteralPrefix("index.*") == "index")
    assert(Query.regexLiteralPrefix("ab?c") == "a")
    assert(Query.regexLiteralPrefix("ab*") == "a")
    assert(Query.regexLiteralPrefix("a{1,2}b") == "")
    assert(Query.regexLiteralPrefix("(a|b)c") == "")
    assert(Query.regexLiteralPrefix("plain") == "plain")
    assert(Query.regexLiteralPrefix("\\d+") == "")
    // a top-level alternation has no common prefix; a nested one keeps it
    assert(Query.regexLiteralPrefix("merge.*|segment") == "")
    assert(Query.regexLiteralPrefix("ab[|]c|d") == "")
    assert(Query.regexLiteralPrefix("s(can|ort)|x") == "")
    assert(Query.regexLiteralPrefix("ab[|]c") == "ab")
    assert(RegexpQ("merge.*|segment").matches("segment"))
  }

  test("prefix expansion is uncapped (>1024 matching terms, no truncation)") {
    val nUniqTerms = index.termStats.filter($"term".startsWith("uniq_tok_")).count()
    assert(nUniqTerms > 1024, s"fixture must expand past the old cap, got $nUniqTerms")
    assert(matchedPaths(PrefixQ("uniq_tok_")) == expectedPaths(_.startsWith("uniq_tok_")))
  }

  test("fuzzy matches terms within plain Levenshtein distance") {
    // 'segment' ~1 catches itself; ~2 should also catch nothing else in the
    // identifier vocab — verify against the driver-side oracle either way
    for (ed <- Seq(1, 2)) {
      val q = FuzzyQ("segment", ed)
      assert(matchedPaths(q) == expectedPaths(t =>
        math.abs(t.length - 7) <= ed && Query.levenshtein(t, "segment") <= ed))
    }
    // distance-1 typo still finds the real term
    assert(matchedPaths(FuzzyQ("segmant", 1)) == expectedPaths(_ == "segment"))
  }

  test("term range matches lexicographic dictionary slices") {
    val q = TermRangeQ("if", "import", true, true)
    assert(matchedPaths(q) == expectedPaths(t => t >= "if" && t <= "import"))
    val qx = TermRangeQ("if", "import", false, false)
    assert(matchedPaths(qx) == expectedPaths(t => t > "if" && t < "import"))
    val openEnd = TermRangeQ("x", null, true, true)
    assert(matchedPaths(openEnd) == expectedPaths(_ >= "x"))
  }

  test("regexp matches anchored dictionary patterns") {
    val q = RegexpQ("(index|token).*")
    assert(matchedPaths(q) == expectedPaths(t => t.startsWith("index") || t.startsWith("token")))
  }

  test("scoring rewrite expands to similarity-boosted top terms") {
    // 'segmant'~2 pulls in 'segment' (dist 1, boost 1 - 1/7); exact-match
    // input pulls itself at boost 1.0 ranked first
    val q = searcher.scoringRewrite(FuzzyQ("segmant", 2), 10)
    q match {
      case TermQ(_) | BoostQ(TermQ(_), _) => () // single match unwrapped
      case BoolQ(Nil, should, Nil, 0) =>
        val boosts = should.map {
          case BoostQ(TermQ(t), b) => (t, b)
          case TermQ(t) => (t, 1f)
          case other => fail(s"unexpected clause $other")
        }
        assert(boosts == boosts.sortBy { case (t, b) => (-b, t) },
          "clauses must rank boost desc, term asc")
        assert(boosts.exists { case (t, b) =>
          t == "segment" && math.abs(b - (1f - 1f / 7f)) < 1e-6 })
      case other => fail(s"unexpected rewrite $other")
    }
    assert(searcher.search(q, 10).toSeq == searcher.bruteForce(q, 10).toSeq)
    // prefix scoring rewrite: constant boost 1, term-ordered top-N
    val p = searcher.scoringRewrite(PrefixQ("index"), 3)
    val pTerms = Query.terms(p)
    assert(pTerms.nonEmpty && pTerms.forall(_.startsWith("index")))
    assert(searcher.search(p, 10).toSeq == searcher.bruteForce(p, 10).toSeq)
    // empty expansion
    assert(searcher.scoringRewrite(PrefixQ("zzzznope"), 5) == MatchNoneQ)
  }

  test("multi-term queries compose inside booleans and score constant") {
    val hits = searcher.search("merge* AND return", 2000)
    val expected = expectedPaths(_.startsWith("merge")) intersect expectedPaths(_ == "return")
    val paths = index.docs.filter($"docId".isInCollection(hits.map(_.docId).toSet))
      .collect().map(_.path).toSet
    assert(paths == expected)
    // fuzzy respects the searchDS == bruteForce differential
    val ast = searcher.parse("segment~2 OR indexwriter")
    assert(searcher.search(ast, 10).toSeq == searcher.bruteForce(ast, 10).toSeq)
  }

  test("damerauLevenshtein = unrestricted Damerau (DuckDB-pinned + BFS oracle)") {
    import Query.{damerauLevenshtein => dl, levenshtein => lev}
    // values pinned against DuckDB's damerau_levenshtein() — unrestricted
    // semantics: 'ca'->'abc' is 2 (swap then insert INTO the swapped pair),
    // where the optimal-string-alignment variant would say 3
    assert(dl("ca", "abc") == 2 && lev("ca", "abc") == 3)
    assert(dl("ab", "ba") == 1 && lev("ab", "ba") == 2)
    assert(dl("abaa", "baaa") == 1 && lev("abaa", "baaa") == 2)
    assert(dl("sort", "sotr") == 1 && dl("sort", "sort") == 0)
    assert(dl("", "abc") == 3 && dl("abc", "") == 3)

    // independent oracle: BFS over true edit sequences (insert / delete /
    // substitute / adjacent transposition, each applied to the CURRENT
    // string) — the definition of the unrestricted distance
    def bfs(a: String, b: String): Int = {
      if (a == b) return 0
      val seen = collection.mutable.Set(a)
      var frontier = List(a)
      var d = 0
      val alpha = (a + b).toSet
      while (d < 6) {
        d += 1
        val next = collection.mutable.ListBuffer.empty[String]
        for (s <- frontier) {
          val edits = collection.mutable.ListBuffer.empty[String]
          for (i <- 0 to s.length; c <- alpha) edits += s.substring(0, i) + c + s.substring(i)
          for (i <- 0 until s.length) {
            edits += s.substring(0, i) + s.substring(i + 1)
            for (c <- alpha) edits += s.substring(0, i) + c + s.substring(i + 1)
            if (i + 1 < s.length)
              edits += s.substring(0, i) + s.charAt(i + 1) + s.charAt(i) + s.substring(i + 2)
          }
          // pruning bound must admit the pure-deletion path when |b| < |a|,
          // so cap intermediates at max(|a|,|b|)+2, not |b|+2
          val cap = math.max(a.length, b.length) + 2
          for (e <- edits if e.length <= cap && !seen.contains(e)) {
            if (e == b) return d
            seen += e; next += e
          }
        }
        frontier = next.toList
      }
      d
    }
    val rnd = new scala.util.Random(42)
    def word() = (0 until rnd.nextInt(5)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    for (_ <- 1 to 200) {
      val (a, b) = (word(), word())
      val expect = math.min(bfs(a, b), 6)
      assert(math.min(dl(a, b), 6) == expect, s"dl('$a','$b') = ${dl(a, b)}, BFS = $expect")
    }
  }

  test("FuzzyQ transpositions=true matches Damerau neighbours plain fuzzy misses") {
    // dictionary contains 'sotr' only as a synthetic check below the engine:
    // at the AST level the predicate must treat the swap as ONE edit
    val q1 = FuzzyQ("sort", 1, transpositions = true)
    val q0 = FuzzyQ("sort", 1)
    assert(q1.matches("sotr") && !q0.matches("sotr"))
    assert(q1.matches("osrt") && !q0.matches("osrt"))
    // end-to-end over the real index: transpositions=true is a superset of
    // plain fuzzy at the same maxEdits, and equals the analyzer-level oracle
    val dlPaths = matchedPaths(FuzzyQ("sort", 2, transpositions = true))
    val plainPaths = matchedPaths(FuzzyQ("sort", 2))
    assert(plainPaths.subsetOf(dlPaths))
    assert(dlPaths == expectedPaths(t =>
      math.abs(t.length - 4) <= 2 && Query.damerauLevenshtein(t, "sort") <= 2))
  }
}
