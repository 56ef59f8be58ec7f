package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.index._
import graft.analysis.Analyzers

class SearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val files = CodeCorpus.files(500)
  private lazy val index = IndexBuilder.build(
    spark.createDataset(files), IndexConfig(numPartitions = 4, saltSpan = 128))
  private lazy val searcher = new GraftSearcher(index)

  // the FIXTURES.md reference query set shapes
  private val querySet = Seq(
    "return",
    "uniq_tok_17_0",
    "mergepolicy",
    "index AND indexwriter",
    "if AND return AND import",
    "parsequery OR mergepolicy",
    "(indexwriter OR mergepolicy) AND return",
    "\"foo.bar x2y\"",
    "indexwriter mergepolicy parsequery",
    "if AND NOT mergepolicy",
    "indexwriter^2.5 OR parsequery",
    "uniq_tok_*",
    "merge*",
    "inde?writer",
    "NOT if")

  test("parser produces the expected shapes") {
    val p = searcher.parser
    assert(p.parse("return") == TermQ("return"))
    assert(p.parse("a AND b") == BoolQ(must = Seq(TermQ("a"), TermQ("b"))))
    assert(p.parse("a OR b") == BoolQ(should = Seq(TermQ("a"), TermQ("b"))))
    assert(p.parse("a b") == BoolQ(should = Seq(TermQ("a"), TermQ("b"))))
    assert(p.parse("\"foo bar\"") == PhraseQ(Seq("foo", "bar"), Seq(0, 1)))
    assert(p.parse("a AND NOT b") == BoolQ(must = Seq(TermQ("a")), mustNot = Seq(TermQ("b"))))
    assert(p.parse("pre*") == PrefixQ("pre"))
    assert(p.parse("wi?d") == WildcardQ("wi?d"))
    assert(p.parse("a^2.0") == BoostQ(TermQ("a"), 2.0f))
    // nested flatten: (a OR b) OR c -> one should-list
    assert(p.parse("(a OR b) OR c") == BoolQ(should = Seq(TermQ("a"), TermQ("b"), TermQ("c"))))
  }

  test("surround parser maps Nw/Nn, or-slots and and/not to the span AST") {
    assert(SurroundParser.parse("3w(a, b)") ==
      SpanNearQ(Seq("a", "b"), 2, inOrder = true))
    assert(SurroundParser.parse("n(a, b)") ==
      SpanNearQ(Seq("a", "b"), 0, inOrder = false))
    assert(SurroundParser.parse("2w(or(a, b), c)") ==
      SpanOrNearQ(Seq(Seq("a", "b"), Seq("c")), 1, inOrder = true))
    assert(SurroundParser.parse("and(2n(a, b), not(c, d))") ==
      BoolQ(must = Seq(
        SpanNearQ(Seq("a", "b"), 1, inOrder = false),
        BoolQ(must = Seq(TermQ("c")), mustNot = Seq(TermQ("d"))))))
    assert(SurroundParser.parse("or(a, b)") ==
      BoolQ(should = Seq(TermQ("a"), TermQ("b"))))
    intercept[IllegalArgumentException](SurroundParser.parse("zz(a, b)"))
    intercept[IllegalArgumentException](SurroundParser.parse("3w(a)"))
  }

  test("XML query parser maps CoreParser elements to the AST") {
    assert(XmlQueryParser.parse("<TermQuery>Foo</TermQuery>") == TermQ("foo"))
    assert(XmlQueryParser.parse("<TermQuery boost=\"2.5\">a</TermQuery>") ==
      BoostQ(TermQ("a"), 2.5f))
    assert(XmlQueryParser.parse("<MatchAllDocsQuery/>") == MatchAllQ)
    assert(XmlQueryParser.parse(
      "<TermsQuery minimumNumberShouldMatch=\"2\">a b C</TermsQuery>") ==
      BoolQ(should = Seq(TermQ("a"), TermQ("b"), TermQ("c")),
        minShouldMatch = 2))
    assert(XmlQueryParser.parse(
      """<BooleanQuery>
        |  <Clause occurs="must"><TermQuery>a</TermQuery></Clause>
        |  <Clause occurs="should"><TermQuery>b</TermQuery></Clause>
        |  <Clause occurs="mustNot"><TermQuery>c</TermQuery></Clause>
        |  <Clause occurs="filter"><TermQuery>d</TermQuery></Clause>
        |</BooleanQuery>""".stripMargin) ==
      BoolQ(must = Seq(TermQ("a"), BoostQ(TermQ("d"), 0f)),
        should = Seq(TermQ("b")), mustNot = Seq(TermQ("c"))))
    assert(XmlQueryParser.parse(
      """<DisjunctionMaxQuery tieBreaker="0.3">
        |  <TermQuery>a</TermQuery><TermQuery>b</TermQuery>
        |</DisjunctionMaxQuery>""".stripMargin) ==
      DisMaxQ(Seq(TermQ("a"), TermQ("b")), 0.3f))
    assert(XmlQueryParser.parse(
      """<SpanNear slop="2" inOrder="true">
        |  <SpanTerm>a</SpanTerm><SpanTerm>b</SpanTerm>
        |</SpanNear>""".stripMargin) ==
      SpanNearQ(Seq("a", "b"), 2, inOrder = true))
    assert(XmlQueryParser.parse(
      "<SpanFirst end=\"3\"><SpanTerm>a</SpanTerm></SpanFirst>") ==
      SpanFirstQ("a", 3))
    intercept[IllegalArgumentException](
      XmlQueryParser.parse("<FooQuery>a</FooQuery>"))
    intercept[IllegalArgumentException](XmlQueryParser.parse(
      "<SpanNear><SpanTerm>a</SpanTerm><SpanTerm>b</SpanTerm></SpanNear>"))
  }

  test("phraseWildcard expands multi-term slots against the dictionary") {
    // 'fast s*' — expansion must early-stop to MatchNone on an empty slot
    val q = searcher.phraseWildcard(Seq(TermQ("fast"), PrefixQ("s")))
    q match {
      case SpanOrNearQ(slots, 0, true) =>
        assert(slots.head == Seq("fast"))
        assert(slots(1).nonEmpty && slots(1).forall(_.startsWith("s")))
      case other => fail(s"expected SpanOrNearQ, got $other")
    }
    assert(searcher.phraseWildcard(
      Seq(TermQ("fast"), PrefixQ("zzzz"))) == MatchNoneQ)
  }

  test("distributed pruned top-k is rank- and score-identical to the exhaustive oracle") {
    for (q <- querySet) {
      val ast = searcher.parse(q)
      val exact = searcher.bruteForce(ast, 10)
      val dist = searcher.search(ast, 10)
      assert(dist.toSeq == exact.toSeq, s"query: $q")
    }
  }

  test("results ordered by (score desc, docId asc) and scores are finite floats") {
    val hits = searcher.search("if OR return OR import", 20)
    assert(hits.nonEmpty)
    hits.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.score > b.score || (a.score == b.score && a.docId < b.docId))
      case _ =>
    }
    hits.foreach(h => assert(java.lang.Float.isFinite(h.score) && h.score > 0f))
  }

  test("search results independent of search partition count") {
    val ast = searcher.parse("if OR indexwriter OR uniq_tok_17_0")
    val p1 = searcher.search(ast, 10, null, 1)
    val p7 = searcher.search(ast, 10, null, 7)
    assert(p1.toSeq == p7.toSeq)
  }

  test("conjunction really intersects; disjunction really unions") {
    def docsOf(q: String): Set[Long] = searcher.search(q, 1000).map(_.docId).toSet
    val a = docsOf("indexwriter")
    val b = docsOf("mergepolicy")
    assert(docsOf("indexwriter AND mergepolicy") == (a intersect b))
    assert(docsOf("indexwriter OR mergepolicy") == (a union b))
    assert(docsOf("indexwriter AND NOT mergepolicy") == (a diff b))
  }

  test("phrase query verifies adjacency via positions") {
    // build a micro corpus where order matters
    val micro = Seq(
      CodeFile("r", "a", "c1", "txt", "alpha beta gamma"),
      CodeFile("r", "b", "c1", "txt", "beta alpha gamma"),
      CodeFile("r", "c", "c1", "txt", "alpha gamma beta alpha beta"))
    val idx = IndexBuilder.build(spark.createDataset(micro), IndexConfig(numPartitions = 2))
    val s = new GraftSearcher(idx)
    val hits = s.search("\"alpha beta\"", 10)
    val paths = idx.docs.collect().map(d => d.docId -> d.path).toMap
    assert(hits.map(h => paths(h.docId)).toSet == Set("a", "c"))
    assert(s.search("\"beta gamma\"", 10).map(h => paths(h.docId)).toSet == Set("a"))
    assert(s.search("\"beta alpha\"", 10).map(h => paths(h.docId)).toSet == Set("b", "c"))
    assert(s.search("\"gamma alpha\"", 10).isEmpty)
    // differential too
    assert(s.search("\"alpha beta\"", 10).toSeq == s.bruteForce(s.parse("\"alpha beta\""), 10).toSeq)
  }

  test("phrase with stop-word gap matches across the gap (position increments)") {
    val micro = Seq(
      CodeFile("r", "a", "c1", "txt", "rise of nations"),
      CodeFile("r", "b", "c1", "txt", "rise nations"))
    val idx = IndexBuilder.build(spark.createDataset(micro),
      IndexConfig(analyzer = Analyzers.english, numPartitions = 1))
    val s = new GraftSearcher(idx, Analyzers.english)
    val paths = idx.docs.collect().map(d => d.docId -> d.path).toMap
    // "rise of nations" analyzed -> rise@0, nations@2: only doc a has the gap
    val hits = s.search("\"rise of nations\"", 10)
    assert(hits.map(h => paths(h.docId)).toSet == Set("a"))
  }

  test("searchAfter pagination tiles the full ranking") {
    val ast = searcher.parse("if OR return OR indexwriter")
    val all = searcher.search(ast, 30)
    val page1 = searcher.search(ast, 10)
    val page2 = searcher.search(ast, 10, after = page1.last)
    val page3 = searcher.search(ast, 10, after = page2.last)
    assert((page1 ++ page2 ++ page3).toSeq == all.toSeq)
    // oracle agrees
    assert(page2.toSeq == searcher.bruteForce(ast, 10, after = page1.last).toSeq)
  }

  test("prefix and wildcard expand through the term dictionary (constant score)") {
    val hits = searcher.search("uniq_tok_17_*", 10)
    assert(hits.nonEmpty)
    assert(hits.forall(_.score == 1.0f))
    val none = searcher.search("zzz_no_such_prefix*", 10)
    assert(none.isEmpty)
  }

  test("boost scales ranking contributions") {
    val base = searcher.search("indexwriter OR parsequery", 1000).map(h => h.docId -> h.score).toMap
    val boosted = searcher.search("indexwriter^3 OR parsequery", 1000).map(h => h.docId -> h.score).toMap
    assert(boosted.keySet == base.keySet)
    assert(boosted.exists { case (d, s) => s > base(d) })
  }

  test("match-all and pure negation") {
    // MatchAll over the whole doc space
    val all = searcher.search(MatchAllQ, 1000, null)
    assert(all.length == 500 && all.forall(_.score == 1.0f))
    // pure negation anchors on MatchAll: NOT x = all docs minus x
    val withIf = searcher.search("if", 1000).map(_.docId).toSet
    val notIf = searcher.search("NOT if", 1000).map(_.docId).toSet
    assert(notIf == (0L until 500L).toSet.diff(withIf))
  }

  test("a boosted negation excludes like the plain one and leaves no parser marker") {
    val p = searcher.parser
    // the parser's private NOT marker must never reach the AST
    def nodeClasses(x: Any): Iterator[String] = x match {
      case s: Iterable[_] => s.iterator.flatMap(nodeClasses)
      case n: Product => Iterator.single(n.getClass.getSimpleName) ++ n.productIterator.flatMap(nodeClasses)
      case _ => Iterator.empty
    }
    assert(p.parse("(NOT mergepolicy)^2") == p.parse("NOT mergepolicy"))
    assert(p.parse("return AND (NOT mergepolicy)^2") == p.parse("return AND NOT mergepolicy"))
    for (s <- Seq("(NOT mergepolicy)^2", "return AND (NOT mergepolicy)^2",
        "return OR (NOT mergepolicy)^2")) {
      val q = p.parse(s)
      assert(!nodeClasses(q).contains("NegMarker"), s"$s parsed to $q")
      val top = searcher.bruteForce(q, 1000).toSeq
      assert(top.nonEmpty, s)
      assert(searcher.search(q, 1000, null).toSeq == top, s)
    }
  }

  test("empty/missing terms behave") {
    assert(searcher.search("totallyabsenttoken", 10).isEmpty)
    assert(searcher.search("totallyabsenttoken AND if", 10).isEmpty)
    val or = searcher.search("totallyabsenttoken OR if", 10)
    assert(or.toSeq == searcher.search("if", 10).toSeq)
  }

  test("synonym query scores merged postings as one pseudo-term") {
    val ast = SynonymQ(Seq("indexwriter", "mergepolicy"))
    val dist = searcher.search(ast, 10, null)
    val exact = searcher.bruteForce(ast, 10)
    assert(dist.toSeq == exact.toSeq)
    assert(dist.nonEmpty)
  }

  test("over-255-char token is not searchable but consumed a position") {
    assert(searcher.search("x" * 300, 10).isEmpty)
  }

  test("sloppy phrase matches within the slop window, exact phrase does not") {
    val micro = Seq(
      CodeFile("r", "a", "c1", "txt", "alpha beta"),            // exact
      CodeFile("r", "b", "c1", "txt", "alpha gap beta"),        // slop 1
      CodeFile("r", "c", "c1", "txt", "alpha gap gap beta"),    // slop 2
      CodeFile("r", "d", "c1", "txt", "alpha gap gap gap beta"),// slop 3
      CodeFile("r", "e", "c1", "txt", "beta alpha"))            // reversed: slop 2
    val idx = IndexBuilder.build(spark.createDataset(micro), IndexConfig(numPartitions = 2))
    val s = new GraftSearcher(idx)
    val paths = idx.docs.collect().map(d => d.docId -> d.path).toMap
    def hits(q: String) = s.search(q, 10).map(h => paths(h.docId)).toSet
    assert(hits("\"alpha beta\"") == Set("a"))
    assert(hits("\"alpha beta\"~1") == Set("a", "b"))
    assert(hits("\"alpha beta\"~2") == Set("a", "b", "c", "e"))
    assert(hits("\"alpha beta\"~3") == Set("a", "b", "c", "d", "e"))
    // parser shape + differential
    assert(s.parse("\"alpha beta\"~2") == PhraseQ(Seq("alpha", "beta"), Seq(0, 1), 2))
    val ast = s.parse("\"alpha beta\"~2")
    assert(s.search(ast, 10, null).toSeq == s.bruteForce(ast, 10).toSeq)
  }

  test("dismax scores max + tieBreak * others and matches the union") {
    val a = searcher.search("indexwriter", 1000).map(h => h.docId -> h.score).toMap
    val b = searcher.search("mergepolicy", 1000).map(h => h.docId -> h.score).toMap
    val q = DisMaxQ(Seq(TermQ("indexwriter"), TermQ("mergepolicy")), 0.5f)
    val dm = searcher.search(q, 1000, null).map(h => h.docId -> h.score).toMap
    assert(dm.keySet == a.keySet.union(b.keySet))
    dm.foreach { case (d, s) =>
      val sa = a.getOrElse(d, 0f)
      val sb = b.getOrElse(d, 0f)
      val expected = (math.max(sa, sb) + 0.5 * math.min(sa, sb)).toFloat
      assert(math.abs(s - expected) < 1e-6f, s"doc $d: $s vs $expected")
    }
    // tieBreak 0 = pure max
    val dm0 = searcher.search(DisMaxQ(Seq(TermQ("indexwriter"), TermQ("mergepolicy")), 0f),
      1000, null).map(h => h.docId -> h.score).toMap
    dm0.foreach { case (d, s) =>
      assert(s == math.max(a.getOrElse(d, 0f), b.getOrElse(d, 0f)))
    }
    // differential
    assert(searcher.search(q, 10, null).toSeq == searcher.bruteForce(q, 10).toSeq)
  }
}
