package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.index._

/** The one dictionary expansion of a multi-term clause
  * (`GraftSearcher.dictTerms`): for every clause kind, including non-ASCII
  * and astral-plane terms, it equals the whole dictionary filtered by
  * `matches`, and the in-task expansion of every doc range
  * (`DocRange.select`) reaches the same term set. */
class DictExpansionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val giant = "a" * 33

  /** Terms a doc of its own holds: CJK, astral plane (U+20000), fullwidth
    * (U+FF41 U+FF42, above the surrogates in UTF-16 order and below them in
    * code-point order), a Gothic word (U+10330 U+10331), U+0130, U+212A and
    * a >32-char term. */
  private val rare = Seq("alpha", "beta", "gamma", "处理器", "𠀀", "𐌰𐌱", "ａｂ",
    "\u0130stanbul", "\u212Aelvin", giant)

  private def doc(i: Int, c: String) =
    CodeFile("r", s"u/Doc$i.scala", "c", "scala", c, IndexBuilder.sha256Hex(c))

  private lazy val index = IndexBuilder.build(
    spark.createDataset(CodeCorpus.files(1500) ++ rare.zipWithIndex.map { case (t, i) => doc(i, t) }),
    IndexConfig(numPartitions = 4))
  private lazy val searcher = new GraftSearcher(index)
  private lazy val dict: Array[String] = index.termStats.collect().map(_.term)

  private def expanded(mt: MultiTermQ): Set[String] =
    searcher.dictTerms(mt).collect().map(_.term).toSet

  private val clauses: Seq[MultiTermQ] = Seq(
    PrefixQ("uniq_tok_1"), PrefixQ("𠀀"), PrefixQ("处"), PrefixQ("𐌰"),
    WildcardQ("s?gment"), WildcardQ("*er"), WildcardQ("ａ?"),
    RegexpQ("(index|token).*"), RegexpQ("merge.*|segment"), RegexpQ("s(can|ort)"),
    RegexpQ("𐌰."), RegexpQ("𠀀|ａ.*"),
    FuzzyQ("sort", 1), FuzzyQ("sort", 2), FuzzyQ("vektor", 2),
    FuzzyQ("tabel", 1, transpositions = true),
    FuzzyQ("tabel", 2, prefixLength = 1),
    FuzzyQ("uniq_tok_11", 2),
    FuzzyQ("xyzzy", 2),
    FuzzyQ("scan", 2, prefixLength = 2, transpositions = true),
    // ft_complex_phrase's slot and ft_span_fuzzy's prefix-anchored slot
    FuzzyQ("tabl", 1),
    FuzzyQ("tble", 1, prefixLength = 1, transpositions = true),
    // ft_fuzzy_like_this's words
    FuzzyQ("joib", 1, transpositions = true), FuzzyQ("vektor", 1, transpositions = true),
    // query terms around the >32-char dictionary term
    FuzzyQ("a" * 31, 2), FuzzyQ("a" * 32, 2),
    // astral: a prefix that cuts the surrogate pair of 𠀀
    FuzzyQ("𐌰𐌲", 1, prefixLength = 1), FuzzyQ("𠀀", 1), FuzzyQ("𐌰", 1),
    FuzzyQ("处理", 1), FuzzyQ("ｂ", 1), FuzzyQ("\u0130stanbul", 2), FuzzyQ("\u212Aelvin", 1),
    TermRangeQ("if", "import"), TermRangeQ("if", "import", false, false),
    TermRangeQ("x", null), TermRangeQ(null, "ａ"), TermRangeQ("ａ", null),
    TermRangeQ("𠀀", null), TermRangeQ(null, "𠀀"), TermRangeQ("𐌰", "ａｃ"),
    TermRangeQ("\u0130", "\u212A"))

  test("fixture: the rare terms are in the dictionary") {
    val missing = Set("alpha", "𠀀", "𐌰𐌱", "ａｂ", giant) -- dict
    assert(missing.isEmpty, dict.filter(_.exists(_ > '\u007f')).mkString(" "))
  }

  test("dictTerms == dictionary filtered by matches == in-task expansion, every kind") {
    for (mt <- clauses) {
      val want = dict.filter(mt.matches).toSet
      assert(expanded(mt) == want, s"$mt: dictTerms")
      val mtB = mt
      for (p <- Seq(1, 2, 8)) {
        val inTask = index.docRangeLayout(p).ranges
          .flatMap(_.select(Set.empty, Seq(mtB)).keys).collect().toSet
        assert(inTask == want, s"$mt at $p ranges: DocRange.select")
      }
    }
  }

  test("a term range below U+FF41 reaches the astral term: dictTerms, bruteForce and search") {
    val q = TermRangeQ("zzz", "ａ")
    assert(q.matches("𠀀") && !q.matches("ａｂ"))
    assert(expanded(q).contains("𠀀"))
    assert(!expanded(q).contains("ａｂ"))
    val hits = searcher.search(q, 100)
    assert(searcher.bruteForce(q, 100).toSeq == hits.toSeq)
    val astralDocs = searcher.matchesDS(TermQ("𠀀")).collect()
    assert(astralDocs.length == 1 && hits.exists(_.docId == astralDocs.head))
  }

  test("ft_span_fuzzy's old lambda predicate == FuzzyQ(tble,1,prefix=1,dl)") {
    // the query once expanded `startsWith("t") && damerau(t,"tble")<=1`;
    // prove predicate equivalence over real terms
    val f = FuzzyQ("tble", 1, prefixLength = 1, transpositions = true)
    for (t <- dict) {
      val old = t.startsWith("t") && Query.damerauLevenshtein(t, "tble") <= 1
      assert(f.matches(t) == old, t)
    }
  }

  test("fuzzy search matches the union of its expanded terms") {
    val f = FuzzyQ("segmant", 2)
    val viaSearch = searcher.matchesDS(f).collect().toSet
    val terms = expanded(f)
    assert(terms.nonEmpty)
    val viaTerms = searcher.matchesDS(BoolQ(should = terms.toSeq.sorted.map(TermQ(_))))
      .collect().toSet
    assert(viaSearch == viaTerms)
  }

  test("giant-term tail: >32-char dictionary terms are still reachable") {
    assert(expanded(FuzzyQ("a" * 31, 2)) == Set(giant))
    assert(expanded(FuzzyQ("a" * 32, 2)) == Set(giant))
    assert(searcher.bruteForce(FuzzyQ("a" * 31, 2), 10).toSeq ==
      searcher.search(FuzzyQ("a" * 31, 2), 10).toSeq)
  }
}
