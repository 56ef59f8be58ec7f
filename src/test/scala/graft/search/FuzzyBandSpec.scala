package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.index._

/** The length band behind fuzzy expansion (`Query.scanPrefilter` of a
  * `FuzzyQ`, read by `GraftSearcher.dictTerms`): the dictionary terms left
  * by the band's length window and literal-prefix anchor, filtered by
  * `matches`, must equal the brute-force whole-dictionary filter for every
  * fuzzy shape. */
class FuzzyBandSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val index = IndexBuilder.build(
    spark.createDataset(CodeCorpus.files(1500)), IndexConfig(numPartitions = 4))
  private lazy val searcher = new GraftSearcher(index)

  test("banded candidates == brute-force dictionary filter, all fuzzy shapes") {
    val dict = index.termStats.collect()
    val queries = Seq(
      FuzzyQ("sort", 1), FuzzyQ("sort", 2), FuzzyQ("vektor", 2),
      FuzzyQ("tabel", 1, transpositions = true),
      FuzzyQ("tabel", 2, prefixLength = 1),
      FuzzyQ("uniq_tok_11", 2), // underscore identifiers
      FuzzyQ("xyzzy", 2), // no matches expected
      FuzzyQ("scan", 2, prefixLength = 2, transpositions = true),
      // ft_complex_phrase's slot and ft_span_fuzzy's prefix-anchored slot
      FuzzyQ("tabl", 1),
      FuzzyQ("tble", 1, prefixLength = 1, transpositions = true))
    for (f <- queries) {
      val banded = searcher.dictTerms(f).collect().map(_.term).toSet
      val brute = dict.filter(ts => f.matches(ts.term)).map(_.term).toSet
      assert(banded == brute, s"$f: banded=$banded brute=$brute")
      assert(brute.forall(t => t.length <= f.term.length + f.maxEdits), s"$f: $brute")
    }
  }
}
