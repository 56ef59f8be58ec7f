package graft.queries

import scala.util.hashing.MurmurHash3

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.{GraftIndex, IndexStore}
import graft.search.GraftSearcher

/** Pins every DocsIndex corpus variant at sf0.001: field stats, the term
  * dictionary, the doc table (with each doc's text digest), the live count,
  * the numeric docvalues and the analyzer its queries parse with. Any change
  * to a variant's text transform, analyzer, index options or mutation step
  * moves its fingerprint. Runs on the shared [[TestSpark]] session, so the builds
  * `SparkEntrySpec` caches are reused. */
class DocsIndexVariantSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  /** Order-independent hash of rendered rows (String hashes are fixed by
    * the JLS, so the value repeats across JVMs). */
  private def rowsHash(rows: Iterator[String]): Int = MurmurHash3.unorderedHash(rows, 17)

  private def fingerprint(idx: GraftIndex): String = {
    val fs = idx.fieldStats
    val terms = idx.termStats.collect()
    val termHash = rowsHash(terms.iterator.map(t => s"${t.term}|${t.docFreq}|${t.totalTermFreq}"))
    // sha256 is the digest of the indexed text, so it pins the text rewrite
    val docHash = rowsHash(idx.docs.collect().iterator.map(d =>
      s"${d.docId}|${d.path}|${d.len}|${d.sha256}"))
    val dv =
      if (idx.docValues == null) "none"
      else rowsHash(idx.docValues.collect().iterator.map(v => s"${v.docId}|${v.field}|${v.value}")).toString
    s"docCount=${fs.docCount} sumTtf=${fs.sumTotalTermFreq} maxDocId=${fs.maxDocId} " +
      s"terms=${terms.length} termHash=$termHash docHash=$docHash " +
      s"live=${idx.liveDocsDF.count()} dv=$dv"
  }

  /** Resolves a variant by name through whichever entry point the object
    * exposes for it: the variant table (`get(spark, sfDir, DocsIndex.<name>)`)
    * or a `get<name>(spark, sfDir)` getter. Reflection lets this one spec
    * run against both shapes of the object, which is how the pinned values
    * below were taken before the table replaced the getters. */
  private def variant(name: String): (GraftIndex, GraftSearcher) = {
    val methods = DocsIndex.getClass.getMethods
    val built = methods.find(m => m.getName == s"get$name" && m.getParameterCount == 2) match {
      case Some(getter) => getter.invoke(DocsIndex, spark, sfDir)
      case None =>
        val v = DocsIndex.getClass.getMethod(name).invoke(DocsIndex)
        methods.find(m => m.getName == "get" && m.getParameterCount == 3).get
          .invoke(DocsIndex, spark, sfDir, v)
    }
    built.asInstanceOf[(GraftIndex, GraftSearcher)]
  }

  private def check(label: String, idx: GraftIndex, searcher: Option[GraftSearcher],
      expected: String): Unit = {
    val actual = fingerprint(idx) +
      searcher.fold("")(s => s" queryAnalyzer=${s.analyzer.##}")
    assert(actual == expected, s"$label fingerprint moved; now: $actual")
  }

  // name -> fingerprint, generated before the variant table existed
  private val pinned: Seq[(String, String)] = Seq(
    "WithDeletes" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=1501306297 live=428 dv=-749792838 queryAnalyzer=1757799454",
    "WithVersionedUpdates" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=1501306297 live=500 dv=1257425643 queryAnalyzer=1757799454",
    "MergedDeletes" ->
      "docCount=428 sumTtf=23715 maxDocId=499 terms=31 termHash=-1027696465 docHash=1464207040 live=428 dv=-749792838 queryAnalyzer=1757799454",
    "WithQueryDeletes" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=1501306297 live=195 dv=-749792838 queryAnalyzer=1757799454",
    "Standard" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=1501306297 live=500 dv=-749792838 queryAnalyzer=587764467",
    "Stemmed" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=-2016815143 docHash=-1275511030 live=500 dv=-749792838 queryAnalyzer=-1017894272",
    "Icu" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=-1279398051 live=500 dv=-749792838 queryAnalyzer=1559360783",
    "LangStem" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=44 termHash=1257158195 docHash=1391235958 live=500 dv=-749792838 queryAnalyzer=1757799454",
    "Porter" ->
      "docCount=500 sumTtf=26098 maxDocId=499 terms=29 termHash=-228778409 docHash=-12328258 live=500 dv=-749792838 queryAnalyzer=722602765",
    "Cjk" ->
      "docCount=500 sumTtf=28862 maxDocId=499 terms=36 termHash=-76539199 docHash=1364241482 live=500 dv=-749792838 queryAnalyzer=-670443967",
    "CjkDict" ->
      "docCount=500 sumTtf=30748 maxDocId=499 terms=34 termHash=-1709138288 docHash=-1620064394 live=500 dv=-749792838 queryAnalyzer=290529943",
    "Payload" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=30 termHash=913865126 docHash=809034780 live=500 dv=-749792838 queryAnalyzer=-1997738273",
    "LengthFiltered" ->
      "docCount=500 sumTtf=22415 maxDocId=499 terms=24 termHash=-530200497 docHash=-426834854 live=500 dv=-749792838 queryAnalyzer=-1583923792",
    "SynGraph" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=32 termHash=894924113 docHash=1501306297 live=500 dv=-749792838 queryAnalyzer=1186604790",
    "SynGraphExpand" ->
      "docCount=500 sumTtf=28874 maxDocId=499 terms=32 termHash=339594738 docHash=230447091 live=500 dv=-749792838 queryAnalyzer=-342092505",
    "StemKeepOrig" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=35 termHash=-53799631 docHash=-1275511030 live=500 dv=-749792838 queryAnalyzer=-753302558",
    "English" ->
      "docCount=500 sumTtf=26098 maxDocId=499 terms=29 termHash=1552993793 docHash=-1255866773 live=500 dv=-749792838 queryAnalyzer=192051688",
    "Shingled" ->
      "docCount=500 sumTtf=27439 maxDocId=499 terms=916 termHash=198762669 docHash=-1314443220 live=500 dv=-749792838 queryAnalyzer=-840427660",
    "CommonGrams" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=149 termHash=-1473294639 docHash=1501306297 live=500 dv=-749792838 queryAnalyzer=784151519",
    "WordDelim" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=942 termHash=1652218678 docHash=-1309804308 live=500 dv=-749792838 queryAnalyzer=1339061700",
    "Sorted" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=377515257 live=500 dv=-749792838 queryAnalyzer=1757799454",
    "WithDocValues" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=1501306297 live=500 dv=-722867848 queryAnalyzer=1757799454",
    "Atomic" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=1501306297 live=500 dv=-94905102 queryAnalyzer=1757799454",
    "Mapped" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1912881669 docHash=2021066513 live=500 dv=-749792838 queryAnalyzer=1757799454",
    "Incremental" ->
      "docCount=500 sumTtf=27939 maxDocId=1048825 terms=31 termHash=1526112739 docHash=-1352544283 live=500 dv=-749792838 queryAnalyzer=1757799454",
    "Folded" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=-817249028 live=500 dv=-749792838 queryAnalyzer=-67364939",
    "Html" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=-485377535 live=500 dv=-749792838 queryAnalyzer=1353400632",
    "Combined" ->
      "docCount=500 sumTtf=28939 maxDocId=499 terms=51 termHash=1690802405 docHash=-294529744 live=500 dv=-749792838 queryAnalyzer=1757799454",
    "SourceField" ->
      "docCount=500 sumTtf=500 maxDocId=499 terms=20 termHash=-866133917 docHash=-470707408 live=500 dv=-749792838 queryAnalyzer=1757799454",
    "Synonyms" ->
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=839301071 docHash=1501306297 live=500 dv=-749792838 queryAnalyzer=1757799454")

  for ((name, expected) <- pinned) test(s"variant $name is pinned") {
    val (idx, searcher) = variant(name)
    check(name, idx, Some(searcher), expected)
  }

  test("plain corpus index is pinned") {
    val (idx, searcher) = DocsIndex.get(spark, sfDir)
    check("plain", idx, Some(searcher),
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=1501306297 live=500 dv=-749792838 queryAnalyzer=1757799454")
  }

  test("committed plain dir is pinned") {
    check("committedDir", IndexStore.open(spark, DocsIndex.committedDir(spark, sfDir)), None,
      "docCount=500 sumTtf=27939 maxDocId=499 terms=31 termHash=1526112739 docHash=1501306297 live=500 dv=-749792838")
  }

  test("deletesDir and incrementalDir reopen to their variants' indexes") {
    for ((name, dir) <- Seq(
        "WithDeletes" -> DocsIndex.deletesDir(spark, sfDir),
        "Incremental" -> DocsIndex.incrementalDir(spark, sfDir))) {
      assert(fingerprint(IndexStore.open(spark, dir)) == fingerprint(variant(name)._1), name)
    }
  }
}
