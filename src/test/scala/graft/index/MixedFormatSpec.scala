package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.codec.PostingsCodec
import graft.fixtures.CodeCorpus
import graft.search.GraftSearcher

/** A postings row of the former on-disk format, whose blocks repeated each
  * doc's norm byte in a per-posting `normsEnc` column. */
final case class InlineNormsBlockRow(
    term: String,
    blockId: Int,
    count: Int,
    firstDocId: Long,
    lastDocId: Long,
    blockTtf: Long,
    docsEnc: Array[Byte],
    freqsEnc: Array[Byte],
    normsEnc: Array[Byte],
    posEnc: Array[Byte],
    impactFreqs: Array[Int],
    impactNorms: Array[Int])

/** Segments written with inline norms (postings carrying `normsEnc`) open,
  * search rank-identically and pass `CheckIndex`, alone or beside segments
  * of the current format, and a merge rewrites them without the column. */
class MixedFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = IndexConfig(numPartitions = 2)
  private lazy val files = CodeCorpus.files(240).sortBy(f => (f.repo, f.path, f.commit))

  /** Two current-format segments, the reference every variant must match. */
  private lazy val refDir: String = {
    val d = IndexBuilder.scratchDir("graft-format-ref-")
    Seq(files.take(120), files.drop(120))
      .foreach(part => IndexStore.buildAndCommit(spark.createDataset(part), d, cfg))
    d
  }

  private val queries = Seq("if", "return AND indexwriter", "indexwriter OR mergepolicy",
    "\"foo.bar x2y\"", "merge*", "NOT if")

  /** A copy of the reference whose segments `old` get their postings
    * rewritten in the former format: each block's docs' docmeta norms
    * added as `normsEnc`. */
  private def withInlineNorms(old: Seq[Int]): String = {
    val d = IndexBuilder.scratchDir("graft-format-mixed-")
    IndexStore.replicate(refDir, d)
    val segs = IndexStore.readManifest(d).get.segments.sortBy(_.docBase)
    for (i <- old) {
      val seg = s"$d/${segs(i).name}"
      val normOf = spark.read.parquet(s"$seg/docmeta").as[DocRow].collect()
        .map(r => r.docId -> r.norm.toByte).toMap
      val rows = spark.read.parquet(s"$seg/postings").as[BlockRow].collect().map { b =>
        InlineNormsBlockRow(b.term, b.blockId, b.count, b.firstDocId, b.lastDocId, b.blockTtf,
          b.docsEnc, b.freqsEnc, PostingsCodec.decodeDocs(b.toEncodedBlock).map(normOf),
          b.posEnc, b.impactFreqs, b.impactNorms)
      }
      spark.createDataset(rows.toSeq).write.mode("overwrite").parquet(s"$seg/postings")
      assert(columns(s"$seg/postings").contains("normsEnc"))
    }
    d
  }

  private def columns(path: String): Seq[String] = spark.read.parquet(path).columns.toSeq

  private def assertServesLikeReference(dir: String): Unit = {
    val ref = new GraftSearcher(IndexStore.open(spark, refDir))
    val s = new GraftSearcher(IndexStore.open(spark, dir))
    for (q <- queries) {
      val want = ref.search(q, 10).toSeq
      assert(want.nonEmpty, q)
      assert(s.search(q, 10).toSeq == want, q)
      assert(s.bruteForce(s.parse(q), 10).toSeq == want, q)
    }
    val r = CheckIndex.check(spark, dir)
    assert(r.clean, r.problems.mkString("; "))
  }

  /** mergeAll rewrites every segment into one without `normsEnc`, and the
    * merged index still serves the reference's answers. */
  private def assertMergeRewrites(dir: String): Unit = {
    val m = SegmentMerger.mergeAll(spark, dir, cfg)
    assert(m.segments.size == 1)
    assert(!columns(s"$dir/${m.segments.head.name}/postings").contains("normsEnc"))
    assertServesLikeReference(dir)
  }

  test("an inline-norms segment beside a current one opens, searches, checks clean, merges") {
    val dir = withInlineNorms(Seq(0))
    assertServesLikeReference(dir)
    assertMergeRewrites(dir)
  }

  test("an index of inline-norms segments only opens, searches, checks clean, merges") {
    val dir = withInlineNorms(Seq(0, 1))
    assertServesLikeReference(dir)
    assertMergeRewrites(dir)
  }
}
