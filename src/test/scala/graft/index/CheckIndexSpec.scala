package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.analysis.Analyzers

/** `CheckIndex` tool analog (reference:
  * lucene/core/src/java/org/apache/lucene/index/CheckIndex.java). */
class CheckIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a freshly committed multi-segment index is clean") {
    val dir = java.nio.file.Files.createTempDirectory("graft-check-").toString
    val cfg = IndexConfig(analyzer = Analyzers.simple)
    val all = CodeCorpus.files(120)
    IndexStore.buildAndCommit(spark.createDataset(all.take(60)), dir, cfg)
    IndexStore.buildAndCommit(spark.createDataset(all.drop(60)), dir, cfg)
    val r = CheckIndex.check(spark, dir)
    assert(r.clean, r.problems.mkString("; "))
    assert(r.segments == 2 && r.docs == 120)
    assert(r.blocks > 0 && r.terms > 0)
  }

  test("a tampered manifest docCount is reported") {
    val dir = java.nio.file.Files.createTempDirectory("graft-check2-").toString
    IndexStore.buildAndCommit(
      spark.createDataset(CodeCorpus.files(30)), dir, IndexConfig(analyzer = Analyzers.simple))
    val m = IndexStore.readManifest(dir).get
    val tampered = m.copy(segments = m.segments.map(s => s.copy(docCount = s.docCount + 1)))
    IndexStore.writeManifest(dir, tampered)
    val r = CheckIndex.check(spark, dir)
    assert(!r.clean)
    assert(r.problems.exists(_.contains("docCount")))
  }

  test("a corrupted posting block payload is reported") {
    val dir = java.nio.file.Files.createTempDirectory("graft-check3-").toString
    IndexStore.buildAndCommit(
      spark.createDataset(CodeCorpus.files(30)), dir, IndexConfig(analyzer = Analyzers.simple))
    // rewrite the postings table with one block's blockTtf shifted
    val seg = IndexStore.readManifest(dir).get.segments.head.name
    val path = s"$dir/$seg/postings"
    val blocks = spark.read.parquet(path).as[BlockRow].collect()
    val tampered = blocks.zipWithIndex.map { case (b, i) =>
      if (i == 0) b.copy(blockTtf = b.blockTtf + 5) else b
    }
    spark.createDataset(tampered.toSeq).write.mode("overwrite").parquet(path)
    val r = CheckIndex.check(spark, dir)
    assert(!r.clean)
    assert(r.problems.exists(p => p.contains("blockTtf") || p.contains("termStats")))
  }

  /** The CheckIndex report of a fresh 30-doc index whose docmeta rows are
    * rewritten by `tamper`, which also gets the docId it should alter. */
  private def withDocmeta(tamper: (Seq[DocRow], Long) => Seq[DocRow]): CheckReport = {
    val dir = java.nio.file.Files.createTempDirectory("graft-check-norms-").toString
    IndexStore.buildAndCommit(
      spark.createDataset(CodeCorpus.files(30)), dir, IndexConfig(analyzer = Analyzers.simple))
    val path = s"$dir/${IndexStore.readManifest(dir).get.segments.head.name}/docmeta"
    val docs = spark.read.parquet(path).as[DocRow].collect().toSeq.sortBy(_.docId)
    // a doc with postings: every doc of the corpus has some
    assert(docs.forall(_.len > 0))
    spark.createDataset(tamper(docs, docs(7).docId)).write.mode("overwrite").parquet(path)
    CheckIndex.check(spark, dir)
  }

  test("a posting whose doc lost its docmeta row is reported") {
    val r = withDocmeta((docs, victim) => docs.filterNot(_.docId == victim))
    assert(r.problems.exists(p => p.contains("no docmeta row") && p.contains("doc 7")),
      r.problems.mkString("; "))
  }

  test("a docmeta norm the impact frontiers were not computed from is reported") {
    // norm 0 (an empty field) sits on the frontier of every block holding
    // the doc, since every other doc of the corpus has norm >= 1
    val r = withDocmeta((docs, victim) =>
      docs.map(d => if (d.docId == victim) d.copy(norm = 0) else d))
    assert(!r.problems.exists(_.contains("no docmeta row")))
    assert(r.problems.exists(_.contains("impact frontier")), r.problems.mkString("; "))
  }
}
