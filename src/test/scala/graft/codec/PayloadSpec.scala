package graft.codec

import org.scalatest.funsuite.AnyFunSuite

/** posEnc payload interleaving (Lucene's .pos payload bytes): roundtrip,
  * plain-format compatibility, and the delimited-payload analyzer chain. */
class PayloadSpec extends AnyFunSuite {

  test("payload-aware blocks roundtrip positions AND payloads") {
    val postings = Seq[(Long, Int, Array[Int], Array[Int], Int)](
      (1L, 3, Array(0, 4, 9), Array(3, -1, 9), 17),
      (5L, 1, Array(2), null, 20),
      (9L, 2, Array(1, 3), Array(-1, -1), 30),
      (12L, 2, Array(0, 200), Array(7, 0), 40))
    val blocks = PostingsCodec.encodeTermPayloads(postings.iterator).toArray
    assert(blocks.length == 1)
    val b = blocks.head
    val freqs = PostingsCodec.decodeFreqs(b)
    val poss = PostingsCodec.decodePositions(b, freqs)
    val pays = PostingsCodec.decodePayloads(b, freqs)
    assert(poss.map(_.toSeq).toSeq ==
      Seq(Seq(0, 4, 9), Seq(2), Seq(1, 3), Seq(0, 200)))
    assert(pays.map(_.toSeq).toSeq ==
      Seq(Seq(3, -1, 9), Seq(-1), Seq(-1, -1), Seq(7, 0)))
  }

  test("payload-free blocks write the plain format (one flag byte only)") {
    val plain = PostingsCodec.encodeTerm(
      Iterator((1L, 2, Array(0, 5), 10), (3L, 1, Array(2), 11))).toArray.head
    val freqs = PostingsCodec.decodeFreqs(plain)
    assert(PostingsCodec.decodePositions(plain, freqs).map(_.toSeq).toSeq ==
      Seq(Seq(0, 5), Seq(2)))
    assert(PostingsCodec.decodePayloads(plain, freqs).forall(_.forall(_ == -1)))
    assert(plain.posEnc(0) == 0)
  }

  test("delimited-payload analyzer splits term|payload markup") {
    val an = graft.analysis.Analyzers.payload
    val toks = an.analyze("merge|3 plain MERGE|9 bad|x |7 t|")
      .map(t => (t.term, t.payload)).toList
    assert(toks == List(
      ("merge", 3), ("plain", -1), ("merge", 9),
      ("bad|x", -1), // non-numeric payload: token passes through untouched
      ("|7", -1), // delimiter first: no term part
      ("t|", -1))) // delimiter last: no payload part
  }

  test("payloads survive the full build and a merge") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val files = (0 until 40).map(i => graft.index.CodeFile(
      "r", f"p$i%03d", "c", "en", s"merge|${i % 5} data merge|7", null))
    val idx = graft.index.IndexBuilder.build(spark.createDataset(files),
      graft.index.IndexConfig(analyzer = graft.analysis.Analyzers.payload, numPartitions = 2))
    def payloadsOf(ix: graft.index.GraftIndex): Set[(Long, Seq[Int])] =
      ix.blocks.filter($"term" === "merge").as[graft.index.BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val pays = PostingsCodec.decodePayloads(eb, freqs)
          docs.indices.iterator.map(i => (docs(i), pays(i).toSeq))
        }.collect().toSet
    val before = payloadsOf(idx)
    assert(before.nonEmpty && before.forall(_._2.length == 2))
    assert(before.forall { case (_, p) => p(1) == 7 })
    // round-trip through decodeToPostings (the merge path)
    val rows = graft.index.SegmentMerger.decodeToPostings(
      idx.blocks.filter($"term" === "merge").as[graft.index.BlockRow], idx.docs).collect()
    assert(rows.forall(r => r.payloads != null && r.payloads.last == 7))
  }
}
