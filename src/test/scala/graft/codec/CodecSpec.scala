package graft.codec

import org.scalatest.funsuite.AnyFunSuite
import graft.TestProps.{forAllN, forAllN2}
import org.scalacheck.Gen

class SmallFloatSpec extends AnyFunSuite {

  test("NUM_FREE_VALUES and exactness boundary match Lucene semantics") {
    // derived from lucene/core/src/java/org/apache/lucene/util/SmallFloat.java:101-169
    assert(SmallFloat.NUM_FREE_VALUES == 24)
    // exact for 0..40 (SURVEY.md: 'values < 40 exact'; 40 itself also exact)
    for (i <- 0 to 40) assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(i)) == i, s"i=$i")
    assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(41)) == 40)
  }

  test("golden encode/decode samples") {
    val golden = Seq((0, 0, 0), (23, 23, 23), (24, 24, 24), (39, 39, 39), (40, 40, 40),
      (41, 40, 40), (100, 57, 96), (255, 70, 248), (1000, 87, 984), (65535, 135 - 256, 61464))
    for ((in, encByte, dec) <- golden) {
      assert(SmallFloat.intToByte4(in) == encByte.toByte, s"encode $in")
      assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(in)) == dec, s"decode $in")
    }
  }

  test("monotonic and floor (decoded <= input)") {
    var prev = -1
    for (i <- 0 to 100000) {
      val d = SmallFloat.byte4ToInt(SmallFloat.intToByte4(i))
      assert(d <= i)
      assert(d >= prev)
      prev = d
    }
  }

  test("all 256 norm bytes decode without error and are monotonic in unsigned order") {
    var prev = -1L
    for (i <- 0 until 256) {
      val d = SmallFloat.byte4ToInt(i.toByte)
      assert(d > prev, s"byte $i")
      prev = d
    }
  }
}

class PackingSpec extends AnyFunSuite {
  test("pack/unpack roundtrip at every bit width") {
    val rnd = new scala.util.Random(42)
    for (bits <- 1 to 31; count <- Seq(1, 7, 128)) {
      val max = if (bits == 31) Int.MaxValue else (1 << bits) - 1
      val vals = Array.fill(count)(rnd.nextInt() & max)
      val w = new ByteWriter()
      Packing.pack(vals, count, bits, w)
      val out = new Array[Int](count)
      Packing.unpack(new ByteReader(w.result()), count, bits, out, 0)
      assert(out.toSeq == vals.toSeq, s"bits=$bits count=$count")
    }
  }

  test("vint/vlong roundtrip") {
    val w = new ByteWriter()
    val ints = Seq(0, 1, 127, 128, 16383, 16384, Int.MaxValue)
    val longs = Seq(0L, 1L, 127L, 128L, Long.MaxValue, 1L << 40)
    ints.foreach(w.writeVInt)
    longs.foreach(w.writeVLong)
    val r = new ByteReader(w.result())
    ints.foreach(i => assert(r.readVInt() == i))
    longs.foreach(l => assert(r.readVLong() == l))
  }
}

class PForSpec extends AnyFunSuite {

  private def roundtrip(vals: Array[Int]): Array[Int] = {
    val w = new ByteWriter()
    PForUtil.encode(vals, vals.length, w)
    val out = new Array[Int](vals.length)
    PForUtil.decode(new ByteReader(w.result()), vals.length, out)
    out
  }

  test("all-equal block short-circuits to tiny encoding") {
    val vals = Array.fill(128)(7)
    val w = new ByteWriter()
    PForUtil.encode(vals, 128, w)
    assert(w.size <= 3) // token + vint
    assert(roundtrip(vals).toSeq == vals.toSeq)
  }

  test("0..3 exception paths") {
    // base values small, a few large outliers -> patched encoding
    for (nExc <- 0 to 3) {
      val vals = Array.tabulate(128)(i => 1 + (i % 7))
      for (e <- 0 until nExc) vals(e * 40 + 3) = 1000 + e
      assert(roundtrip(vals).toSeq == vals.toSeq, s"nExc=$nExc")
    }
  }

  test("property: roundtrip on random freq-like blocks") {
    forAllN(Gen.listOfN(128, Gen.chooseNum(1, 1 << 20))) { l =>
      val vals = l.toArray
      assert(roundtrip(vals).toSeq == vals.toSeq)
    }
  }

  test("partial (tail) blocks") {
    val rnd = new scala.util.Random(7)
    for (count <- Seq(1, 5, 127)) {
      val vals = Array.fill(count)(1 + rnd.nextInt(100))
      assert(roundtrip(vals).toSeq == vals.toSeq)
    }
  }
}

class ForDeltaSpec extends AnyFunSuite {

  private def roundtrip(docIds: Array[Long], base: Long): Array[Long] = {
    val w = new ByteWriter()
    ForDeltaUtil.encode(docIds, docIds.length, base, w)
    val out = new Array[Long](docIds.length)
    ForDeltaUtil.decode(new ByteReader(w.result()), docIds.length, base, out)
    out
  }

  test("all-deltas-one collapses to a single byte") {
    val ids = Array.tabulate(128)(i => 100L + i + 1)
    val w = new ByteWriter()
    ForDeltaUtil.encode(ids, 128, 100L, w)
    assert(w.size == 1)
    assert(roundtrip(ids, 100L).toSeq == ids.toSeq)
  }

  test("huge gaps (> Int.MaxValue) use the vlong fallback") {
    val ids = Array(10L, 20L, 20L + Int.MaxValue.toLong * 2, 1L << 50)
    assert(roundtrip(ids, 5L).toSeq == ids.toSeq)
  }

  test("property: roundtrip on random strictly increasing ids") {
    forAllN2(Gen.chooseNum(0L, 1L << 40), Gen.listOfN(128, Gen.chooseNum(1, 100000))) { (base, gaps) =>
      var cur = base
      val ids = gaps.map { g => cur += g; cur }.toArray
      assert(roundtrip(ids, base).toSeq == ids.toSeq)
    }
  }
}

class PostingsCodecSpec extends AnyFunSuite {

  test("competitive frontier keeps only non-dominated pairs") {
    // (freq, norm): (3,10) dominates (2,10) and (3,12); (5,20) and (3,10) both survive
    val frontier = PostingsCodec.competitiveFrontier(Seq((3, 10), (2, 10), (3, 12), (5, 20), (1, 5)))
    assert(frontier.toSeq == Seq(Impact(1, 5), Impact(3, 10), Impact(5, 20)))
  }

  test("encode/decode roundtrip over multi-block term") {
    val rnd = new scala.util.Random(13)
    var doc = 0L
    val postings = (0 until 300).map { _ =>
      doc += 1 + rnd.nextInt(50)
      val tf = 1 + rnd.nextInt(8)
      val positions = {
        var p = rnd.nextInt(10); val b = Array.newBuilder[Int]
        for (_ <- 0 until tf) { b += p; p += 1 + rnd.nextInt(20) }
        b.result()
      }
      (doc, tf, positions, rnd.nextInt(256))
    }
    val blocks = PostingsCodec.encodeTerm(postings.iterator).toArray
    assert(blocks.length == 3)
    assert(blocks(0).count == 128 && blocks(2).count == 44)
    val decoded = blocks.flatMap { b =>
      val d = PostingsCodec.decodeAll(b)
      (0 until b.count).map(i => (d.docIds(i), d.freqs(i), d.positions(i).toSeq))
    }
    assert(decoded.toSeq == postings.map(p => (p._1, p._2, p._3.toSeq)))
    // block boundaries
    assert(blocks(0).firstDocId == postings.head._1)
    assert(blocks(2).lastDocId == postings.last._1)
    // impacts: every input (freq, norm) of a block is dominated by some
    // frontier entry (the block stores no norms; they are the input's)
    val normOf = postings.map(p => p._1 -> p._4).toMap
    for (b <- blocks) {
      val d = PostingsCodec.decodeAll(b)
      for (i <- 0 until b.count) {
        assert(b.impacts.exists(imp => imp.freq >= d.freqs(i) && imp.norm <= normOf(d.docIds(i))))
      }
    }
  }

  test("property: roundtrip random posting lists") {
    val gen = for {
      n <- Gen.chooseNum(1, 400)
      gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 1000L))
      tfs <- Gen.listOfN(n, Gen.chooseNum(1, 5))
    } yield {
      var d = 0L
      gaps.zip(tfs).map { case (g, tf) =>
        d += g
        (d, tf, Array.tabulate(tf)(j => j * 3), (d % 256).toInt)
      }
    }
    forAllN(gen) { postings =>
      val blocks = PostingsCodec.encodeTerm(postings.iterator).toArray
      val decoded = blocks.flatMap { b =>
        val dd = PostingsCodec.decodeAll(b)
        (0 until b.count).map(i => (dd.docIds(i), dd.freqs(i), dd.positions(i).toSeq))
      }
      assert(decoded.toSeq == postings.map(p => (p._1, p._2, p._3.toSeq)))
      // the frontier dominates every input (freq, norm) of its block
      val normOf = postings.map(p => p._1 -> p._4).toMap
      for (b <- blocks) {
        val dd = PostingsCodec.decodeAll(b)
        for (i <- 0 until b.count)
          assert(b.impacts.exists(imp => imp.freq >= dd.freqs(i) && imp.norm <= normOf(dd.docIds(i))))
      }
    }
  }
}
