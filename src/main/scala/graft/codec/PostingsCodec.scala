package graft.codec

/** One competitive (freq, norm) pair — block-max metadata driving dynamic
  * pruning, mirroring Lucene's `CompetitiveImpactAccumulator`
  * (reference: lucene/core/src/java/org/apache/lucene/codecs/CompetitiveImpactAccumulator.java:34-148).
  * `norm` is the unsigned byte value (0..255).
  */
final case class Impact(freq: Int, norm: Int)

/** A fully decoded postings block. `payloads` aligns with `positions`
  * (-1 = no payload at that occurrence). */
final case class DecodedBlock(
    docIds: Array[Long],
    freqs: Array[Int],
    positions: Array[Array[Int]],
    payloads: Array[Array[Int]])

/** Encoded posting block payloads (the column values of one postings row). */
final case class EncodedBlock(
    count: Int,
    firstDocId: Long,
    lastDocId: Long,
    ttf: Long,
    docsEnc: Array[Byte],
    freqsEnc: Array[Byte],
    posEnc: Array[Byte],
    impacts: Array[Impact])

/** Block codec for posting lists: 128-doc blocks (Lucene's BLOCK_SIZE,
  * reference: lucene/core/src/java/org/apache/lucene/codecs/lucene84/ForUtil.java:33),
  * FOR-delta docIds, PFOR freqs, VInt-delta positions, plus the
  * competitive-impacts Pareto frontier per block. Norms are not in the
  * block: like Lucene's separate per-field norms file (`Lucene80NormsFormat`)
  * they are stored once per document, in `docmeta.norm`. The encoder takes
  * each posting's norm only to compute the block's impact frontier; the
  * scorers read norms by docId from the resident doc-range layout
  * ([[graft.search.DocRange.norm]]), which loads them with the blocks.
  */
object PostingsCodec {
  val BLOCK_SIZE = 128

  /** Pareto frontier of (freq asc -> norm must be lower to be kept):
    * a pair is competitive iff no other pair has freq >= it AND norm <= it.
    * Mirrors `CompetitiveImpactAccumulator.getCompetitiveFreqNormPairs`
    * (reference: lucene/core/src/java/org/apache/lucene/codecs/CompetitiveImpactAccumulator.java:97-117). */
  def competitiveFrontier(pairs: Iterable[(Int, Int)]): Array[Impact] = {
    val sorted = pairs.toArray.distinct.sortBy { case (f, n) => (-f, n) }
    val out = collection.mutable.ArrayBuffer.empty[Impact]
    var minNorm = Int.MaxValue
    for ((f, n) <- sorted) {
      if (n < minNorm) { out += Impact(f, n); minNorm = n }
    }
    // return in (freq asc, norm asc) order for determinism
    out.sortBy(i => (i.freq, i.norm)).toArray
  }

  /** posEnc format flags (the stream's first byte). Payloads ride INSIDE
    * posEnc like Lucene's .pos payload interleaving (reference: lucene/
    * core/src/java/org/apache/lucene/codecs/lucene84/
    * Lucene84PostingsWriter.java — position deltas carry a has-payload
    * bit, payload bytes follow inline). */
  private val POS_PLAIN: Byte = 0
  private val POS_WITH_PAYLOADS: Byte = 1

  /** Encode one term's postings (sorted by docId, strictly increasing) into
    * a stream of blocks. `postings` items: (docId, tf, positions, normByte
    * 0..255); the norm feeds only the impact frontier. */
  def encodeTerm(postings: Iterator[(Long, Int, Array[Int], Int)]): Iterator[EncodedBlock] =
    encodeTermPayloads(postings.map { case (d, f, p, nm) => (d, f, p, null, nm) })

  /** Payload-aware encoder: items (docId, tf, positions, payloads, norm).
    * `payloads` aligns with positions, -1 or a null array = none. A block
    * with no payloads at all writes the PLAIN format — payload-free
    * corpora pay one flag byte per block, nothing per position. */
  def encodeTermPayloads(
      postings: Iterator[(Long, Int, Array[Int], Array[Int], Int)]): Iterator[EncodedBlock] =
    new Iterator[EncodedBlock] {
      private val docBuf = new Array[Long](BLOCK_SIZE)
      private val freqBuf = new Array[Int](BLOCK_SIZE)
      private val normBuf = new Array[Int](BLOCK_SIZE)
      private val posBuf = new Array[Array[Int]](BLOCK_SIZE)
      private val payBuf = new Array[Array[Int]](BLOCK_SIZE)
      private var nextBlock: EncodedBlock = null
      fill()

      override def hasNext: Boolean = nextBlock != null
      override def next(): EncodedBlock = { val b = nextBlock; fill(); b }

      private def fill(): Unit = {
        nextBlock = null
        var n = 0
        while (n < BLOCK_SIZE && postings.hasNext) {
          val (d, f, p, pay, nm) = postings.next()
          docBuf(n) = d; freqBuf(n) = f; posBuf(n) = p; payBuf(n) = pay; normBuf(n) = nm
          n += 1
        }
        if (n > 0) nextBlock = encodeBlock(n)
      }

      private def encodeBlock(n: Int): EncodedBlock = {
        val first = docBuf(0)
        val last = docBuf(n - 1)
        val dw = new ByteWriter(64)
        // deltas relative to first-1 so the first delta is >= 1
        ForDeltaUtil.encode(docBuf, n, first - 1, dw)
        val fw = new ByteWriter(64)
        PForUtil.encode(freqBuf, n, fw)
        var anyPay = false
        var i = 0
        while (i < n && !anyPay) {
          val pay = payBuf(i)
          if (pay != null) {
            var j = 0
            while (j < pay.length && !anyPay) { if (pay(j) >= 0) anyPay = true; j += 1 }
          }
          i += 1
        }
        val pw = new ByteWriter(128)
        pw.writeByte(if (anyPay) POS_WITH_PAYLOADS else POS_PLAIN)
        i = 0
        while (i < n) {
          val ps = posBuf(i)
          val pay = payBuf(i)
          // freq gives the count; deltas with first absolute
          var prev = 0
          var j = 0
          while (j < ps.length) {
            val delta = ps(j) - prev
            if (!anyPay) pw.writeVInt(delta)
            else {
              val hasPay = pay != null && j < pay.length && pay(j) >= 0
              pw.writeVInt((delta << 1) | (if (hasPay) 1 else 0))
              if (hasPay) pw.writeVInt(pay(j))
            }
            prev = ps(j)
            j += 1
          }
          i += 1
        }
        val pairs = (0 until n).map(i0 => (freqBuf(i0), normBuf(i0)))
        var ttf = 0L
        i = 0
        while (i < n) { ttf += freqBuf(i); i += 1 }
        EncodedBlock(n, first, last, ttf, dw.result(), fw.result(), pw.result(), competitiveFrontier(pairs))
      }
    }

  def decodeDocs(b: EncodedBlock): Array[Long] = {
    val out = new Array[Long](b.count)
    ForDeltaUtil.decode(new ByteReader(b.docsEnc), b.count, b.firstDocId - 1, out)
    out
  }

  def decodeFreqs(b: EncodedBlock): Array[Int] = {
    val out = new Array[Int](b.count)
    PForUtil.decode(new ByteReader(b.freqsEnc), b.count, out)
    out
  }

  /** Decode per-doc position arrays; needs freqs for the counts. */
  def decodePositions(b: EncodedBlock, freqs: Array[Int]): Array[Array[Int]] = {
    val r = new ByteReader(b.posEnc)
    val fmt = r.readByte()
    val out = new Array[Array[Int]](b.count)
    var i = 0
    while (i < b.count) {
      val f = freqs(i)
      val ps = new Array[Int](f)
      var prev = 0
      var j = 0
      while (j < f) {
        if (fmt == POS_PLAIN) prev += r.readVInt()
        else {
          val v = r.readVInt()
          prev += v >>> 1
          if ((v & 1) == 1) r.readVInt() // skip inline payload
        }
        ps(j) = prev
        j += 1
      }
      out(i) = ps
      i += 1
    }
    out
  }

  /** Decode per-doc per-occurrence payloads (-1 = none); aligns with
    * [[decodePositions]]. A PLAIN block yields all -1. */
  def decodePayloads(b: EncodedBlock, freqs: Array[Int]): Array[Array[Int]] = {
    val r = new ByteReader(b.posEnc)
    val fmt = r.readByte()
    val out = new Array[Array[Int]](b.count)
    var i = 0
    while (i < b.count) {
      val f = freqs(i)
      val pay = new Array[Int](f)
      var j = 0
      while (j < f) {
        if (fmt == POS_PLAIN) { r.readVInt(); pay(j) = -1 }
        else {
          val v = r.readVInt()
          pay(j) = if ((v & 1) == 1) r.readVInt() else -1
        }
        j += 1
      }
      out(i) = pay
      i += 1
    }
    out
  }

  def decodeAll(b: EncodedBlock): DecodedBlock = {
    val freqs = decodeFreqs(b)
    DecodedBlock(decodeDocs(b), freqs, decodePositions(b, freqs), decodePayloads(b, freqs))
  }
}
