package graft.index

import org.apache.spark.sql.SparkSession
import graft.codec.{Impact, PostingsCodec}

/** Integrity report for a committed index ([[CheckIndex.check]]). */
final case class CheckReport(
    segments: Int,
    docs: Long,
    blocks: Long,
    terms: Long,
    problems: Seq[String]) {
  def clean: Boolean = problems.isEmpty
}

/** Offline index integrity checker — the `CheckIndex` tool analog
  * (reference: lucene/core/src/java/org/apache/lucene/index/CheckIndex.java:
  * 447-703 checkSegment walks stored fields, postings, norms, and cross-
  * checks counts). Every stage is a distributed pass, so the full-decode
  * validation scales like a segment scan, exactly as Lucene's tool does
  * (expensive by design — run it out-of-band, not per query):
  *
  *  1. manifest vs docmeta recount (docCount / sumTotalTermFreq / maxDocId)
  *  2. docId uniqueness across segments
  *  3. per-term posting-block invariants: count > 0, firstDocId <= lastDocId,
  *     blocks docId-disjoint within a term (the iterators' seek invariant)
  *  4. full block decode: encoded headers match decoded payloads
  *     (count, first/last docId, blockTtf vs freq sum), and — what the
  *     scorers rely on, since blocks carry no norms — every decoded
  *     posting's docId has a docmeta row, and the block's impact frontier
  *     equals the one recomputed from its decoded freqs and those docs'
  *     docmeta norms
  *  5. termStats table equals a re-aggregation over blocks
  */
object CheckIndex {

  def check(spark: SparkSession, indexDir: String): CheckReport = {
    import spark.implicits._
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = IndexStore.readManifest(indexDir).getOrElse(
      return CheckReport(0, 0, 0, 0, Seq(s"no manifest at $indexDir")))
    val idx = IndexStore.open(spark, indexDir)

    // 1. manifest vs recount
    val fs = IndexBuilder.fieldStatsOf(idx.docs)
    if (fs.docCount != m.docCount)
      problems += s"manifest docCount ${m.docCount} != docmeta recount ${fs.docCount}"
    if (fs.sumTotalTermFreq != m.sumTotalTermFreq)
      problems += s"manifest sumTotalTermFreq ${m.sumTotalTermFreq} != recount ${fs.sumTotalTermFreq}"
    if (fs.maxDocId != m.maxDocId)
      problems += s"manifest maxDocId ${m.maxDocId} != recount ${fs.maxDocId}"

    // 2. docId uniqueness
    val dupIds = idx.docs.groupBy($"docId").count().filter($"count" > 1).count()
    if (dupIds > 0) problems += s"$dupIds duplicate docIds across segments"

    // each doc's norm by docId, -1 where docmeta has no row
    val normOf = {
      val a = Array.fill[Short]((fs.maxDocId + 1).toInt)(-1)
      idx.docs.select($"docId", $"norm").as[(Long, Int)].collect()
        .foreach { case (d, n) => a(d.toInt) = n.toShort }
      spark.sparkContext.broadcast(a)
    }

    // 3 + 4. block invariants + full decode cross-check (one pass)
    val badBlocks = idx.blocks.flatMap { b =>
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      if (b.count <= 0) errs += s"${b.term}#${b.blockId}: count ${b.count}"
      if (b.firstDocId > b.lastDocId)
        errs += s"${b.term}#${b.blockId}: firstDocId > lastDocId"
      val d = PostingsCodec.decodeAll(b.toEncodedBlock)
      if (d.docIds.length != b.count)
        errs += s"${b.term}#${b.blockId}: decoded ${d.docIds.length} docs, header ${b.count}"
      else {
        if (d.docIds.head != b.firstDocId || d.docIds.last != b.lastDocId)
          errs += s"${b.term}#${b.blockId}: decoded docId range != header"
        if (d.freqs.map(_.toLong).sum != b.blockTtf)
          errs += s"${b.term}#${b.blockId}: freq sum != blockTtf"
        val norms = normOf.value
        val orphans = d.docIds.filter(id => id < 0 || id >= norms.length || norms(id.toInt) < 0)
        if (orphans.nonEmpty)
          errs += s"${b.term}#${b.blockId}: ${orphans.length} postings have no docmeta row, " +
            s"e.g. doc ${orphans.head}"
        else {
          val want = PostingsCodec.competitiveFrontier(
            d.freqs.indices.map(i => (d.freqs(i), norms(d.docIds(i).toInt).toInt))).toSeq
          val got = b.impactFreqs.zip(b.impactNorms).map { case (f, n) => Impact(f, n) }.toSeq
          if (got != want)
            errs += s"${b.term}#${b.blockId}: impact frontier ${got.mkString(",")} != " +
              s"${want.mkString(",")} from its freqs and docmeta norms"
        }
      }
      errs.iterator
    }.take(20)
    normOf.destroy()
    problems ++= badBlocks

    // 3b. per-term block disjointness (sorted ranges may not overlap)
    val overlapping = idx.blocks
      .map(b => (b.term, b.firstDocId, b.lastDocId))
      .groupByKey(_._1)
      .flatMapGroups { (t, it) =>
        val rs = it.map(r => (r._2, r._3)).toArray.sortBy(_._1)
        val bad = (1 until rs.length).exists(i => rs(i)._1 <= rs(i - 1)._2)
        if (bad) Iterator.single(t) else Iterator.empty
      }.take(5)
    overlapping.foreach(t => problems += s"term '$t': overlapping block docId ranges")

    // 5. termStats vs re-aggregation
    val recomputed = IndexBuilder.termStatsOf(idx.blocks)
      .withColumnRenamed("docFreq", "df2").withColumnRenamed("totalTermFreq", "ttf2")
    val mismatched = idx.termStats.toDF().join(recomputed, Seq("term"), "full_outer")
      .filter($"docFreq".isNull || $"df2".isNull ||
        $"docFreq" =!= $"df2" || $"totalTermFreq" =!= $"ttf2")
      .count()
    if (mismatched > 0) problems += s"$mismatched termStats rows disagree with block re-aggregation"

    CheckReport(m.segments.size, fs.docCount, idx.blocks.count(),
      idx.termStats.count(), problems.toSeq)
  }
}
