package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}

/** Segment merge = sort-merge over (term, docId)-keyed Datasets
  * (the Spark-native re-expression of `SegmentMerger.merge`'s PQ-driven
  * term/posting merge, reference:
  * lucene/core/src/java/org/apache/lucene/index/SegmentMerger.java:96-150 and
  * `MultiTermsEnum`/`DocIDMerger`).
  *
  * DocId rebasing note: Lucene assigns per-segment 0-based ids and rebases at
  * merge (`DocIDMerger.java:32,123-127`); we instead assign GLOBAL ids at
  * build time (each segment gets a contiguous [docBase, docBase+n) range), so
  * merging never renumbers — the union of segment doc spaces is already the
  * merged doc space. The merge is then exactly: decode all segments' blocks
  * back to postings, one term-hash shuffle, re-encode — identical output to
  * a single-shot build by construction (tested as the merge-identity
  * property, the `TestTopDocsMerge` idea).
  */
object SegmentMerger {

  /** Decode a block table back into posting rows (streamed, not
    * materialized), each with its doc's norm from `docs`: blocks carry no
    * norms, so the decoded postings join the doc metadata by docId. A
    * posting whose doc has no row in `docs` is dropped — joined with a
    * purged docmeta, this is the merge's delete purge. */
  def decodeToPostings(blocks: Dataset[BlockRow], docs: Dataset[DocRow]): Dataset[PostingRow] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.flatMap { b =>
      val d = graft.codec.PostingsCodec.decodeAll(b.toEncodedBlock)
      (0 until b.count).iterator.map { i =>
        val pay = if (d.payloads(i).exists(_ >= 0)) d.payloads(i) else null
        (b.term, d.docIds(i), d.freqs(i), d.positions(i), pay)
      }
    }.toDF("term", "docId", "tf", "positions", "payloads")
      .join(docs.select($"docId", $"norm"), "docId")
      .as[PostingRow]
  }

  /** Merge ALL committed segments into one and commit a new generation.
    * A SINGLE segment still rewrites when tombstones exist — Lucene's
    * forceMerge treats a one-segment index with deletions as merge-worthy
    * so the purge happens (IndexWriter.forceMerge →
    * MergePolicy.findForcedMerges on segments with deletes). */
  def mergeAll(spark: SparkSession, indexDir: String, cfg: IndexConfig = IndexConfig()): Manifest = {
    import spark.implicits._
    val m = IndexStore.readManifest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest at $indexDir"))
    if (m.segments.isEmpty || (m.segments.size == 1 && !m.hasDeletes)) return m
    mergeSegments(spark, indexDir, m, m.segments, cfg)
  }

  /** Merge a chosen subset of segments into one; keeps the rest. The merged
    * segment's tables go through the build's own checkpointed writer
    * ([[IndexStore.writeSegment]]), so a restarted merge redoes only the
    * stages it lacks. */
  def mergeSegments(
      spark: SparkSession,
      indexDir: String,
      m: Manifest,
      toMerge: Seq[SegmentMeta],
      cfg: IndexConfig): Manifest = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // INVARIANT: only docId-ADJACENT segments may merge. Global docIds never
    // renumber (unlike Lucene's per-segment rebasing), so a merged segment
    // spanning a docId gap owned by another live segment would emit posting
    // blocks whose docId ranges overlap that segment's blocks — breaking the
    // iterators' disjoint-sorted-blocks invariant (docs would be skipped).
    // Merges therefore compact consecutive ranges, LSM-style.
    val ordered = m.segments.sortBy(_.docBase)
    val idxs = toMerge.map(s => ordered.indexWhere(_.name == s.name)).sorted
    require(idxs.head >= 0 && idxs == (idxs.head to idxs.last),
      s"merge group must be docId-adjacent segments, got ${toMerge.map(_.name)}")
    val gen = m.generation + 1
    val segName = f"seg-$gen%05d-merged"

    // tombstoned docs are physically dropped while rewriting — the merge IS
    // the delete purge (Lucene: SegmentMerger honors liveDocs)
    val deletes = IndexStore.readDeletes(spark, indexDir, m).toDF("_del")
    def purge[T](ds: Dataset[T]): Dataset[T] =
      if (!m.hasDeletes) ds
      else ds.join(deletes, col("docId") === col("_del"), "left_anti").as[T](ds.encoder)
    def unionOf[T: org.apache.spark.sql.Encoder](stage: String): Dataset[T] =
      toMerge.map(s => IndexStore.readStage[T](spark, s"$indexDir/${s.name}/$stage")).reduce(_ union _)

    // docmeta and term vectors merge as purged unions (docIds never
    // renumber); the postings are decoded, joined with the merged docmeta
    // written just before them (their norms; the join drops the purged
    // docs' postings) and re-encoded. The encode bounds are the merged
    // segments' own, not the purged docmeta's.
    val segDir = s"$indexDir/$segName"
    val fs = IndexStore.writeSegment(spark, segDir, cfg,
      purge(unionOf[DocRow]("docmeta")),
      if (toMerge.forall(s => IndexStore.isComplete(s"$indexDir/${s.name}/termvectors")))
        Some(() => purge(unionOf[TermVectorRow]("termvectors")))
      else None,
      decodeToPostings(unionOf[BlockRow]("postings"),
        IndexStore.readStage[DocRow](spark, s"$segDir/docmeta")),
      _ => (toMerge.map(_.maxDocId).max + 1, toMerge.map(_.sumTotalTermFreq).sum),
      forcePayloads = true)
    val merged = SegmentMeta(segName,
      toMerge.map(_.docBase).min,
      fs.docCount,
      fs.sumTotalTermFreq,
      toMerge.map(_.maxDocId).max)
    val keep = m.segments.filterNot(s => toMerge.exists(_.name == s.name))
    // tombstones are fully applied only when every segment was rewritten;
    // on a partial merge they must survive for the untouched segments (the
    // purged docs' ids staying in the set is harmless — nothing matches them)
    val newDelGen = if (keep.isEmpty) -1L else m.delGen
    // index sort + sorted-run boundaries survive the rewrite: docIds never
    // renumber, so the concatenated runs stay sorted exactly as committed
    val newManifest = Manifest(gen, keep :+ merged, newDelGen, m.indexSort, m.sortRuns, m.dvGen)
    IndexStore.writeManifest(indexDir, newManifest)
    newManifest
  }

  /** On-disk byte size of a segment (all stage parquet files). */
  def segmentSizeBytes(indexDir: String, segName: String): Long = {
    val root = java.nio.file.Paths.get(indexDir, segName)
    if (!java.nio.file.Files.exists(root)) return 0L
    val s = java.nio.file.Files.walk(root)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** Size-tiered compaction driven by [[TieredPolicy.findMerges]] over the
    * segments' real on-disk byte sizes: repeatedly plan + execute until the
    * index fits its tier budget. */
  def compactTiered(
      spark: SparkSession,
      indexDir: String,
      cfg: IndexConfig = IndexConfig(),
      policy: TieredPolicy = TieredPolicy()): Manifest = {
    var m = IndexStore.readManifest(indexDir)
      .getOrElse(throw new IllegalStateException(s"no manifest at $indexDir"))
    var planned = TieredPolicy.findMerges(
      m.segments, m.segments.map(s => s.name -> segmentSizeBytes(indexDir, s.name)).toMap, policy)
    while (planned.nonEmpty) {
      planned.foreach { group => m = mergeSegments(spark, indexDir, m, group, cfg) }
      planned = TieredPolicy.findMerges(
        m.segments, m.segments.map(s => s.name -> segmentSizeBytes(indexDir, s.name)).toMap, policy)
    }
    m
  }
}

/** Size-tiered merge planning — the driver-side re-expression of Lucene's
  * `TieredMergePolicy.findMerges` (reference:
  * lucene/core/src/java/org/apache/lucene/index/TieredMergePolicy.java:312-430;
  * defaults :96-103: 10 segments/tier, merge <=10 at once, 2 MB floor,
  * 5 GB max merged segment). Pure planning over (segment, bytes) pairs so
  * tier selection is unit-testable without an index. */
final case class TieredPolicy(
    segsPerTier: Int = 10,
    maxMergeAtOnce: Int = 10,
    floorSegmentBytes: Long = 2L << 20,
    maxMergedSegmentBytes: Long = 5L << 30)

object TieredPolicy {

  /** Plan the next round of merges (possibly empty). Mirrors the reference
    * shape: a byte budget of `segsPerTier` segments per exponential size
    * tier (each tier `maxMergeAtOnce`x the last, floored at
    * `floorSegmentBytes`); if the index exceeds the budget, candidate
    * windows are scored by size skew (balanced merges win) and the best
    * window below `maxMergedSegmentBytes` is chosen. Oversized segments
    * (> max/2) are never merge candidates, exactly like the reference.
    *
    * Deliberate deviation from the reference: candidate windows are
    * CONSECUTIVE runs in docBase order, not arbitrary size-sorted picks —
    * this engine's docIds are global and never renumber, so merges must
    * compact adjacent docId ranges (LSM-style) to keep every term's blocks
    * globally disjoint. Skew scoring still drives the pick, so equal-size
    * runs of small segments win over big+small mixes. */
  def findMerges(
      segments: Seq[SegmentMeta],
      sizes: Map[String, Long],
      pol: TieredPolicy = TieredPolicy()): Seq[Seq[SegmentMeta]] = {
    val ordered = segments.sortBy(_.docBase)
      .map(s => s -> math.max(sizes.getOrElse(s.name, 0L), 1L))
    val eligible = ordered.filter(_._2 <= pol.maxMergedSegmentBytes / 2)
    if (eligible.size < 2) return Nil
    val totalBytes = eligible.map(_._2).sum
    val minSize = math.max(eligible.map(_._2).min, pol.floorSegmentBytes)

    // allowed segment count: segsPerTier per exponential level
    // (TieredMergePolicy.java:340-366)
    var allowed = 0.0
    var bytesLeft = totalBytes.toDouble
    var levelSize = minSize.toDouble
    var planning = true
    while (planning) {
      val segCountLevel = bytesLeft / levelSize
      if (segCountLevel < pol.segsPerTier || levelSize >= pol.maxMergedSegmentBytes) {
        allowed += math.ceil(segCountLevel)
        planning = false
      } else {
        allowed += pol.segsPerTier
        bytesLeft -= pol.segsPerTier * levelSize
        levelSize = math.min(levelSize * pol.maxMergeAtOnce, pol.maxMergedSegmentBytes.toDouble)
      }
    }
    if (eligible.size <= allowed) return Nil

    // candidate windows: consecutive eligible runs in docBase order (an
    // oversized neighbor ends the run), capped by size and maxMergeAtOnce
    val oversize = ordered.map(_._2 > pol.maxMergedSegmentBytes / 2)
    var best: (Double, Seq[SegmentMeta]) = null
    for (start <- ordered.indices if !oversize(start)) {
      var sum = 0L
      val cand = collection.mutable.ArrayBuffer.empty[(SegmentMeta, Long)]
      var i = start
      var open = true
      while (open && i < ordered.size && cand.size < pol.maxMergeAtOnce) {
        if (oversize(i) || sum + ordered(i)._2 > pol.maxMergedSegmentBytes) open = false
        else {
          cand += ordered(i)
          sum += ordered(i)._2
          i += 1
        }
      }
      if (cand.size > 1) {
        val floored = cand.map(c => math.max(c._2, pol.floorSegmentBytes))
        val skew = floored.max.toDouble / floored.sum
        val score = skew * math.pow(sum.toDouble, 0.05)
        if (best == null || score < best._1) best = (score, cand.map(_._1).toSeq)
      }
    }
    if (best == null) Nil else Seq(best._2)
  }
}
