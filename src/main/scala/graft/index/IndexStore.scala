package graft.index

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Segment catalog entry. */
final case class SegmentMeta(
    name: String,
    docBase: Long,
    docCount: Long,
    sumTotalTermFreq: Long,
    maxDocId: Long)

/** Index manifest = Lucene's `segments_N` generation-numbered commit point
  * (reference: lucene/core/src/java/org/apache/lucene/index/SegmentInfos.java:57-141).
  * In production this is an Iceberg snapshot; here a JSON file committed via
  * atomic rename. `delGen` is the tombstone generation (-1 = no deletes),
  * pointing at `deletes/del-<gen>` — the `.liv` files analog. */
final case class Manifest(
    generation: Long,
    segments: Seq[SegmentMeta],
    delGen: Long = -1L,
    /** Index sort the docIds were ranked under (IndexWriterConfig.setIndexSort
      * analog); empty = default (repo, path, commit) ranking. */
    indexSort: Seq[String] = Nil,
    /** docId bases of sorted runs (one per `buildAndCommit` append). Runs
      * survive merges unchanged — merges concatenate docId ranges without
      * re-ranking — so this list only ever grows. */
    sortRuns: Seq[Long] = Nil,
    /** Numeric docvalues generation (-1 = none), pointing at
      * `docvalues/dv-<gen>` — the gen-suffixed `.dvd` stack analog
      * (Lucene SegmentCommitInfo.docValuesGen). */
    dvGen: Long = -1L) {
  def docCount: Long = segments.map(_.docCount).sum
  def sumTotalTermFreq: Long = segments.map(_.sumTotalTermFreq).sum
  def maxDocId: Long = if (segments.isEmpty) -1L else segments.map(_.maxDocId).max
  def fieldStats: FieldStatsRow = FieldStatsRow(docCount, sumTotalTermFreq, maxDocId)
  def hasDeletes: Boolean = delGen >= 0
  def sortRunBases: Seq[Long] = if (sortRuns.nonEmpty) sortRuns.sorted else Seq(0L)
}

/** Parquet-backed index storage with stage-level checkpointing: every stage
  * output of a segment (docmeta / termvectors / postings / buildmetrics /
  * termstats) is a parquet dir whose `_SUCCESS` marker makes a restart skip
  * completed work — the north rule's resumability. One writer
  * ([[IndexStore.writeSegment]]) owns those stages for the build, its resume
  * and the merge. The manifest commit is last and atomic. */
object IndexStore {

  // -------- manifest JSON (hand-rolled: no extra deps) --------

  /** Every committed generation is also archived immutably under
    * `commits/manifest-<gen>.json` — the commit-point retention of Lucene's
    * `SnapshotDeletionPolicy` / `IndexDeletionPolicy` (reference:
    * lucene/core/src/java/org/apache/lucene/index/SnapshotDeletionPolicy.java:
    * 33-58 keeps `segments_N` files alive so readers can open historical
    * commits). Segment/delete/docvalues files are generation-suffixed and
    * never rewritten in place, so an archived manifest stays openable
    * ([[openAt]]) until its files are physically purged. */
  def writeManifest(dir: String, m: Manifest): Unit = {
    val segs = m.segments.map { s =>
      s"""{"name":"${s.name}","docBase":${s.docBase},"docCount":${s.docCount},""" +
        s""""sumTotalTermFreq":${s.sumTotalTermFreq},"maxDocId":${s.maxDocId}}"""
    }.mkString("[", ",", "]")
    val sort = m.indexSort.map(f => s""""$f"""").mkString("[", ",", "]")
    val runs = m.sortRuns.mkString("[", ",", "]")
    val json = s"""{"generation":${m.generation},"delGen":${m.delGen},"dvGen":${m.dvGen},""" +
      s""""indexSort":$sort,"sortRuns":$runs,"segments":$segs}"""
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, s".manifest.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, Paths.get(dir, "manifest.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    Files.createDirectories(Paths.get(dir, "commits"))
    Files.writeString(Paths.get(dir, "commits", f"manifest-${m.generation}%05d.json"), json)
  }

  /** Segment replication — the replicator module (reference:
    * lucene/replicator/src/java/org/apache/lucene/replicator/
    * IndexRevision.java:43-71 — a revision = exactly the commit point's file
    * set; ReplicationClient copies those files then publishes the commit).
    * Copies what the CURRENT manifest references (segments, tombstones,
    * docvalues) and commits the replica manifest LAST, so a reader opening
    * the replica never observes a partial revision. Files are
    * generation-suffixed and immutable, so a re-replication after new
    * commits copies only new generations over the same tree. */
  def replicate(srcDir: String, dstDir: String): Unit = {
    val m = readManifest(srcDir).getOrElse(
      throw new IllegalStateException(s"no manifest at $srcDir"))
    def copyTree(rel: String): Unit = {
      val src = Paths.get(srcDir, rel)
      if (Files.exists(src)) {
        val walk = Files.walk(src)
        try walk.forEach { p =>
          val t = Paths.get(dstDir, rel).resolve(src.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(t)
          else {
            Files.createDirectories(t.getParent)
            Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
          }
        } finally walk.close()
      }
    }
    m.segments.foreach(s => copyTree(s.name))
    if (m.hasDeletes) copyTree(s"deletes/del-${m.delGen}")
    if (m.dvGen >= 0) copyTree(s"docvalues/dv-${m.dvGen}")
    writeManifest(dstDir, m)
  }

  /** Open a historical commit point (time travel): the index exactly as it
    * was at `generation` — pre-delete tombstones, pre-merge segments,
    * pre-update docvalues. */
  def openAt(spark: SparkSession, indexDir: String, generation: Long): GraftIndex = {
    val p = Paths.get(indexDir, "commits", f"manifest-$generation%05d.json")
    require(Files.exists(p), s"no archived commit $generation at $indexDir")
    openManifest(spark, indexDir, parseManifest(Files.readString(p)))
  }

  def readManifest(dir: String): Option[Manifest] = {
    val p = Paths.get(dir, "manifest.json")
    if (!Files.exists(p)) return None
    Some(parseManifest(Files.readString(p)))
  }

  private def parseManifest(json: String): Manifest = {
    // minimal parser for the exact shape we write
    val gen = """"generation":(\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
    val delGen = """"delGen":(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L)
    val segRe = ("""\{"name":"([^"]+)","docBase":(\d+),"docCount":(\d+),""" +
      """"sumTotalTermFreq":(\d+),"maxDocId":(-?\d+)\}""").r
    val segs = segRe.findAllMatchIn(json).map { m =>
      SegmentMeta(m.group(1), m.group(2).toLong, m.group(3).toLong, m.group(4).toLong, m.group(5).toLong)
    }.toSeq
    val indexSort = """"indexSort":\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.stripPrefix("\"").stripSuffix("\""))).getOrElse(Nil)
    val sortRuns = """"sortRuns":\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.toLong)).getOrElse(Nil)
    val dvGen = """"dvGen":(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L)
    Manifest(gen, segs, delGen, indexSort, sortRuns, dvGen)
  }

  /** A segment stage table read as `T`, projected to `T`'s columns: `.as`
    * alone keeps columns the encoder does not know, so a table written by
    * an older format (postings with the former per-posting `normsEnc`
    * column) would union by position with a current one and mismatch. */
  private[index] def readStage[T: Encoder](spark: SparkSession, path: String): Dataset[T] =
    spark.read.parquet(path)
      .select(implicitly[Encoder[T]].schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*)
      .as[T]

  /** A stage table is complete once its `_SUCCESS` marker exists. */
  private[index] def isComplete(path: String): Boolean =
    Files.exists(Paths.get(path, "_SUCCESS"))

  /** The one segment writer: the build, its resume and the merge write a
    * segment's tables here, in this order, each skipped when its `_SUCCESS`
    * marker already exists (a restart redoes only the missing stages) and
    * each zstd-compressed — measured 21% smaller postings and 37% smaller
    * docmeta than snappy, and merges/scans are I/O-bound long before they
    * are CPU-bound:
    *  - `docmeta` from `docs`;
    *  - `termvectors` from `termVectors` when given, in the doc-keyed layout
    *    (range-partitioned and sorted by docId, so a per-document fetch is
    *    row-group min/max pruning on the key);
    *  - `postings` from `postings`, block-encoded with the (maxDoc,
    *    sumTokens) that `encodeBounds` takes from the written docmeta's field
    *    stats, and `buildmetrics` beside it when `metrics` is given;
    *  - `termstats` from the written postings ([[IndexBuilder.termStatsOf]],
    *    the derivation [[CheckIndex]] checks against), sorted by term within
    *    partitions so the row groups' term min/max ranges stay narrow.
    * An input is forced only when a stage it feeds is missing. Returns the
    * field stats of the written docmeta, computed once. */
  private[index] def writeSegment(
      spark: SparkSession,
      segDir: String,
      cfg: IndexConfig,
      docs: => Dataset[DocRow],
      termVectors: Option[() => Dataset[TermVectorRow]],
      postings: => Dataset[PostingRow],
      encodeBounds: FieldStatsRow => (Long, Long),
      metrics: BuildMetricsAcc = null,
      forcePayloads: Boolean = false): FieldStatsRow = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def write(stage: String, table: => Dataset[_]): Unit =
      if (!isComplete(s"$segDir/$stage"))
        table.write.mode("overwrite").option("compression", "zstd").parquet(s"$segDir/$stage")
    write("docmeta", docs)
    termVectors.foreach(tv => write("termvectors",
      tv().repartitionByRange(math.max(spark.sparkContext.defaultParallelism, cfg.numPartitions),
        col("docId")).sortWithinPartitions("docId", "term")))
    val fs = IndexBuilder.fieldStatsOf(readStage[DocRow](spark, s"$segDir/docmeta"))
    if (!isComplete(s"$segDir/postings")) {
      val (maxDoc, sumTokens) = encodeBounds(fs)
      write("postings",
        IndexBuilder.encodeBlocks(postings, cfg, maxDoc, sumTokens, metrics, forcePayloads))
      // per-task lineage + postings/sec, kept with the segment: a resume
      // that skips the postings keeps the original run's records
      if (metrics != null) write("buildmetrics", spark.createDataset(metrics.value))
    }
    write("termstats", IndexBuilder.termStatsOf(readStage[BlockRow](spark, s"$segDir/postings"))
      .sortWithinPartitions("term"))
    fs
  }

  /** Builds segment `segName` of `indexDir` from `files`, its docIds from
    * `docBase`, through [[writeSegment]]. The docId assignment and the
    * analysis (sha256 + tokenize, the most expensive map work of the build)
    * run only when a stage they feed — docmeta, postings, or term vectors
    * when `cfg.storeTermVectors` — is missing, and then once: the analyzed
    * frame is persisted for every such stage and released at the end. A
    * resume that lacks only the term vectors re-analyzes; docIds are
    * deterministic, so its rows are the ones a fresh build writes. Returns
    * the segment's meta. */
  def buildSegment(
      files: Dataset[CodeFile],
      indexDir: String,
      segName: String,
      cfg: IndexConfig = IndexConfig(),
      docBase: Long = 0L): SegmentMeta = {
    val spark = files.sparkSession
    var release: () => Unit = () => ()
    lazy val analyzed = {
      val (numbered, releaseKeys) = IndexBuilder
        .assignDocIdsManaged(files, cfg.numPartitions, docBase, cfg.sortFields)
      val a = IndexBuilder.analyze(numbered, cfg).persist(StorageLevel.MEMORY_AND_DISK)
      release = () => { a.unpersist(blocking = false); releaseKeys() }
      a
    }
    val metrics = new BuildMetricsAcc
    spark.sparkContext.register(metrics, s"buildmetrics:$segName")
    val fs =
      try writeSegment(spark, s"$indexDir/$segName", cfg,
        IndexBuilder.docsOf(analyzed),
        if (cfg.storeTermVectors) Some(() => IndexBuilder.termVectorsOf(analyzed)) else None,
        IndexBuilder.postingsOf(analyzed),
        fs => (fs.maxDocId + 1, fs.sumTotalTermFreq),
        metrics)
      finally release()
    SegmentMeta(segName, docBase, fs.docCount, fs.sumTotalTermFreq, fs.maxDocId)
  }

  /** The one append step, shared by [[buildAndCommit]] and the NRT batch
    * commit ([[graft.streaming.IncrementalIndexer.commitBatch]]): reads the
    * previous manifest and returns it unchanged when it already lists the
    * segment (a replayed append); otherwise refuses an index sort other than
    * the committed one, builds the segment and commits it as the next
    * generation, with a new sorted run at its docBase. `place` names the
    * segment and its docBase from the previous manifest. */
  private[graft] def appendSegment(
      files: Dataset[CodeFile],
      indexDir: String,
      cfg: IndexConfig)(place: Option[Manifest] => (String, Long)): Manifest = {
    val prev = readManifest(indexDir)
    val (segName, docBase) = place(prev)
    prev.filter(_.segments.exists(_.name == segName)).getOrElse {
      prev.foreach(p => require(p.indexSort == cfg.sortFields,
        s"index sort mismatch: committed ${p.indexSort}, appending ${cfg.sortFields}"))
      val meta = buildSegment(files, indexDir, segName, cfg, docBase)
      val base = prev.getOrElse(Manifest(-1L, Nil))
      val m = base.copy(generation = base.generation + 1, segments = base.segments :+ meta,
        indexSort = cfg.sortFields, sortRuns = base.sortRuns :+ docBase)
      writeManifest(indexDir, m)
      m
    }
  }

  /** Build + commit a single-segment index (gen 0 or gen+1 append). */
  def buildAndCommit(
      files: Dataset[CodeFile],
      indexDir: String,
      cfg: IndexConfig = IndexConfig()): Manifest =
    appendSegment(files, indexDir, cfg) { prev =>
      (f"seg-${prev.fold(0L)(_.generation + 1)}%05d", prev.fold(0L)(_.maxDocId + 1))
    }

  /** Tombstone docIds in the current delete generation (empty if none). */
  def readDeletes(spark: SparkSession, indexDir: String, m: Manifest): Dataset[Long] = {
    import spark.implicits._
    if (!m.hasDeletes) spark.emptyDataset[Long]
    else spark.read.parquet(s"$indexDir/deletes/del-${m.delGen}")
      .select("docId").as[Long]
  }

  /** Tombstone docIds (IndexWriter.deleteDocuments analog, reference:
    * lucene/core/src/java/org/apache/lucene/index/PendingDeletes.java):
    * union with the current tombstones into a new delete generation and
    * commit. Deleted docs stop matching every query immediately; their
    * postings are physically purged at the next merge. Idempotent. */
  def deleteDocs(spark: SparkSession, indexDir: String, docIds: Dataset[Long]): Manifest = {
    import spark.implicits._
    val m = readManifest(indexDir).getOrElse(
      throw new IllegalStateException(s"no manifest at $indexDir"))
    val newGen = m.delGen + 1
    val path = s"$indexDir/deletes/del-$newGen"
    readDeletes(spark, indexDir, m).union(docIds).distinct()
      .toDF("docId").write.mode("overwrite").option("compression", "zstd").parquet(path)
    val next = m.copy(generation = m.generation + 1, delGen = newGen)
    writeManifest(indexDir, next)
    next
  }

  /** MultiPassIndexSplitter (reference:
    * lucene/misc/src/java/org/apache/lucene/index/MultiPassIndexSplitter.java
    * — each output part is the SAME index viewed through a
    * `FakeDeleteIndexReader`: in-memory fake deletes hide every other
    * part's documents; nothing is copied or re-encoded). Zero data
    * movement here too: every part shares the docs/blocks/termStats
    * Datasets and differs only in its tombstone overlay. Collection stats
    * keep counting hidden docs exactly like the reference (fake deletes
    * never touch segment stats). `keeps(i)` = the docIds part i retains;
    * its tombstones = all docs minus keeps(i), plus any real deletes. The
    * anti-join is one keyed shuffle per part — the same cost shape at any
    * scale, never a rewrite of the postings. */
  def split(index: GraftIndex, keeps: Seq[Dataset[Long]]): Seq[GraftIndex] = {
    import index.spark.implicits._
    import org.apache.spark.sql.functions.col
    keeps.map { keep =>
      val hidden = index.docs.select(col("docId")).as[Long]
        .join(keep.toDF("_k"), col("docId") === col("_k"), "left_anti")
        .select(col("docId")).as[Long]
      val dels =
        if (index.hasDeletes) hidden.union(index.deletes).distinct()
        else hidden
      new GraftIndex(index.spark, index.docs, index.blocks, index.termStats,
        index.fieldStats, dels, hasDeletes = true, index.indexSort,
        index.sortRunBases, index.docValues, index.termVectors)
    }
  }

  /** Current numeric docvalues (empty if none committed). */
  def readDocValues(spark: SparkSession, indexDir: String, m: Manifest): Dataset[DocValueRow] = {
    import spark.implicits._
    if (m.dvGen < 0) spark.emptyDataset[DocValueRow]
    else spark.read.parquet(s"$indexDir/docvalues/dv-${m.dvGen}").as[DocValueRow]
  }

  /** Update numeric docvalues WITHOUT reindexing
    * (`IndexWriter.updateNumericDocValue` analog, reference:
    * lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:1803-1834;
    * gen-stacked `.dvd` files via SegmentCommitInfo.docValuesGen): incoming
    * (docId, field, value) cells override the current generation's cells for
    * the same (docId, field) key; untouched cells carry forward. Commits
    * `docvalues/dv-<gen+1>` plus a new manifest generation — readers opened
    * on the old manifest keep the old values (point-in-time, like Lucene's
    * segment readers). The override is a left-anti + union, both keyed joins
    * — no full-table rewrite beyond the dv table itself (tiny next to
    * postings), the same cost shape as Lucene rewriting one .dvd file. */
  def updateNumericDocValues(
      spark: SparkSession,
      indexDir: String,
      updates: Dataset[DocValueRow]): Manifest = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val m = readManifest(indexDir).getOrElse(
      throw new IllegalStateException(s"no manifest at $indexDir"))
    val newGen = m.dvGen + 1
    val cur = readDocValues(spark, indexDir, m)
    val keys = updates.select(col("docId").as("_d"), col("field").as("_f"))
    val kept = cur.join(keys,
      col("docId") === col("_d") && col("field") === col("_f"), "left_anti")
      .as[DocValueRow]
    kept.union(updates)
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$indexDir/docvalues/dv-$newGen")
    val next = m.copy(generation = m.generation + 1, dvGen = newGen)
    writeManifest(indexDir, next)
    next
  }

  /** Update = delete-by-key + add (IndexWriter.updateDocument analog): docs
    * whose (repo, path, commit) key matches an incoming row are tombstoned,
    * then the new rows are committed as a fresh segment. */
  def updateDocs(
      files: Dataset[CodeFile],
      indexDir: String,
      cfg: IndexConfig = IndexConfig()): Manifest = {
    val spark = files.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val m = readManifest(indexDir).getOrElse(
      throw new IllegalStateException(s"no manifest at $indexDir"))
    val existing = open(spark, indexDir)
    val keys = files.select(
      col("repo").as("_r"), col("path").as("_p"), col("commit").as("_c"))
    val toDelete = existing.docs.toDF()
      .join(keys, col("repo") === col("_r") && col("path") === col("_p") &&
        col("commit") === col("_c"), "left_semi")
      .select("docId").as[Long]
    deleteDocs(spark, indexDir, toDelete)
    buildAndCommit(files, indexDir, cfg)
  }

  /** Open the committed index: union of all live segments. */
  def open(spark: SparkSession, indexDir: String): GraftIndex = {
    val m = readManifest(indexDir).getOrElse(
      throw new IllegalStateException(s"no manifest at $indexDir"))
    openManifest(spark, indexDir, m)
  }

  private def openManifest(spark: SparkSession, indexDir: String, m: Manifest): GraftIndex = {
    import spark.implicits._
    require(m.segments.nonEmpty, "empty index")
    def unionOf[T: Encoder](sub: String): Dataset[T] =
      m.segments.map(s => readStage[T](spark, s"$indexDir/${s.name}/$sub")).reduce(_ union _)
    val docs = unionOf[DocRow]("docmeta")
    val blocks = unionOf[BlockRow]("postings")
    // term stats must be re-aggregated across segments (same term appears in
    // many); a single segment reads straight through (keeps parquet term
    // filter pushdown on dictionary lookups and expansions)
    val termStats =
      if (m.segments.size == 1)
        spark.read.parquet(s"$indexDir/${m.segments.head.name}/termstats").as[TermStatsRow]
      else m.segments
        .map(s => spark.read.parquet(s"$indexDir/${s.name}/termstats").as[TermStatsRow])
        .reduce(_ union _)
        .groupBy($"term")
        .agg(org.apache.spark.sql.functions.sum($"docFreq").as("docFreq"),
          org.apache.spark.sql.functions.sum($"totalTermFreq").as("totalTermFreq"))
        .as[TermStatsRow]
    // term vectors are exposed only when EVERY live segment stored them
    // (an index mixing tv and non-tv segments can't answer doc-keyed
    // fetches completely, so readers get the honest null)
    val termVectors =
      if (m.segments.forall(s => isComplete(s"$indexDir/${s.name}/termvectors")))
        unionOf[TermVectorRow]("termvectors")
      else null
    new GraftIndex(spark, docs, blocks, termStats, m.fieldStats,
      readDeletes(spark, indexDir, m), m.hasDeletes, m.indexSort, m.sortRunBases,
      readDocValues(spark, indexDir, m), termVectors)
  }
}
