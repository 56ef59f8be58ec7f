package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzer
import graft.codec.{PostingsCodec, SmallFloat}

/** Index build configuration.
  *
  * @param numPartitions   shuffle width for the term-hash repartition (0 = spark default)
  * @param saltSpan        docId span per salt bucket: postings are shuffled by
  *                        hash(term, docId / saltSpan) so a skewed term (common
  *                        code keywords) spreads over ~maxDocId/saltSpan
  *                        partitions instead of hot-spotting one reducer — the
  *                        north rule's skew salting. Block docId ranges stay
  *                        disjoint across buckets because the salt is a range,
  *                        not a hash. 0 = auto: span sized so the hottest
  *                        possible term (df = docCount) splits into ~4x the
  *                        shuffle width ([[IndexBuilder.saltSpanFor]]).
  * @param verifySha       enforce the per-row content sha256 invariant when the
  *                        input carries an expected sha256 column
  * @param sortFields      index sort (`IndexWriterConfig.setIndexSort` analog,
  *                        reference: lucene/core/src/java/org/apache/lucene/index/IndexWriterConfig.java:447-469):
  *                        metadata column names (e.g. `Seq("lang")`) prepended
  *                        to the (repo, path, commit) docId ranking key, so
  *                        docId order within a sorted run EQUALS the sort
  *                        order — queries sorted congruently early-terminate
  *                        after k hits per run instead of scoring every match
  *                        ([[graft.search.GraftSearcher.searchByIndexOrder]]).
  */
final case class IndexConfig(
    analyzer: Analyzer = graft.analysis.Analyzers.standard,
    numPartitions: Int = 0,
    saltSpan: Long = 0,
    verifySha: Boolean = true,
    sortFields: Seq[String] = Nil,
    /** Also write a doc-keyed (docId, term, tf) term-vectors table per
      * segment (Lucene's opt-in per-field storeTermVectors / `.tvd`), so
      * doc-keyed vector fetches never uninvert the term-keyed blocks. */
    storeTermVectors: Boolean = false,
    /** Per-language analysis: docs whose `lang` column matches a key are
      * analyzed through that chain, everything else through `analyzer` —
      * the multilingual-corpus analog of Solr's per-language field types
      * (text_de / text_fr each wired to its own analyzer; reference:
      * solr/core/src/java/org/apache/solr/schema/TextField.java + the de/fr
      * analyzers in lucene/analysis/common). Query-side, the caller picks
      * the query language's analyzer on its GraftSearcher, like querying a
      * per-language field. */
    langAnalyzers: Map[String, Analyzer] = Map.empty)

/** An index: typed Datasets over the segment tables. In production these are
  * Iceberg tables (snapshot = Lucene's `segments_N` commit point, reference:
  * lucene/core/src/java/org/apache/lucene/index/SegmentInfos.java:57-141);
  * in this sandbox they are parquet dirs + a JSON manifest (no Iceberg jars
  * are shipped with the container's Spark).
  */
final class GraftIndex(
    val spark: SparkSession,
    val docs: Dataset[DocRow],
    val blocks: Dataset[BlockRow],
    val termStats: Dataset[TermStatsRow],
    val fieldStats: FieldStatsRow,
    /** Tombstoned docIds (the `.liv` analog; empty on an append-only index).
      * Honored by every search surface; purged physically at merge.
      * Collection stats keep counting deleted docs until merge, exactly like
      * Lucene (docCount/avgdl shift only when segments rewrite). */
    val deletes: Dataset[Long],
    val hasDeletes: Boolean,
    /** Index sort the docIds were ranked under (empty = the default
      * (repo, path, commit) order, no congruent-sort early termination). */
    val indexSort: Seq[String] = Nil,
    /** docId bases of the SORTED RUNS: within [base_i, base_i+1) docId order
      * equals the index sort. Each `buildAndCommit` append starts a new run;
      * merges concatenate runs without re-sorting, so run boundaries persist
      * in the manifest across merges (Lucene re-sorts at merge instead —
      * `MergeState` sort maps — but our docIds are immutable by design). */
    val sortRunBases: Seq[Long] = Seq(0L),
    /** Current numeric docvalues generation (null = none committed) —
      * updatable per-doc numeric fields ([[IndexStore.updateNumericDocValues]]). */
    val docValues: Dataset[DocValueRow] = null,
    /** Doc-keyed term vectors (null = not stored for this index; see
      * [[IndexConfig.storeTermVectors]]). Tombstones are NOT pre-applied —
      * readers join against live docs like every other table. */
    val termVectors: Dataset[TermVectorRow] = null) extends Serializable {

  /** Live (non-tombstoned) doc metadata. */
  def liveDocsDF: Dataset[DocRow] = {
    import org.apache.spark.sql.functions.col
    if (!hasDeletes) docs
    else docs.join(deletes.toDF("_del"), col("docId") === col("_del"), "left_anti")
      .as[DocRow](docs.encoder)
  }

  /** Resident doc-range layouts by range count, built on first use and
    * shared by every searcher over this index. Once this index is
    * unreachable, Spark's ContextCleaner unpersists them. */
  @transient private lazy val layouts =
    new java.util.concurrent.ConcurrentHashMap[Int, graft.search.DocRangeLayout]()

  /** The doc-range layout over `ranges` ranges (built by the first caller;
    * concurrent callers wait for that build). */
  private[graft] def docRangeLayout(ranges: Int): graft.search.DocRangeLayout =
    layouts.computeIfAbsent(ranges, p => graft.search.DocRangeLayout.build(this, p))

  /** Unpersists the resident layouts. The index stays usable: the next
    * search lays it out again. */
  def close(): Unit = {
    layouts.values().forEach(_.release())
    layouts.clear()
  }
}

object IndexBuilder {

  private val HEX = "0123456789abcdef".toCharArray

  // one digest per executor thread: MessageDigest.getInstance walks the
  // synchronized security-provider registry — measurably contended when 32
  // task threads hash one document each per row
  private val MD = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  def sha256Hex(s: String): String = {
    val md = MD.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](64)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HEX((d(i) >> 4) & 0xF)
      out(2 * i + 1) = HEX(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Key-table rows up to which the docId attach broadcasts the ranked keys
    * instead of shuffle-hash-joining them (override with
    * [[DOCID_BROADCAST_MAX_ROWS_KEY]]). ~60 B/key: 2M rows is a modest
    * broadcast; above it the content-preserving shuffle-hash path takes
    * over. */
  val DOCID_BROADCAST_MAX_ROWS = 2000000L

  val DOCID_BROADCAST_MAX_ROWS_KEY = "spark.graft.docid.broadcastMaxRows"

  /** The session's docId-attach broadcast cap: [[DOCID_BROADCAST_MAX_ROWS]]
    * unless [[DOCID_BROADCAST_MAX_ROWS_KEY]] is set. A value that is not a
    * whole number fails here, naming the key and the value. */
  def docIdBroadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption(DOCID_BROADCAST_MAX_ROWS_KEY) match {
      case None => DOCID_BROADCAST_MAX_ROWS
      case Some(v) => v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$DOCID_BROADCAST_MAX_ROWS_KEY must be a whole number of rows, got '$v'"))
    }

  /** Deterministic docId assignment: global rank in the total order of
    * (repo, path, commit) — independent of partition count, the distributed
    * analog of Lucene's per-segment base rebasing
    * (reference: lucene/core/src/java/org/apache/lucene/index/DocIDMerger.java:32).
    * `docBase` offsets ids for incremental segment builds.
    *
    * Scale shape: only a KEYS projection is range-sorted and rank-numbered
    * (~60 B/doc). The sorted keys are persisted once, so the rank costs ONE
    * sort (zipWithIndex re-sorted the shuffle output in its size job and
    * again per consumer), and the size job doubles as an exact key count.
    * The ids are attached back to the full rows by BROADCASTING the key
    * table when it fits (the content column is then never shuffled at all —
    * the "move heavy bytes zero times" join shape) and by a shuffle-hash
    * join above the threshold (content hashed but never sorted; sorting
    * full content rows cost ~120 s/pass at 1M docs).
    * Requires (repo, path, commit) to be unique per row.
    *
    * `sortFields` prepends index-sort columns to the ranking key
    * (IndexWriterConfig.setIndexSort): docId order then equals
    * (sortFields…, repo, path, commit) order. */
  def assignDocIds(
      files: Dataset[CodeFile],
      numPartitions: Int = 0,
      docBase: Long = 0L,
      sortFields: Seq[String] = Nil): Dataset[(CodeFile, Long)] =
    assignDocIdsManaged(files, numPartitions, docBase, sortFields)._1

  /** [[assignDocIds]] plus an explicit release handle for the persisted
    * sorted-keys RDD: call it once the LAST action over the returned Dataset
    * (or anything derived and itself persisted from it) has run. Without it
    * the ContextCleaner only reclaims the few-bytes-per-doc cache at GC. */
  def assignDocIdsManaged(
      files: Dataset[CodeFile],
      numPartitions: Int = 0,
      docBase: Long = 0L,
      sortFields: Seq[String] = Nil): (Dataset[(CodeFile, Long)], () => Unit) = {
    val spark = files.sparkSession
    import spark.implicits._
    val bcastMax = docIdBroadcastMaxRows(spark)
    val parts = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    // one range sort of the keys projection, persisted; ranks are the
    // per-partition offsets (exact, partition order == range order)
    val sortedKeys: org.apache.spark.rdd.RDD[(String, String, String)] =
      (if (sortFields.isEmpty) {
        // default ranking: typed tuple path (no Row boxing in the hot rank)
        files
          .select($"repo", $"path", $"commit")
          .repartitionByRange(parts, $"repo", $"path", $"commit")
          .sortWithinPartitions($"repo", $"path", $"commit")
          .as[(String, String, String)]
          .rdd
      } else {
        val keyCols = (sortFields ++ Seq("repo", "path", "commit")).distinct
        val ri = keyCols.indexOf("repo")
        val pi = keyCols.indexOf("path")
        val ci = keyCols.indexOf("commit")
        files
          .select(keyCols.map(col): _*)
          .repartitionByRange(parts, keyCols.map(col): _*)
          .sortWithinPartitions(keyCols.map(col): _*)
          .rdd
          .map(row => (row.getString(ri), row.getString(pi), row.getString(ci)))
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sortedKeys
      .mapPartitionsWithIndex { (i, it) =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator((i, n))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(docBase)(_ + _)
    val total = sizes.sum
    val offsetsB = spark.sparkContext.broadcast(offsets)
    val keyIds = sortedKeys
      .mapPartitionsWithIndex { (i, it) =>
        var next = offsetsB.value(i)
        it.map { case (r, p, c) => val id = next; next += 1; (r, p, c, id) }
      }
      .toDF("_r", "_p", "_c", "_docId")
    val attach =
      if (total <= bcastMax) org.apache.spark.sql.functions.broadcast(keyIds)
      else keyIds.hint("shuffle_hash")
    val numbered = files
      .join(attach,
        files("repo") === keyIds("_r") &&
          files("path") === keyIds("_p") &&
          files("commit") === keyIds("_c"))
      .select(
        struct($"repo", $"path", $"commit", $"lang", $"content", $"sha256").as("_1"),
        $"_docId".as("_2"))
      .as[(CodeFile, Long)]
    (numbered, () => { sortedKeys.unpersist(blocking = false); () })
  }

  /** Analysis stage: one pass per document computing sha256 (verifying it
    * against the source when present), the inverted per-term stats, and the
    * BM25 norm — Lucene's `DefaultIndexingChain.processDocument/invert`
    * (reference: lucene/core/src/java/org/apache/lucene/index/DefaultIndexingChain.java:385-898)
    * as a typed mapPartitions. */
  def analyze(numbered: Dataset[(CodeFile, Long)], cfg: IndexConfig): Dataset[AnalyzedDoc] = {
    val spark = numbered.sparkSession
    import spark.implicits._
    val analyzer = cfg.analyzer
    val langAnalyzers = cfg.langAnalyzers
    val verify = cfg.verifySha
    val mismatchAcc = spark.sparkContext.longAccumulator("shaMismatches")
    numbered.mapPartitions { it =>
      it.map { case (f, docId) =>
        val computed = sha256Hex(f.content)
        if (verify && f.sha256 != null && f.sha256 != computed) {
          mismatchAcc.add(1)
          throw new IllegalStateException(
            s"sha256 mismatch for ${f.repo}/${f.path}@${f.commit}: expected ${f.sha256}, content hashes to $computed")
        }
        val an =
          if (langAnalyzers.isEmpty) analyzer
          else langAnalyzers.getOrElse(f.lang, analyzer)
        if (!an.carriesPayloads) {
          // hot path: no payload bookkeeping at all
          val (byTerm, len) = an.invert(f.content)
          val n = byTerm.size
          val terms = new Array[String](n)
          val tfs = new Array[Int](n)
          var flatLen = 0
          byTerm.foreach { case (_, (tf, _)) => flatLen += tf }
          val posFlat = new Array[Int](flatLen)
          var i = 0
          var off = 0
          byTerm.foreach { case (term, (tf, poss)) =>
            terms(i) = term
            tfs(i) = tf
            var j = 0
            while (j < tf) { posFlat(off) = poss(j); off += 1; j += 1 }
            i += 1
          }
          AnalyzedDoc(docId, f.repo, f.path, f.commit, f.lang, computed, len,
            SmallFloat.intToByte4(len) & 0xFF, terms, tfs, posFlat, null)
        } else {
          val (byTerm, len) = an.invertFull(f.content)
          val n = byTerm.size
          val terms = new Array[String](n)
          val tfs = new Array[Int](n)
          var flatLen = 0
          byTerm.foreach { case (_, (tf, _, _)) => flatLen += tf }
          val posFlat = new Array[Int](flatLen)
          val payFlat = new Array[Int](flatLen)
          var anyPay = false
          var i = 0
          var off = 0
          byTerm.foreach { case (term, (tf, poss, pays)) =>
            terms(i) = term
            tfs(i) = tf
            var j = 0
            while (j < tf) {
              posFlat(off) = poss(j)
              payFlat(off) = pays(j)
              if (pays(j) >= 0) anyPay = true
              off += 1
              j += 1
            }
            i += 1
          }
          AnalyzedDoc(docId, f.repo, f.path, f.commit, f.lang, computed, len,
            SmallFloat.intToByte4(len) & 0xFF, terms, tfs, posFlat,
            if (anyPay) payFlat else null)
        }
      }
    }
  }

  def docsOf(analyzed: Dataset[AnalyzedDoc]): Dataset[DocRow] = {
    val spark = analyzed.sparkSession
    import spark.implicits._
    analyzed.map(a => DocRow(a.docId, a.repo, a.path, a.commit, a.lang, a.sha256, a.len, a.norm))
  }

  /** Doc-keyed term vectors from the SAME inversion the postings come from —
    * a map-only projection of the analyzed docs (no shuffle; the write path
    * range-partitions by docId for fetch-time row-group pruning). */
  def termVectorsOf(analyzed: Dataset[AnalyzedDoc]): Dataset[TermVectorRow] = {
    val spark = analyzed.sparkSession
    import spark.implicits._
    analyzed.flatMap { a =>
      a.terms.indices.iterator.map(i => TermVectorRow(a.docId, a.terms(i), a.tfs(i)))
    }
  }

  def postingsOf(analyzed: Dataset[AnalyzedDoc]): Dataset[PostingRow] = {
    val spark = analyzed.sparkSession
    import spark.implicits._
    analyzed.flatMap { a =>
      var off = 0
      a.terms.indices.iterator.map { i =>
        val tf = a.tfs(i)
        val positions = java.util.Arrays.copyOfRange(a.posFlat, off, off + tf)
        val payloads =
          if (a.payFlat == null) null
          else {
            val p = java.util.Arrays.copyOfRange(a.payFlat, off, off + tf)
            if (p.exists(_ >= 0)) p else null
          }
        off += tf
        PostingRow(a.terms(i), a.docId, tf, positions, a.norm, payloads)
      }
    }
  }

  /** Auto salt span: size buckets so the hottest possible term (df close to
    * docCount — think `if`/`return` in a code corpus) splits into ~4x the
    * shuffle width, bounding any single reducer's share of a skewed term at
    * ~1/(4*parts) of its postings while keeping blocks well-filled. */
  def saltSpanFor(maxDoc: Long, parts: Int): Long =
    math.max(1024L, (maxDoc + 4L * parts - 1) / (4L * parts))

  /** Postings-per-reduce-task budget for the encode shuffle. Keeps each
    * task's sort + codec + parquet-writer footprint modest regardless of
    * corpus size — at 100 TB this yields tens of thousands of partitions
    * instead of one-per-core (one-per-core blew up: 1M docs / 8 reducers
    * put ~3M postings + column buffers per task and GC-thrashed a 16 GB
    * heap into a 40x cliff). */
  val POSTINGS_PER_PARTITION: Long = 1500000L

  /** Encode shuffle width: the configured/parallelism floor, scaled up by
    * data volume (total token count bounds the posting count). When the
    * data-driven width exceeds the floor it is rounded UP to a multiple of
    * the floor: a width like 46 on 32 cores schedules as a full wave of 32
    * plus a straggler wave of 14 that idles 18 slots (~30% of the stage,
    * measured on the 1.6M-doc build) — rounding to 64 gives two full waves
    * of smaller tasks. At cluster scale the width is thousands of
    * partitions and the rounding cost vanishes. */
  def encodeParts(floorParts: Int, sumTokens: Long): Int = {
    val byData = (sumTokens + POSTINGS_PER_PARTITION - 1) / POSTINGS_PER_PARTITION
    val capped = math.min(byData, 200000L).toInt
    if (capped <= floorParts) floorParts
    else ((capped + floorParts - 1) / floorParts) * floorParts
  }

  /** THE shuffle: repartition postings by hash(term, docId/saltSpan), sort
    * within partitions by (term, docId), then stream-encode 128-doc blocks.
    * This replaces Lucene's flush (sort terms + stream through
    * Lucene84PostingsWriter, reference:
    * lucene/core/src/java/org/apache/lucene/index/FreqProxTermsWriter.java:69-71).
    *
    * @param maxDoc    exclusive docId upper bound, used to size the auto salt
    *                  span; required when `cfg.saltSpan == 0`.
    * @param sumTokens total token count (Σ field lengths) when known — scales
    *                  the shuffle width with data volume. */
  def encodeBlocks(
      postings: Dataset[PostingRow],
      cfg: IndexConfig,
      maxDoc: Long = -1L,
      sumTokens: Long = 0L,
      /** when non-null, each encode task records its lineage + postings/sec
        * row ([[TaskBuildMetric]]) into this accumulator */
      metrics: BuildMetricsAcc = null,
      /** force the payload-carrying shuffle even when the config's
        * analyzers are payload-free — the merge path re-encodes postings
        * whose payloads were stored by the ORIGINAL build config. */
      forcePayloads: Boolean = false): Dataset[BlockRow] = {
    val spark = postings.sparkSession
    import spark.implicits._
    val floor = if (cfg.numPartitions > 0) cfg.numPartitions else spark.sparkContext.defaultParallelism
    val parts = encodeParts(floor, sumTokens)
    val span =
      if (cfg.saltSpan > 0) cfg.saltSpan
      else {
        require(maxDoc >= 0, "encodeBlocks needs maxDoc when saltSpan is auto")
        saltSpanFor(maxDoc, parts)
      }
    val salt = (col("docId") / lit(span)).cast("long")
    val metricsB = metrics
    // payload-free corpora (the overwhelmingly common case) shuffle a
    // 5-column projection: the always-null payloads slot would otherwise
    // cost a fixed 8 bytes per posting row on the wire of THE shuffle
    val carriesPay = forcePayloads || cfg.analyzer.carriesPayloads ||
      cfg.langAnalyzers.values.exists(_.carriesPayloads)
    if (carriesPay) {
      postings
        .repartition(parts, col("term"), salt)
        .sortWithinPartitions(col("term"), col("docId"))
        .mapPartitions { it =>
          if (metricsB == null) blockify(it, span)
          else BuildMetrics.metered(it, metricsB, blockify(_, span))
        }
    } else {
      postings
        .select(col("term"), col("docId"), col("tf"), col("positions"), col("norm"))
        .as[(String, Long, Int, Array[Int], Int)]
        .repartition(parts, col("term"), salt)
        .sortWithinPartitions(col("term"), col("docId"))
        .mapPartitions { it0 =>
          val it = it0.map(t => PostingRow(t._1, t._2, t._3, t._4, t._5, null))
          if (metricsB == null) blockify(it, span)
          else BuildMetrics.metered(it, metricsB, blockify(_, span))
        }
    }
  }

  /** Stream a (term, docId)-sorted posting iterator into BlockRows.
    *
    * Runs are keyed by (term, docId/saltSpan): a block never crosses a salt
    * bucket boundary. This keeps every term's blocks GLOBALLY disjoint in
    * docId range even though different buckets of the same term are encoded
    * in different shuffle partitions — the invariant the query-time block
    * iterators rely on. */
  def blockify(sorted: Iterator[PostingRow], saltSpan: Long): Iterator[BlockRow] = new Iterator[BlockRow] {
    private val it = sorted.buffered
    private var cur: Iterator[BlockRow] = Iterator.empty

    override def hasNext: Boolean = {
      while (!cur.hasNext && it.hasNext) cur = nextTermBlocks()
      cur.hasNext
    }
    override def next(): BlockRow = { if (!hasNext) throw new NoSuchElementException; cur.next() }

    private def nextTermBlocks(): Iterator[BlockRow] = {
      val term = it.head.term
      val bucket = it.head.docId / saltSpan
      val sub = new Iterator[(Long, Int, Array[Int], Array[Int], Int)] {
        override def hasNext: Boolean =
          it.hasNext && it.head.term == term && it.head.docId / saltSpan == bucket
        override def next(): (Long, Int, Array[Int], Array[Int], Int) = {
          val p = it.next()
          (p.docId, p.tf, p.positions, p.payloads, p.norm)
        }
      }
      var bid = -1
      PostingsCodec.encodeTermPayloads(sub).map { eb =>
        bid += 1
        BlockRow(term, bid, eb.count, eb.firstDocId, eb.lastDocId, eb.ttf,
          eb.docsEnc, eb.freqsEnc, eb.posEnc,
          eb.impacts.map(_.freq), eb.impacts.map(_.norm))
      }
    }
  }

  /** Per-term stats aggregated over blocks (128x fewer rows than postings;
    * map-side partials keep the shuffle tiny). */
  def termStatsOf(blocks: Dataset[BlockRow]): Dataset[TermStatsRow] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.groupBy($"term")
      .agg(sum($"count").as("docFreq"), sum($"blockTtf").as("totalTermFreq"))
      .as[TermStatsRow]
  }

  def fieldStatsOf(docs: Dataset[DocRow]): FieldStatsRow = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.agg(count(lit(1)), coalesce(sum($"len"), lit(0L)), coalesce(max($"docId"), lit(-1L)))
      .as[(Long, Long, Long)]
      .collect()(0) match {
      case (dc, sttf, maxId) => FieldStatsRow(dc, sttf, maxId)
    }
  }

  /** The scratch dirs [[scratchDir]] made in this JVM and not deleted yet.
    * One shutdown hook deletes them all, so test runs, `graft.Verify` and
    * the `DocsIndex` variant builds leave no segment files behind. */
  private val staged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => deleteStaged(), "graft-index-cleanup"))

  /** A fresh dir under the JVM temp dir, named `prefix` + a random suffix,
    * recorded for the shutdown hook: every main-code scratch dir is made
    * here. */
  private[graft] def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    staged.add(dir)
    dir
  }

  private[graft] def stagedDirs: Seq[String] = staged.toArray(Array.empty[String]).toSeq

  /** Deletes `dirs` (default: every staged dir) recursively and drops them
    * from the record. */
  private[graft] def deleteStaged(dirs: Seq[String] = stagedDirs): Unit = dirs.foreach { d =>
    staged.remove(d)
    val root = java.nio.file.Paths.get(d)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  /** One-call build: stages a single-segment index under a scratch dir via
    * [[IndexStore.buildAndCommit]] and opens it. The dir lives until the
    * JVM exits.
    *
    * Storage choice: segment tables are parquet, NOT Dataset cache. The
    * columnar in-memory cache degrades badly on the block table's
    * binary/array payload columns (measured at 400k docs: 137s cache write +
    * 46s per scan vs ~18s parquet write and sub-second selective reads), and
    * parquet gives the query path term min/max row-group pruning — the term
    * dictionary seek — for free. */
  def build(files: Dataset[CodeFile], cfg: IndexConfig = IndexConfig()): GraftIndex = {
    val dir = scratchDir("graft-index-")
    IndexStore.buildAndCommit(files, dir, cfg)
    IndexStore.open(files.sparkSession, dir)
  }
}
