package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.{Analyzer, Analyzers}
import graft.index.{CodeFile, GraftIndex, IndexBuilder, IndexConfig, IndexStore, SegmentMerger}
import graft.search.GraftSearcher

/** The driver-facing fulltext corpus: the testdata `documents` table indexed
  * with the SQL-expressible `simple` analyzer (lowercase `[a-z0-9]+` runs) so
  * every token-level result is independently recomputable by the DuckDB
  * oracle via `regexp_extract_all(lower(text), '[a-z0-9]+')`.
  *
  * Every other analysis or mutation of the same corpus is one [[Variant]]
  * below, fetched with `get(spark, sfDir, variant)`. Each index is built once
  * per session and scale-factor dir and cached for the life of the JVM
  * (Verify/Bench run many queries against the same corpus).
  */
object DocsIndex {

  /** One corpus variant, cached per session and scale-factor dir under `key`. */
  sealed trait Variant { def key: String }

  /** Built in one pass: the corpus with `content` as the indexed text, indexed
    * under `config`; queries parse with `queryAnalyzer`, else the index's. */
  private final case class Built(
      key: String,
      config: IndexConfig,
      content: Column = col("text"),
      queryAnalyzer: Option[Analyzer] = None) extends Variant

  /** Committed to its own index dir (the plain corpus under the `simple`
    * analyzer, unless `write` commits it another way), then edited on disk by
    * `mutate` given the committed index, and reopened. The dir is kept for
    * commit-point access. */
  private final case class Committed(
      key: String,
      mutate: (SparkSession, String, GraftIndex) => Unit = (_, _, _) => (),
      write: Option[(SparkSession, String, String) => Unit] = None) extends Variant

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (GraftIndex, GraftSearcher)]()

  /** Index dirs of the [[Committed]] variants, under their cache keys. */
  private val dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val SimpleConfig = IndexConfig(analyzer = Analyzers.simple)

  /** Scan-parallelism floor (r06; guide §6): the local fixture corpus is a
    * single sub-row-group parquet file, so the scan plans as ONE task and
    * every per-doc tokenize across the query surface (regex inversion,
    * shingling, quality scoring — the expensive map work of most td_ and
    * ft_ queries) ran single-threaded (~2 s per pass at sf0.1). A small corpus
    * is round-robined across the cores once (~1 MB shuffle); a corpus that
    * already scans with >= defaultParallelism partitions — any real-scale
    * table — is returned untouched, so nothing is re-shuffled at 100 TB.
    * Row order is never load-bearing downstream (the repo's determinism
    * discipline: every output is explicitly ordered / order-independent). */
  def documents(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = spark.sparkContext.defaultParallelism
    if (d.rdd.getNumPartitions < p) d.repartition(p) else d
  }

  /** Map the documents table onto the engine's input shape (input_hint):
    * one logical repo, path <- zero-padded doc_id, commit <- source,
    * content <- `content` (the text, or a variant's rewrite of it). repo
    * must be CONSTANT: the engine ranks docs by (repo, path, commit), and
    * only a constant repo makes internal docId order equal doc_id order —
    * which the scored oracles rely on for tie-breaks at top-k boundaries
    * (equal round4'd scores resolve by doc_id on both sides). The source
    * label rides in `commit` for the query-time-join field (ft_join). */
  private[queries] def files(spark: SparkSession, sfDir: String,
      content: Column = col("text")): Dataset[CodeFile] = {
    import spark.implicits._
    documents(spark, sfDir)
      .select(
        lit("corpus").as("repo"),
        format_string("doc%09d", $"doc_id").as("path"),
        $"source".as("commit"),
        $"lang",
        content.as("content"),
        lit(null).cast("string").as("sha256"))
      .as[CodeFile]
  }

  def get(spark: SparkSession, sfDir: String): (GraftIndex, GraftSearcher) =
    get(spark, sfDir, Plain)

  def get(spark: SparkSession, sfDir: String, v: Variant): (GraftIndex, GraftSearcher) =
    cache.computeIfAbsent(cacheKey(spark, sfDir, v), key => v match {
      case b: Built => build(spark, sfDir, b)
      case c: Committed => commit(spark, sfDir, c, key)
    })

  // the key includes the session: cached Dataset handles are bound to the
  // SparkSession that built them — a new session in the same JVM must
  // rebuild rather than receive handles tied to a stopped session
  private def cacheKey(spark: SparkSession, sfDir: String, v: Variant): String =
    s"${System.identityHashCode(spark)}#$sfDir#${v.key}"

  private def build(spark: SparkSession, sfDir: String, v: Built): (GraftIndex, GraftSearcher) =
    searchable(IndexBuilder.build(files(spark, sfDir, v.content), v.config),
      v.queryAnalyzer.getOrElse(v.config.analyzer))

  private def commit(spark: SparkSession, sfDir: String, v: Committed,
      key: String): (GraftIndex, GraftSearcher) = {
    val dir = IndexBuilder.scratchDir(s"graft-docs${v.key}-")
    v.write match {
      case Some(write) => write(spark, sfDir, dir)
      case None => IndexStore.buildAndCommit(files(spark, sfDir), dir, SimpleConfig)
    }
    v.mutate(spark, dir, IndexStore.open(spark, dir))
    dirs.put(key, dir)
    searchable(IndexStore.open(spark, dir), Analyzers.simple)
  }

  private def searchable(index: GraftIndex, queryAnalyzer: Analyzer): (GraftIndex, GraftSearcher) = {
    index.blocks.count() // materialize the persisted postings once
    (index, new GraftSearcher(index, queryAnalyzer))
  }

  /** The on-disk dir of a [[Committed]] variant; forces its build. */
  private def dirOf(spark: SparkSession, sfDir: String, v: Variant): String = {
    get(spark, sfDir, v)
    dirs.get(cacheKey(spark, sfDir, v))
  }

  /** `text` with each (regex, replacement) applied in order. Every variant
    * that rewrites the corpus does it here, and its oracle replays the same
    * patterns with DuckDB's 'g' flag. */
  private def replaced(subs: Seq[(String, String)]): Column =
    subs.foldLeft(col("text")) { case (acc, (p, r)) => regexp_replace(acc, p, r) }

  /** Tombstones every doc_id divisible by 7 (the oracle recomputes from raw
    * text with `doc_id % 7 <> 0`). */
  private def deleteSevenths(spark: SparkSession, dir: String, committed: GraftIndex): Unit = {
    import spark.implicits._
    IndexStore.deleteDocs(spark, dir,
      docIdMap(committed).filter(col("doc_id") % 7 === 0).select("docId").as[Long])
  }

  /** Base generation of the updatable `popularity` docvalues field: each
    * doc's token count. */
  private def basePopularity(spark: SparkSession, dir: String, committed: GraftIndex): Unit = {
    import spark.implicits._
    IndexStore.updateNumericDocValues(spark, dir, committed.docs.toDF()
      .select($"docId", lit("popularity").as("field"), $"len".cast("long").as("value"))
      .as[graft.index.DocValueRow])
  }

  /** The plain corpus, with term vectors stored. */
  private val Plain: Variant =
    Built("plain", IndexConfig(analyzer = Analyzers.simple, storeTermVectors = true))

  /** Same corpus with every doc_id divisible by 7 tombstoned — the
    * deletes-honoring index behind the `ft_delete_*` oracle queries (the
    * oracle recomputes from raw text with `doc_id % 7 <> 0`). Built into its
    * own index dir so the plain corpus index stays append-only. */
  val WithDeletes: Variant = Committed("del", deleteSevenths)

  /** Version-constrained upserts (solr/core/src/java/org/apache/solr/
    * update/processor/DocBasedVersionConstraintsProcessorFactory.java:60-140
    * — an update applies only when its user-version EXCEEDS the stored one;
    * stale replays are silently dropped, the out-of-order-delivery guard in
    * Solr's CDCR/queue ingestion): two dv-update batches, each gated per
    * doc against the CURRENT 'version' doc-value before writing. */
  val WithVersionedUpdates: Variant = Committed("ver", (spark, dir, committed) => {
    import spark.implicits._
    val ids = docIdMap(committed)
    def applyGated(batch: DataFrame): Unit = {
      val curV = IndexStore.open(spark, dir).docValues.toDF()
        .filter(col("field") === "version")
        .select(col("docId").as("_d"), col("value").as("_curv"))
      val accepted = batch.join(curV, col("docId") === col("_d"), "left")
        .filter(col("_curv").isNull || col("version") > col("_curv"))
      IndexStore.updateNumericDocValues(spark, dir,
        accepted.select(col("docId"), lit("version").as("field"),
          col("version").cast("long").as("value")).as[graft.index.DocValueRow])
      IndexStore.updateNumericDocValues(spark, dir,
        accepted.select(col("docId"), lit("payload").as("field"),
          col("payload").cast("long").as("value")).as[graft.index.DocValueRow])
    }
    applyGated(ids.filter(col("doc_id") % 3 === 0)
      .select(col("docId"), (col("doc_id") + 100L).as("version"), lit(1L).as("payload")))
    applyGated(
      ids.filter(col("doc_id") % 6 === 0)
        .select(col("docId"), (col("doc_id") + 50L).as("version"), lit(2L).as("payload"))
      .unionByName(ids.filter(col("doc_id") % 3 === 1)
        .select(col("docId"), (col("doc_id") + 200L).as("version"), lit(3L).as("payload"))))
  })

  /** Deletes + forceMerge (`IndexWriter.forceMerge` semantics,
    * lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:1870-1930:
    * merges rewrite live docs only, so tombstoned docs are PURGED and the
    * collection statistics — docCount, avgdl, df — shift to the survivor
    * set, unlike the tombstone-only [[WithDeletes]] index where stats still
    * include deleted docs until merge). */
  val MergedDeletes: Variant = Committed("delm", (spark, dir, committed) => {
    deleteSevenths(spark, dir, committed)
    SegmentMerger.mergeAll(spark, dir, SimpleConfig)
  })

  /** Delete-by-QUERY (Solr `deleteByQuery`, solr/core/src/java/org/apache/
    * solr/update/DirectUpdateHandler2.java:440-520; the mechanism behind
    * DocExpirationUpdateProcessorFactory's periodic `expire_at:[* TO NOW]`
    * purge): the delete set is computed by running a real query against the
    * committed index, then tombstoned through the same `.liv`-analog path as
    * id-based deletes. */
  val WithQueryDeletes: Variant = Committed("delq", (spark, dir, committed) => {
    val searcher0 = new GraftSearcher(committed, Analyzers.simple)
    IndexStore.deleteDocs(spark, dir, searcher0.matchesDS(searcher0.parse("slow AND hash")))
  })

  /** Same corpus indexed with the engine-default UAX#29 analyzer
    * (`Analyzers.standard`, Analyzer.scala:38-133). The testdata text is
    * pure `[a-z0-9 ]` (verified by `ft_uax_search`'s oracle agreeing), so
    * the standard tokenizer provably emits the same tokens as `simple` —
    * putting the default analyzer path under the hard oracle signal. */
  val Standard: Variant = Built("uax", IndexConfig(analyzer = Analyzers.standard))

  // The synthetic corpus has no plural forms, so both engines apply the SAME
  // deterministic pluralization before analysis ('tables' exercises drop-s,
  // 'queries' the ies->y arm, 'values' the keep-e fallthrough, 'hashes' the
  // non-vowel fallthrough). The oracle SQL uses the identical patterns with
  // DuckDB's 'g' flag.
  private val Pluralized: Column = replaced(Seq(
    "\\btable\\b" -> "tables",
    "\\bquery\\b" -> "queries",
    "\\bvalue\\b" -> "values",
    "\\bhash\\b" -> "hashes"))

  /** Same corpus indexed through the EnglishMinimalStemFilter chain
    * (Harman S-stemmer; `Analyzer.minimalStemEn`) — query terms stem through
    * the same analyzer in `parse`, so 'tables' searches the 'table' posting
    * list. Oracle side re-applies the stemmer as a SQL CASE per token. */
  val Stemmed: Variant =
    Built("stem", IndexConfig(analyzer = Analyzers.minimalStem), Pluralized)

  /** Accent/width injection map for the ICU-folding corpus ([[Icu]]):
    * each regex is applied identically in BOTH engines ('g'-flagged on the
    * DuckDB side); the engine then folds with the general NFKC_CF chain
    * while the oracle undoes exactly the injected characters with its own
    * builtins (translate/strip_accents/lower). Coverage: fullwidth forms
    * (NFKC width folding), precomposed accents in both cases, and a
    * DECOMPOSED combining acute (the tokenizer's WB4 Extend path). */
  val ICU_SUBS: Seq[(String, String)] = Seq(
    // FULLWIDTH T + a-macron + b l + e-acute  (Ｔāblé)
    "\\btable\\b" -> "Ｔāblé",
    // inde + capital X + COMBINING ACUTE  (indeX́, decomposed)
    "\\bindex\\b" -> "indeX́",
    // FULLWIDTH V + E-acute + CT + O-diaeresis + R  (ＶÉCTÖR)
    "\\bvector\\b" -> "ＶÉCTÖR")

  /** Same corpus with deterministic accented/fullwidth/decomposed token
    * injections, indexed through the ICUFoldingFilter-analog chain
    * (`Analyzers.icu`): queries in plain ASCII reach the folded posting
    * lists only through NFKC + case fold + accent strip. */
  val Icu: Variant = Built("icu", IndexConfig(analyzer = Analyzers.icu), replaced(ICU_SUBS))

  /** German inflections injected into lang='de' docs only ([[LangStem]]):
    * each exercises a different Snowball-German rule (ern-flexion + umlaut
    * fold, ung d-suffix, keit d-suffix, en-flexion). */
  val DE_SUBS: Seq[(String, String)] = Seq(
    "\\btable\\b" -> "häusern",
    "\\bmerge\\b" -> "wanderung",
    "\\bsort\\b" -> "freundlichkeit",
    "\\bquery\\b" -> "kategorien")

  /** French inflections injected into lang='fr' docs only: aux→al, plural
    * s + final-e, and the é/undouble cascade of the minimal stemmer. */
  val FR_SUBS: Seq[(String, String)] = Seq(
    "\\btable\\b" -> "chevaux",
    "\\bmerge\\b" -> "portes",
    "\\bsort\\b" -> "données")

  /** ONE index over the whole multilingual corpus with PER-LANGUAGE
    * analysis (IndexConfig.langAnalyzers): de docs carry injected German
    * inflections and analyze through the Snowball German chain, fr docs
    * carry French inflections through the minimal French chain, everything
    * else through `simple`. Query-side each language picks its analyzer on
    * the searcher — the Solr per-language-field pattern over one corpus. */
  val LangStem: Variant = Built("langstem",
    IndexConfig(
      analyzer = Analyzers.simple,
      langAnalyzers = Map(
        "de" -> Analyzers.german,
        "fr" -> Analyzers.frenchMinimal)),
    when(col("lang") === "de", replaced(DE_SUBS))
      .when(col("lang") === "fr", replaced(FR_SUBS))
      .otherwise(col("text")))

  /** Same corpus indexed through the full EnglishAnalyzer chain (stop set +
    * Porter stemming, `Analyzers.englishPorter`). The synthetic corpus has
    * no derived forms, so both engines apply the SAME deterministic
    * inflection before analysis — each injected form exercises a different
    * Porter step ('relational' step 2 ATIONAL→ATE + final-e, 'generalizations'
    * the paper's own four-step worked example →'gener', 'oscillating' 1b
    * ING + 5b LL→L →'oscil', 'queries' 1a IES→I →'queri' where the
    * S-stemmer would give 'query', 'windowing' the *o cvc guard, 'happiness'
    * step 3 NESS). The oracle replays the identical inflection and a
    * whole-vocabulary stem map hand-derived from the 1980 paper. */
  val Porter: Variant = Built("porter", IndexConfig(analyzer = Analyzers.englishPorter),
    replaced(Seq(
      "\\bfilter\\b" -> "relational",
      "\\bmerge\\b" -> "generalizations",
      "\\bsort\\b" -> "oscillating",
      "\\bquery\\b" -> "queries",
      "\\bwindow\\b" -> "windowing",
      "\\bslow\\b" -> "happiness")))

  /** Corpus with two deterministic Han injections ('stream' -> the 3-char
    * 数据流, 'key' -> the lone 键), indexed through the CJK bigram chain
    * (`Analyzers.cjk`): each 数据流 contributes the bigrams 数据+据流, each
    * 键 stays a unigram, and doc length counts ascii words + (run-1) per
    * Han run — the multilingual slice of the pipeline under the hard
    * oracle. */
  val Cjk: Variant = Built("cjk", IndexConfig(analyzer = Analyzers.cjk),
    replaced(Seq("\\bstream\\b" -> "数据流", "\\bkey\\b" -> "键")))

  /** Demo lexicon for the dictionary CJK segmenter ([[CjkDict]]):
    * covers the head of each injected run; the tails are OOV and fall back
    * to bigrams. */
  val CJK_DICT: Set[String] = Set("数据流", "处理", "键值对")

  /** Corpus with LONGER Han injections indexed through the dictionary
    * longest-match segmenter (kuromoji-lite, `Analyzers.cjkDict`):
    * '数据流处理' segments as dict words [数据流][处理]; '键值对存储器'
    * as dict [键值对] + OOV tail bigrams [存储][储器]. */
  val CjkDict: Variant = Built("cjkdict", IndexConfig(analyzer = Analyzers.cjkDict(CJK_DICT)),
    replaced(Seq("\\bstream\\b" -> "数据流处理", "\\bkey\\b" -> "键值对存储器")))

  /** Corpus with REAL `term|payload` markup ingested through the
    * WhitespaceTokenizer + DelimitedPayloadTokenFilter chain
    * (`Analyzers.payload`): every 'merge' carries payload 3 and every
    * 'batch' is rewritten to 'merge|9' — so the 'merge' posting list holds
    * occurrences with DIFFERENT stored payloads, exercising min/max/sum/avg
    * over genuine posEnc-interleaved payload bytes (not the position-keyed
    * stand-in of ft_payload_score). */
  val Payload: Variant = Built("payload", IndexConfig(analyzer = Analyzers.payload),
    replaced(Seq("\\bmerge\\b" -> "merge|3", "\\bbatch\\b" -> "merge|9")))

  /** Corpus indexed through the LengthFilter [4,8] chain
    * (`Analyzers.length48`): seven short corpus words drop with position
    * gaps; doc length and every BM25 stat shrink accordingly. */
  val LengthFiltered: Variant = Built("len48", IndexConfig(analyzer = Analyzers.length48))

  /** Corpus indexed through the multi-word-INPUT synonym graph
    * (`big table => bigtable`, `Analyzers.synGraphContract`) — no text
    * change needed; the corpus already contains adjacent big/table pairs. */
  val SynGraph: Variant = Built("syngraph", IndexConfig(analyzer = Analyzers.synGraphContract))

  /** Corpus with every 'merge' deterministically fused to 'mergejoin', then
    * indexed through the multi-word-OUTPUT synonym graph
    * (`mergejoin => merge join`, `Analyzers.synGraphExpand`) — each fused
    * site re-expands at invert time with FlattenGraph position semantics
    * (orig + 'merge' stacked, 'join' one position later, tail shifted). */
  val SynGraphExpand: Variant = Built("syngraphx", IndexConfig(analyzer = Analyzers.synGraphExpand),
    replaced(Seq("\\bmerge\\b" -> "mergejoin")))

  /** The [[Stemmed]] pluralized corpus through the KeywordRepeat chain
    * (`Analyzers.stemKeepOrig`): every inflected token indexes BOTH its
    * surface form and its stem (stacked), so exact-form and stemmed
    * queries each hit — the dictionary carries both arms with their own
    * df/ttf. */
  val StemKeepOrig: Variant =
    Built("stemko", IndexConfig(analyzer = Analyzers.stemKeepOrig), Pluralized)

  /** Same corpus indexed with the EnglishAnalyzer stop set — the StopFilter
    * + posIncrement-gap path (Analyzer.scala stop handling) under the hard
    * oracle signal via `ft_stop_phrase` / `ft_stop_count`. */
  val English: Variant = Built("en", IndexConfig(analyzer = Analyzers.english))

  /** Same corpus indexed through the ShingleFilter bigram chain
    * (`Analyzers.shingle2`): every posting term is `w1_w2`, doc length =
    * token count − 1, and BM25 norms/stats are computed over the shingle
    * stream — the oracle recomputes all of it from consecutive token pairs. */
  val Shingled: Variant = Built("sh2", IndexConfig(analyzer = Analyzers.shingle2))

  /** CommonGramsFilter chain ({a, the} as common words): unigrams plus
    * stopword-adjacent bigrams stacked at the first member's position —
    * the index behind `ft_commongrams`, where a stopword phrase runs as a
    * single gram-term lookup instead of a positional phrase. */
  val CommonGrams: Variant = Built("cg", IndexConfig(analyzer = Analyzers.commonGrams))

  /** Same corpus rewritten into camelCase compound identifiers (adjacent
    * token pairs joined as `t1` + capitalize(`t2`); an odd trailing token
    * stays bare) and indexed through the WordDelimiterGraphFilter chain
    * (`Analyzers.wordDelim`): each compound emits the preserved original
    * plus its case-split parts, parts landing at the positions the words had
    * in the RAW text — so the DuckDB oracle recomputes everything (part
    * tf/df/positions, compound tf at odd 1-indexed pair boundaries, and the
    * discountOverlaps doc length = raw token count) from the raw text alone. */
  val WordDelim: Variant = Built("wd", IndexConfig(analyzer = Analyzers.wordDelim),
    udf((text: String) => camelize(text)).apply(col("text")))

  /** Deterministic camelCase compounding of a lowercase-alnum text: pair up
    * consecutive `[a-z0-9]+` tokens 0-indexed as (0,1),(2,3),…, join each
    * pair as `t1` + `T2` (first letter of the second word uppercased). */
  private[queries] def camelize(text: String): String = {
    val toks = collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = text.length
    while (i < n) {
      while (i < n && !isAlnum(text.charAt(i))) i += 1
      if (i < n) {
        val s = i
        while (i < n && isAlnum(text.charAt(i))) i += 1
        toks += text.substring(s, i)
      }
    }
    val sb = new java.lang.StringBuilder(text.length)
    var k = 0
    while (k < toks.length) {
      if (sb.length > 0) sb.append(' ')
      if (k + 1 < toks.length) {
        val t2 = toks(k + 1)
        sb.append(toks(k)).append(Character.toUpperCase(t2.charAt(0))).append(t2, 1, t2.length)
        k += 2
      } else { sb.append(toks(k)); k += 1 }
    }
    sb.toString
  }

  @inline private def isAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** Same corpus built with an index sort on `lang`
    * (`IndexConfig.sortFields = Seq("lang")` — the
    * `IndexWriterConfig.setIndexSort` analog): docIds rank by
    * (lang, repo, path, commit) = (lang, doc_id) since repo is constant and
    * path zero-pads doc_id. Queries sorted by (lang, doc_id) early-terminate
    * per doc range ([[GraftSearcher.searchByIndexOrder]]). */
  val Sorted: Variant =
    Built("srt", IndexConfig(analyzer = Analyzers.simple, sortFields = Seq("lang")))

  /** Corpus with an updatable numeric docvalues field `popularity`
    * (`IndexWriter.updateNumericDocValue`): base generation = token count,
    * then TWO stacked update generations — doc_id%5==0 -> 777, then
    * doc_id%10==0 -> 1000000+doc_id (the second overrides the first on the
    * overlap, proving latest-generation-wins under the oracle). */
  val WithDocValues: Variant = Committed("dv", (spark, dir, committed) => {
    import spark.implicits._
    basePopularity(spark, dir, committed)
    val ids = docIdMap(committed)
    val u1 = ids.filter($"doc_id" % 5 === 0)
      .select($"docId", lit("popularity").as("field"), lit(777L).as("value"))
      .as[graft.index.DocValueRow]
    IndexStore.updateNumericDocValues(spark, dir, u1)
    val u2 = ids.filter($"doc_id" % 10 === 0)
      .select($"docId", lit("popularity").as("field"),
        ($"doc_id" + 1000000L).cast("long").as("value"))
      .as[graft.index.DocValueRow]
    IndexStore.updateNumericDocValues(spark, dir, u2)
  })

  /** DocValues corpus taken through TWO Solr-style atomic update batches
    * (reference: solr/core/src/java/org/apache/solr/update/processor/
    * AtomicUpdateDocumentMerger.java:100-124 — 'set' overwrites the stored
    * value, 'inc' reads the CURRENT value and adds): gen1 sets
    * popularity=111 where doc_id%7==0, gen2 incs popularity+=7 for docs
    * matching 'spark'. The inc batch reads the post-set generation — the
    * RTG + merge + write-new-generation flow, each batch one distributed
    * latest-wins union. */
  val Atomic: Variant = Committed("dvatomic", (spark, dir, committed) => {
    import spark.implicits._
    basePopularity(spark, dir, committed)
    val ids = docIdMap(committed)
    val setBatch = ids.filter($"doc_id" % 7 === 0)
      .select($"docId", lit("popularity").as("field"), lit(111L).as("value"))
      .as[graft.index.DocValueRow]
    IndexStore.updateNumericDocValues(spark, dir, setBatch)
    val idx1 = IndexStore.open(spark, dir)
    val searcher1 = new GraftSearcher(idx1, Analyzers.simple)
    val sparkDocs = searcher1.matchesDS(graft.search.TermQ("spark")).toDF("mDocId")
    val incBatch = idx1.docValues.toDF().filter($"field" === "popularity")
      .join(sparkDocs, $"docId" === $"mDocId")
      .select($"docId", $"field", ($"value" + 7L).as("value"))
      .as[graft.index.DocValueRow]
    IndexStore.updateNumericDocValues(spark, dir, incBatch)
    // a PARTIAL field: 'boost' exists only on docs matching 'vector' —
    // the FieldExistsQuery / sortMissingLast surface
    val boostBatch = searcher1.matchesDS(graft.search.TermQ("vector")).toDF("mDocId")
      .join(ids, $"docId" === $"mDocId")
      .select($"docId", lit("boost").as("field"), ($"doc_id" % 100).as("value"))
      .as[graft.index.DocValueRow]
    IndexStore.updateNumericDocValues(spark, dir, boostBatch)
  })

  /** MappingCharFilter chain (reference: lucene/analysis/common/src/java/
    * org/apache/lucene/analysis/charfilter/MappingCharFilter.java +
    * NormalizeCharMap — longest-match character rewrite BEFORE the
    * tokenizer): rules big=>large, slow=>sluggish applied as the char-level
    * pre-pass; the oracle performs the identical regexp_replace in SQL.
    * Neither target surface exists as a raw corpus token, so the mapped
    * terms' postings are exactly the sources'. */
  val Mapped: Variant = Built("map", SimpleConfig,
    replaced(Seq("\\bbig\\b" -> "large", "\\bslow\\b" -> "sluggish")))

  /** Corpus committed through the NRT path: two `IncrementalIndexer`
    * micro-batches (disjoint docId strides) then a full compaction into one
    * segment — the batch-build/merge-equivalence evidence behind
    * `ft_incr_search` (its oracle is the same SQL as `ft_search_term`). */
  val Incremental: Variant = Committed("incr",
    mutate = (spark, dir, _) => SegmentMerger.mergeAll(spark, dir, SimpleConfig),
    write = Some((spark, sfDir, dir) => {
      import spark.implicits._
      val all = files(spark, sfDir)
      val half = documents(spark, sfDir).count() / 2
      val b0 = all.filter($"path" < f"doc$half%09d")
      val b1 = all.filter($"path" >= f"doc$half%09d")
      graft.streaming.IncrementalIndexer.commitBatch(b0, 0L, dir, SimpleConfig, 1L << 20)
      graft.streaming.IncrementalIndexer.commitBatch(b1, 1L, dir, SimpleConfig, 1L << 20)
    }))

  /** Corpus deterministically accented (four common words gain NFD-
    * decomposable diacritics) and indexed through UAX#29 + LowerCase +
    * ASCIIFoldingFilter (`Analyzers.folding`). The oracle re-applies the
    * identical transform in SQL and folds with DuckDB `strip_accents` —
    * both engines must agree on every token, df, norm and BM25 score. */
  val Folded: Variant = Built("fold", IndexConfig(analyzer = Analyzers.folding),
    replaced(Seq(
      "\\btable\\b" -> "tablé",
      "\\bquery\\b" -> "qüery",
      "\\bvalue\\b" -> "vàlue",
      "\\bhash\\b" -> "hâsh")))

  /** Corpus deterministically wrapped in HTML markup (document shell, every
    * 'table' occurrence bolded, a trailing `&amp;` entity) and indexed
    * through HTMLStripCharFilter + the simple chain (`Analyzers.htmlStrip`).
    * If tags or entities leaked into the token stream ('html', 'body',
    * 'class', 'b', 'amp' tokens; inflated doc lengths shifting every norm)
    * the BM25 oracle — which strips the same markup in SQL — would diverge. */
  val Html: Variant = Built("html", IndexConfig(analyzer = Analyzers.htmlStrip),
    concat(
      lit("<html><body class=\"corpus\">"),
      regexp_replace(col("text"), "\\btable\\b", "<b>table</b>"),
      lit(" &amp;</body></html>")))

  /** Combined-field index for BM25F scoring (Lucene CombinedFieldQuery,
    * reference: lucene/sandbox/src/java/org/apache/lucene/sandbox/search/
    * CombinedFieldQuery.java:66-104): the query scores a VIRTUAL field whose
    * term freqs are Σ w_f·tf_f and whose norm is Σ w_f·len_f across fields.
    * With integer weights that virtual field is literally the concatenation
    * of each field repeated w_f times — so the combined index is a REAL
    * index built over `title title text` (title = the source label, w=2)
    * and searched through the unmodified engine; the oracle re-tokenizes the
    * same concatenation. */
  val Combined: Variant = Built("cmb", SimpleConfig,
    concat_ws(" ", col("source"), col("source"), col("text")))

  /** A second per-field index over the SOURCE label alone (one token per
    * doc) — the multi-field surface behind ft_edismax: Lucene/Solr keep one
    * inverted index per field, and eDisMax scores each field independently
    * before the per-term max. dl=1 everywhere, so avgdl=1 and the
    * SmallFloat norm is exact. */
  val SourceField: Variant = Built("srcf", SimpleConfig, col("source"))

  /** Corpus indexed through the index-time synonym chain
    * (`Analyzers.synonymSlowFast` — SynonymGraphFilter semantics: every
    * 'slow' also indexes a stacked 'fast'). Queries still parse with the
    * synonym-free analyzer: synonym injection is an INDEX-side rewrite. */
  val Synonyms: Variant = Built("syn", IndexConfig(analyzer = Analyzers.synonymSlowFast),
    queryAnalyzer = Some(Analyzers.simple))

  /** The plain corpus committed to its own dir, unmutated. */
  private val CommittedPlain: Variant = Committed("bm")

  /** The deletes index's on-disk dir (for [[graft.index.IndexStore.openAt]]
    * time travel — ft_snapshot). Forces the build if not cached yet. */
  def deletesDir(spark: SparkSession, sfDir: String): String =
    dirOf(spark, sfDir, WithDeletes)

  /** The incremental build's on-disk dir (commit-point access for the
    * TopicStream delta-pull — q_topic). Forces the build if not cached. */
  def incrementalDir(spark: SparkSession, sfDir: String): String =
    dirOf(spark, sfDir, Incremental)

  /** Committed on-disk index dir for the plain corpus (cached per session) —
    * the directory surface for out-of-band index tools (CheckIndex, build
    * telemetry) that read the persisted segment layout rather than the
    * in-memory Dataset handles. */
  def committedDir(spark: SparkSession, sfDir: String): String =
    dirOf(spark, sfDir, CommittedPlain)

  /** Per-task build telemetry of a dedicated (cached) corpus build — the
    * lineage + postings/sec rows the encode stage records per shuffle task
    * ([[graft.index.TaskBuildMetric]]), persisted with the segment. */
  def buildMetrics(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${committedDir(spark, sfDir)}/seg-00000/buildmetrics")

  /** internal docId -> source doc_id (parsed back out of the padded path). */
  def docIdMap(index: GraftIndex): DataFrame =
    index.docs.toDF().select(
      col("docId"),
      expr("CAST(substring(path, 4) AS BIGINT)").as("doc_id"))
}
