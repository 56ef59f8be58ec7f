package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.{Impact, PostingsCodec}
import graft.index.BlockRow
import graft.search.TopK

/** Fulltext-engine queries for the driver contract: every result is produced
  * by the REAL index/search path (posting blocks, BM25, phrase positions)
  * and verified by a DuckDB oracle that recomputes the same answer from the
  * raw text with `regexp_extract_all(lower(text), '[a-z0-9]+')`.
  *
  * The scored-search family (`ft_search_*`) runs the full distributed
  * engine (block fetch -> doc-range scatter -> per-range top-k -> global
  * merge) with DOUBLE-precision BM25 over the SmallFloat-QUANTIZED doc
  * lengths decoded from the norm bytes — so the oracle SQL recomputes every
  * score bit-for-bit, including the norm quantization (the `dlq` CTE mirrors
  * `SmallFloat.intToByte4 andThen byte4ToInt`). Scores are rounded to 4
  * decimals BEFORE ranking on both sides. The production Float-exact path
  * (Lucene-verbatim score + block-max pruning) is covered by the scalatest
  * differential suite (pruned vs exhaustive Float oracle, SearchSpec) and
  * by `SparkEntry.entry`.
  */
object FulltextQueries {

  private val TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** The ASCIIFolding oracle token stream: the SAME deterministic accenting
    * `DocsIndex.Folded` applies (NFD-decomposable diacritics only), then
    * DuckDB `strip_accents` plays the filter's role. */
  private val ACC_TOKS =
    "regexp_extract_all(strip_accents(lower(" +
      "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "text, '\\btable\\b', 'tablé', 'g'), '\\bquery\\b', 'qüery', 'g'), " +
      "'\\bvalue\\b', 'vàlue', 'g'), '\\bhash\\b', 'hâsh', 'g'))), '[a-z0-9]+')"

  /** The HTMLStrip oracle token stream: the SAME deterministic markup wrap
    * `DocsIndex.Html` applies, then tags and entities removed in SQL. */
  private val HTML_TOKS =
    "regexp_extract_all(lower(regexp_replace(regexp_replace(" +
      "'<html><body class=\"corpus\">' || " +
      "regexp_replace(text, '\\btable\\b', '<b>table</b>', 'g') || " +
      "' &amp;</body></html>', " +
      "'<[^>]*>', ' ', 'g'), " +
      "'&[a-zA-Z]+;|&#[0-9]+;|&#[xX][0-9a-fA-F]+;', ' ', 'g')), '[a-z0-9]+')"

  /** Shared oracle prelude: tokens, collection stats, and the
    * SmallFloat-quantized doc length (exact below 24+8; 4-significant-bit
    * floor above — `SmallFloat.scala` semantics re-expressed in SQL). */
  private val PRELUDE =
    s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
       |st AS (SELECT count(*) AS n, CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl FROM toks),
       |dl AS (
       |  SELECT doc_id, tk,
       |    CASE WHEN len(tk) < 24 THEN len(tk)
       |         WHEN len(tk) - 24 < 8 THEN len(tk)
       |         ELSE 24 + (((len(tk) - 24) >> (length(format('{:b}', len(tk) - 24)) - 4))
       |                    << (length(format('{:b}', len(tk) - 24)) - 4)) END AS dlq
       |  FROM toks)""".stripMargin

  /** PRELUDE over the BM25F virtual combined field (DocsIndex.Combined:
    * title = source label at weight 2, then the body) — same collection
    * stats / SmallFloat shape, combined token stream. */
  private val CMB_PRELUDE = PRELUDE.replace(TOKS,
    "regexp_extract_all(lower(source || ' ' || source || ' ' || text), '[a-z0-9]+')")

  /** The deterministic pluralization applied before the stemmed index is
    * built (`DocsIndex.Stemmed`) — same patterns, DuckDB 'g' flag. */
  private val STEM_TXT =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "text, '\\btable\\b', 'tables', 'g'), '\\bquery\\b', 'queries', 'g'), " +
      "'\\bvalue\\b', 'values', 'g'), '\\bhash\\b', 'hashes', 'g')"

  /** `Analyzer.minimalStemEn` as a SQL CASE (EnglishMinimalStemmer.java:30-46,
    * including the case-'e' fallthrough to drop-final-s). */
  private val STEM_CASE =
    "CASE WHEN len(t) < 3 OR NOT (t LIKE '%s') THEN t " +
      "WHEN t LIKE '%us' OR t LIKE '%ss' THEN t " +
      "WHEN len(t) > 3 AND t LIKE '%ies' AND substr(t, len(t)-3, 1) NOT IN ('a','e') " +
      "THEN substr(t, 1, len(t)-3) || 'y' " +
      "WHEN t LIKE '%ies' OR t LIKE '%aes' OR t LIKE '%oes' OR t LIKE '%ees' THEN t " +
      "ELSE substr(t, 1, len(t)-1) END"

  private val STEM_TOKS =
    s"list_transform(regexp_extract_all(lower($STEM_TXT), '[a-z0-9]+'), t -> $STEM_CASE)"

  /** PRELUDE twin over the pluralized + stemmed token stream. */
  private val STEM_PRELUDE =
    s"""WITH toks AS (SELECT doc_id, $STEM_TOKS AS tk FROM documents),
       |st AS (SELECT count(*) AS n, CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl FROM toks),
       |dl AS (
       |  SELECT doc_id, tk,
       |    CASE WHEN len(tk) < 24 THEN len(tk)
       |         WHEN len(tk) - 24 < 8 THEN len(tk)
       |         ELSE 24 + (((len(tk) - 24) >> (length(format('{:b}', len(tk) - 24)) - 4))
       |                    << (length(format('{:b}', len(tk) - 24)) - 4)) END AS dlq
       |  FROM toks)""".stripMargin

  /** The deterministic inflection applied before the Porter index is built
    * (`DocsIndex.Porter`) — same patterns, DuckDB 'g' flag. */
  private val PORTER_TXT =
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "regexp_replace(regexp_replace(" +
      "text, '\\bfilter\\b', 'relational', 'g'), " +
      "'\\bmerge\\b', 'generalizations', 'g'), " +
      "'\\bsort\\b', 'oscillating', 'g'), '\\bquery\\b', 'queries', 'g'), " +
      "'\\bwindow\\b', 'windowing', 'g'), '\\bslow\\b', 'happiness', 'g')"

  /** `EnglishAnalyzer.ENGLISH_STOP_WORDS_SET` as a SQL IN-list (the chain
    * stop-filters BEFORE stemming, so surface forms are matched). */
  private val STOP33 =
    "('a','an','and','are','as','at','be','but','by','for','if','in','into'," +
      "'is','it','no','not','of','on','or','such','that','the','their','then'," +
      "'there','these','they','this','to','was','will','with')"

  /** Porter stems of the full post-inflection corpus vocabulary,
    * hand-derived from the 1980 paper (NOT generated from the engine's
    * [[graft.analysis.PorterStemmer]] — an independent derivation; the
    * closed 31-word vocabulary makes the whole-dictionary map enumerable).
    * Words the algorithm leaves unchanged fall through the ELSE. */
  private val PORTER_CASE =
    "CASE t WHEN 'customer' THEN 'custom' WHEN 'table' THEN 'tabl' " +
      "WHEN 'value' THEN 'valu' WHEN 'key' THEN 'kei' " +
      "WHEN 'queries' THEN 'queri' WHEN 'relational' THEN 'relat' " +
      "WHEN 'generalizations' THEN 'gener' WHEN 'oscillating' THEN 'oscil' " +
      "WHEN 'windowing' THEN 'window' WHEN 'happiness' THEN 'happi' " +
      "ELSE t END"

  private val PORTER_TOKS =
    s"list_transform(list_filter(regexp_extract_all(lower($PORTER_TXT), " +
      s"'[a-z0-9]+'), t -> t NOT IN $STOP33), t -> $PORTER_CASE)"

  /** PRELUDE twin over the stop-filtered + Porter-stemmed token stream
    * (doc length counts surviving tokens only — stop gaps don't count,
    * matching invert's discount of filtered positions). */
  private val PORTER_PRELUDE = PRELUDE.replace(TOKS, PORTER_TOKS)

  /** The deterministic Han injection applied before the CJK index is built
    * (`DocsIndex.Cjk`) — same patterns, DuckDB 'g' flag. */
  private val CJK_TXT =
    "regexp_replace(regexp_replace(text, '\\bstream\\b', '数据流', 'g'), " +
      "'\\bkey\\b', '键', 'g')"

  /** The CJKBigramFilter token stream in SQL: ascii words plus, per Han
    * run, its overlapping character bigrams (a lone ideograph stays a
    * unigram) — RE2 `\p{Han}` and DuckDB's character-based len/substr do
    * the ideograph walk. Whitespace is stripped BEFORE run extraction:
    * ideograph tokens arrive posIncrement-1 across plain spaces, so the
    * filter bigrams through them — only an intervening ascii/digit token
    * breaks a run (the reference's gap check fires on posInc > 1 alone). */
  private val CJK_TOKS =
    s"(regexp_extract_all(lower($CJK_TXT), '[a-z0-9]+') || " +
      "flatten(list_transform(regexp_extract_all(" +
      s"regexp_replace($CJK_TXT, '\\s+', '', 'g'), '\\p{Han}+'), " +
      "r -> CASE WHEN len(r) = 1 THEN [r] " +
      "ELSE list_transform(generate_series(1, len(r) - 1), " +
      "i -> substr(r, i, 2)) END)))"

  private val CJK_PRELUDE = PRELUDE.replace(TOKS, CJK_TOKS)

  /** The longer Han injections behind the dictionary segmenter
    * (`DocsIndex.CjkDict`) — same patterns, 'g'-flagged. */
  private val CJKD_TXT =
    "regexp_replace(regexp_replace(text, '\\bstream\\b', '数据流处理', 'g'), " +
      "'\\bkey\\b', '键值对存储器', 'g')"

  /** The segmenter's token stream in SQL: ascii words plus, per Han run
    * (runs do NOT bridge whitespace — a dictionary word never spans a
    * space), the hand-derived longest-match segmentation: dict words win,
    * OOV tails bigram. The run universe is closed (the two injections),
    * so the map is enumerable — the ft_porter_terms oracle pattern. */
  private val CJKD_TOKS =
    s"(regexp_extract_all(lower($CJKD_TXT), '[a-z0-9]+') || " +
      s"flatten(list_transform(regexp_extract_all($CJKD_TXT, '\\p{Han}+'), " +
      "r -> CASE r WHEN '数据流处理' THEN ['数据流', '处理'] " +
      "WHEN '键值对存储器' THEN ['键值对', '存储', '储器'] " +
      "ELSE [r] END)))"

  private val CJKD_PRELUDE = PRELUDE.replace(TOKS, CJKD_TOKS)

  /** The accent/width injection applied before the ICU-folding index is
    * built (`DocsIndex.Icu`) — the SAME substitution list, 'g'-flagged. */
  private val ICU_TXT = DocsIndex.ICU_SUBS.foldLeft("text") {
    case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
  }

  /** The oracle's own fold of the injected characters: the combining acute
    * is deleted, the two injected fullwidth letters are width-mapped by
    * table, precomposed accents fall to strip_accents, case to lower() —
    * an independent derivation of what the engine's general NFKC_CF chain
    * (Analyzer.foldIcu) must produce on this corpus. */
  private val ICU_FOLD =
    s"lower(strip_accents(translate(replace($ICU_TXT, '́', ''), 'ＴＶ', 'tv')))"

  private val ICU_TOKS = s"regexp_extract_all($ICU_FOLD, '[a-z0-9]+')"

  private val ICU_PRELUDE = PRELUDE.replace(TOKS, ICU_TOKS)

  /** The per-language injections applied before the lang-stem index is
    * built (`DocsIndex.LangStem`) — same lists, 'g'-flagged. */
  private val DE_TXT = DocsIndex.DE_SUBS.foldLeft("text") {
    case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
  }
  private val FR_TXT = DocsIndex.FR_SUBS.foldLeft("text") {
    case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
  }

  /** Snowball-German stems of the closed de-doc vocabulary, hand-derived
    * from the published algorithm (R1 floored at 3; step-1 flexions, step-3
    * d-suffixes, umlaut postlude) — an independent derivation, NOT
    * generated from [[graft.analysis.GermanStemmer]]. Unchanged words fall
    * through the ELSE. */
  private val DE_CASE =
    "CASE t WHEN 'häusern' THEN 'haus' WHEN 'wanderung' THEN 'wander' " +
      "WHEN 'freundlichkeit' THEN 'freundlich' WHEN 'kategorien' THEN 'kategori' " +
      "WHEN 'customer' THEN 'custom' WHEN 'filter' THEN 'filt' " +
      "WHEN 'line' THEN 'lin' WHEN 'order' THEN 'ord' WHEN 'value' THEN 'valu' " +
      "ELSE t END"

  /** Minimal-French stems of the closed fr-doc vocabulary, hand-derived
    * from Savoy's published cascade (>= 6 letters; x/aux, then s, r, e, é,
    * undouble). */
  private val FR_CASE =
    "CASE t WHEN 'chevaux' THEN 'cheval' WHEN 'portes' THEN 'port' " +
      "WHEN 'données' THEN 'don' WHEN 'customer' THEN 'custom' " +
      "WHEN 'filter' THEN 'filt' WHEN 'vector' THEN 'vecto' " +
      "ELSE t END"

  /** Per-language token stream: de docs through the German injection +
    * stem map (umlauts are token chars), fr docs through the French pair,
    * everything else the plain simple-analyzer stream. */
  private val LANGSTEM_TOKS =
    s"CASE WHEN lang = 'de' THEN list_transform(" +
      s"regexp_extract_all(lower($DE_TXT), '[a-z0-9äöüß]+'), t -> $DE_CASE) " +
      s"WHEN lang = 'fr' THEN list_transform(" +
      s"regexp_extract_all(lower($FR_TXT), '[a-z0-9éèêàâçîïôûù]+'), t -> $FR_CASE) " +
      s"ELSE regexp_extract_all(lower(text), '[a-z0-9]+') END"

  private val LANGSTEM_PRELUDE = PRELUDE.replace(TOKS, LANGSTEM_TOKS)

  /** Full BM25 oracle over the WordDelimiter compound index: term tf = raw
    * occurrences (every raw token surfaces once, as a split part or bare
    * trailing token) + compounds whose lowercased concat equals the term
    * (pair boundaries = odd 1-indexed list positions); doc length = raw
    * token count (the preserved original stacks on its first part —
    * discountOverlaps). Same SmallFloat dlq + BM25 shape as PRELUDE. */
  private def wdBmSql(t: String): String =
    s"""WITH wd AS (
       |  SELECT doc_id, len(tk) AS dlen,
       |    len(list_filter(tk, x -> x = '$t'))
       |      + len(list_filter(range(1, len(tk), 2),
       |            i -> tk[i] || tk[i+1] = '$t')) AS tf
       |  FROM (SELECT doc_id, $TOKS AS tk FROM documents)),
       |st AS (SELECT count(*) AS n,
       |              CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl,
       |              (SELECT count(*) FROM wd WHERE tf > 0) AS df FROM wd),
       |dl AS (
       |  SELECT doc_id, tf,
       |    CASE WHEN dlen < 24 THEN dlen
       |         WHEN dlen - 24 < 8 THEN dlen
       |         ELSE 24 + (((dlen - 24) >> (length(format('{:b}', dlen - 24)) - 4))
       |                    << (length(format('{:b}', dlen - 24)) - 4)) END AS dlq
       |  FROM wd)
       |SELECT doc_id, round(s, 4) AS score FROM (
       |  SELECT dl.doc_id, dl.tf,
       |    ln(1 + (st.n - st.df + 0.5) / (st.df + 0.5))
       |      * (dl.tf * (1.2 + 1))
       |      / (dl.tf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) AS s
       |  FROM dl, st
       |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  private def tfSql(t: String) = s"len(list_filter(tk, x -> x = '$t'))"

  /** American Soundex with commons-codec's H/W rule as ONE SQL expression
    * (h/w deleted before run-collapse ≡ "letters separated by h or w code
    * as single"; vowels map to 0 and break runs before being stripped).
    * `flags` is ", 'g'" for DuckDB's regexp_replace (global flag) and ""
    * for Spark (global by default) — the op sequence is identical. */
  private def soundexSql(in: String, flags: String): String = {
    val mapped =
      s"translate($in, 'hwaeiouybfpvcgjkqsxzdtlmnr', '000000111122222222334556')"
    val collapsed =
      (0 to 6).foldLeft(mapped)((a, d) => s"regexp_replace($a, '$d$d+', '$d'$flags)")
    val stripped = s"replace($collapsed, '0', '')"
    val body = s"(CASE WHEN substr($in, 1, 1) IN " +
      s"('a','e','i','o','u','y','h','w') THEN $stripped " +
      s"ELSE substr($stripped, 2) END)"
    s"substr(concat(substr($in, 1, 1), $body, '000'), 1, 4)"
  }
  private def dfSql(t: String) = s"(SELECT count(*) FROM toks WHERE list_contains(tk, '$t'))"
  private def idfSql(df: String) = s"ln(1 + (st.n - $df + 0.5) / ($df + 0.5))"
  /** Textbook double BM25, op order in sync with `Bm25.DoubleScorer.score`. */
  private def bmSql(idf: String, tf: String) =
    s"CASE WHEN $tf = 0 THEN 0.0 ELSE $idf * ($tf * (1.2 + 1)) " +
      s"/ ($tf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END"

  private def hitsDoubleDF(spark: SparkSession, sfDir: String, q: String, k: Int): DataFrame = {
    val (index, searcher) = DocsIndex.get(spark, sfDir)
    searcher.searchDoubleDS(searcher.parse(q), k).toDF()
      .join(DocsIndex.docIdMap(index), "docId")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("score"))
  }

  /** Decoded (docId, term, position) rows for the given terms, straight
    * off the real posting blocks — the position source for the automaton /
    * fragment operators. */
  private def termPos(spark: SparkSession, index: graft.index.GraftIndex,
      terms: Seq[String]): DataFrame = {
    import spark.implicits._
    index.blocks.filter(col("term").isin(terms: _*)).as[BlockRow]
      .flatMap { b =>
        val eb = b.toEncodedBlock
        val docs = PostingsCodec.decodeDocs(eb)
        val freqs = PostingsCodec.decodeFreqs(eb)
        val poss = PostingsCodec.decodePositions(eb, freqs)
        docs.indices.iterator.flatMap(i =>
          poss(i).iterator.map(p => (docs(i), b.term, p.toLong)))
      }.toDF("docId", "term", "p")
  }

  private def matchDF(spark: SparkSession, sfDir: String, q: String): DataFrame = {
    val (index, searcher) = DocsIndex.get(spark, sfDir)
    searcher.matchesDS(searcher.parse(q)).toDF("docId")
      .join(DocsIndex.docIdMap(index), "docId")
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** Column analog of `TopK.round4` (floor(x·1e4 + 0.5)/1e4) — identical
    * to DuckDB's `round(x, 4)` for the non-negative scores it's applied
    * to. floor() keeps the composed rescore/boost arithmetic exactly
    * recomputable by the oracle. */
  private def round4Col(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0)

  /** `roundTo5Digits` (RelatednessAgg.java:495-497): Math.round(v·1e5)/1e5
    * = floor(v·1e5 + 0.5)/1e5. Spelled as floor on BOTH sides because
    * relatedness can be negative, where Math.round (half-UP) and DuckDB's
    * round (half-away-from-zero) disagree. */
  private def round5Col(c: Column): Column =
    floor(c * lit(100000.0) + lit(0.5)).cast("double") / lit(100000.0)

  /** MultipleAdditiveTreesModel node (reference: solr/contrib/ltr/src/java/
    * org/apache/solr/ltr/model/MultipleAdditiveTreesModel.java:124-183):
    * a split routes `feature(i) <= threshold + NODE_SPLIT_SLACK` left, else
    * right; the model score is Σ weightᵗ · treeᵗ(features). ONE tree
    * definition generates BOTH the Spark Column and the oracle SQL CASE, so
    * the traversal arithmetic agrees by construction. */
  private sealed trait LtrNode
  private case class LtrLeaf(value: Double) extends LtrNode
  private case class LtrSplit(feat: Int, threshold: Float,
      left: LtrNode, right: LtrNode) extends LtrNode

  /** NODE_SPLIT_SLACK = 1E-6f added in FLOAT (MultipleAdditiveTreesModel
    * .java:124,151), then widened once — the exact double both engines
    * compare the feature against. */
  private def ltrThresh(t: Float): Double = (t + 1e-6f).toDouble

  /** Weighted trees over features f0 = first-pass BM25 (round4'd), f1 =
    * raw doc token length, f2 = lang=='en' flag. Tree 3 is the reference
    * example's degenerate single-leaf tree. */
  private val ltrTrees: Seq[(Double, LtrNode)] = Seq(
    1.0 -> LtrSplit(0, 0.38f, LtrLeaf(-1.0),
             LtrSplit(1, 56.0f, LtrLeaf(2.5), LtrLeaf(1.25))),
    2.0 -> LtrSplit(2, 0.5f, LtrLeaf(0.25), LtrLeaf(0.75)),
    0.5 -> LtrLeaf(-0.5))

  private def ltrCol(n: LtrNode, f: Seq[Column]): Column = n match {
    case LtrLeaf(v) => lit(v)
    case LtrSplit(i, t, l, r) =>
      when(f(i) <= lit(ltrThresh(t)), ltrCol(l, f)).otherwise(ltrCol(r, f))
  }
  private def ltrSql(n: LtrNode, f: Seq[String]): String = n match {
    case LtrLeaf(v) => v.toString
    case LtrSplit(i, t, l, r) =>
      s"(CASE WHEN ${f(i)} <= ${ltrThresh(t)} THEN ${ltrSql(l, f)} ELSE ${ltrSql(r, f)} END)"
  }
  private def ltrModelSql(f: Seq[String]): String =
    ltrTrees.map { case (w, n) => s"$w * ${ltrSql(n, f)}" }.mkString(" + ")

  /** Binary entropy + information-gain score as ONE SQL expression text
    * shared by engine and oracle (IGainTermsQParserPlugin.java:176-207:
    * score = H(pc) − (df/N·H(xc/df) + (1−df/N)·H((np−xc)/(N−df+1))),
    * H(0)=H(1)=0). Operates over columns xc, dfq, np, nd. */
  private def binEntropySql(p: String): String =
    s"(CASE WHEN ($p) = 0 OR ($p) = 1 THEN 0.0 " +
      s"ELSE (-1 * ($p) * ln($p)) + (-1 * (1.0 - ($p)) * ln(1.0 - ($p))) END)"
  private val igainScoreSql: String = {
    val pc = "(CAST(np AS DOUBLE) / nd)"
    val ect = "(CAST(xc AS DOUBLE) / dfq)"
    val enct = "(CAST(np - xc AS DOUBLE) / (nd - dfq + 1))"
    s"(${binEntropySql(pc)} - ((dfq / nd) * ${binEntropySql(ect)} " +
      s"+ (1.0 - dfq / nd) * ${binEntropySql(enct)}))"
  }

  // ---- MurmurHash3_x86_32 (solr/solrj/src/java/org/apache/solr/common/
  // util/Hash.java:66-132, seed 0) re-expressed as pure 64-bit-safe integer
  // SQL: every 32-bit multiply splits into 16-bit halves so no intermediate
  // exceeds 2^49, wraps masked with &. Shared by the engine column chain and
  // the oracle CTE chain — only the XOR spelling differs per engine. ----
  private val M32 = "4294967295"
  private def m32mul(a: String, b: String): String =
    s"(((($a) & 65535) * ($b) + (((((($a) >> 16) & 65535) * ($b)) & 65535) << 16)) & $M32)"
  private def m32rotl(x: String, r: Int): String =
    s"(((($x) << $r) | (($x) >> ${32 - r})) & $M32)"
  private val M32_C1 = "3432918353"
  private val M32_C2 = "461845907"

  /** The murmur step chain as (alias, expr) pairs; `xor(a,b)` is the only
    * engine-specific spelling (Spark `(a ^ b)`, DuckDB `xor(a, b)`).
    * Handles keys up to 7 bytes (1 block + ≤3 tail bytes) — enough for the
    * corpus routing keys. */
  private def m32Steps(xor: (String, String) => String): Seq[(String, String)] = Seq(
    "ln" -> "length(s)",
    "kraw" -> ("CAST(ascii(substr(s, 1, 1)) + ascii(substr(s, 2, 1)) * 256 " +
      "+ ascii(substr(s, 3, 1)) * 65536 + ascii(substr(s, 4, 1)) * 16777216 AS BIGINT)"),
    "traw" -> ("CAST(CASE WHEN length(s) >= 5 THEN ascii(substr(s, 5, 1)) ELSE 0 END " +
      "+ CASE WHEN length(s) >= 6 THEN ascii(substr(s, 6, 1)) ELSE 0 END * 256 " +
      "+ CASE WHEN length(s) >= 7 THEN ascii(substr(s, 7, 1)) ELSE 0 END * 65536 AS BIGINT)"),
    "k1f" -> m32mul(m32rotl(m32mul("kraw", M32_C1), 15), M32_C2),
    "ktf" -> m32mul(m32rotl(m32mul("traw", M32_C1), 15), M32_C2),
    "h2" -> s"(CASE WHEN ln >= 4 THEN (((${m32rotl("k1f", 13)}) * 5 + 3864292196) & $M32) ELSE 0 END)",
    "h3" -> s"(CASE WHEN ln % 4 <> 0 THEN ${xor("h2", "(CASE WHEN ln >= 4 THEN ktf ELSE k1f END)")} ELSE h2 END)",
    "h4" -> xor("h3", "ln"),
    "h5" -> xor("h4", "(h4 >> 16)"),
    "h6" -> m32mul("h5", "2246822507"),
    "h7" -> xor("h6", "(h6 >> 13)"),
    "h8" -> m32mul("h7", "3266489909"),
    "h" -> xor("h8", "(h8 >> 16)"),
    "shard" -> s"(((h + 2147483648) & $M32) >> 30)")

  /** Jaro similarity (lucene/suggest/src/java/org/apache/lucene/search/
    * spell/JaroWinklerDistance.java:40-95, the `matches`/transpositions
    * core without the Winkler prefix boost): standard match window
    * max(|a|,|b|)/2 − 1, greedy left-to-right matching, half-transposition
    * count. The oracle is DuckDB's INDEPENDENT built-in jaro_similarity. */
  private[queries] def jaroSim(a: String, b: String): Double = {
    if (a == b) return 1.0
    val la = a.length; val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val win = math.max(0, math.max(la, lb) / 2 - 1)
    val am = new Array[Boolean](la); val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + win)
      var j = math.max(0, i - win)
      var matched = false
      while (j <= hi && !matched) {
        if (!bm(j) && a.charAt(i) == b.charAt(j)) {
          am(i) = true; bm(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0; i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    (m.toDouble / la + m.toDouble / lb + (m - t / 2.0) / m) / 3.0
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- index internals, oracle-verified at the token level ----
    // FunctionRangeQParser {!frange l u} (reference: solr/core/src/java/
    // org/apache/solr/search/FunctionRangeQParserPlugin.java — filter docs
    // by a FUNCTION value range, here relative term frequency
    // termfreq('vector')/doclen): tf decoded off the real posting blocks,
    // doc length from the stored len, one exact division per candidate.
    "ft_frange" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val decoded = index.blocks.filter($"term" === "vector").as[BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          docs.indices.iterator.map(i => (docs(i), freqs(i).toLong))
        }.toDF("docId", "tf")
      decoded
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .withColumn("rtf", col("tf").cast("double") / col("len"))
        .filter(col("rtf") >= 0.02 && col("rtf") <= 0.05)
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"rtf")
        .orderBy("doc_id")
    }),
    "ft_postings_tf" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val terms = Seq("spark", "query", "vector")
      val decoded = index.blocks.filter($"term".isin(terms: _*)).as[BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          docs.indices.iterator.map(i => (b.term, docs(i), freqs(i).toLong))
        }.toDF("term", "docId", "tf")
      decoded.join(DocsIndex.docIdMap(index), "docId")
        .select($"term", $"doc_id", $"tf")
        .orderBy("term", "doc_id")
    }),
    // hybrid rank fusion — Reciprocal Rank Fusion (Cormack et al. 2009,
    // the BM25+kNN combiner modern Lucene deployments run): two engine
    // rankings fuse by Σ 1/(60+rank). Ranks are exact integers, so the
    // fused score is one identical IEEE sum in both engines. The global
    // rank here is a window over the scored match set; at scale it's a
    // range-sort + zipWithIndex, same as ft_export's total order.
    "ft_rrf" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      def ranked(q: String) =
        searcher.scoreAllDoubleDS(searcher.parse(q)).toDF("docId", "s")
          .withColumn("rnk",
            row_number().over(Window.orderBy(desc("s"), asc("docId"))).cast("long"))
          .select(col("docId"), col("rnk"))
      val ra = ranked("vector").withColumnRenamed("rnk", "ra")
      val rb = ranked("table").withColumnRenamed("rnk", "rb")
      ra.join(rb, Seq("docId"), "full")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"),
          coalesce(col("ra"), lit(0L)).as("ra"),
          coalesce(col("rb"), lit(0L)).as("rb"),
          round(coalesce(lit(1.0) / (lit(60.0) + col("ra")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)), 6).as("rrf"))
        .orderBy(desc("rrf"), asc("doc_id"))
        .limit(10)
    }),
    // realtime get (solr/core/.../handler/component/RealTimeGetComponent
    // .java: fetch stored fields by id, no query, no scoring): ids resolve
    // through the docId map and the stored-field join-back — at scale a
    // point lookup on the sorted doc_id column (parquet min/max pruning),
    // never a scan
    "ft_get" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir)
      DocsIndex.docIdMap(index).filter(col("doc_id").isin(7L, 42L, 123L))
        .join(index.docs.toDF(), "docId")
        .select(col("doc_id"), col("lang"), col("commit").as("source"),
          col("len").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),
    // the TokenStream surface itself (Solr /analysis handler; Lucene
    // TokenStream contract): (pos, term) rows for docs 0..2 through the
    // English stop chain — stop-filtered tokens leave position GAPS
    // (posIncrement accumulates), which the oracle reproduces as the raw
    // 0-based token index of each surviving token
    "ft_analyze" -> ((spark, sfDir) => {
      import spark.implicits._
      DocsIndex.documents(spark, sfDir).filter(col("doc_id") < 3)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, txt) =>
          graft.analysis.Analyzers.english.analyze(txt)
            .map(t => (id, t.position.toLong, t.term))
        }
        .toDF("doc_id", "pos", "term")
        .orderBy("doc_id", "pos")
    }),
    // positions decoded from the REAL posting blocks (the .pos payload):
    // every occurrence position of 'window', straight off the codec
    "ft_term_positions" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val decoded = index.blocks.filter($"term" === "window").as[BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.flatMap(i => poss(i).iterator.map(p => (docs(i), p.toLong)))
        }.toDF("docId", "pos")
      decoded.join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"pos").orderBy("doc_id", "pos")
    }),
    // PayloadScoreQuery over a span term (reference: lucene/queries/src/
    // java/org/apache/lucene/queries/payloads/PayloadScoreQuery.java:44-75
    // with the Min/Max/Sum/AveragePayloadFunction family, includeSpanScore=
    // false → the payload function IS the score). The corpus carries no
    // payload markup, so the PayloadDecoder (PayloadDecoder.java: bytes →
    // float per position) is a deterministic position-keyed stand-in,
    // payload(pos) = (pos % 11) + 1 — the span-collection and per-doc
    // function semantics (one payload per matching span position, decoded
    // off the REAL .pos blocks) are the operator under test. All four
    // PayloadFunction reductions emitted per doc; payloads are small
    // integers-as-doubles so sums are exact.
    "ft_payload_score" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val decoded = index.blocks.filter($"term" === "merge").as[BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.flatMap(i =>
            poss(i).iterator.map(p => (docs(i), ((p % 11) + 1).toDouble)))
        }.toDF("docId", "payload")
      decoded.groupBy("docId")
        .agg(count(lit(1)).as("tf"),
          min("payload").as("p_min"), max("payload").as("p_max"),
          sum("payload").as("p_sum"),
          round(sum("payload") / count(lit(1)), 4).as("p_avg"))
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"tf", $"p_min", $"p_max", $"p_sum", $"p_avg")
        .orderBy("doc_id")
    }),
    // SpanPayloadCheckQuery (reference: lucene/queries/src/java/org/apache/
    // lucene/queries/payloads/SpanPayloadCheckQuery.java:46-60: a span
    // matches only when the payloads at its positions EQUAL the required
    // list) — span term 'merge' restricted to positions whose decoded
    // payload is exactly 5.0, same position-keyed decoder as
    // ft_payload_score. Emits matching docs + accepted-position counts.
    "ft_payload_check" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val decoded = index.blocks.filter($"term" === "merge").as[BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.flatMap(i =>
            poss(i).iterator
              .filter(p => ((p % 11) + 1).toDouble == 5.0d)
              .map(p => (docs(i), p.toLong)))
        }.toDF("docId", "pos")
      decoded.groupBy("docId").agg(count(lit(1)).as("n_match"))
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"n_match")
        .orderBy("doc_id")
    }),
    // DelimitedPayloadTokenFilter end-to-end (reference: lucene/analysis/
    // common/src/java/org/apache/lucene/analysis/payloads/
    // DelimitedPayloadTokenFilter.java:30-80 + IntegerEncoder): the corpus
    // carries REAL 'merge|3'/'merge|9' markup; payloads are stored inline
    // in posEnc (the .pos payload interleaving) at index time and decoded
    // off the committed blocks here — all four PayloadFunction reductions
    // over genuinely stored bytes
    "ft_payload_delimited" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.Payload)
      val decoded = index.blocks.filter($"term" === "merge").as[BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val pays = PostingsCodec.decodePayloads(eb, freqs)
          docs.indices.iterator.flatMap(i =>
            pays(i).iterator.filter(_ >= 0).map(p => (docs(i), p.toDouble)))
        }.toDF("docId", "payload")
      decoded.groupBy("docId")
        .agg(count(lit(1)).as("tf"),
          min("payload").as("p_min"), max("payload").as("p_max"),
          sum("payload").as("p_sum"),
          round(sum("payload") / count(lit(1)), 4).as("p_avg"))
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"tf", $"p_min", $"p_max", $"p_sum", $"p_avg")
        .orderBy("doc_id")
    }),
    // SpanPayloadCheckQuery over the stored payloads: 'merge' positions
    // whose payload is exactly 9 (the rewritten 'batch' occurrences)
    "ft_payload_delimited_check" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.Payload)
      val decoded = index.blocks.filter($"term" === "merge").as[BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val pays = PostingsCodec.decodePayloads(eb, freqs)
          docs.indices.iterator.flatMap(i =>
            pays(i).iterator.filter(_ == 9).map(_ => (docs(i), 1L)))
        }.toDF("docId", "one")
      decoded.groupBy("docId").agg(count(lit(1)).as("n_match"))
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"n_match")
        .orderBy("doc_id")
    }),
    "ft_term_stats" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val terms = Seq("spark", "query", "vector", "customer", "window")
      index.termStats.filter($"term".isin(terms: _*))
        .select($"term", $"docFreq".as("doc_freq"), $"totalTermFreq".as("total_term_freq"))
        .orderBy("term")
    }),
    "ft_doc_len" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir)
      index.docs.toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("len").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),
    "ft_top_terms" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      index.termStats
        .select($"term", $"docFreq".as("doc_freq"))
        .orderBy(desc("doc_freq"), asc("term"))
        .limit(20)
    }),
    // ---- boolean / phrase / prefix match sets (exact, oracle-verified) ----
    "ft_match_and" -> ((spark, sfDir) => matchDF(spark, sfDir, "spark AND vector AND hash")),
    "ft_match_or" -> ((spark, sfDir) => matchDF(spark, sfDir, "vector OR customer")),
    "ft_match_not" -> ((spark, sfDir) => matchDF(spark, sfDir, "spark NOT vector")),
    "ft_match_phrase" -> ((spark, sfDir) => matchDF(spark, sfDir, "\"big table\"")),
    "ft_match_prefix" -> ((spark, sfDir) => matchDF(spark, sfDir, "cust*")),
    "ft_match_wildcard" -> ((spark, sfDir) => matchDF(spark, sfDir, "w?ndow")),
    // Leading-wildcard via the reversed dictionary — Solr's
    // ReversedWildcardFilter trick (reference: solr/core/src/java/org/apache/
    // solr/analysis/ReversedWildcardFilterFactory.java:30-60 — index-side
    // reversed tokens turn `*able` into the prefix seek `elba*`). Spark
    // re-expression: the term dictionary (termStats, ONE row per term —
    // never the blocks table) gains a reversed-term column; the leading
    // wildcard becomes a startsWith prefix filter over it, and the matching
    // terms execute as an indexed disjunction (ConstSetQ). At cluster scale
    // the reversed column is materialized sorted/bucketed by rterm so this
    // filter is a parquet min/max dictionary seek, exactly like the forward
    // prefix path.
    "ft_rev_wildcard" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val terms = index.termStats
        .withColumn("rterm", reverse(col("term")))
        .filter(col("rterm").startsWith("elba"))
        .select("term").collect().map(_.getString(0)).toSeq.sorted
      val q = graft.search.ConstSetQ(terms)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // CollapsingQParserPlugin with a min-field selector (reference: solr/
    // core/src/java/org/apache/solr/search/CollapsingQParserPlugin.java —
    // collapse=`{!collapse field=source min=len}`): one surviving doc per
    // source group, the one minimizing doc length (docId-asc tiebreak),
    // over the 'vector' match set. Single window-rank pass — no self-join.
    "ft_collapse_min" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val m = searcher.matchesDS(searcher.parse("vector")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("commit").as("source"),
          col("len")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
      val w = Window.partitionBy("source").orderBy(asc("len"), asc("doc_id"))
      m.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("source"), col("doc_id"), col("len").cast("long").as("n_tokens"))
        .orderBy("source")
    }),
    // sloppy phrase: "big table"~2 — every anchor occurrence of 'big' with a
    // 'table' within 2 positions of the exact-phrase slot
    "ft_match_sloppy" -> ((spark, sfDir) => matchDF(spark, sfDir, "\"big table\"~2")),
    // 3-term sloppy phrase through the Lucene window condition (one
    // occurrence per slot, offset-adjusted span <= slop) — the
    // smallest-covering-range sweep, not the anchored 2-term fast path
    "ft_match_sloppy3" -> ((spark, sfDir) => matchDF(spark, sfDir, "\"spark query table\"~3")),
    // FuzzyQuery: terms within Levenshtein distance 2 ('sort' also pulls in
    // 'part'), constant-score rewrite, distributed dictionary walk
    "ft_match_fuzzy" -> ((spark, sfDir) => matchDF(spark, sfDir, "sort~2")),
    // FuzzyQuery with prefixLength (FuzzyQuery.java defaultPrefixLength
    // knob): the first 2 chars must match EXACTLY — the production setting
    // that turns the dictionary pass into a prefix range seek. AST-built
    // (the classic parser has no prefixLength syntax, matching Lucene).
    "ft_match_fuzzy_prefix" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(graft.search.FuzzyQ("sort", 2, prefixLength = 2)).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    // FuzzyQuery with transpositions=true — Lucene's DEFAULT fuzzy semantics
    // (FuzzyQuery.java defaultTranspositions): adjacent swaps cost ONE edit.
    // Engine computes unrestricted Damerau-Levenshtein over the dictionary;
    // the oracle recomputes the identical function via DuckDB's
    // damerau_levenshtein(). (QueryParserSpec pins the divergent cases —
    // dl('abaa','baaa')=1 vs lev=2 — on synthetic dictionaries.)
    "ft_match_fuzzy_dl" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(graft.search.FuzzyQ("sort", 2, transpositions = true)).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    // TermRangeQuery: lexicographic [row TO sort] — pushes down to parquet
    // term min/max pruning like a dictionary seek
    "ft_match_range" -> ((spark, sfDir) => matchDF(spark, sfDir, "[row TO sort]")),
    // RegexpQuery: anchored regex over the term dictionary
    "ft_match_regexp" -> ((spark, sfDir) => matchDF(spark, sfDir, "/s(can|ort|low)/")),
    // minShouldMatch >= 2 of 3 (MinShouldMatchSumScorer analog) — AST-built
    "ft_match_msm" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.BoolQ(
        should = Seq(graft.search.TermQ("vector"), graft.search.TermQ("customer"),
          graft.search.TermQ("hash")),
        minShouldMatch = 2)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    // facet over a search match set (Solr FacetModule applies facets to the
    // query result, not the raw table): lang buckets of the OR match set
    "ft_facet_lang" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(searcher.parse("vector OR customer")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("lang")), "docId")
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang")
    }),
    // hierarchical taxonomy facet over a match set (lucene/facet
    // FacetField("origin", lang, source): counts at the root's children and
    // at each lang's children, like TaxonomyFacetCounts.getTopChildren on
    // both levels; reference: lucene/facet/src/java/org/apache/lucene/facet/
    // taxonomy/TaxonomyFacetCounts.java, FacetField.java)
    "ft_facet_path" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val m = searcher.matchesDS(searcher.parse("table")).toDF("docId")
        .join(index.docs.toDF()
          .select(col("docId"), col("lang"), col("commit").as("source")), "docId")
      val lvl1 = m.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .select(col("lang").as("path"), col("cnt"))
      val lvl2 = m.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("cnt"))
        .select(concat(col("lang"), lit("/"), col("source")).as("path"), col("cnt"))
      lvl1.unionAll(lvl2).orderBy(desc("cnt"), asc("path")).limit(20)
    }),
    // DrillSideways (lucene/facet DrillSideways.java: for each dimension,
    // facet counts computed with the drill-down constraints of every OTHER
    // dimension applied): base query + drill lang='en', source='src3'
    "ft_drill_sideways" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val m = searcher.matchesDS(searcher.parse("vector")).toDF("docId")
        .join(index.docs.toDF()
          .select(col("docId"), col("lang"), col("commit").as("source")), "docId")
      val langSide = m.filter(col("source") === "src3")
        .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
        .select(lit("lang").as("dim"), col("lang").as("value"), col("cnt"))
      val srcSide = m.filter(col("lang") === "en")
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .select(lit("source").as("dim"), col("source").as("value"), col("cnt"))
      langSide.unionAll(srcSide).orderBy(asc("dim"), desc("cnt"), asc("value"))
    }),
    // sort-by-field over search hits (TopFieldCollector: rank the match set
    // by a doc-value column instead of BM25 — longest matching docs first)
    "ft_sort_field" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(searcher.parse("spark AND vector")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("len"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("len").cast("long").as("n_tokens"))
    }),
    // index sorting + early termination (IndexWriterConfig.setIndexSort +
    // TopFieldCollector.canEarlyTerminate): the lang-sorted index makes
    // docId order = (lang, doc_id) order, so each doc-range partition stops
    // after its first 10 matches instead of scoring every match
    "ft_index_sort" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Sorted)
      searcher.searchByIndexOrder(graft.search.TermQ("vector"), 10).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("lang")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(asc("lang"), asc("doc_id"))
        .limit(10)
        .select(col("lang"), col("doc_id"))
    }),
    // numeric docvalues updates (IndexWriter.updateNumericDocValue): the
    // 'popularity' field starts as the token count, then two stacked update
    // generations rewrite slices of it WITHOUT reindexing; sort-by-docvalue
    // over a match set reads the latest generation
    "ft_dv_update" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WithDocValues)
      searcher.matchesDS(graft.search.TermQ("vector")).toDF("docId")
        .join(index.docValues.toDF().filter(col("field") === "popularity")
          .select(col("docId"), col("value").as("popularity")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("popularity"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("popularity"))
    }),
    // IndexOrDocValuesQuery / numeric range over docvalues (reference:
    // lucene/core/src/java/org/apache/lucene/search/IndexOrDocValuesQuery.java
    // — a range verified against the doc-values when it rides another
    // query's match set, instead of a points scan; sandbox
    // IndexSortSortedNumericDocValuesRangeQuery.java is the sorted-index
    // variant): 'merge' matches filtered to popularity ∈ [40, 200] off the
    // gen-stacked dv table (latest generation wins, like ft_dv_update).
    // The dv join is keyed on docId — a verify-per-candidate, never a scan.
    "ft_dv_range" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WithDocValues)
      searcher.matchesDS(graft.search.TermQ("merge")).toDF("docId")
        .join(index.docValues.toDF().filter(col("field") === "popularity")
          .select(col("docId"), col("value")), "docId")
        .filter(col("value") >= 40 && col("value") <= 200)
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("value").as("popularity"))
        .orderBy("doc_id")
    }),
    // DocValuesStats collector (reference: lucene/misc/src/java/org/
    // apache/lucene/misc/search/DocValuesStats.java + DocValuesStatsCollector
    // — count/min/max/sum/mean/variance of a numeric dv over a query's
    // match set): one distributed agg of exact BIGINT moments over the
    // match-set∙dv join; mean and sample variance are shared expression
    // text (identical IEEE sequence on identical exact operands).
    "ft_dv_stats" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WithDocValues)
      searcher.matchesDS(graft.search.TermQ("merge")).toDF("docId")
        .join(index.docValues.toDF().filter(col("field") === "popularity")
          .select(col("docId"), col("value")), "docId")
        .agg(count(lit(1)).as("n"), min("value").as("min_v"),
          max("value").as("max_v"), sum("value").as("s"),
          sum(expr("value * value")).as("q"))
        .selectExpr("n", "min_v", "max_v", "s",
          "round(CAST(s AS DOUBLE) / n, 4) AS mean_v",
          "round((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1), 4) AS var_v")
    }),
    // CommonGramsQueryFilter execution (reference: lucene/analysis/common/
    // src/java/org/apache/lucene/analysis/commongrams/
    // CommonGramsQueryFilter.java — a phrase containing a common word
    // rewrites to the single gram term, so the stopword phrase "the table"
    // is ONE postings lookup instead of a positional intersection against
    // the corpus's highest-df term): BM25 over the gram's real tf/df with
    // the unigram doc length (grams are stacked, discountOverlaps).
    "ft_commongrams" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.CommonGrams)
      searcher.searchDoubleDS(graft.search.TermQ("the_table"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // TermAutomatonQuery (reference: lucene/sandbox/src/java/org/apache/
    // lucene/search/TermAutomatonQuery.java — an automaton over terms at
    // positions; here the two accepted paths are `merge query` and
    // `merge table query`, i.e. an optional middle state): positions decode
    // off the real posting blocks; each path is a per-doc equi-join on
    // (docId, consecutive positions) — never a full-text rescan.
    "ft_term_automaton" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir)
      val pos = termPos(spark, index, Seq("merge", "table", "query"))
      val m = pos.filter(col("term") === "merge").select(col("docId"), col("p").as("pm"))
      val t = pos.filter(col("term") === "table").select(col("docId").as("dt"), col("p").as("pt"))
      val q = pos.filter(col("term") === "query").select(col("docId").as("dq"), col("p").as("pq"))
      val direct = m.join(q, col("docId") === col("dq") && col("pq") === col("pm") + 1)
        .select("docId")
      val via = m.join(t, col("docId") === col("dt") && col("pt") === col("pm") + 1)
        .join(q, col("docId") === col("dq") && col("pq") === col("pm") + 2)
        .select("docId")
      direct.union(via).distinct()
        .join(DocsIndex.docIdMap(index), "docId")
        .select("doc_id").orderBy("doc_id")
    }),
    // FastVectorHighlighter fragment selection (reference: lucene/
    // highlighter/src/java/org/apache/lucene/search/vectorhighlight/
    // FieldPhraseList.java + BaseFragListBuilder.java — fragments anchor at
    // match positions and score by the sum of contained phrase boosts,
    // boost 1 per occurrence): per doc, the best 20-position window
    // anchored at a hit of {merge, table}, ties to the earliest start.
    // Candidate windows come from a positions self-join (bounded by
    // per-doc hit counts), the per-doc argmax is one window function.
    "ft_fvh_fragment" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val (index, _) = DocsIndex.get(spark, sfDir)
      val pos = termPos(spark, index, Seq("merge", "table"))
        .select(col("docId"), col("p").as("s"))
      val b = pos.select(col("docId").as("d2"), col("s").as("p2"))
      val counts = pos.join(b,
          col("docId") === col("d2") && col("p2").between(col("s"), col("s") + 19))
        .groupBy("docId", "s").agg(count(lit(1)).as("n_match"))
      val w = Window.partitionBy("docId").orderBy(desc("n_match"), asc("s"))
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("n_match"), asc("doc_id")).limit(10)
        .selectExpr("doc_id", "CAST(s AS BIGINT) AS frag_start", "n_match")
    }),
    // FunctionScoreQuery.boostByQuery (reference: lucene/queries/src/java/
    // org/apache/lucene/queries/function/FunctionScoreQuery.java:101-104 —
    // score of the main query multiplied by boostValue wherever the boost
    // query also matches, unchanged elsewhere): the boost match set rides
    // the same distributed scatter as a left join; x2.0 is an exact IEEE
    // doubling of the already-4-decimal score, so the final round4 is
    // reproducible bit-for-bit in the oracle.
    "ft_boost_by_query" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val base = searcher.scoreAllDoubleDS(searcher.parse("merge")).toDF("docId", "s")
      val boost = searcher.matchesDS(graft.search.TermQ("table")).toDF("docId")
        .withColumn("hit", lit(1))
      base.join(boost, Seq("docId"), "left")
        .withColumn("score", round4Col(col("s") *
          when(col("hit").isNotNull, lit(2.0)).otherwise(lit(1.0))))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // InetAddressPoint 1-D range query (reference: lucene/misc/src/java/
    // org/apache/lucene/document/InetAddressPoint.java — IPs encoded to
    // sortable bytes, ranges compared in the encoded domain): each doc
    // carries a deterministic synthetic IPv4 (the ft_dv_range stacked-gen
    // discipline); the engine round-trips dotted-string -> octets ->
    // sortable u32 exactly like the codec's encode, then applies the range
    // over the term match set. All integer arithmetic.
    "ft_ip_range" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val withIp = searcher.matchesDS(graft.search.TermQ("hash")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .withColumn("ip", concat_ws(".", lit(10),
          (col("doc_id") * 7919) % 256, (col("doc_id") * 104729) % 256,
          col("doc_id") % 256))
      val p = split(col("ip"), "\\.")
      withIp
        .withColumn("ipnum",
          p.getItem(0).cast("long") * lit(16777216L) +
            p.getItem(1).cast("long") * lit(65536L) +
            p.getItem(2).cast("long") * lit(256L) + p.getItem(3).cast("long"))
        .filter(col("ipnum").between(171966464L, 180355071L))
        .select(col("doc_id"), col("ip"))
        .orderBy("doc_id")
    }),
    // query-time join (lucene/join JoinUtil.createJoinQuery): select every
    // doc whose join-field value (the source label, stored in `commit`)
    // occurs among the docs matching the from-query — from-side values are a
    // small distinct set, broadcast to the to-side scan (Lucene collects
    // fromField terms, then filters)
    "ft_join" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val fromRepos = searcher.matchesDS(searcher.parse("\"big table\"")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("commit")), "docId")
        .select("commit").distinct()
      index.docs.toDF().select(col("docId"), col("commit"))
        .join(broadcast(fromRepos), "commit")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    // eDisMax over per-field indexes (solr/core/src/java/org/apache/solr/
    // search/ExtendedDismaxQParser.java: each query term scores every field
    // in qf independently, DisjunctionMax with the field boost picks the
    // winner, and the per-term maxima sum). qf = "text^1 source^2"; the
    // source field has its OWN inverted index (one token per doc), exactly
    // as Lucene keeps one postings list per (field, term).
    "ft_edismax" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val (sIdx, sSearcher) = DocsIndex.get(spark, sfDir, DocsIndex.SourceField)
      def fieldScores(sr: graft.search.GraftSearcher,
                      idx: graft.index.GraftIndex, t: String): DataFrame =
        sr.scoreAllDoubleDS(sr.parse(t)).toDF("docId", "s")
          .join(DocsIndex.docIdMap(idx), "docId")
          .select(col("doc_id"), col("s"))
      val perTerm = Seq("vector", "src3").map { t =>
        fieldScores(searcher, index, t).withColumnRenamed("s", "st")
          .join(fieldScores(sSearcher, sIdx, t).withColumnRenamed("s", "ss"),
            Seq("doc_id"), "full")
          .na.fill(0.0, Seq("st", "ss"))
          .select(col("doc_id"), greatest(col("st"), col("ss") * lit(2.0)).as("s"))
      }.reduce(_ unionByName _)
      perTerm.groupBy("doc_id").agg(round4Col(sum("s")).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // query-time join with scores (lucene/join JoinUtil.createJoinQuery
    // ScoreMode.Max; reference: lucene/join/src/java/org/apache/lucene/
    // search/join/TermsIncludingScoreQuery.java): the from-query's BM25
    // scores aggregate per join value (max), and every to-side doc with
    // that value inherits the aggregated score. The per-value score table
    // is small (distinct join values) and broadcast to the to-side scan.
    "ft_join_scored" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val from = searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "s")
        .join(index.docs.toDF().select(col("docId"), col("commit")), "docId")
        .groupBy("commit").agg(max("s").as("score"))
      index.docs.toDF().select(col("docId"), col("commit"))
        .join(broadcast(from), "commit")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20)
    }),
    // JoinUtil ScoreMode.Total (reference: lucene/join/src/java/org/apache/
    // lucene/search/join/JoinUtil.java createJoinQuery + ScoreMode.Total):
    // per-join-value score = SUM of from-side hit scores. Numeric
    // discipline: round4 scores become exact integer ten-thousandths before
    // the sum, so the per-group total is an order-independent BIGINT.
    "ft_join_scored_total" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val from = searcher.scoreAllDoubleDS(searcher.parse("stream")).toDF("docId", "s")
        .join(index.docs.toDF().select(col("docId"), col("commit")), "docId")
        .groupBy("commit")
        .agg(sum(round(col("s") * 10000).cast("long")).as("score_1e4"))
      index.docs.toDF().select(col("docId"), col("commit"))
        .join(broadcast(from), "commit")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("score_1e4"))
        .orderBy(desc("score_1e4"), asc("doc_id"))
        .limit(20)
    }),
    // JoinUtil ScoreMode.Avg: total in exact 1e-4 integer units, then two
    // IEEE divisions on exact operands (sum/10000.0, then /count) — the
    // same double both engines compute bit-for-bit.
    "ft_join_scored_avg" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val from = searcher.scoreAllDoubleDS(searcher.parse("group")).toDF("docId", "s")
        .join(index.docs.toDF().select(col("docId"), col("commit")), "docId")
        .groupBy("commit")
        .agg(((sum(round(col("s") * 10000).cast("long")).cast("double") / 10000.0d)
          / count(lit(1))).as("score"))
      index.docs.toDF().select(col("docId"), col("commit"))
        .join(broadcast(from), "commit")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20)
    }),
    // CoveringQuery (lucene/sandbox/src/java/org/apache/lucene/search/
    // CoveringQuery.java): match docs where the NUMBER of matching clauses
    // >= a per-doc LongValuesSource — here len % 3 + 1. Each clause's
    // match set comes off the real index scatter; the count is one groupBy.
    "ft_covering" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val clauses = Seq("vector", "table", "customer", "window")
      val matches = clauses.map(t => searcher.matchesDS(searcher.parse(t)).toDF("docId"))
        .reduce(_ unionByName _)
      matches.groupBy("docId").agg(count(lit(1)).as("n_matched"))
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .filter(col("n_matched") >= pmod(col("len"), lit(3)) + lit(1))
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("n_matched"))
        .orderBy("doc_id")
    }),
    // IndexOrDocValuesQuery composition: term match via the inverted index,
    // numeric range via the doc-values column (index.docs.len) — Lucene picks
    // per-segment between postings and docvalues; here Catalyst joins the
    // match set against the column store
    "ft_match_docvalues" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(searcher.parse("vector")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .filter(col("len").between(50, 80))
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    // ---- deletes: tombstoned docs (doc_id % 7 == 0) stop matching every
    // query shape immediately — term sets, NOT/MatchAll anchors, and scored
    // top-k all honor the .liv-analog tombstones ----
    "ft_delete_match" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WithDeletes)
      searcher.matchesDS(searcher.parse("vector OR customer")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    "ft_delete_not" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WithDeletes)
      searcher.matchesDS(searcher.parse("NOT vector")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    "ft_delete_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WithDeletes)
      searcher.searchDoubleDS(searcher.parse("vector"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // ---- BM25 top-k, double-scored + oracle-verified (the same engine
    // path — blocks, norms, scatter/merge — with DuckDB-recomputable math;
    // the Float-exact + pruning path is differential-tested in SearchSpec) ----
    "ft_search_term" -> ((spark, sfDir) => hitsDoubleDF(spark, sfDir, "vector", 10)),
    // ClassicSimilarity (practical TF-IDF) top-10 through the pluggable
    // Similarity (IndexSearcher.setSimilarity analog; reference:
    // lucene/core/src/java/org/apache/lucene/search/similarities/ClassicSimilarity.java:
    // tf = sqrt(freq), idf = ln((docCount+1)/(df+1)) + 1, norm = 1/sqrt(dl))
    // — same postings/norm-byte inputs as BM25, quantized dl in the oracle
    "ft_search_tfidf" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.ClassicSim)
      s.searchDoubleDS(s.parse("vector"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // SweetSpotSimilarity top-10 (reference: lucene/misc/src/java/org/
    // apache/lucene/misc/SweetSpotSimilarity.java:117-165): doc lengths
    // inside the [30, 70] sweet spot get lengthNorm 1.0, outside decays as
    // 1/sqrt(0.5·excess + 1); tf floors at 1.5 for freq ≤ 2 then grows as
    // sqrt(freq + 1.5² − 2). Exercises a plateau norm over the same
    // norm-byte inputs as the other TF-IDF-family rows.
    "ft_search_sweetspot" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(
        graft.search.SweetSpotSim(lnMin = 30, lnMax = 70))
      s.searchDoubleDS(s.parse("filter"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // LMDirichletSimilarity top-10 (reference: LMDirichletSimilarity.java:74-88,
    // mu = 2000; p(w|C) = (ttf+1)/(sumTotalTermFreq+1), LMSimilarity.java:55)
    // — exercises the totalTermFreq stats the dictionary carries per term
    "ft_search_lmd" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.LMDirichletSim())
      s.searchDoubleDS(s.parse("table"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // LMJelinekMercer (λ=0.1) top-10 (reference: LMJelinekMercerSimilarity.java:63-68)
    "ft_search_lmjm" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.LMJelinekMercerSim())
      s.searchDoubleDS(s.parse("batch"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // DFI (standardized) top-10 (reference: DFISimilarity.java:55-65,
    // IndependenceStandardized.java:28-30)
    "ft_search_dfi" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.DFISim())
      s.searchDoubleDS(s.parse("vector"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // DFI with the Saturated independence measure (f−e)/e (reference:
    // lucene/core/.../similarities/IndependenceSaturated.java:28-31)
    "ft_search_dfi_sat" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.DFISim("sat"))
      s.searchDoubleDS(s.parse("table"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // DFI with the ChiSquared measure (f−e)²/e (reference:
    // lucene/core/.../similarities/IndependenceChiSquared.java:28-31)
    "ft_search_dfi_chi" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.DFISim("chi"))
      s.searchDoubleDS(s.parse("merge"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // DFR G-B-H1 (BasicModelG.java:36-51, AfterEffectB.java:31-36,
    // NormalizationH1.java:56-58): geometric Bose-Einstein with the
    // bonus-after-effect and linear length normalization.
    "ft_search_dfr_gb1" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.DFRGB1Sim())
      s.searchDoubleDS(s.parse("batch"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // IB SPL-TTF-H2 (DistributionSPL.java:36-59, LambdaTTF.java:31-38):
    // smoothed power-law information model.
    "ft_search_ib_spl" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.IBSPLSim())
      s.searchDoubleDS(s.parse("scan"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // Axiomatic F2-LOG (AxiomaticF2LOG.java:61-79 — ln idf, same tfln)
    "ft_search_axiomatic_f2log" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.AxiomaticF2LOGSim())
      s.searchDoubleDS(s.parse("line"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // MultiSimilarity CombSUM (lucene/core/.../similarities/
    // MultiSimilarity.java:34-58): BM25 + Classic summed per (freq, norm)
    // for the SAME term — unlike ft_perfield_sim's per-clause sims.
    "ft_search_multisim" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.MultiSim(
        Seq(graft.search.Bm25Sim(1.2f, 0.75f), graft.search.ClassicSim)))
      s.searchDoubleDS(s.parse("window"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // DFR InL2 (reference: DFRSimilarity.java:110-114, BasicModelIn.java:36-43,
    // AfterEffectL.java:32-34, NormalizationH2.java:58-59) top-10
    "ft_search_dfr" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.DFRInL2Sim())
      s.searchDoubleDS(s.parse("merge"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // IB LL-D-H2 (reference: IBSimilarity.java score, DistributionLL.java:33-34,
    // LambdaDF.java:36-38, NormalizationH2.java:58-59) top-10
    "ft_search_ib" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.IBLLSim())
      s.searchDoubleDS(s.parse("window"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // Axiomatic F2EXP (reference: Axiomatic.java:104-110,
    // AxiomaticF2EXP.java:61-94; s=0.25, k=0.35) top-10
    "ft_search_axiomatic" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.AxiomaticF2EXPSim())
      s.searchDoubleDS(s.parse("sort"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // BooleanSimilarity: score = Σ boosts of matched SHOULD clauses
    // (reference: BooleanSimilarity.java:59-61); exercises boost-passthrough
    // and the disjunction's clause-order sum under a non-default Similarity
    "ft_search_boolsim" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.BooleanSim)
      s.searchDoubleDS(s.parse("vector^1.5 OR batch"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // QueryElevationComponent (solr/core/.../QueryElevationComponent.java:
    // 630-673 priority = size..1 in config order, :514-527 exclusions as
    // mustNot, :529-555 sort = priority desc then score): elevated docs are
    // pinned on top in config order (with their real score when they match,
    // 0 otherwise), excluded docs never returned, rest ranked by BM25
    "ft_elevate" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val elevate = Seq(11L, 3L, 7L) // priority order, first = highest
      val exclude = Seq(1L)
      val k = 10
      val idMap = DocsIndex.docIdMap(index)
      val q = searcher.parse("vector")
      // top k + |elevate| + |exclude| candidates cover every displacement
      val scored = searcher.searchDoubleDS(q, k + elevate.size + exclude.size).toDF()
        .join(idMap, "docId").select(col("doc_id"), col("score"))
      // real scores for the elevated set (leapfrog over just those docIds)
      val elevInternal = idMap.filter(col("doc_id").isin(elevate: _*))
        .select("docId").as[Long].collect()
      val elevScores = searcher.scoreAllDoubleDS(q, elevInternal).toDF()
        .join(idMap, "docId").select(col("doc_id"), col("score"))
      val prioRows = elevate.zip(elevate.size to 1 by -1).toDF("doc_id", "prio")
      val elevated = prioRows.join(elevScores, Seq("doc_id"), "left")
        .select(col("doc_id"), lit(1).as("elevated"),
          coalesce(col("score"), lit(0.0)).as("score"), col("prio"))
      val rest = scored
        .filter(!col("doc_id").isin((elevate ++ exclude): _*))
        .select(col("doc_id"), lit(0).as("elevated"), col("score"), lit(0).as("prio"))
      elevated.unionAll(rest)
        .orderBy(desc("prio"), desc("score"), asc("doc_id"))
        .limit(k)
        .select(col("doc_id"), col("elevated"), col("score"))
    }),
    // BM25 top-10 over the ShingleFilter bigram index: the posting term is
    // 'big_table', doc length/norms/avgdl are all over the shingle stream
    "ft_shingle_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Shingled)
      searcher.searchDoubleDS(graft.search.TermQ("big_table"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // ---- WordDelimiterGraphFilter (code-identifier) index: the corpus
    // camelCase-compounded deterministically (DocsIndex.camelize), each
    // compound indexed as preserved-original + case-split parts, parts at
    // the positions the words had in the raw text (Analyzer.wdExpand) ----
    // BM25 for a PART term: tf('vector') = raw occurrences (each raw token
    // surfaces exactly once, as a part or bare) + any compound whose concat
    // equals the term; dl = discountOverlaps length = raw token count
    "ft_wd_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WordDelim)
      searcher.searchDoubleDS(graft.search.TermQ("vector"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // BM25 for the PRESERVED ORIGINAL: 'fasthash' matches only where the
    // raw pair ('fast','hash') landed on a pair boundary (odd 1-indexed i)
    "ft_wd_compound" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WordDelim)
      searcher.searchDoubleDS(graft.search.TermQ("fasthash"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // exact phrase over PARTS: wd part positions equal raw-text positions,
    // so "fast hash" matches every raw adjacency — inside one compound
    // (fastHash) AND across two compounds (…Fast hash…) alike
    "ft_wd_phrase" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WordDelim)
      searcher.matchesDS(graft.search.PhraseQ(Seq("fast", "hash"), Seq(0, 1))).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    "ft_search_bool" -> ((spark, sfDir) => hitsDoubleDF(spark, sfDir, "(table OR vector) AND batch", 10)),
    // prohibited clause through the SCORED path: MUST_NOT filters, never
    // contributes score (BooleanWeight: prohibited scorers are
    // two-phase-excluded, reqExcl)
    "ft_search_not" -> ((spark, sfDir) => hitsDoubleDF(spark, sfDir, "vector AND NOT table", 10)),
    // minimumNumberShouldMatch through the SCORED path (Boolean2ScorerSupplier
    // -> MinShouldMatchSumScorer: docs matching >= msm optional clauses,
    // score = sum over the MATCHING clauses only)
    "ft_search_msm" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.BoolQ(
        should = Seq(graft.search.TermQ("vector"), graft.search.TermQ("customer"),
          graft.search.TermQ("hash")),
        minShouldMatch = 2)
      searcher.searchDoubleDS(q, 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    "ft_search_phrase" -> ((spark, sfDir) => hitsDoubleDF(spark, sfDir, "\"big table\" OR customer", 10)),
    // sloppy phrase scored: BM25 over the sloppy phrase frequency
    "ft_search_sloppy" -> ((spark, sfDir) => hitsDoubleDF(spark, sfDir, "\"big table\"~2", 10)),
    // DisjunctionMax: max of per-field/per-term scores + tieBreak * others
    "ft_search_dismax" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.DisMaxQ(
        Seq(graft.search.TermQ("vector"), graft.search.TermQ("customer")), 0.5f)
      searcher.searchDoubleDS(q, 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // BlendedTermQuery: both clauses scored with the blended (max) df, then
    // DisjunctionMax(0.5) — distinct from dismax (per-term dfs) and from
    // synonym (merged pseudo-term)
    "ft_search_blended" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.BlendedTermQ(Seq("vector", "customer"), 0.5f)
      searcher.searchDoubleDS(q, 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // BoostQuery scored: ^2 multiplies the clause weight BEFORE the idf
    // product (DoubleScorer.weightD = boost * idf), oracle-recomputed
    "ft_search_boost" -> ((spark, sfDir) =>
      hitsDoubleDF(spark, sfDir, "vector^2.0 OR customer", 10)),
    // SynonymQuery: terms scored as one pseudo-term
    "ft_search_synonym" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.SynonymQ(Seq("spark", "query"))
      searcher.searchDoubleDS(q, 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // TOP_TERMS_SCORING_BOOLEAN_REWRITE: fuzzy expansion as SCORED clauses —
    // each matching dictionary term boosted by similarity 1 − dist/min(len)
    // ('sort'→1.0, 'part'→0.5 here), BM25-scored and summed, instead of the
    // CONSTANT_SCORE union ft_match_fuzzy pins
    "ft_search_fuzzy_scored" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = searcher.scoringRewrite(graft.search.FuzzyQ("sort", 2), 5)
      searcher.searchDoubleDS(q, 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // searchAfter pagination: page 2 of the 'vector' ranking
    "ft_search_after" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = searcher.parse("vector")
      val page1 = searcher.searchDouble(q, 10)
      if (page1.isEmpty) {
        // empty first page -> empty second page (don't dereference .last)
        spark.createDataFrame(Seq.empty[(Long, Double)]).toDF("doc_id", "score")
      } else {
        searcher.searchDoubleDS(q, 10, page1.last).toDF()
          .join(DocsIndex.docIdMap(index), "docId")
          .orderBy(desc("score"), asc("doc_id")).limit(10)
          .select(col("doc_id"), col("score"))
      }
    }),
    // percolator / lucene-monitor: standing queries evaluated against every
    // document map-only (no index, no shuffle) — each (doc, query) match is
    // one event row; the matcher shares the engine's AST semantics
    "ft_monitor" -> ((spark, sfDir) => {
      val standing = Seq(
        "q_bool" -> graft.search.BoolQ(
          must = Seq(graft.search.TermQ("spark")),
          mustNot = Seq(graft.search.TermQ("vector"))),
        "q_phrase" -> graft.search.PhraseQ(Seq("big", "table"), Seq(0, 1)),
        "q_vector" -> graft.search.TermQ("vector"))
      graft.streaming.QueryMonitor
        .matchBatch(DocsIndex.files(spark, sfDir), standing, graft.analysis.Analyzers.simple)
        .toDF()
        .withColumn("doc_id", expr("CAST(substring(path, 4) AS BIGINT)"))
        .select(col("doc_id"), col("queryName").as("query_name"))
        .orderBy("doc_id", "query_name")
    }),
    // StopFilter + posIncrement gaps under the oracle (EnglishAnalyzer stop
    // set): query-time analysis of "big the table" drops 'the' but keeps the
    // position gap (big=0, table=2), so the exact phrase matches docs where
    // big and table sit TWO raw positions apart with anything between —
    // 29 docs here vs 24 for the adjacent phrase, so a gap-less
    // implementation provably fails this row
    "ft_stop_phrase" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.English)
      searcher.matchesDS(searcher.parse("\"big the table\"")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    // stopwords are dropped at BOTH index and query time: 'the' analyzes to
    // nothing, so "the OR value" degenerates to the 'value' term query
    "ft_stop_count" -> ((spark, sfDir) => {
      val (_, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.English)
      searcher.matchesDS(searcher.parse("the OR value")).toDF("docId")
        .agg(count(lit(1)).as("total_hits"))
    }),
    // engine-default UAX#29 analyzer under the oracle: a second index built
    // with Analyzers.standard (Analyzer.scala:38-133); the corpus is pure
    // [a-z0-9 ] text, so tokenization — and therefore df/avgdl/norms/tf and
    // every score — must agree with the SQL-expressible simple analyzer
    "ft_uax_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Standard)
      searcher.searchDoubleDS(searcher.parse("vector"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // ASCIIFoldingFilter under the hard oracle (reference: lucene/analysis/
    // common/src/java/org/apache/lucene/analysis/miscellaneous/
    // ASCIIFoldingFilter.java): the corpus is deterministically accented
    // ('table'→'tablé' …) and indexed through UAX#29 + LowerCase +
    // ASCIIFolding; searching the unaccented 'table' must read the folded
    // posting list with BM25 stats identical to the unaccented corpus —
    // the oracle re-accents in SQL and folds with DuckDB strip_accents.
    "ft_ascii_fold" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Folded)
      searcher.searchDoubleDS(searcher.parse("table"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // HTMLStripCharFilter under the hard oracle (reference: lucene/analysis/
    // common/src/java/org/apache/lucene/analysis/charfilter/
    // HTMLStripCharFilter.jflex): the corpus is wrapped in deterministic
    // markup (document shell, <b>-tagged 'table', an &amp; entity) and the
    // char filter must remove ALL of it before tokenization — a leaked
    // 'html'/'body'/'class'/'b'/'amp' token would inflate doc lengths and
    // shift every norm; the oracle strips the same markup in SQL.
    "ft_html_strip" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Html)
      searcher.searchDoubleDS(searcher.parse("table"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // EnglishMinimalStemFilter (Harman S-stemmer) under the hard oracle:
    // index + query analysis both stem, so searching the plural 'tables'
    // reads the 'table' posting list; BM25 stats (df/tf) are post-stem
    "ft_stem_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Stemmed)
      searcher.searchDoubleDS(searcher.parse("tables"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // the ies->y stemmer arm on both sides: 'queries' -> 'query' at query
    // time, and every pluralized 'queries' token in the corpus stems back
    "ft_stem_match" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Stemmed)
      searcher.matchesDS(searcher.parse("queries")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // CJK bigram chain: the two-ideograph query 数据 analyzes to ONE bigram
    // term whose postings exist only where the injected Han run 数据流
    // produced the 数据+据流 bigrams; BM25 stats over the bigrammed stream
    "ft_cjk_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Cjk)
      searcher.searchDoubleDS(searcher.parse("数据"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // a lone ideograph (键) is NOT bigrammed — unigram postings
    "ft_cjk_unigram" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Cjk)
      searcher.matchesDS(searcher.parse("键")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // dictionary longest-match CJK segmentation (kuromoji-lite; reference:
    // lucene/analysis/kuromoji/.../ja/JapaneseTokenizer.java mode NORMAL —
    // known lexicon words win, unknown spans fall back to character
    // handling): query terms are one DICT word (数据流) and one OOV-tail
    // BIGRAM (储器); both posting lists exist only because segmentation
    // split the injected runs exactly there
    "ft_cjk_dict_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.CjkDict)
      searcher.searchDoubleDS(searcher.parse("数据流 OR 储器"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // whole-dictionary audit of the segmented index: every term with
    // df/ttf — any run the segmenter splits differently from the oracle's
    // hand-derived run map surfaces here
    "ft_cjk_dict_terms" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.CjkDict)
      index.termStats
        .select($"term", $"docFreq".as("doc_freq"),
          $"totalTermFreq".as("total_term_freq"))
        .orderBy("term")
    }),
    // WordBreakSpellChecker break suggestions: fused misspellings split at
    // every boundary whose halves are both dictionary terms, ranked by the
    // rarer half's frequency
    "ft_spell_wordbreak" -> ((spark, sfDir) => {
      val (_, searcher) = DocsIndex.get(spark, sfDir)
      searcher.suggestWordBreaks(Seq("sortmerge", "bigtable", "datakey"))
    }),
    // WordBreakSpellChecker combine suggestions: adjacent fragments whose
    // concatenation is a dictionary term
    "ft_spell_combine" -> ((spark, sfDir) => {
      val (_, searcher) = DocsIndex.get(spark, sfDir)
      searcher.suggestWordCombinations(Seq("mer", "ge", "cust", "omer"))
    }),
    // SynonymGraphFilter multi-word INPUT (`big table => bigtable`): the
    // query term 'bigtable' never occurs in text — its posting list exists
    // only where the graph matched consecutive big/table positions; tf =
    // pair count, doc length unchanged (stacked token, discountOverlaps)
    "ft_syn_graph_term" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.SynGraph)
      searcher.searchDoubleDS(searcher.parse("bigtable"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // SynonymGraphFilter multi-word OUTPUT (`mergejoin => merge join`): the
    // phrase "merge join" matches INSIDE the flattened expansion; BM25 over
    // phrase freq with the +1-per-expansion doc length the inserted
    // position creates
    "ft_syn_graph_phrase" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.SynGraphExpand)
      searcher.searchDoubleDS(searcher.parse("\"merge join\""), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // the expansion's inserted position shifts every later token: "join
    // batch" matches across the expansion boundary (originally "merge
    // batch") and on natural adjacent join/batch pairs — both only line up
    // if the flatten shift is applied
    "ft_syn_graph_shift" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.SynGraphExpand)
      searcher.matchesDS(searcher.parse("\"join batch\"")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Full EnglishAnalyzer chain (stop + Porter) under the hard oracle:
    // neither query word appears in the corpus — 'relates' reaches the
    // 'relat' (<- 'relational') posting list and 'oscillator' the 'oscil'
    // (<- 'oscillating') list only through the stemmer; BM25 stats are
    // post-stop post-stem
    "ft_porter_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Porter)
      searcher.searchDoubleDS(searcher.parse("relates OR oscillator"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // 'generalize' -> step3 ALIZE->AL -> step4 AL-> = 'gener', the stem of
    // the corpus form 'generalizations' (the paper's own worked example)
    "ft_porter_match" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Porter)
      searcher.matchesDS(searcher.parse("generalize")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // whole-dictionary audit of the Porter index: every distinct stem with
    // df/ttf — any corpus word the engine stems differently from the
    // oracle's hand-derived paper map surfaces here
    "ft_porter_terms" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.Porter)
      index.termStats
        .select($"term", $"docFreq".as("doc_freq"),
          $"totalTermFreq".as("total_term_freq"))
        .orderBy("term")
    }),
    // ICUFoldingFilter chain (reference: lucene/analysis/icu/src/java/org/
    // apache/lucene/analysis/icu/ICUFoldingFilter.java:1-120 — NFKC +
    // case folding + UTR#30 accent/width foldings): whole-dictionary audit
    // of the accent/width-injected corpus indexed through Analyzer.foldIcu.
    // Any corpus word the engine's general Unicode chain folds differently
    // from the oracle's hand-derived per-character fold surfaces here.
    "ft_icu_fold" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.Icu)
      index.termStats
        .select($"term", $"docFreq".as("doc_freq"),
          $"totalTermFreq".as("total_term_freq"))
        .orderBy("term")
    }),
    // BM25 through the fold: plain-ASCII queries reach posting lists whose
    // surface forms were Ｔāblé / ＶÉCTÖR in the source text — the match
    // exists only because NFKC width folding + case fold + accent strip
    // ran at index time; stats (df/tf/norms) are post-fold
    "ft_icu_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Icu)
      searcher.searchDoubleDS(searcher.parse("table OR vector"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // Snowball German chain over the per-language index
    // (DocsIndex.LangStem): the query surfaces 'hauses'/'wanderungen' appear in NO
    // document — they reach the 'haus'/'wander' posting lists (from
    // injected 'häusern'/'wanderung' in de docs) only through the German
    // stemmer, including its umlaut postlude. BM25 stats are corpus-wide
    // (one index, per-language analysis — the Solr text_de field pattern).
    "ft_stem_de_search" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.LangStem)
      val searcher = new graft.search.GraftSearcher(index, graft.analysis.Analyzers.german)
      searcher.searchDoubleDS(searcher.parse("hauses OR wanderungen"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // minimal-French chain, same index: 'donner'/'porter' → 'don'/'port'
    // posting lists fed by injected 'données'/'portes' in fr docs (é-drop +
    // undouble and plural-s + final-e cascades)
    "ft_stem_fr_search" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.LangStem)
      val searcher = new graft.search.GraftSearcher(index, graft.analysis.Analyzers.frenchMinimal)
      searcher.searchDoubleDS(searcher.parse("donner OR porter"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // whole-dictionary audit of the per-language index: every term with
    // df/ttf — any token either language chain stems differently from the
    // oracle's hand-derived per-language vocabulary maps surfaces here
    "ft_stem_lang_terms" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.LangStem)
      index.termStats
        .select($"term", $"docFreq".as("doc_freq"),
          $"totalTermFreq".as("total_term_freq"))
        .orderBy("term")
    }),
    // NRT/incremental ingest equivalence: the corpus committed as two
    // IncrementalIndexer micro-batches then compacted to one segment must
    // score identically to the single-shot build (same oracle SQL as
    // ft_search_term)
    "ft_incr_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Incremental)
      searcher.searchDoubleDS(searcher.parse("vector"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // FunctionScoreQuery (reference: lucene/queries/src/java/org/apache/
    // lucene/queries/function/FunctionScoreQuery.java:47-76): final score =
    // BM25 · (1 + len/100), a docvalue-derived factor. An unbounded custom
    // function disables block-max pruning in Lucene too, so EVERY match is
    // scored (scoreAllDoubleDS) and the multiply runs vectorized in the
    // join projection; the factor uses only exact arithmetic on the stored
    // token count, so the oracle recomputes it bit-for-bit.
    "ft_function_score" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF()
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .withColumn("fscore",
          round(col("score") * (lit(1.0) + col("len").cast("double") / 100.0), 4))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("fscore"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("fscore"))
    }),
    // FeatureField saturation scoring (reference: lucene/core/src/java/org/
    // apache/lucene/document/FeatureField.java:287-310 newSaturationQuery):
    // final = BM25 + w·f/(f+pivot) with the feature leg riding the bool tree
    // as SHOULD. The feature's contribution is bounded by w (Lucene keeps
    // block-max for exactly this reason); f = the stored token count.
    "ft_feature_sat" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF()
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .withColumn("fscore",
          round(col("score")
            + lit(2.0) * col("len").cast("double") / (col("len").cast("double") + 60.0), 4))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("fscore"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("fscore"))
    }),
    // DistanceFeatureQuery (reference: lucene/core/src/java/org/apache/
    // lucene/document/LongPoint.java newDistanceFeatureQuery +
    // LongDistanceFeatureQuery: score = weight · pivot/(pivot + |value −
    // origin|) — the recency/proximity boost). Rides the bool tree as a
    // SHOULD leg next to BM25, contribution bounded by weight (Lucene keeps
    // block-max applicable for exactly this reason). Feature value here is
    // the doc's stable id (the "timestamp"), origin 2500, pivot 500: docs
    // near id 2500 get up to +3.0. Exact integer distance, one division.
    "ft_distance_feature" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .withColumn("fscore",
          round(col("score")
            + lit(3.0) * 500.0 / (lit(500.0) + abs(col("doc_id") - 2500).cast("double")), 4))
        .orderBy(desc("fscore"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("fscore"))
    }),
    // CombinedFieldQuery / BM25F (see DocsIndex.Combined scaladoc): the
    // title field (source label, weight 2) and the body score as ONE virtual
    // field — per-term tf and the norm both accumulate across fields, which
    // is NOT expressible as a bool-over-fields query (dismax/sum change both
    // idf and length normalization). 'src7' matches only via the title legs;
    // 'table' via the body — one ranked list across both.
    "ft_combined" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Combined)
      searcher.searchDoubleDS(searcher.parse("table OR src7"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // match_phrase_prefix (reference: lucene/sandbox/src/java/org/apache/
    // lucene/sandbox/search/PhraseWildcardQuery.java:60-98): the trailing
    // prefix expands against the term DICTIONARY (termStats — one row per
    // term, parquet prefix pushdown, never the blocks table), then the
    // expansions enter one MultiPhrase position-union slot. Expansion is
    // plan-time like Lucene's rewrite, bounded like maxExpansions.
    "ft_phrase_prefix" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val exps = searcher.dictTerms(graft.search.PrefixQ("s"))
        .map(_.term)
        .orderBy("value").limit(64)
        .collect()
      val q = graft.search.Query.multiPhrase(Seq(Seq("fast"), exps.toSeq))
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // ComplexPhraseQueryParser (reference: lucene/queryparser/src/java/org/
    // apache/lucene/queryparser/complexPhrase/ComplexPhraseQueryParser.java
    // — phrases whose slots may be fuzzy/wildcard sub-queries, rewritten to
    // positional queries): "batch tabl~1" — the fuzzy slot expands against
    // the term dictionary (one row per term, Levenshtein ≤ 1), then runs as
    // exact MultiPhrase adjacency
    "ft_complex_phrase" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val fz = graft.search.FuzzyQ("tabl", 1)
      val exps = searcher.dictTerms(fz)
        .map(_.term)
        .orderBy("value").limit(64)
        .collect()
      val q = graft.search.Query.multiPhrase(Seq(Seq("batch"), exps.toSeq))
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // index-time synonyms (Analyzers.synonymSlowFast scaladoc): 'fast'
    // postings absorbed every 'slow' occurrence at its position, so tf, df,
    // and BM25 stats all reflect the merged surface forms — querying the
    // single term 'fast' ranks docs that only say 'slow'
    "ft_syn_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Synonyms)
      searcher.searchDoubleDS(searcher.parse("fast"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // phrase across a synonym: the stacked token sits at the original's
    // position, so "fast table" matches "slow table" — SynonymGraphFilter's
    // defining positional property
    "ft_syn_phrase" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Synonyms)
      searcher.matchesDS(searcher.parse("\"fast table\"")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // per-task build telemetry (DocsIndex.buildMetrics scaladoc): every
    // encode task recorded its partition/attempt lineage, docId span, and
    // postings/sec. The postings GRAND TOTAL is an engine-independent
    // invariant (Σ distinct terms per doc) the oracle recomputes exactly;
    // the rate/block fields assert the telemetry is populated and sane
    // (their absolute values are host-dependent by nature).
    "ft_build_metrics" -> ((spark, sfDir) => {
      DocsIndex.buildMetrics(spark, sfDir)
        .agg(sum("nPostings").as("tp"), min("postingsPerSec").as("minpps"),
          sum("nBlocks").as("tb"))
        .select(col("tp").as("total_postings"),
          (col("minpps") > 0).as("rates_positive"),
          (col("tb") > 0).as("blocks_positive"))
    }),
    // spellcheck collation (DirectSpellChecker + Solr collate, reference:
    // lucene/suggest/src/java/org/apache/lucene/search/suggest/... and
    // solr/core/src/java/org/apache/solr/spelling/SpellCheckCollator.java):
    // each misspelled input term corrects to the dictionary term with the
    // smallest edit distance (<= 2), ties broken by higher docFreq then
    // term order — Lucene's suggestion ranking. The candidate walk is a
    // distributed scan of termStats (one row per term), never the blocks.
    "ft_spell_collate" -> ((spark, sfDir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val (index, _) = DocsIndex.get(spark, sfDir)
      val inputs = Seq("vektor", "tabel").toDF("term_in")
      index.termStats.toDF().select(col("term"), col("docFreq"))
        .crossJoin(broadcast(inputs))
        .withColumn("dist", levenshtein(col("term_in"), col("term")))
        .filter(col("dist") <= 2)
        .withColumn("rk", row_number().over(Window.partitionBy("term_in")
          .orderBy(asc("dist"), desc("docFreq"), asc("term"))))
        .filter(col("rk") === 1)
        .select(col("term_in"), col("term").as("correction"),
          col("dist").cast("long").as("dist"), col("docFreq").as("df"))
        .orderBy("term_in")
    }),
    // totalHits: exact match count for a query (TotalHits EQUAL_TO surface;
    // the distributed count never collects the match set to the driver)
    "ft_count" -> ((spark, sfDir) => {
      val (_, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(searcher.parse("vector OR customer")).toDF("docId")
        .agg(count(lit(1)).as("total_hits"))
    }),
    // TotalHits.Relation through the COUNTING collector path: with an
    // unlimited threshold pruning never engages, so the scored search must
    // observe exactly the true match count and report EQUAL_TO
    "ft_total_hits" -> ((spark, sfDir) => {
      import spark.implicits._
      val (_, searcher) = DocsIndex.get(spark, sfDir)
      val (_, total, rel) = searcher.searchWithTotal(
        searcher.parse("vector OR customer"), 5, Long.MaxValue)
      Seq((total, rel)).toDF("total_hits", "relation")
    }),
    // TotalHits.Relation through the PRUNED counting path: threshold 5 is
    // far below the true match count, so every doc-range crosses it, pruning
    // engages, and the collector must report GTE_OR_EQUAL_TO with a count
    // bounded by [threshold, true count] while the top-k stays exact. The
    // booleans (not the unstable pruned count itself) are the oracle surface.
    "ft_total_hits_gte" -> ((spark, sfDir) => {
      import spark.implicits._
      val (_, searcher) = DocsIndex.get(spark, sfDir)
      val q = searcher.parse("vector OR customer")
      val trueCount = searcher.matchesDS(q).toDF("docId").count()
      val (hits, total, rel) = searcher.searchWithTotal(q, 5, 5L, numPartitions = 8)
      val exact = searcher.bruteForce(q, 5).map(_.docId)
      Seq((rel, total >= 5L, total <= trueCount, hits.length.toLong,
        hits.map(_.docId).sameElements(exact)))
        .toDF("relation", "ge_threshold", "le_true_count", "n_hits", "topk_exact")
    }),
    // grouping module (lucene/grouping TopGroups: top-N docs per group over a
    // match set) — window row_number per lang bucket, longest docs first
    "ft_group" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val m = searcher.matchesDS(searcher.parse("vector OR table")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("lang"), col("len")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
      val w = Window.partitionBy("lang").orderBy(desc("len"), asc("doc_id"))
      m.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("lang"), col("rnk"), col("doc_id"),
          col("len").cast("long").as("n_tokens"))
        .orderBy("lang", "rnk")
    }),
    // RegexpQuery with alternation + character class (lucene/core/src/java/
    // org/apache/lucene/search/RegexpQuery.java — RegExp syntax `|`, `[]`;
    // fully ANCHORED like Lucene, so 'scan' matches but 'scanner' would
    // not): '(scan|sort|s[a-z]ow)' through the dictionary-first expansion.
    "ft_match_regexp_alt" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(graft.search.RegexpQ("(scan|sort|s[a-z]ow)")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Distributed IDF / ExactStatsCache (solr/core/src/java/org/apache/
    // solr/search/stats/ExactStatsCache.java:60-140 — per-shard scoring
    // with GLOBALLY merged stats, so sharded ranks equal the single-index
    // ranks; the north rule's rank-identical contract across executors):
    // the index splits into two docId-parity shards, each shard scores
    // 'stream', and the k·P merge of the shard top-10s must equal the
    // whole-index oracle top-10 exactly. A split shard carries the global
    // stats: like the fake deletes of Lucene's MultiPassIndexSplitter, its
    // tombstones hide the other shard's docs but leave the shared blocks
    // and field stats, so the stats its search task sums are the parent's.
    "ft_shard_global_stats" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = searcher.parse("stream")
      val ids = index.docs.toDF().select(col("docId")).as[Long]
      val shards = graft.index.IndexStore.split(index,
        Seq(ids.filter(_ % 2 == 0), ids.filter(_ % 2 == 1)))
      shards.map { sh =>
        new graft.search.GraftSearcher(sh, graft.analysis.Analyzers.simple)
          .searchDoubleDS(q, 10).toDF()
      }.reduce(_ unionByName _)
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // edismax pf phrase boosting (solr/core/src/java/org/apache/solr/
    // search/ExtendedDismaxQParser.java — the pf/pf2 implicit phrase: the
    // user's adjacent terms re-queried as a boosted phrase ADDED to the
    // term-score sum): 'table hash' term legs + the exact phrase at
    // boost 2, each leg round4'd by its own scorer then summed per doc.
    "ft_edismax_pf" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val legs = Seq[graft.search.Query](
        graft.search.TermQ("table"),
        graft.search.TermQ("hash"),
        graft.search.BoostQ(
          graft.search.PhraseQ(Seq("table", "hash"), Seq(0, 1)), 2.0f))
        .map(q => searcher.scoreAllDoubleDS(q).toDF("docId", "s"))
      legs.reduce(_ unionByName _)
        .groupBy("docId").agg(sum("s").as("score"))
        .select(col("docId"), round4Col(col("score")).as("score"))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(12)
        .select(col("doc_id"), col("score"))
    }),
    // edismax pf2/pf3 shingle phrase boosts (ExtendedDismaxQParser.java
    // pf2/pf3 params: every adjacent PAIR of query terms re-queried as a
    // boosted phrase, and every adjacent TRIPLE likewise): term legs +
    // (big,table)/(table,hash) bigram legs at pf2 boost 1.5 + the
    // (big,table,hash) trigram leg at pf3 boost 1.25, summed per doc
    "ft_edismax_pf2" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val legs = Seq[graft.search.Query](
        graft.search.TermQ("big"),
        graft.search.TermQ("table"),
        graft.search.TermQ("hash"),
        graft.search.BoostQ(
          graft.search.PhraseQ(Seq("big", "table"), Seq(0, 1)), 1.5f),
        graft.search.BoostQ(
          graft.search.PhraseQ(Seq("table", "hash"), Seq(0, 1)), 1.5f),
        graft.search.BoostQ(
          graft.search.PhraseQ(Seq("big", "table", "hash"), Seq(0, 1, 2)), 1.25f))
        .map(q => searcher.scoreAllDoubleDS(q).toDF("docId", "s"))
      legs.reduce(_ unionByName _)
        .groupBy("docId").agg(sum("s").as("score"))
        .select(col("docId"), round4Col(col("score")).as("score"))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(12)
        .select(col("doc_id"), col("score"))
    }),
    // group.main=true (solr/core/src/java/org/apache/solr/search/
    // Grouping.java mainResult — the grouped result FLATTENED into one doc
    // list: groups ordered by their head doc's sort value, group.limit docs
    // from each, concatenated): lang groups of 'vector OR table' hits by
    // (len desc, doc_id), 2 per group, flattened in group-head order.
    "ft_group_main" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val m = searcher.matchesDS(searcher.parse("vector OR table")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("lang"), col("len")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
      val w = Window.partitionBy("lang").orderBy(desc("len"), asc("doc_id"))
      val wHead = Window.partitionBy("lang")
      m.withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("head_len", max("len").over(wHead))
        .filter(col("rnk") <= 2)
        .select(col("doc_id"), col("lang"),
          col("len").cast("long").as("n_tokens"),
          col("head_len").cast("long").as("head_len"))
        .orderBy(desc("head_len"), asc("lang"), desc("n_tokens"), asc("doc_id"))
    }),
    // FuzzyLikeThisQuery (GraftSearcher.fuzzyLikeThis scaladoc — sandbox
    // FuzzyLikeThisQuery.java, ignoreTF mode): three misspelled words,
    // each fuzzy-matched against the dictionary; docs score the sum of
    // matched variants' boost²·idf
    "ft_fuzzy_like_this" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.fuzzyLikeThis(Seq("joib", "tabel", "vektor"))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // MultiPassIndexSplitter (IndexStore.split scaladoc — lucene/misc/.../
    // index/MultiPassIndexSplitter.java FakeDeleteIndexReader): the index
    // split into 2 parts by doc_id parity, zero data movement (each part =
    // the same segment tables + a tombstone overlay). Every part answers
    // the same query independently; the labeled union must equal the full
    // match set — the splitter's correctness contract.
    "ft_index_split" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val map = DocsIndex.docIdMap(index)
      val keeps = (0 until 2).map(p =>
        map.filter(col("doc_id") % 2 === p).select("docId").as[Long])
      val parts = graft.index.IndexStore.split(index, keeps)
      val q = searcher.parse("vector AND table")
      parts.zipWithIndex.map { case (pidx, p) =>
        new graft.search.GraftSearcher(pidx, graft.analysis.Analyzers.simple)
          .matchesDS(q).toDF("docId").withColumn("part", lit(p.toLong))
      }.reduce(_ unionByName _)
        .join(map, "docId")
        .select(col("part"), col("doc_id"))
        .orderBy("part", "doc_id")
    }),
    // Grouping with SEPARATE groupSort and withinGroupSort (reference:
    // lucene/grouping/src/java/org/apache/lucene/search/grouping/
    // TopGroupsCollector.java — groups ranked by their best hit's score,
    // docs inside each group by their own sort; TopGroups.java carries
    // both sorts): top-2 lang groups by max BM25 of 'vector', top-2 docs
    // within each by (score desc, docId asc). Group heads are one grouped
    // agg; the within-group rank windows partition by group key.
    "ft_group_sort" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val scored = searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF()
        .join(index.docs.toDF().select(col("docId"), col("lang")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
      val heads = scored.groupBy("lang").agg(max(col("score")).as("head"))
        .orderBy(desc("head"), asc("lang")).limit(2)
        .withColumn("grp_rank", row_number()
          .over(Window.orderBy(desc("head"), asc("lang"))).cast("long"))
      val w = Window.partitionBy("lang").orderBy(desc("score"), asc("doc_id"))
      scored.join(broadcast(heads.select("lang", "grp_rank")), "lang")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("grp_rank"), col("lang"), col("rnk"), col("doc_id"),
          col("score"))
        .orderBy("grp_rank", "rnk")
    }),
    // SignificantTermsStream: terms over-represented in the 'spark' match set
    // vs the whole corpus (score = ln of the doc-frequency lift). fg counts
    // come from decoding the REAL posting blocks and semi-joining the match
    // set; at cluster scale this is the same shape — a postings scan joined
    // on docId (no all-pairs, no driver collect of postings).
    "ft_sigterms" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val m = searcher.matchesDS(searcher.parse("spark")).toDF("docId")
      val mc = m.count()
      val nDocs = index.fieldStats.docCount
      val pairs = index.blocks.as[BlockRow].flatMap { b =>
        val eb = b.toEncodedBlock
        PostingsCodec.decodeDocs(eb).iterator.map(d => (b.term, d))
      }.toDF("term", "docId")
      // plain equi-join (no broadcast hint): the match set of a common term
      // is unbounded at corpus scale — a shuffle semi-join keeps it
      // distributed; AQE still broadcasts it when it turns out small
      pairs.join(m, "docId")
        .groupBy("term").agg(count(lit(1)).as("fg_df"))
        .join(index.termStats.toDF().select($"term", $"docFreq".as("doc_freq")), "term")
        .filter($"fg_df" >= 3 && $"doc_freq" >= 3)
        .withColumn("score", round(
          log(($"fg_df".cast("double") / lit(mc.toDouble)) /
            ($"doc_freq".cast("double") / lit(nDocs.toDouble))), 4))
        .orderBy(desc("score"), asc("term"))
        .limit(10)
        .select($"term", $"fg_df", $"doc_freq", $"score")
    }),
    // highlighter (lucene/highlighter): first-occurrence token position comes
    // from the INDEX position postings (unified-highlighter style), snippet
    // is a +-2-token window re-tokenized from the stored text join-back
    "ft_highlight" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val firstPos = index.blocks.filter($"term" === "vector").as[BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          // index positions are 0-based; expose 1-based to match the oracle's
          // list_position (also a hard check that stored positions = token order)
          docs.indices.iterator.map(i => (docs(i), poss(i)(0) + 1L))
        }.toDF("docId", "pos")
      firstPos
        .join(DocsIndex.docIdMap(index), "docId")
        .join(DocsIndex.documents(spark, sfDir).select(col("doc_id"), col("text")), "doc_id")
        .withColumn("tk", expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .withColumn("s", greatest(lit(1L), col("pos") - 2))
        .withColumn("e", least(size(col("tk")).cast("long"), col("pos") + 2))
        .select(col("doc_id"), col("pos"),
          array_join(
            slice(col("tk"), col("s").cast("int"), (col("e") - col("s") + 1).cast("int")),
            " ").as("snippet"))
        .orderBy("doc_id")
    }),
    // spellcheck (lucene/suggest DirectSpellChecker): correction candidates
    // for a misspelled input straight from the term dictionary — edit
    // distance <= 2, ranked distance-first then by popularity (docFreq desc)
    "ft_suggest" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      index.termStats.toDF()
        .select($"term", $"docFreq".as("doc_freq"),
          levenshtein($"term", lit("sorw")).cast("long").as("dist"))
        .filter($"dist" <= 2)
        .orderBy(asc("dist"), desc("doc_freq"), asc("term"))
        .limit(5)
    }),
    // FuzzySuggester (reference: lucene/suggest/src/java/org/apache/lucene/
    // search/suggest/analyzing/FuzzySuggester.java — typo-tolerant
    // autocomplete: the automaton allows maxEdits=1 within the typed
    // PREFIX, the first char is exact (nonFuzzyPrefix=1), completions
    // ranked by weight): dictionary-first — ONE row per term in termStats,
    // the first-char guard is a pushable prefix predicate
    "ft_fuzzy_complete" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val q = "ser"
      index.termStats.toDF()
        .filter(substring($"term", 1, 1) === q.substring(0, 1))
        .select($"term", $"docFreq".as("doc_freq"),
          levenshtein(substring($"term", 1, q.length), lit(q)).cast("long").as("dist"))
        .filter($"dist" <= 1)
        .orderBy(desc("doc_freq"), asc("term"))
        .limit(5)
    }),
    // autocomplete (lucene/suggest completion): prefix completions ranked by
    // docFreq — the dictionary scan is a parquet min/max range seek
    "ft_complete" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      index.termStats.toDF()
        .filter($"term".startsWith("s"))
        .select($"term", $"docFreq".as("doc_freq"))
        .orderBy(desc("doc_freq"), asc("term"))
        .limit(5)
    }),
    // infix autocomplete (lucene/suggest AnalyzingInfixSuggester: matches
    // the query string ANYWHERE in the suggestion, ranked by weight) —
    // unlike the prefix walks above, the infix predicate cannot use the
    // dictionary's sort order, so Lucene keeps a dedicated suggest index;
    // here it is one vectorized contains() scan of the term-keyed
    // dictionary (1 row per term — never the blocks table)
    "ft_infix_suggest" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      index.termStats.toDF()
        .filter($"term".contains("er"))
        .select($"term", $"docFreq".as("weight"))
        .orderBy(desc("weight"), asc("term"))
        .limit(5)
    }),
    // ContextQuery-filtered completion (reference: lucene/suggest/src/java/
    // org/apache/lucene/search/suggest/document/ContextQuery.java —
    // completions restricted to entries carrying a context label, ranked by
    // per-context weight): the dictionary build is a filtered token count
    // (DocumentDictionary-with-contexts analog), the typed prefix a
    // pushable StartsWith — both stay map-side until the tiny top-k merge
    "ft_suggest_context" -> ((spark, sfDir) => {
      DocsIndex.documents(spark, sfDir)
        .filter(col("source") === "src7")
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
        .filter(col("term").startsWith("s"))
        .groupBy("term").agg(count(lit(1)).as("weight"))
        .orderBy(desc("weight"), asc("term"))
        .limit(5)
    }),
    // ValueSource scale() (reference: lucene/queries/src/java/org/apache/
    // lucene/queries/function/valuesource/ScaleFloatFunction.java — rescale
    // a query's scores into [0,1] from the match set's own min/max; Solr's
    // classic `scale(query($q),0,1)` boost): one scored pass, a 1-row
    // min/max broadcast back over it, (s−min)/(max−min) on bit-identical
    // doubles — no second scoring pass
    "ft_scale_score" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val scored = searcher.scoreAllDoubleDS(searcher.parse("filter")).toDF("docId", "s")
      val mm = scored.agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
      scored.crossJoin(broadcast(mm))
        .select(col("docId"),
          round(when(col("mx") === col("mn"), lit(0.0))
            .otherwise((col("s") - col("mn")) / (col("mx") - col("mn"))), 4)
            .as("score"))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // EdgeNGramTokenFilter search-as-you-type (reference: lucene/analysis/
    // common/src/java/org/apache/lucene/analysis/ngram/
    // EdgeNGramTokenFilter.java — emit prefixes minGram..maxGram of each
    // token at the same position): index-time gram expansion (3..5 here),
    // the typed 3-char prefix 'sor' hits its gram as an EXACT term — no
    // wildcard scan at query time, which is the whole point of the filter
    "ft_edgengram" -> ((spark, sfDir) => {
      DocsIndex.documents(spark, sfDir)
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
        .filter(length(col("tok")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(3, least(5, length(tok))), n -> substring(tok, 1, n))"))
          .as("gram"))
        .filter(col("gram") === "sor")
        .groupBy("doc_id").agg(count(lit(1)).as("gram_tf"))
        .orderBy("doc_id")
    }),
    // Solr analysis chain PatternReplaceFilter + LengthFilter (reference:
    // solr PatternReplaceFilterFactory / LengthFilterFactory): digit runs
    // collapse to a class token, then only lengths 3..8 survive — top-10
    // surviving terms by count
    "ft_analysis_chain" -> ((spark, sfDir) => {
      DocsIndex.documents(spark, sfDir)
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
        .select(regexp_replace(col("tok"), "[0-9]+", "N").as("term"))
        .filter(length(col("term")).between(3, 8))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("term"))
        .limit(10)
    }),
    // MoreLikeThis (lucene/queries mlt.MoreLikeThis): re-analyze doc 42's
    // stored text, pick the top-5 terms by tf*idf (minTermFreq=2,
    // minDocFreq=5 — the MLT defaults) with df from the real term dictionary,
    // then run the interesting-terms OR query through the scored engine
    // MLT interestingTerms=details (reference: lucene/queries/src/java/org/
    // apache/lucene/queries/mlt/MoreLikeThis.java retrieveInterestingTerms
    // :~820 + Solr MoreLikeThisHandler's interestingTerms=details): the
    // top-5 (term, tf, df, tf·idf) rows MLT selected from doc 42 — the same
    // plan-time selection ft_mlt executes, surfaced as the API output.
    // df comes from the real term dictionary (termStats, 1 row per term).
    "ft_mlt_terms" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val srcText = DocsIndex.documents(spark, sfDir)
        .filter(col("doc_id") === 42).select("text").as[String].collect()
      val tf = graft.analysis.Analyzers.simple.analyze(srcText.head)
        .toSeq.groupBy(_.term).map { case (t, ts) => t -> ts.size }
      val cand = tf.filter(_._2 >= 2).keys.toSeq.sorted
      val dfMap = index.termStats.filter($"term".isin(cand: _*)).collect()
        .map(t => t.term -> t.docFreq).toMap
      val n = index.fieldStats.docCount
      val top = cand.flatMap { t =>
        dfMap.get(t).filter(_ >= 5).map { df =>
          (t, tf(t).toLong, df, tf(t) * math.log(1 + (n - df + 0.5) / (df + 0.5)))
        }
      }.sortBy { case (t, _, _, s) => (-s, t) }.take(5)
      spark.createDataFrame(top).toDF("term", "tf", "df", "sc")
        .orderBy(desc("sc"), asc("term"))
        .selectExpr("term", "tf", "df", "round(sc, 4) AS score")
    }),
    "ft_mlt" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val srcText = DocsIndex.documents(spark, sfDir)
        .filter(col("doc_id") === 42).select("text").as[String].collect()
      lazy val empty = spark.createDataFrame(Seq.empty[(Long, Double)]).toDF("doc_id", "score")
      if (srcText.isEmpty) empty
      else {
        val tf = graft.analysis.Analyzers.simple.analyze(srcText.head)
          .toSeq.groupBy(_.term).map { case (t, ts) => t -> ts.size }
        val cand = tf.filter(_._2 >= 2).keys.toSeq.sorted
        val dfMap =
          if (cand.isEmpty) Map.empty[String, Long]
          else index.termStats.filter($"term".isin(cand: _*)).collect()
            .map(t => t.term -> t.docFreq).toMap
        val n = index.fieldStats.docCount
        val top = cand.flatMap { t =>
          dfMap.get(t).filter(_ >= 5).map { df =>
            (t, tf(t) * math.log(1 + (n - df + 0.5) / (df + 0.5)))
          }
        }.sortBy { case (t, s) => (-s, t) }.take(5).map(_._1)
        if (top.isEmpty) empty
        else {
          val q = graft.search.BoolQ(should = top.map(graft.search.TermQ(_)))
          searcher.searchDoubleDS(q, 11).toDF()
            .join(DocsIndex.docIdMap(index), "docId")
            .filter(col("doc_id") =!= 42)
            .orderBy(desc("score"), asc("doc_id")).limit(10)
            .select(col("doc_id"), col("score"))
        }
      }
    }),
    // SpanNearQuery ordered (spans/NearSpansOrdered): 'query' then 'table'
    // with a total gap of at most 4 positions, ANY offsets — unlike a
    // sloppy phrase there is no expected-position template
    "ft_span_near" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.SpanNearQ(Seq("query", "table"), 4, inOrder = true)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // 3-clause ordered span chain: spark < data < table, gap budget 6
    "ft_span_near3" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.SpanNearQ(Seq("spark", "data", "table"), 6, inOrder = true)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // unordered span near (NearSpansUnordered): 'customer' and 'vector'
    // within a 5-position gap in either order
    "ft_span_unordered" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.SpanNearQ(Seq("customer", "vector"), 5, inOrder = false)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // SpanOr clauses under SpanNear: (key|hash) then (table|value) within a
    // gap of 3, ordered — each slot's positions are the or-merge of its
    // member terms (SpanOrQuery.java under SpanNearQuery.java)
    "ft_span_or" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.SpanOrNearQ(
        Seq(Seq("key", "hash"), Seq("table", "value")), 3, inOrder = true)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Lucene intervals module, MINIMAL-interval semantics (reference:
    // lucene/queries/src/java/org/apache/lucene/queries/intervals/
    // Intervals.java ordered() + maxgaps(); OrderedIntervalsSource.java;
    // FilteredIntervalsSource.java maxGaps): per-doc count of minimal
    // ordered 'data'..'table' intervals with internal gap <= 2. Plan:
    // term-pruned block fetch for BOTH terms (parquet min/max seek on the
    // term column), positions decoded per posting, ONE docId equi-join,
    // then a linear two-pointer merge per doc — never a full-corpus scan.
    "ft_intervals" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      def posOf(term: String) = index.blocks.filter($"term" === term)
        .as[graft.index.BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.map(i => (docs(i), poss(i)))
        }
      posOf("data").toDF("docId", "pa")
        .join(posOf("table").toDF("docId", "pb"), "docId")
        .as[(Long, Array[Int], Array[Int])]
        .map { case (d, pa, pb) =>
          (d, graft.search.Intervals.orderedMaxgapsCount(pa, pb, 2).toLong)
        }
        .toDF("docId", "n_intervals")
        .filter($"n_intervals" > 0)
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"n_intervals").orderBy("doc_id")
    }),
    // IntervalQuery scoring surface (IntervalScoreFunction.java): sloppy
    // freq = sum of 1/(1+gap) over the minimal ordered intervals — the
    // slop-weighted frequency the interval similarity saturates; top-15
    "ft_intervals_score" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      def posOf(term: String) = index.blocks.filter($"term" === term)
        .as[graft.index.BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.map(i => (docs(i), poss(i)))
        }
      posOf("data").toDF("docId", "pa")
        .join(posOf("table").toDF("docId", "pb"), "docId")
        .as[(Long, Array[Int], Array[Int])]
        .map { case (d, pa, pb) =>
          (d, TopK.round4(graft.search.Intervals.orderedSloppyFreq(pa, pb)))
        }
        .toDF("docId", "sloppy_freq")
        .filter($"sloppy_freq" > 0)
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"sloppy_freq")
        .orderBy(desc("sloppy_freq"), asc("doc_id")).limit(15)
    }),
    // Intervals.unordered + maxgaps (UnorderedIntervalsSource.java): minimal
    // unordered {'key','value'} intervals = adjacent opposite-type pairs in
    // the merged position stream, gap <= 3. Same scale shape as above.
    "ft_intervals_unordered" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      def posOf(term: String) = index.blocks.filter($"term" === term)
        .as[graft.index.BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.map(i => (docs(i), poss(i)))
        }
      posOf("key").toDF("docId", "pa")
        .join(posOf("value").toDF("docId", "pb"), "docId")
        .as[(Long, Array[Int], Array[Int])]
        .map { case (d, pa, pb) =>
          (d, graft.search.Intervals.unorderedMaxgapsCount(pa, pb, 3).toLong)
        }
        .toDF("docId", "n_intervals")
        .filter($"n_intervals" > 0)
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"n_intervals").orderBy("doc_id")
    }),
    // ContainingIntervalsSource (reference: lucene/queries/src/java/org/
    // apache/lucene/queries/intervals/ContainingIntervalsSource.java):
    // minimal ordered data→table intervals that CONTAIN a 'key' position;
    // the composition of the generic Iv algebra (Intervals.ordered +
    // containing) over decoded position lists
    "ft_intervals_containing" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      def posOf(term: String) = index.blocks.filter($"term" === term)
        .as[graft.index.BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.map(i => (docs(i), poss(i)))
        }
      posOf("data").toDF("docId", "pa")
        .join(posOf("table").toDF("docId", "pb"), "docId")
        .join(posOf("key").toDF("docId", "pk"), "docId")
        .as[(Long, Array[Int], Array[Int], Array[Int])]
        .map { case (d, pa, pb, pk) =>
          import graft.search.Intervals._
          (d, containing(ordered(term(pa), term(pb)), term(pk)).length.toLong)
        }
        .toDF("docId", "n_intervals")
        .filter($"n_intervals" > 0)
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"n_intervals").orderBy("doc_id")
    }),
    // NotContainingIntervalsSource (NotContainingIntervalsSource.java):
    // the complement — minimal data→table intervals with NO 'key' inside
    "ft_intervals_notcontaining" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      def posOf(term: String) = index.blocks.filter($"term" === term)
        .as[graft.index.BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.map(i => (docs(i), poss(i)))
        }
      // LEFT join on the contained term: a doc with data→table intervals
      // but no 'key' at all keeps every interval (vacuously not-containing)
      posOf("data").toDF("docId", "pa")
        .join(posOf("table").toDF("docId", "pb"), "docId")
        .join(posOf("key").toDF("docId", "pk"), Seq("docId"), "left")
        .as[(Long, Array[Int], Array[Int], Array[Int])]
        .map { case (d, pa, pb, pk0) =>
          import graft.search.Intervals._
          val pk = if (pk0 == null) Array.empty[Int] else pk0
          (d, notContaining(ordered(term(pa), term(pb)), term(pk)).length.toLong)
        }
        .toDF("docId", "n_intervals")
        .filter($"n_intervals" > 0)
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"n_intervals").orderBy("doc_id")
    }),
    // ContainedByIntervalsSource (ContainedByIntervalsSource.java): 'key'
    // positions lying inside a minimal data→table interval
    "ft_intervals_containedby" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      def posOf(term: String) = index.blocks.filter($"term" === term)
        .as[graft.index.BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.map(i => (docs(i), poss(i)))
        }
      posOf("data").toDF("docId", "pa")
        .join(posOf("table").toDF("docId", "pb"), "docId")
        .join(posOf("key").toDF("docId", "pk"), "docId")
        .as[(Long, Array[Int], Array[Int], Array[Int])]
        .map { case (d, pa, pb, pk) =>
          import graft.search.Intervals._
          (d, containedBy(term(pk), ordered(term(pa), term(pb))).length.toLong)
        }
        .toDF("docId", "n_intervals")
        .filter($"n_intervals" > 0)
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"n_intervals").orderBy("doc_id")
    }),
    // BlockIntervalsSource (BlockIntervalsSource.java): 'data' immediately
    // followed by 'table' — adjacent, ordered, gap-free
    "ft_intervals_block" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      def posOf(term: String) = index.blocks.filter($"term" === term)
        .as[graft.index.BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.map(i => (docs(i), poss(i)))
        }
      posOf("data").toDF("docId", "pa")
        .join(posOf("table").toDF("docId", "pb"), "docId")
        .as[(Long, Array[Int], Array[Int])]
        .map { case (d, pa, pb) =>
          import graft.search.Intervals._
          (d, block(term(pa), term(pb)).length.toLong)
        }
        .toDF("docId", "n_intervals")
        .filter($"n_intervals" > 0)
        .join(DocsIndex.docIdMap(index), "docId")
        .select($"doc_id", $"n_intervals").orderBy("doc_id")
    }),
    // passage extraction (UnifiedHighlighter, reference: lucene/highlighter/
    // src/java/org/apache/lucene/search/uhighlight/UnifiedHighlighter.java +
    // Passage.java): the snippet window around the first stored-postings
    // occurrence — positions come from the INDEX (like the offsets-from-
    // postings highlight mode), the text window from the stored field
    "ft_passage" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val firstPos = index.blocks.filter($"term" === "vector").as[graft.index.BlockRow]
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val freqs = PostingsCodec.decodeFreqs(eb)
          val poss = PostingsCodec.decodePositions(eb, freqs)
          docs.indices.iterator.map(i => (docs(i), poss(i)(0) + 1L)) // 1-based
        }.toDF("docId", "p")
      firstPos
        .join(DocsIndex.docIdMap(index), "docId")
        .join(DocsIndex.documents(spark, sfDir), "doc_id")
        .withColumn("tk", expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .withColumn("w", greatest(col("p") - 3, lit(1L)))
        .select(col("doc_id"),
          array_join(slice(col("tk"), col("w").cast("int"),
            (col("p") + lit(3L) - col("w") + lit(1L)).cast("int")), " ").as("passage"))
        .orderBy("doc_id")
    }),
    // BlendedTermQuery, DisjunctionMaxRewrite (reference: lucene/core/src/
    // java/org/apache/lucene/search/BlendedTermQuery.java:1-360 — the
    // cross-field blending primitive: every term scores with the BLENDED
    // df = max over the set, combined by pure max): table/vector blended,
    // tf off decoded postings, the PRELUDE dlq quantization re-expressed
    // as a Spark expression
    "ft_blended_term" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val n = index.fieldStats.docCount
      val avgdl = index.fieldStats.sumTotalTermFreq.toDouble / n
      val dfb = index.termStats.filter($"term".isin("table", "vector"))
        .collect().map(_.docFreq).max
      val idf = math.log(1.0 + (n - dfb + 0.5) / (dfb + 0.5))
      termPos(spark, index, Seq("table", "vector"))
        .groupBy("docId", "term").agg(count(lit(1)).as("tf"))
        .join(index.docs.toDF().select($"docId", $"len"), "docId")
        .withColumn("dlq", expr(
          """CASE WHEN len < 24 THEN len
            |     WHEN len - 24 < 8 THEN len
            |     ELSE 24 + (((len - 24) >> (length(conv(len - 24, 10, 2)) - 4))
            |                << (length(conv(len - 24, 10, 2)) - 4)) END""".stripMargin))
        .withColumn("s", lit(idf) * ($"tf" * (lit(1.2) + lit(1))) /
          ($"tf" + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * $"dlq" / lit(avgdl))))
        .groupBy("docId").agg(max($"s").as("smax"))
        .select($"docId", round4Col($"smax").as("score"))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select($"doc_id", $"score")
    }),
    // LengthFilter [4,8] chain under the hard oracle: the seven short
    // corpus words vanish, shrinking doc length/avgdl — BM25 for
    // 'customer' over the filtered stream
    "ft_length_filter_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.LengthFiltered)
      searcher.searchDoubleDS(searcher.parse("customer"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // LukeRequestHandler index report (reference: solr/core/src/java/org/
    // apache/solr/handler/admin/LukeRequestHandler.java — the index-level
    // metadata block): doc/term/postings totals, each audited against the
    // corpus-derived truth by the oracle
    "ft_luke" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val nTerms = index.termStats.count()
      val agg = index.termStats
        .agg(sum($"docFreq").as("sdf"), sum($"totalTermFreq").as("sttf"))
        .collect()(0)
      val fs = index.fieldStats
      Seq(
        ("doc_count", fs.docCount),
        ("max_doc", fs.maxDocId + 1),
        ("n_terms", nTerms),
        ("sum_doc_freq", agg.getAs[Long]("sdf")),
        ("sum_total_term_freq", agg.getAs[Long]("sttf")))
        .toDF("stat", "value").orderBy("stat")
    }),
    // JSON facet allBuckets (solr FacetField.java allBuckets:true — the
    // aggregates over ALL buckets alongside the top buckets): top-5
    // sources by count plus the ~all row
    "ft_facet_allbuckets" -> ((spark, sfDir) => {
      import spark.implicits._
      val d = DocsIndex.documents(spark, sfDir)
      val top = d.groupBy($"source".as("bucket")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("bucket")).limit(5)
      val all = d.agg(count(lit(1)).as("cnt")).withColumn("bucket", lit("~all"))
      top.unionByName(all.select($"bucket", $"cnt"))
        .orderBy(desc("cnt"), asc("bucket"))
    }),
    // FeatureField static-feature scoring (reference: lucene/core/src/java/
    // org/apache/lucene/document/FeatureField.java:1-500 —
    // newSaturationQuery score = boost·w/(w+pivot), newLogQuery
    // boost·ln(1+w)): feature w = n_chars/100, both pumps over the
    // 'vector' match set, combined additively with the BM25 leg the way
    // a FeatureField boost rides a BooleanQuery SHOULD clause
    "ft_feature_field" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "s0")
        .select($"docId", round4Col($"s0").as("s"))
        .join(DocsIndex.docIdMap(index), "docId")
        .join(DocsIndex.documents(spark, sfDir).select($"doc_id", $"n_chars"), "doc_id")
        .withColumn("w", $"n_chars".cast("double") / lit(100.0))
        .withColumn("sat", round4Col($"w" / ($"w" + lit(5.0))))
        .withColumn("lg", round4Col(log(lit(1.0) + $"w")))
        .withColumn("score", round4Col($"s" + $"sat" + $"lg"))
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select($"doc_id", $"sat", $"lg", $"score")
    }),
    // CoveringQuery (reference: lucene/sandbox/src/java/org/apache/lucene/
    // sandbox/search/CoveringQuery.java:1-200 — a disjunction whose
    // minimum-match count comes from a PER-DOC values source): clauses
    // {vector, table, merge}, required matches = 1 + doc_id % 3
    "ft_covering_query" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val legs = Seq("vector", "table", "merge").map(t =>
        searcher.matchesDS(graft.search.TermQ(t)).toDF("docId"))
      legs.reduce(_ unionByName _)
        .groupBy("docId").agg(count(lit(1)).as("n_match"))
        .join(DocsIndex.docIdMap(index), "docId")
        .filter($"n_match" >= lit(1L) + $"doc_id" % 3)
        .select($"doc_id", $"n_match")
        .orderBy("doc_id")
    }),
    // Weight.explain / Solr debugQuery (reference: lucene/core/src/java/
    // org/apache/lucene/search/Weight.java explain + BM25Similarity
    // .explain :150-210): the top 'vector' hit's full score breakdown —
    // n, df, idf, tf, quantized doc length, avgdl, tfNorm, final score —
    // every factor recomputed by the oracle from the corpus
    "ft_explain_factors" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val topRow = searcher.searchDoubleDS(searcher.parse("vector"), 1).toDF()
        .orderBy(desc("score"), asc("docId")).limit(1).collect()(0)
      val docId = topRow.getAs[Long]("docId")
      val score = topRow.getAs[Double]("score")
      val n = index.fieldStats.docCount
      val df = index.termStats.filter($"term" === "vector").collect()(0).docFreq
      val dlq = {
        val d = index.docs.filter($"docId" === docId).collect()(0)
        graft.codec.SmallFloat.byte4ToInt(d.norm.toByte).toDouble
      }
      val avgdl = index.fieldStats.sumTotalTermFreq.toDouble / n
      val tf = termPos(spark, index, Seq("vector"))
        .filter($"docId" === docId).count().toDouble
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      val tfNorm = (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dlq / avgdl))
      def f6(v: Double): Double = math.floor(v * 1000000.0 + 0.5) / 1000000.0
      val extId = DocsIndex.docIdMap(index).filter($"docId" === docId)
        .collect()(0).getAs[Long]("doc_id")
      Seq(
        ("avgdl", f6(avgdl)), ("df", df.toDouble), ("dlq", dlq),
        ("idf", f6(idf)), ("n", n.toDouble), ("score", score),
        ("tf", tf), ("tf_norm", f6(tfNorm)))
        .toDF("factor", "value")
        .withColumn("doc_id", lit(extId))
        .select($"doc_id", $"factor", $"value")
        .orderBy("factor")
    }),
    // DiversifiedTopDocsCollector (reference: lucene/misc/src/java/org/
    // apache/lucene/misc/search/DiversifiedTopDocsCollector.java:1-220 —
    // top-k with at most maxHitsPerKey per diversity key): 'vector' BM25
    // top-10 keeping at most 2 docs per source
    "ft_diversified_topk" -> ((spark, sfDir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val scored = searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "s0")
        .select($"docId", round4Col($"s0").as("score"))
        .join(DocsIndex.docIdMap(index), "docId")
        .join(DocsIndex.documents(spark, sfDir).select($"doc_id", $"source"), "doc_id")
      val w = Window.partitionBy("source").orderBy(desc("score"), asc("doc_id"))
      scored.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 2)
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select($"doc_id", $"source", $"score")
    }),
    // AllGroupHeadsCollector (reference: lucene/grouping/src/java/org/
    // apache/lucene/search/grouping/AllGroupHeadsCollector.java:1-160):
    // for every source group, the single head doc of the 'vector' match
    // set under (n_tokens desc, doc_id asc)
    "ft_group_heads" -> ((spark, sfDir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val m = searcher.matchesDS(searcher.parse("vector")).toDF("docId")
        .join(index.docs.toDF().select($"docId", $"len".cast("long").as("n_tokens")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .join(DocsIndex.documents(spark, sfDir).select($"doc_id", $"source"), "doc_id")
      val w = Window.partitionBy("source").orderBy(desc("n_tokens"), asc("doc_id"))
      m.withColumn("rnk", row_number().over(w)).filter($"rnk" === 1)
        .select($"source", $"doc_id", $"n_tokens")
        .orderBy("source")
    }),
    // KeywordRepeatFilter chain dictionary audit: the pluralized corpus
    // indexes BOTH surface form and stem per token (stem stacked posInc-0,
    // duplicates removed when stem == surface) — both arms appear in the
    // dictionary with independent df/ttf
    "ft_keyword_repeat" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.StemKeepOrig)
      val terms = Seq("table", "tables", "query", "queries",
        "value", "values", "hash", "hashes")
      index.termStats.filter($"term".isin(terms: _*))
        .select($"term", $"docFreq".as("doc_freq"),
          $"totalTermFreq".as("total_term_freq"))
        .orderBy("term")
    }),
    // FreeTextSuggester (reference: lucene/suggest/src/java/org/apache/
    // lucene/search/suggest/analyzing/FreeTextSuggester.java:1-750 —
    // n-gram LM completion with STUPID BACKOFF, ALPHA=0.4 :108-116): for
    // context 'big', candidates seen after it score count(big,w)/count(big)
    // straight off the SHINGLE index dictionary (a 'big_'-prefix seek);
    // unseen words back off to 0.4 · count(w)/totalTokens from the unigram
    // dictionary. Ranked (round6 score desc, word asc), top 5.
    "ft_free_text_suggest" -> ((spark, sfDir) => {
      import spark.implicits._
      val (base, _) = DocsIndex.get(spark, sfDir)
      val (sh, _) = DocsIndex.get(spark, sfDir, DocsIndex.Shingled)
      val ctx = "big"
      val total = base.fieldStats.sumTotalTermFreq
      val ctxTtf = base.termStats.filter($"term" === ctx)
        .collect().head.totalTermFreq
      val bi = sh.termStats.filter($"term".startsWith(ctx + "_"))
        .select(expr(s"substring(term, ${ctx.length + 2})").as("word"),
          col("totalTermFreq").as("bttf"))
      base.termStats.toDF()
        .select($"term".as("word"), $"totalTermFreq".as("uttf"))
        .join(bi, Seq("word"), "left")
        .withColumn("score", round(
          when($"bttf".isNotNull, $"bttf".cast("double") / lit(ctxTtf.toDouble))
            .otherwise(lit(0.4) * ($"uttf".cast("double") / lit(total.toDouble))), 6))
        .select($"word", $"score")
        .orderBy(desc("score"), asc("word")).limit(5)
    }),
    // TermVectorComponent (reference: solr/core/src/java/org/apache/solr/
    // handler/component/TermVectorComponent.java — per-doc term vectors
    // with tv.tf, tv.df, tv.tf_idf = tf/df): served from the doc-keyed
    // term-vectors table written at index time from exactly the indexing
    // inversion (TermVectorRow), df joined from the dictionary
    "ft_term_vectors" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val wanted = DocsIndex.docIdMap(index).filter(col("doc_id") < 5)
      val ids = wanted.select(col("docId")).as[Long].collect().toSeq
      index.termVectors
        .filter(col("docId").isin(ids: _*))
        .join(broadcast(wanted), "docId")
        .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"))
        .join(index.termStats.toDF().select(col("term"), col("docFreq").as("df")), "term")
        .withColumn("tf_idf", col("tf").cast("double") / col("df"))
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tf_idf"))
        .orderBy("doc_id", "term")
    }),
    // ReRankQParser (reference: solr/core/src/java/org/apache/solr/search/
    // ReRankQParserPlugin.java — rq/reRankDocs/reRankWeight: the top
    // reRankDocs hits of the main query get reRankWeight × the rerank
    // query's score ADDED; docs below the cutoff keep their original
    // score): main 'vector' top-20, reranked by 2.0 × score('table')
    "ft_rerank" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val main = searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "s0")
        .select(col("docId"), round4Col(col("s0")).as("s"))
        .orderBy(desc("s"), asc("docId")).limit(20)
      val boost = searcher.scoreAllDoubleDS(searcher.parse("table")).toDF("docId", "b0")
        .select(col("docId"), round4Col(col("b0")).as("bs"))
      main.join(boost, Seq("docId"), "left")
        .withColumn("score",
          round4Col(col("s") + lit(2.0) * coalesce(col("bs"), lit(0.0))))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // UnifiedHighlighter MULTI-passage ranking (reference: lucene/
    // highlighter/src/java/org/apache/lucene/search/uhighlight/
    // UnifiedHighlighter.java:1-1150 + Passage.java + PassageScorer.java):
    // the doc breaks into 20-token windows (the BreakIterator boundary
    // analog for this sentence-less corpus), each window scores
    // Σ_t idf(t)·tfNorm(tf, winLen) with the PassageScorer's BM25 shape
    // (pivot = window size), and the TOP 2 passages per doc return ranked
    // (score desc, start asc) — not just the first/best single window
    "ft_passages_ranked" -> ((spark, sfDir) => {
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val (index, _) = DocsIndex.get(spark, sfDir)
      val n = index.fieldStats.docCount
      val dfs = index.termStats.filter($"term".isin("merge", "table"))
        .collect().map(ts => ts.term -> ts.docFreq).toMap
      def idf(t: String): Double =
        math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
      val wins = termPos(spark, index, Seq("merge", "table"))
        .withColumn("win", (col("p") / 20).cast("long"))
        .groupBy("docId", "win")
        .agg(
          sum(when(col("term") === "merge", 1).otherwise(0)).as("tf_m"),
          sum(when(col("term") === "table", 1).otherwise(0)).as("tf_t"))
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .withColumn("win_len", least(lit(20L), col("len") - col("win") * 20))
      def leg(tf: Column, w: Double): Column =
        when(tf === 0, lit(0.0)).otherwise(
          lit(w) * (tf * (lit(1.2) + lit(1))) /
            (tf + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("win_len") / lit(20.0))))
      val scored = wins.withColumn("score",
        round4Col(leg(col("tf_m"), idf("merge")) + leg(col("tf_t"), idf("table"))))
      val w = Window.partitionBy("docId").orderBy(desc("score"), asc("win"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 2)
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("rank"),
          (col("win") * 20 + 1).as("win_start"),
          (col("tf_m") + col("tf_t")).as("n_match"), col("score"))
        .orderBy("doc_id", "rank")
    }),
    // BooleanClause.Occur.FILTER (reference: lucene/core/src/java/org/
    // apache/lucene/search/BooleanClause.java:35-43 — "like MUST except that
    // these clauses do not participate in scoring"): 'table' gates the match
    // as a boost-0 required clause, only 'vector' scores
    "ft_filter_clause" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.BoolQ(must = Seq(
        graft.search.TermQ("vector"),
        graft.search.BoostQ(graft.search.TermQ("table"), 0f)))
      searcher.searchDoubleDS(q, 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // field-sorted deep paging (TopFieldCollector after a FieldDoc,
    // reference: lucene/core/.../search/TopFieldCollector.java PagingField-
    // Collector): page 2 of sort (n_tokens DESC, doc_id ASC) resumes
    // strictly after page 1's last (len, docId) tuple
    "ft_sort_after" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val hits = searcher.matchesDS(graft.search.TermQ("vector")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("len").cast("long").as("n_tokens")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
      val page1 = hits.orderBy(desc("n_tokens"), asc("doc_id")).limit(10)
        .select("n_tokens", "doc_id").collect()
      val (ln, li) = (page1.last.getLong(0), page1.last.getLong(1))
      hits.filter(col("n_tokens") < ln ||
          (col("n_tokens") === ln && col("doc_id") > li))
        .orderBy(desc("n_tokens"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("n_tokens"))
    }),
    // TermInSetQuery (ConstSetQ scaladoc): constant-score any-of filter —
    // the no-clause-limit shape large programmatic term filters take
    "ft_term_in_set" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.ConstSetQ(Seq("dup", "elephant", "sort", "window"))
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Surround query language (reference: lucene/queryparser/src/java/org/
    // apache/lucene/queryparser/surround/parser/QueryParser.jj + query/
    // DistanceQuery.java — prefix `Nw`/`Nn` proximity ops over and/or/not):
    // and(3w(data, or(table, stream)), 2n(hash, join)) = an ordered
    // data→(table|stream) window within distance 3 AND an unordered
    // hash/join adjacency — parsed by SurroundParser into the span AST and
    // executed through the standard boolean/span match path.
    "ft_surround" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.SurroundParser
        .parse("and(3w(data, or(table, stream)), 2n(hash, join))")
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Phonetic matching (reference: lucene/analysis/phonetic/src/java/org/
    // apache/lucene/analysis/phonetic/PhoneticFilter.java over
    // commons-codec Soundex, incl. the H/W adjacency rule — letters
    // separated by h/w collapse as if adjacent, vowels break the run):
    // the misspelled query word 'filtre' (code f436) phonetically matches
    // 'filter'/'filters'. Plan shape: the Soundex code is ONE vectorized
    // expression over the dictionary (termStats, 1 row/term), the matching
    // terms become a ConstSetQ over the indexed disjunction iterators —
    // dictionary-first multi-term expansion, never a blocks-table scan.
    "ft_soundex" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val terms = index.termStats
        .filter(col("term").rlike("^[a-z]+$"))
        .filter(expr(s"${soundexSql("term", "")} = ${soundexSql("'filtre'", "")}"))
        .select("term").collect().map(_.getString(0)).toSeq.sorted
      val q = graft.search.ConstSetQ(terms)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // commit-point time travel (SnapshotDeletionPolicy / IndexDeletionPolicy:
    // IndexStore.openAt scaladoc): generation 0 predates the tombstones, so
    // the SAME query counts every match there and only the live ones on the
    // latest commit — both recomputable from raw text
    "ft_snapshot" -> ((spark, sfDir) => {
      import spark.implicits._
      val (_, latest) = DocsIndex.get(spark, sfDir, DocsIndex.WithDeletes)
      val dir = DocsIndex.deletesDir(spark, sfDir)
      val old = new graft.search.GraftSearcher(
        graft.index.IndexStore.openAt(spark, dir, 0L), graft.analysis.Analyzers.simple)
      val n0 = old.matchesDS(graft.search.TermQ("vector")).count()
      val n1 = latest.matchesDS(graft.search.TermQ("vector")).count()
      Seq((n0, n1)).toDF("n_at_gen0", "n_at_latest")
    }),
    // SpanContainingQuery: ordered 'key'..'table' chains (gap <= 4) KEPT
    // only when a 'value' occurrence falls INSIDE the greedy chain's span —
    // the exact dual of ft_span_not's overlap rejection
    // grouped faceting (Solr group.facet=true, reference: solr/core/src/
    // java/org/apache/solr/request/SimpleFacets.java getGroupedCounts —
    // each GROUP counts once per facet value, not each doc): distinct
    // source-groups per lang over the match set
    "ft_group_facet" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(searcher.parse("table")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("lang"), col("commit")), "docId")
        .groupBy("lang").agg(countDistinct(col("commit")).as("n_groups"))
        .orderBy("lang")
    }),
    // JSON facet bucket aggregations beyond count (solr/core/.../search/
    // facet/FacetFieldProcessor.java + SumAgg/AvgAgg): per-lang sum/avg of
    // the len docvalue over the match set; avg spelled as one division of
    // exact integer sums so both engines run the identical IEEE op
    "ft_facet_agg" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(searcher.parse("vector")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("lang"), col("len")), "docId")
        .groupBy("lang").agg(count(lit(1)).as("cnt"),
          sum(col("len")).cast("long").as("sum_len"))
        .selectExpr("lang", "cnt", "sum_len",
          "round(CAST(sum_len AS DOUBLE) / cnt, 4) AS avg_len")
        .orderBy("lang")
    }),
    // SimpleQueryParser syntax (`+`/`|`/`-`, never-throw contract): the
    // translated operators run the same engine; phrase OR (prefix AND NOT)
    "ft_simpleqp" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = searcher.parser.parseSimple("\"big table\" | tabl* + -vector")
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    "ft_span_containing" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.SpanContainingQ(
        graft.search.SpanNearQ(Seq("key", "table"), 4, inOrder = true), "value")
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // SpanNotQuery: ordered 'key'..'table' chains (gap <= 4) REJECTED when
    // a 'hash' occurrence falls inside the greedy chain's span
    "ft_span_not" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.SpanNotQ(
        graft.search.SpanNearQ(Seq("key", "table"), 4, inOrder = true), "hash")
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // SpanFirstQuery: 'spark' somewhere in the first 10 positions (span end
    // <= 10); 0-based engine position p qualifies iff p + 1 <= 10, which is
    // 1-based list index <= 10 on the oracle side
    "ft_span_first" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(graft.search.SpanFirstQ("spark", 10)).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // SpanPositionRangeQuery (Query.SpanPosRangeQ scaladoc): 'merge'
    // occurrences restricted to positions [5, 20) — start >= 5 AND
    // end (p+1) <= 20; freq = qualifying occurrences, scored through the
    // standard double path
    "ft_span_posrange" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.searchDoubleDS(graft.search.SpanPosRangeQ("merge", 5, 20), 10)
        .toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // term vector reconstruction (IndexReader.getTermVector; reference:
    // lucene/core/src/java/org/apache/lucene/index/TermVectorsReader.java
    // semantics): one doc's (term, tf, positions) triples decoded from the
    // inverted index — block fetch prunes on the (firstDocId, lastDocId)
    // parquet min/max, so only the target doc's ~per-term blocks decode
    "ft_term_vector" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val target = DocsIndex.docIdMap(index).filter(col("doc_id") === 42)
        .select("docId").as[Long].head()
      index.blocks
        .filter($"firstDocId" <= target && $"lastDocId" >= target)
        .flatMap { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val i = java.util.Arrays.binarySearch(docs, target)
          if (i < 0) Iterator.empty
          else {
            val freqs = PostingsCodec.decodeFreqs(eb)
            val poss = PostingsCodec.decodePositions(eb, freqs)
            Iterator.single((b.term, freqs(i).toLong, poss(i).mkString(",")))
          }
        }.toDF("term", "tf", "positions")
        .orderBy("term")
    }),
    // Explanation (IndexSearcher.explain; reference:
    // lucene/core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java:256-279
    // explainScore): the BM25 component breakdown — idf, tfNorm on the
    // QUANTIZED doc length (decoded back from the stored norm byte), and
    // their product — every component recomputable by the oracle
    "ft_explain" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val term = "vector"
      val target = DocsIndex.docIdMap(index).filter(col("doc_id") === 42)
        .select("docId").as[Long].head()
      val doc = index.docs.filter($"docId" === target).head()
      val df = index.termStats.filter($"term" === term).head().docFreq
      val n = index.fieldStats.docCount
      val avgdl = index.fieldStats.sumTotalTermFreq / n.toDouble
      val tf = index.blocks
        .filter($"term" === term && $"firstDocId" <= target && $"lastDocId" >= target)
        .collect().iterator.map { b =>
          val eb = b.toEncodedBlock
          val docs = PostingsCodec.decodeDocs(eb)
          val i = java.util.Arrays.binarySearch(docs, target)
          if (i < 0) 0L else PostingsCodec.decodeFreqs(eb)(i).toLong
        }.sum
      val dlq = graft.codec.SmallFloat.byte4ToInt(doc.norm.toByte).toDouble
      val idf = math.log(1d + (n - df + 0.5d) / (df + 0.5d))
      val tfNorm = tf * (1.2d + 1d) / (tf + 1.2d * (1d - 0.75d + 0.75d * dlq / avgdl))
      Seq((42L, term, df, tf, TopK.round4(idf), TopK.round4(tfNorm),
        TopK.round4(idf * tfNorm)))
        .toDF("doc_id", "term", "doc_freq", "term_freq", "idf", "tf_norm", "score")
    }),
    // ToParentBlockJoinQuery, ScoreMode.Max (reference:
    // lucene/join/src/java/org/apache/lucene/search/join/ToParentBlockJoinQuery.java;
    // BlockJoinScorer aggregates child scores per parent): children = docs,
    // parents = their source group (carried in `commit`); parent score =
    // max child BM25, plus the matched-children count
    "ft_block_join" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val childScores = searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "s")
      childScores
        .join(index.docs.toDF().select(col("docId"), col("commit").as("parent")), "docId")
        .groupBy("parent")
        .agg(max("s").as("score"), count(lit(1)).as("child_hits"))
        .orderBy(desc("score"), asc("parent"))
        .limit(5)
        .select(col("parent"), col("child_hits"), col("score"))
    }),
    // BlockJoinFacetComponent (reference: solr/core/src/java/org/apache/
    // solr/search/join/BlockJoinFacetComponent.java — facets computed over
    // the CHILD documents of parents matched through a block join): parents
    // (commit groups) matched by any child hitting 'vector', then a lang
    // facet over ALL children of those parents. Parent set broadcasts onto
    // the child table; one grouped count.
    "ft_block_join_facet" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val docs = index.docs.toDF()
      val parents = searcher.matchesDS(searcher.parse("vector")).toDF("docId")
        .join(docs.select(col("docId"), col("commit").as("parent")), "docId")
        .select("parent").distinct()
      docs.select(col("commit").as("parent"), col("lang"))
        .join(broadcast(parents), "parent")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("lang"))
    }),
    // ToChildBlockJoinQuery (reference: lucene/join/src/java/org/apache/
    // lucene/search/join/ToChildBlockJoinQuery.java — the inverse join:
    // every CHILD of a matching parent is returned carrying its PARENT's
    // score): parent scores are the ScoreMode.Max block-join scores above;
    // the top-3 parents broadcast back onto their children (small-side
    // broadcast, no shuffle of the child table beyond the score join)
    "ft_block_join_child" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val childScores = searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "s")
      val parents = index.docs.toDF().select(col("docId"), col("commit").as("parent"))
      val topParents = childScores
        .join(parents, "docId")
        .groupBy("parent").agg(max("s").as("score"))
        .orderBy(desc("score"), asc("parent")).limit(3)
      parents
        .join(broadcast(topParents), "parent")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("parent"), col("score"))
        .orderBy(desc("score"), asc("parent"), asc("doc_id"))
    }),
    // QueryRescorer (lucene/core/.../search/QueryRescorer.java:54-107):
    // first pass = top-50 BM25 for 'vector'; second pass advances 'customer'
    // over ONLY those 50 docs (broadcast leapfrog in scoreAllDoubleDS);
    // combined = first + 2.0 * second (the rescore(...) convenience combine)
    "ft_rescore" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val first = searcher.searchDouble(searcher.parse("vector"), 50)
      val ids = first.map(_.docId)
      val firstDF = spark.createDataFrame(first.toSeq.map(h => (h.docId, h.score)))
        .toDF("docId", "s1")
      val second = searcher.scoreAllDoubleDS(searcher.parse("customer"), ids)
        .toDF("docId", "s2")
      firstDF.join(second, Seq("docId"), "left")
        .withColumn("score", round4Col(col("s1") + lit(2.0) * coalesce(col("s2"), lit(0.0))))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // Expressions module (reference: lucene/expressions/src/java/org/
    // apache/lucene/expressions/Expression.java + SimpleBindings — a
    // compiled arithmetic expression over `_score` and numeric doc fields,
    // used as a sort/rescore DoubleValuesSource): expr = score/ln(1+n_chars)
    // reranks the BM25 top-50 window (the QueryRescorer window pattern).
    // The expression is ONE vectorized projection over (score, field) — the
    // compiled-expression analog Catalyst gives for free.
    "ft_expression" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.searchDoubleDS(searcher.parse("vector"), 50).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(50) // global k·P merge
        .join(DocsIndex.documents(spark, sfDir).select("doc_id", "n_chars"), "doc_id")
        .withColumn("expr_score",
          round4Col(col("score") / log(lit(1.0) + col("n_chars"))))
        .orderBy(desc("expr_score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("expr_score"))
    }),
    // FreeTextSuggester (reference: lucene/suggest/src/java/org/apache/
    // lucene/search/suggest/analyzing/FreeTextSuggester.java:77-117 — an
    // ngram LM built from a ShingleFilter stream): next-word prediction for
    // the context 'big', ranked by bigram frequency. The shingled index IS
    // the ngram store; the dictionary walk is a parquet prefix range seek.
    "ft_freetext" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.Shingled)
      index.termStats.toDF()
        .filter($"term".startsWith("big_"))
        .select(expr("substring(term, 5)").as("suggestion"),
          $"totalTermFreq".as("freq"))
        .orderBy(desc("freq"), asc("suggestion"))
        .limit(5)
    }),
    // ToParentBlockJoinQuery ScoreMode.Total (reference: lucene/join/src/
    // java/org/apache/lucene/search/join/ToParentBlockJoinQuery.java:239-247
    // sum over child scores): child round4'd scores scaled to exact integer
    // ten-thousandths before the cross-row sum, so the per-parent total is
    // order-independent (float sums across rows are not)
    "ft_block_join_total" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "s")
        .join(index.docs.toDF().select(col("docId"), col("commit").as("parent")), "docId")
        .groupBy("parent")
        .agg((sum(round(col("s") * 10000).cast("long")).cast("double") / 10000)
          .as("score"), count(lit(1)).as("child_hits"))
        .orderBy(desc("score"), asc("parent"))
        .limit(5)
        .select(col("parent"), col("child_hits"), col("score"))
    }),
    // MultiPhraseQuery (per-position term SETS, union postings per slot +
    // exact adjacency — Query.multiPhrase scaladoc): ("big"|"slow") "table"
    "ft_multiphrase" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.Query.multiPhrase(Seq(Seq("big", "slow"), Seq("table")))
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // CommonTermsQuery (GraftSearcher.commonTermsQuery): 'dup' (df ~5%)
    // stays MUST; 'batch'/'table' (df ~80% > 0.3 cutoff) demote to SHOULD —
    // they boost the score but cannot gate the match
    "ft_common_terms" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = searcher.commonTermsQuery(Seq("dup", "batch", "table"), 0.3)
      searcher.searchDoubleDS(q, 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // LTR linear-model re-ranking (Solr learning-to-rank: LTRScoringQuery +
    // LinearModel, reference: solr/contrib/ltr/src/java/org/apache/solr/ltr/
    // model/LinearModel.java:60-76 score = sum(w_i * f_i); features are
    // OriginalScoreFeature, FieldValueFeature(len/avgdl), and a SolrFeature
    // lang:en flag — extracted over the first-pass top-50 only, exactly the
    // reRankDocs window)
    "ft_ltr" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val first = searcher.searchDouble(searcher.parse("vector"), 50)
      val firstDF = spark.createDataFrame(first.toSeq.map(h => (h.docId, h.score)))
        .toDF("docId", "s1")
      val avgdl = index.fieldStats.sumTotalTermFreq.toDouble / index.fieldStats.docCount
      firstDF
        .join(index.docs.toDF().select(col("docId"), col("len"), col("lang")), "docId")
        .withColumn("model", round4Col(
          lit(0.7) * col("s1")
            - lit(0.2) * (col("len").cast("double") / lit(avgdl))
            + lit(0.5) * when(col("lang") === "en", 1.0).otherwise(0.0)))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("model"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("model"))
    }),
    // export stream (Solr /export handler, reference: solr/core/src/java/org/
    // apache/solr/handler/export/ExportWriter.java): the FULL sorted result
    // set, not a top-k — Spark's distributed range sort IS the export sort
    "ft_export" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(graft.search.TermQ("table")).toDF("docId")
        .join(index.docs.toDF()
          .select(col("docId"), col("lang"), col("len").cast("long").as("n_tokens")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(asc("lang"), desc("n_tokens"), asc("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),
    // FunctionScoreQuery (lucene/queries/.../function/FunctionScoreQuery.java
    // boostByValue): score = BM25 * (1 + len/1000) — the multiplier is a
    // doc-value source, applied to EVERY match before top-k selection
    "ft_func_boost" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val all = searcher.scoreAllDoubleDS(searcher.parse("vector OR batch"))
        .toDF("docId", "s")
      all.join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .withColumn("score",
          round4Col(col("s") * (lit(1.0) + col("len").cast("double") / lit(1000.0))))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // relatedness() aggregation over facet buckets (semantic knowledge
    // graph; reference: solr/core/.../search/facet/RelatednessAgg.java:
    // 473-503): foreground = the 'vector OR table' match set, background =
    // the whole collection, buckets = lang; z-scored foreground lift
    // squashed through the reference's 5-sigmoid blend, rounded to 5 digits
    "q_relatedness" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val docs = index.docs.toDF().select(col("docId"), col("lang"))
      val fg = searcher.matchesDS(searcher.parse("vector OR table")).toDF("docId")
      val bgBuckets = docs.groupBy("lang").agg(count(lit(1)).as("bg_count"))
      val fgBuckets = docs.join(fg, "docId").groupBy("lang").agg(count(lit(1)).as("fg_count"))
      val sizes = docs.agg(count(lit(1)).as("bg_size"))
        .crossJoin(fg.agg(count(lit(1)).as("fg_size")))
      val base = bgBuckets.join(fgBuckets, Seq("lang"), "left")
        .na.fill(0L, Seq("fg_count"))
        .crossJoin(broadcast(sizes))
      // computeRelatedness, op-for-op (RelatednessAgg.java:473-488)
      val bgProb = col("bg_count") / col("bg_size").cast("double")
      val num = col("fg_count") - col("fg_size").cast("double") * bgProb
      val denomRaw = sqrt(col("fg_size").cast("double") * bgProb * (lit(1.0) - bgProb))
      val z = num / when(denomRaw === 0.0, lit(1e-10)).otherwise(denomRaw)
      def sig(off: Double, scale: Double) =
        (z + lit(off)) / (lit(scale) + abs(z + lit(off)))
      val rel = lit(0.2) * sig(-80, 50) + lit(0.2) * sig(-30, 30) +
        lit(0.2) * sig(0, 30) + lit(0.2) * sig(30, 30) + lit(0.2) * sig(80, 50)
      base.select(col("lang"), col("fg_count"), col("bg_count"),
          round5Col(col("fg_count").cast("double") / col("bg_size")).as("fg_pop"),
          round5Col(col("bg_count").cast("double") / col("bg_size")).as("bg_pop"),
          round5Col(rel).as("relatedness"))
        .orderBy(desc("relatedness"), asc("lang"))
    }),
    // DiversifiedTopDocsCollector (lucene/misc/.../search/
    // DiversifiedTopDocsCollector.java:61-64: top-k "with a maximum number
    // of results from a single source" — the de-duplicating priority queue
    // keeps at most maxHitsPerKey hits per key). Distributed shape: the
    // per-key cap is ONE window shuffle on the key over the full scored
    // match set (a key's best hits can sit arbitrarily deep in the global
    // ranking, so a global top-N pre-cut would be wrong), then a k·P merge.
    "ft_diversified" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val scored = searcher.scoreAllDoubleDS(searcher.parse("vector OR table"))
        .toDF("docId", "score")
      val w = Window.partitionBy("lang").orderBy(desc("score"), asc("doc_id"))
      scored
        .join(index.docs.toDF().select(col("docId"), col("lang")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2).drop("rn")
        .orderBy(desc("score"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("lang"), col("score"))
    }),
    // WordBreakSpellChecker.suggestWordBreaks (reference: lucene/suggest/
    // src/java/org/apache/lucene/search/spell/WordBreakSpellChecker.java
    // :87-141 generateBreakUpSuggestions): a compound input term is split
    // at every position; a break survives iff BOTH halves are dictionary
    // terms with docFreq >= minSuggestionFrequency (1). numberBreaks=1
    // (one split into two words — the recursive multi-break is out of
    // scope, documented). The candidate walk is dictionary-first: the
    // split pairs (O(len) per input, plan-time literals exactly like
    // Lucene's enumeration over the query term) broadcast against
    // termStats (ONE row per term) — the blocks table is never touched;
    // at 100 TB the dictionary join is a broadcast-hash probe.
    "ft_word_break" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val inputs = Seq("rowscan", "fasttable", "xyzzy")
      val cands = inputs.flatMap(in => (1 until in.length).map(i =>
        (in, in.substring(0, i), in.substring(i))))
      val candDf = cands.toDF("input", "left_part", "right_part")
      val ts = index.termStats.toDF().select(col("term"), col("docFreq"))
      val lefts = ts
        .join(broadcast(candDf.select("left_part").distinct()),
          col("term") === col("left_part"))
        .select(col("left_part"), col("docFreq").as("df_left"))
      val rights = ts
        .join(broadcast(candDf.select("right_part").distinct()),
          col("term") === col("right_part"))
        .select(col("right_part"), col("docFreq").as("df_right"))
      candDf.join(broadcast(lefts), "left_part")
        .join(broadcast(rights), "right_part")
        .select(col("input"), col("left_part"), col("right_part"),
          col("df_left"), col("df_right"))
        .orderBy("input", "left_part")
    }),
    // WordBreakSpellChecker.suggestWordCombinations (same reference
    // :143-199): adjacent query terms are concatenated; a combination is
    // suggested iff the joined word is a dictionary term with docFreq >=
    // minSuggestionFrequency. 'val'+'ue' -> value, 'ta'+'ble' -> table;
    // 'big'+'data' -> bigdata is NOT in the dictionary and must drop out.
    // Same dictionary-first shape: plan-time pair literals, one broadcast
    // semi-probe of termStats.
    "ft_word_combine" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val pairs = Seq(("val", "ue"), ("ta", "ble"), ("big", "data"))
      val candDf = pairs.map(p => (p._1, p._2, p._1 + p._2))
        .toDF("left_in", "right_in", "combined")
      index.termStats.toDF().select(col("term"), col("docFreq"))
        .join(broadcast(candDf), col("term") === col("combined"))
        .select(col("left_in"), col("right_in"), col("combined"),
          col("docFreq").as("df"))
        .orderBy("combined")
    }),
    // SpanMultiTermQueryWrapper (reference: lucene/core/src/java/org/
    // apache/lucene/search/spans/SpanMultiTermQueryWrapper.java:40-98):
    // a multi-term query (prefix ta*) rewritten to a SpanOr over its
    // dictionary expansions, then composed as a clause of a SpanNear.
    // Expansion is dictionary-first (`dictTerms`: termStats, one row per
    // term, parquet prefix pushdown) — never the blocks table; the
    // expanded slot rides the existing SpanOrNearScorer or-merge.
    "ft_span_prefix" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val exps = searcher.dictTerms(graft.search.PrefixQ("ta"))
        .map(_.term).orderBy("value").limit(128)
        .collect()
      val q = graft.search.SpanOrNearQ(
        Seq(Seq("query"), exps.toSeq), 3, inOrder = true)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Boosted SynonymQuery (reference: lucene/core/src/java/org/apache/
    // lucene/search/SynonymQuery.java:75-109 Builder#addTerm(Term, float),
    // FreqBoostTermScorer :389-421): one pseudo-term with SynonymQ's
    // blended df/ttf stats, but the per-doc frequency is Σ boost_i · tf_i
    // ('spark' at 1.0 stacked with a down-weighted 'query' at 0.5 — the
    // weighted-synonym shape analyzers emit for expanded terms). Boosts
    // are float-and-double-exact (1.0, 0.5) so the double twin is
    // bit-identical to the oracle.
    "ft_search_synboost" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.SynonymBoostQ(Seq(("spark", 1.0f), ("query", 0.5f)))
      searcher.searchDoubleDS(q, 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // Solr TermsComponent terms.regex (reference: solr/core/src/java/org/
    // apache/solr/handler/component/TermsComponent.java:~135-180 regex
    // filtering of the terms enumeration): dictionary walk filtered by a
    // regular expression, ranked by docFreq desc then term — termStats
    // only (1 row per term), the postings are never read.
    "ft_terms_regex" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir)
      index.termStats.toDF()
        .filter(col("term").rlike("^[a-z]{3}$"))
        .select(col("term"), col("docFreq").as("df"))
        .orderBy(desc("df"), asc("term")).limit(10)
    }),
    // TopicStream checkpointed delta pull (reference: solr/solrj/src/java/
    // org/apache/solr/client/solrj/io/stream/TopicStream.java:63-130 — a
    // topic persists the max _version_ seen per shard; each pull returns
    // only query matches with version greater than the checkpoint). The
    // version analog is the ingest-ordered docId. Pull 1 runs against the
    // FIRST commit point (generation 0 = micro-batch 1 of the incremental
    // build) and checkpoints that commit's high-water mark — the index
    // max version, not the matched subset, exactly as TopicStream's
    // initial checkpoint does; pull 2 runs against HEAD and emits only the
    // matches beyond the checkpoint.
    "q_topic" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Incremental)
      val dir = DocsIndex.incrementalDir(spark, sfDir)
      val idx0 = graft.index.IndexStore.openAt(spark, dir, 0L)
      val s0 = new graft.search.GraftSearcher(idx0, graft.analysis.Analyzers.simple)
      val qs = "merge AND vector"
      // pull 1: the first batch's full match set, then checkpoint
      s0.matchesDS(s0.parse(qs)).toDF("docId").count()
      val ckpt = idx0.docs.toDF().agg(max(col("docId"))).head().getLong(0)
      // pull 2: only versions beyond the checkpoint
      searcher.matchesDS(searcher.parse(qs)).toDF("docId")
        .filter(col("docId") > ckpt)
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // FeatureField log scoring function (reference: lucene/core/src/java/
    // org/apache/lucene/document/FeatureField.java LogFunction — score =
    // weight · ln(scale + featureValue), the unbounded companion of the
    // saturation function ft_feature_sat pins; newLogQuery :214-240): BM25
    // plus a 2·ln(1 + len) static-feature leg. ln over an exact integer
    // operand is the same shared-text discipline the BM25 idf already
    // relies on. Unbounded function ⇒ every match scored, like Lucene.
    "ft_feature_log" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF()
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .withColumn("fscore",
          round(col("score")
            + lit(2.0) * log(lit(1.0) + col("len").cast("double")), 4))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("fscore"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("fscore"))
    }),
    // group.ngroups (reference: solr/core/src/java/org/apache/solr/search/
    // grouping/distributed/command/SearchGroupsFieldCommand.java — the
    // matched-group count the grouped response carries next to matches):
    // one distinct-count + one count over the match set, map-side partial.
    "ft_group_ngroups" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(searcher.parse("vector OR table")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("lang")), "docId")
        .agg(countDistinct(col("lang")).as("n_groups"),
          count(lit(1)).as("n_matches"))
    }),
    // MemoryIndex percolation scoring (reference: lucene/memory/src/java/
    // org/apache/lucene/index/memory/MemoryIndex.java:77-118 — a single-doc
    // in-memory index; search() scores a query against THAT doc alone, so
    // collection stats collapse to docCount=1, df=1, avgdl=dl). The
    // percolation shape: every row is its own index, evaluated map-only via
    // the REAL analyzer + SmallFloat norm quantization + BM25 components —
    // embarrassingly parallel at 100 TB (no global stats, no shuffle until
    // the final top-k). Query 'spark table' = disjunction sum, term order
    // fixed so the FP sum order matches the oracle.
    "ft_memory_index" -> ((spark, sfDir) => {
      import spark.implicits._
      val qTerms = Seq("spark", "table")
      DocsIndex.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val toks = graft.analysis.Analyzers.simple.analyze(text).map(_.term).toArray
          val dl = toks.length.toDouble
          val dlq = graft.codec.SmallFloat
            .byte4ToInt(graft.codec.SmallFloat.intToByte4(toks.length)).toDouble
          var s = 0.0
          var any = false
          qTerms.foreach { t =>
            val tf = toks.count(_ == t).toDouble
            if (tf > 0) {
              any = true
              s += math.log(1 + 0.5 / 1.5) *
                (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dlq / dl))
            }
          }
          (id, TopK.round4(s), any)
        }
        .filter(_._3).map(r => (r._1, r._2)).toDF("doc_id", "score")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
    }),
    // Replicator module (reference: lucene/replicator/src/java/org/apache/
    // lucene/replicator/IndexRevision.java:43-71 + ReplicationClient — a
    // revision is the commit point's exact file set; the client copies the
    // files then publishes the commit). IndexStore.replicate copies the
    // manifest-referenced segment/tombstone/docvalues trees and commits the
    // replica manifest LAST; the replica then serves the same BM25 top-k
    // through the normal search path, which the oracle recomputes from raw
    // text — replication fidelity under the hard signal.
    "ft_replica_search" -> ((spark, sfDir) => {
      val src = DocsIndex.committedDir(spark, sfDir)
      val dst = graft.index.IndexBuilder.scratchDir("graft-replica-")
      graft.index.IndexStore.replicate(src, dst)
      val idx = graft.index.IndexStore.open(spark, dst)
      val searcher = new graft.search.GraftSearcher(idx, graft.analysis.Analyzers.simple)
      searcher.searchDoubleDS(searcher.parse("stream"), 10).toDF()
        .join(DocsIndex.docIdMap(idx), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // TermVectorComponent (reference: solr/core/src/java/org/apache/solr/
    // handler/component/TermVectorComponent.java:246-320 — per-document term
    // vectors with tf and collection df). Served from the DOC-KEYED term
    // vectors table materialized at write time from the indexing inversion
    // (the `.tvd` / CompressingTermVectorsWriter analog — see
    // TermVectorRow): the per-doc fetch is a docId IN-filter pushed into a
    // docId-range-sorted parquet table (row-group pruning on the key), df
    // joined off the term dictionary. The blocks table is never touched —
    // the round-4 uninvert fallback is gone.
    "ft_termvectors" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val wanted = DocsIndex.docIdMap(index)
        .filter(col("doc_id").isin(1L, 2L, 3L))
      val ids = wanted.select(col("docId")).as[Long].collect().toSeq
      index.termVectors
        .filter(col("docId").isin(ids: _*))
        .join(index.termStats.toDF().select(col("term"), col("docFreq").as("docfreq")), "term")
        .join(broadcast(wanted), "docId")
        .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"), col("docfreq"))
        .orderBy("doc_id", "term")
    }),
    // ExternalFileField function query (reference: solr/core/src/java/org/
    // apache/solr/schema/ExternalFileField.java:33-60 — per-doc float values
    // living OUTSIDE the index in a keyed file, reloaded per commit, usable
    // only in function queries). The external file here is a real CSV
    // written then re-read (key=uniqueKey, value=eff); Solr loads it into a
    // per-core array keyed by uniqueKey — the distributed analog is a
    // broadcast join of the (tiny-per-executor) keyed values against the
    // scored match set. fscore = BM25 * eff.
    "ft_external_file" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val effDir = graft.index.IndexBuilder.scratchDir("graft-eff-")
      DocsIndex.documents(spark, sfDir).select(col("doc_id"))
        .withColumn("eff", (col("doc_id") * 7 % 13 + 1).cast("double"))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(effDir)
      val eff = spark.read.option("header", "true")
        .schema("doc_id LONG, eff DOUBLE").csv(effDir)
      searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .join(broadcast(eff), "doc_id")
        .withColumn("fscore", round(col("score") * col("eff"), 4))
        .orderBy(desc("fscore"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("fscore"))
    }),
    // CheckIndex tool analog (reference: lucene/core/src/java/org/apache/
    // lucene/index/CheckIndex.java:447-703 checkSegment — walk every
    // segment's postings/norms/stored fields and cross-check counts).
    // Runs graft.index.CheckIndex over a COMMITTED on-disk index (manifest
    // recount, docId uniqueness, full block decode, impact-frontier
    // domination, termStats re-aggregation — every stage a distributed
    // pass) and reports the integrity totals. The oracle recounts
    // doc/term/token totals independently from the raw text, and `problems`
    // must equal the literal 0 — any integrity violation the checker finds
    // turns the row red.
    "ft_check_index" -> ((spark, sfDir) => {
      import spark.implicits._
      val dir = DocsIndex.committedDir(spark, sfDir)
      val rep = graft.index.CheckIndex.check(spark, dir)
      val m = graft.index.IndexStore.readManifest(dir).get
      Seq((rep.docs, rep.terms, m.sumTotalTermFreq, rep.problems.size.toLong))
        .toDF("doc_count", "term_count", "sum_ttf", "problems")
    }),
    // BM25 hard-negative mining — the standard retrieval-training prep
    // (dense-retriever pipelines mine "hard negatives": top-ranked lexical
    // hits that are NOT labeled positive; cf. the BM25-negatives recipe in
    // DPR/RocketQA-style training). Positives here = docs matching the
    // marker term 'table'; for each query term the engine scores its FULL
    // match set through the real posting/BM25 path (scoreAllDoubleDS),
    // anti-joins the positive match set (shuffle-safe: the positive set is
    // never collected or broadcast by hand — at 100 TB both sides scale
    // out), and keeps the top-5 per query. Oracle recomputes every score
    // bit-for-bit via the shared dlq CTE.
    "td_mine_negatives" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val pos = searcher.matchesDS(searcher.parse("table")).toDF("docId")
      val perQuery = Seq("merge", "spark", "window").map { t =>
        searcher.scoreAllDoubleDS(searcher.parse(t)).toDF()
          .join(pos, Seq("docId"), "left_anti")
          .join(DocsIndex.docIdMap(index), "docId")
          .withColumn("q", lit(t))
          .orderBy(desc("score"), asc("doc_id")).limit(5)
          .select(col("q"), col("doc_id"), col("score"))
      }
      perQuery.reduce(_.unionAll(_))
        .orderBy(asc("q"), desc("score"), asc("doc_id"))
    }),
    // BloomFilteringPostingsFormat term-existence filter (reference:
    // lucene/codecs/src/java/org/apache/lucene/codecs/bloom/
    // BloomFilteringPostingsFormat.java + FuzzySet.java:66-71,161 —
    // contains() answers NO or MAYBE, never YES; DefaultBloomFilterFactory
    // sizes for ~10% saturation). Here: a 4096-bit filter over the term
    // dictionary, two md5-derived probes per term (FuzzySet uses one murmur
    // probe; the structure and the NO/MAYBE contract are identical, the
    // hash family is portable to SQL). The filter is a distinct over
    // (term x 2 bits) — at scale a bitmap aggregate riding termStats —
    // broadcast to the probe side. A Bloom filter can never false-negative:
    // the oracle recomputes the same bits and the maybe >= in_dict
    // invariant is checked row-for-row by value equality.
    "ft_bloom_terms" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      def bit(src: String) =
        s"(((instr('0123456789abcdef', substr($src, 1, 1)) - 1) * 16 + " +
          s"(instr('0123456789abcdef', substr($src, 2, 1)) - 1)) * 16 + " +
          s"(instr('0123456789abcdef', substr($src, 3, 1)) - 1))"
      val dict = index.termStats.toDF().select(col("term"))
      val bits = dict.selectExpr(s"${bit("md5(term)")} AS bit")
        .union(dict.selectExpr(s"${bit("md5(term || '#b')")} AS bit"))
        .distinct()
      val cands = Seq("vector", "table", "merge", "stream", "dup", "hash",
        "window", "spark", "zebra", "quux", "flink", "duck", "presto",
        "beam", "iceberg", "arrow").toDF("candidate")
      cands.selectExpr("candidate",
          s"${bit("md5(candidate)")} AS b1",
          s"${bit("md5(candidate || '#b')")} AS b2")
        .join(broadcast(bits.withColumnRenamed("bit", "b1")
          .withColumn("m1", lit(1L))), Seq("b1"), "left")
        .join(broadcast(bits.withColumnRenamed("bit", "b2")
          .withColumn("m2", lit(1L))), Seq("b2"), "left")
        .join(broadcast(dict.withColumnRenamed("term", "candidate")
          .withColumn("d0", lit(1L))), Seq("candidate"), "left")
        .select(col("candidate"),
          coalesce(col("d0"), lit(0L)).as("in_dict"),
          (coalesce(col("m1"), lit(0L)) * coalesce(col("m2"), lit(0L)))
            .as("bloom_maybe"))
        .orderBy("candidate")
    }),
    // PhraseWildcardQuery (GraftSearcher.phraseWildcard scaladoc —
    // sandbox PhraseWildcardQuery.java:44-70): phrase "fast s*" — the
    // prefix slot expands against the dictionary (6 terms here), then
    // union-postings exact adjacency like MultiPhraseQuery
    "ft_phrase_wildcard" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = searcher.phraseWildcard(
        Seq(graft.search.TermQ("fast"), graft.search.PrefixQ("s")))
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Lucene XML query syntax (XmlQueryParser scaladoc — CoreParser.java
    // wiring + builders): a BooleanQuery with must / boosted-should /
    // filter clauses parsed from XML, scored through the standard ReqOpt
    // path: s = bm25(merge) + 0·key (FILTER) + 2-boosted bm25(stream)
    "ft_xmlqp" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.XmlQueryParser.parse(
        """<BooleanQuery>
          |  <Clause occurs="must"><TermQuery>merge</TermQuery></Clause>
          |  <Clause occurs="should"><TermQuery boost="2.0">stream</TermQuery></Clause>
          |  <Clause occurs="filter"><TermQuery>key</TermQuery></Clause>
          |</BooleanQuery>""".stripMargin)
      searcher.searchDoubleDS(q, 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // BlendedInfixSuggester (reference: lucene/suggest/src/java/org/apache/
    // lucene/search/suggest/analyzing/BlendedInfixSuggester.java:60-140,
    // BlenderType.POSITION_LINEAR calculateCoefficient: coefficient =
    // 1 - 0.10 · position of the matched token): suggestions = the corpus
    // docs, weight = n_chars, matched token = 'table'; blended score =
    // weight · (1 − 0.1·(pos−1)) with the 0-based position — a map-only
    // scan (position from one vectorized array_position), top-10 heap.
    "ft_blended_infix" -> ((spark, sfDir) => {
      DocsIndex.documents(spark, sfDir)
        .withColumn("tk", expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .withColumn("pos", expr("array_position(tk, 'table')"))
        .filter(col("pos") > 0)
        .selectExpr("doc_id",
          "CAST(n_chars AS DOUBLE) * (1.0 - 0.1 * CAST(pos - 1 AS DOUBLE)) AS blended")
        .orderBy(desc("blended"), asc("doc_id")).limit(10)
    }),
    // LTR MultipleAdditiveTreesModel re-rank (solr/contrib/ltr/src/java/
    // org/apache/solr/ltr/model/MultipleAdditiveTreesModel.java:124-183;
    // the GBT/LambdaMART shape, distinct from ft_ltr's LinearModel): the
    // tree ensemble is driver-side model state broadcast into ONE
    // vectorized CASE projection over the reRankDocs window (top-50) —
    // at 100 TB the model ships with the plan, no per-doc JVM dispatch.
    "ft_ltr_trees" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val first = searcher.searchDouble(searcher.parse("vector"), 50)
      val firstDF = spark.createDataFrame(first.toSeq.map(h => (h.docId, h.score)))
        .toDF("docId", "s1")
      val feats = firstDF
        .join(index.docs.toDF().select(col("docId"), col("len"), col("lang")), "docId")
      val f = Seq(col("s1"), col("len").cast("double"),
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)))
      val model = ltrTrees.map { case (w, n) => lit(w) * ltrCol(n, f) }.reduce(_ + _)
      feats.withColumn("model", round4Col(model))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("model"), asc("doc_id")).limit(20)
        .select(col("doc_id"), col("model"))
    }),
    // Association facets (lucene/facet/src/java/org/apache/lucene/facet/
    // taxonomy/TaxonomyFacetSumIntAssociations.java + FloatAssociationFacetField):
    // each doc carries an int association (n_chars) and a float association
    // (n_chars/64 — an exact binary fraction, so the distributed sum is
    // order-independent) on its taxonomy path source/lang; sums aggregate
    // at BOTH taxonomy levels. One rollup = one shuffle, map-side partials.
    "ft_facet_assoc" -> ((spark, sfDir) => {
      DocsIndex.documents(spark, sfDir)
        .rollup(col("source"), col("lang"))
        .agg(sum(col("n_chars")).as("int_assoc"),
          sum(col("n_chars").cast("double") / lit(64.0)).as("float_assoc"))
        .filter(col("source").isNotNull)
        .withColumn("path", when(col("lang").isNull, col("source"))
          .otherwise(concat(col("source"), lit("/"), col("lang"))))
        .orderBy("path")
        .select(col("path"), col("int_assoc"), col("float_assoc"))
    }),
    // LongRange field relation queries (lucene/core/src/java/org/apache/
    // lucene/document/LongRange.java + RangeFieldQuery.QueryType:
    // INTERSECTS / WITHIN / CONTAINS / CROSSES): doc range = [n_chars,
    // n_chars + doc_id%128], query range = [250, 310]. The BKD-tree
    // analog is the parquet min/max pushdown on the two range endpoint
    // columns; the four relations are one aggregate pass (map-side
    // partials), unpivoted via stack.
    "ft_range_field" -> ((spark, sfDir) => {
      val r = DocsIndex.documents(spark, sfDir)
        .select(col("n_chars").as("lo"),
          (col("n_chars") + col("doc_id") % 128).as("hi"))
      val (ql, qh) = (lit(250L), lit(310L))
      val within = col("lo") >= ql && col("hi") <= qh
      val contains = col("lo") <= ql && col("hi") >= qh
      val intersects = col("lo") <= qh && col("hi") >= ql
      r.agg(
        sum(when(intersects, 1L).otherwise(0L)).as("i"),
        sum(when(within, 1L).otherwise(0L)).as("w"),
        sum(when(contains, 1L).otherwise(0L)).as("c"),
        sum(when(intersects && !within && !contains, 1L).otherwise(0L)).as("x"))
        .selectExpr("stack(4, 'CONTAINS', c, 'CROSSES', x, " +
          "'INTERSECTS', i, 'WITHIN', w) AS (relation, n)")
    }),
    // TREC-style retrieval quality evaluation (lucene/benchmark/src/java/
    // org/apache/lucene/benchmark/quality/QualityStats.java:80-127,283-289):
    // rank the top-20 for 'vector', judge relevance with the engine's own
    // conjunction ('vector AND table' = the judgment set), then compute
    // P@5/P@10 (= numGood/n at rank n), AP (Σ p_i at relevant ranks /
    // maxGoodPoints, :121-123), MRR (1/r of first relevant iff r<=5,
    // :87-89,283), recall (numGood/maxGoodPoints). The AP partial sums are
    // accumulated as floor(p·1e8) BIGINTs so the distributed sum is
    // order-independent; every other value is a single IEEE division.
    "ft_eval_metrics" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val hits = searcher.searchDouble(searcher.parse("vector"), 20)
      val ranked = spark.createDataFrame(
        hits.toSeq.sortBy(h => (-h.score, h.docId)).zipWithIndex
          .map { case (h, i) => (h.docId, i + 1L) }).toDF("docId", "rank")
      val rel = searcher.matchesDS(searcher.parse("vector AND table"))
        .toDF("docId").withColumn("isRel", lit(1L))
      val maxGood = rel.count().toDouble
      val w = org.apache.spark.sql.expressions.Window.orderBy("rank")
      val scored = ranked.join(rel, Seq("docId"), "left")
        .withColumn("g", coalesce(col("isRel"), lit(0L)))
        .withColumn("ng", sum("g").over(w))
        .withColumn("p", col("ng").cast("double") / col("rank").cast("double"))
      scored.agg(
        max(when(col("rank") === 5, col("p"))).as("p_at_5"),
        max(when(col("rank") === 10, col("p"))).as("p_at_10"),
        (sum(when(col("g") === 1, floor(col("p") * lit(1e8)).cast("long"))
          .otherwise(lit(0L))).cast("double") / lit(1e8) / lit(maxGood)).as("map"),
        coalesce(max(when(col("g") === 1 && col("rank") <= 5,
          lit(1.0) / col("rank").cast("double"))), lit(0.0)).as("mrr"),
        (max(col("ng")).cast("double") / lit(maxGood)).as("recall"))
        .selectExpr("stack(5, 'map', map, 'mrr', mrr, 'p_at_10', p_at_10, " +
          "'p_at_5', p_at_5, 'recall', recall) AS (metric, value)")
        .orderBy("metric")
    }),
    // strdist() function query (solr/core/src/java/org/apache/solr/search/
    // ValueSourceParser.java:402 with dist=edit -> lucene/suggest/src/java/
    // org/apache/lucene/search/spell/LevenshteinDistance.java:106:
    // sim = 1 - lev / max(len_a, len_b)): nearest dictionary terms to the
    // misspelling 'tabel'. Dictionary-FIRST scan — one row per term off
    // index.termStats, never the 128x-larger blocks table.
    "ft_strdist" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir)
      index.termStats.toDF().select(col("term"))
        .withColumn("lev", levenshtein(col("term"), lit("tabel")))
        .withColumn("sim", lit(1.0) -
          col("lev").cast("double") / greatest(length(col("term")), lit(5)).cast("double"))
        .filter(col("sim") >= 0.6)
        .orderBy(desc("sim"), asc("term")).limit(10)
        .select(col("term"), col("sim"))
    }),
    // ToParentBlockJoinSortField (lucene/join/src/java/org/apache/lucene/
    // search/join/ToParentBlockJoinSortField.java:39 — sort PARENTS by the
    // min of a child field over each parent's child block): parents matched
    // through a child hit on 'vector', ordered by min child token length.
    // Child match set + one grouped agg; the parent sort is a top-N.
    "ft_block_join_sort" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val docs = index.docs.toDF()
      val childHits = searcher.matchesDS(searcher.parse("vector")).toDF("docId")
      docs.join(childHits, "docId")
        .groupBy(col("commit").as("parent"))
        .agg(min("len").as("min_child_len"), count(lit(1)).as("child_hits"))
        .orderBy(asc("min_child_len"), asc("parent"))
        .limit(10)
        .select(col("parent"), col("min_child_len"), col("child_hits"))
    }),
    // {!igain} information-gain feature terms (solr/core/src/java/org/
    // apache/solr/search/IGainTermsQParserPlugin.java:156-207 — per-term
    // IG of a binary class split, the feature selector behind Solr's text
    // classification training): positive class = docs containing 'spark',
    // per-term (xc, df) counted from the real match sets, the shared
    // entropy expression evaluated identically in both engines; top-8.
    "ft_igain_terms" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val pos = searcher.matchesDS(graft.search.TermQ("spark")).toDF("pDocId")
      val np = pos.count()
      val nd = index.docs.count()
      val presence = DocsIndex.documents(spark, sfDir)
        .select(col("doc_id"), explode(array_distinct(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))).as("term"))
      val posIds = pos.join(DocsIndex.docIdMap(index),
        col("pDocId") === col("docId")).select(col("doc_id").as("pid"))
      presence.join(posIds, col("doc_id") === col("pid"), "left")
        .groupBy("term")
        .agg(count(lit(1)).as("dfq"),
          sum(when(col("pid").isNotNull, 1L).otherwise(0L)).as("xc"))
        .withColumn("np", lit(np)).withColumn("nd", lit(nd.toDouble))
        .selectExpr("term", "dfq",
          s"CAST(floor(($igainScoreSql) * 1e9) AS BIGINT) AS igain_nano")
        .orderBy(desc("igain_nano"), asc("term")).limit(8)
    }),
    // {!switch} parameter-routing parser (solr/core/src/java/org/apache/
    // solr/search/SwitchQParserPlugin.java — picks a sub-query by a case
    // label): case 'b' routes to the conjunction branch; the selected
    // query runs on the real scatter.
    "ft_switch" -> ((spark, sfDir) => {
      val cases = Map(
        "a" -> "vector",
        "b" -> "table AND spark",
        "default" -> "merge")
      val selected = cases.getOrElse("b", cases("default"))
      matchDF(spark, sfDir, selected)
    }),
    // {!maxscore} (solr/core/src/java/org/apache/solr/search/
    // MaxScoreQParserPlugin.java — boolean syntax where SHOULD clauses
    // contribute their MAX instead of the sum): per-doc max of the two
    // clause scores — max is order-independent, no integer-units needed.
    "ft_maxscore" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val legs = Seq("vector", "table").map(t =>
        searcher.scoreAllDoubleDS(graft.search.TermQ(t)).toDF("docId", "s"))
      legs.reduce(_ unionByName _)
        .groupBy("docId").agg(max("s").as("score"))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(12)
        .select(col("doc_id"), col("score"))
    }),
    // {!graphTerms} (solr/core/src/java/org/apache/solr/search/
    // GraphTermsQParserPlugin.java — a terms filter that DROPS terms whose
    // docFreq exceeds maxDocFreq, the frontier-pruning trick in graph
    // traversals): the under-cap subset of the term set matches, the hubs
    // are skipped. Dictionary-first df gate off termStats.
    "ft_graph_terms" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val wanted = Seq("vector", "table", "a", "the")
      val kept = index.termStats
        .filter($"term".isin(wanted: _*) && $"docFreq" <= 385)
        .map(_.term).collect().toSeq
      val q = graft.search.BoolQ(should = kept.map(graft.search.TermQ(_)))
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // FeatureField sigmoid scoring (lucene/core/src/java/org/apache/lucene/
    // document/FeatureField.java:80-84,482 — sigm(S) = w·S^a/(S^a + k^a);
    // a=2, k=60, w=2 keeps every power an exact integer product, one
    // division): the SHOULD-leg boost next to BM25, like ft_feature_sat's
    // saturation twin.
    "ft_feature_sigm" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF()
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .withColumn("l2", (col("len").cast("long") * col("len")).cast("double"))
        .withColumn("fscore",
          round(col("score") + lit(2.0) * col("l2") / (col("l2") + lit(3600.0)), 4))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("fscore"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("fscore"))
    }),
    // Range query exploiting the SORTED index (lucene/sandbox/src/java/org/
    // apache/lucene/search/IndexSortSortedNumericDocValuesRangeQuery.java —
    // when the index sort matches the range field, the range resolves by
    // binary search instead of a BKD scan): len ∈ [50, 80] against the
    // length-sorted index; on disk the sorted segment's parquet row-group
    // min/max on the sort column IS the binary search.
    "ft_sorted_range" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.Sorted)
      index.docs.toDF()
        .filter(col("len") >= 50 && col("len") <= 80)
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("len").cast("long").as("len"))
        .orderBy("doc_id")
    }),
    // terms.mincount / terms.maxcount (solr/core/src/java/org/apache/solr/
    // handler/component/TermsComponent.java — dictionary listing bounded
    // by document frequency): the mid-band of the dictionary, df in
    // [100, 400], index order. One termStats scan — never blocks.
    "ft_terms_bounds" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      index.termStats
        .filter($"docFreq" >= 100 && $"docFreq" <= 400)
        .select($"term", $"docFreq".as("df"))
        .orderBy("term")
    }),
    // edismax mm specification (solr/core/src/java/org/apache/solr/util/
    // SolrPluginUtils.java calculateMinShouldMatch — conditional "2<75%"
    // spec: all terms required up to 2 optional clauses, else 75%
    // float-truncated): 4 SHOULD terms -> msm 3, evaluated by the engine's
    // own mm parser feeding the real minShouldMatch scatter.
    "ft_mm_spec" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val terms = Seq("vector", "table", "spark", "window")
      val msm = graft.search.Query.calculateMinShouldMatch(terms.size, "2<75%")
      val q = graft.search.BoolQ(
        should = terms.map(graft.search.TermQ(_)), minShouldMatch = msm)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // Mixed-operator parsing under the engine's precedence grammar
    // (Query.scala:507 `or := and (OR and)*` — AND binds tighter than OR,
    // the algebra users expect; DOCUMENTED deviation from Lucene's classic
    // adjacent-occurrence model, lucene/queryparser/.../classic/
    // QueryParserBase.java addClause, where 'a AND b OR c' yields
    // +a +b c): 'spark AND vector OR customer' matches the conjunction
    // UNION customer.
    "ft_parser_precedence" -> ((spark, sfDir) =>
      matchDF(spark, sfDir, "spark AND vector OR customer")),
    // Pure-negative query handling (solr/core/src/java/org/apache/solr/
    // search/QueryUtils.java fixNegativeQuery — Solr wraps a top-level
    // negative in MatchAll so '-vector' means "everything except"):
    // MatchAll anchored NOT through the real scatter (empty ranges still
    // execute via the cogrouped MatchAll path).
    "ft_pure_negative" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = graft.search.BoolQ(must = Seq(graft.search.MatchAllQ),
        mustNot = Seq(graft.search.TermQ("vector")))
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // HighFreqTerms -t (lucene/misc/src/java/org/apache/lucene/misc/
    // HighFreqTerms.java — top terms ranked by totalTermFreq instead of
    // docFreq): straight off the termStats dictionary.
    "ft_top_terms_ttf" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      index.termStats
        .select($"term", $"totalTermFreq".as("ttf"))
        .orderBy(desc("ttf"), asc("term"))
        .limit(20)
    }),
    // MultiCollector (lucene/core/src/java/org/apache/lucene/search/
    // MultiCollector.java — several collectors consume ONE scorer pass):
    // top-5 hits AND a lang facet off the same 'vector' scored match set.
    // Spark shape: both branches consume the same scored frame — one
    // scatter, two cheap reductions.
    "ft_multi_collect" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val scored = searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "s")
        .join(index.docs.toDF().select(col("docId"), col("lang")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
      val hits = scored.orderBy(desc("s"), asc("doc_id")).limit(5)
        .select(lit("hit").as("kind"), col("doc_id").cast("string").as("label"),
          round(col("s") * 10000).cast("long").as("value"))
      val facet = scored.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .select(lit("facet").as("kind"), col("lang").as("label"),
          col("cnt").as("value"))
      hits.unionByName(facet).orderBy("kind", "label")
    }),
    // SpanMultiTermQueryWrapper over a FUZZY query (lucene/core/src/java/
    // org/apache/lucene/search/spans/SpanMultiTermQueryWrapper.java — a
    // multi-term query as a span position source): 'hash' followed within
    // slop 3 by any dictionary term at damerau distance <= 1 from 'tble'
    // (fuzzy prefix 1). Expansion is dictionary-first off termStats; the
    // span leg is the same OR-slot execution as ft_span_prefix.
    "ft_span_fuzzy" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      // "fuzzy prefix 1" == FuzzyQ("tble", 1, prefixLength=1,
      // transpositions=true): startsWith("t") is the pushed prefix anchor
      // and the damerau<=1 check is the exact decision
      val fz = graft.search.FuzzyQ("tble", 1, prefixLength = 1, transpositions = true)
      val variants = searcher.dictTerms(fz)
        .map(_.term).orderBy("value").limit(128)
        .collect()
      val q = graft.search.SpanOrNearQ(
        Seq(Seq("hash"), variants.toSeq), 3, inOrder = true)
      searcher.matchesDS(q).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // MappingCharFilter (lucene/analysis/common/src/java/org/apache/lucene/
    // analysis/charfilter/MappingCharFilter.java + NormalizeCharMap —
    // char-level rewrite before tokenization): the mapped index
    // (big=>large) scored for 'large'; tf/df/norms all reflect the
    // rewritten stream, which the oracle recomputes from the same
    // regexp_replace.
    "ft_mapping_charfilter" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Mapped)
      searcher.searchDoubleDS(graft.search.TermQ("large"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // Compound sort (lucene/core/src/java/org/apache/lucene/search/Sort.java
    // — multi-SortField: primary field asc, secondary score desc, docId
    // tiebreak; TopFieldCollector compares fields in order): 'vector' hits
    // sorted (lang asc, score desc, doc_id asc), top-12.
    "ft_sort_compound" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "score")
        .join(index.docs.toDF().select(col("docId"), col("lang")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(asc("lang"), desc("score"), asc("doc_id")).limit(12)
        .select(col("lang"), col("doc_id"), col("score"))
    }),
    // Collection statistics surface (lucene/core/src/java/org/apache/
    // lucene/search/CollectionStatistics.java — docCount, sumTotalTermFreq,
    // and the avgdl BM25 derives from them; Solr exposes them via
    // LukeRequestHandler): the index's fieldStats row against the oracle's
    // recount. avgdl is the same single IEEE division Bm25.scala performs.
    "ft_field_stats" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir)
      val fs = index.fieldStats
      spark.createDataFrame(Seq(
        (fs.docCount, fs.sumTotalTermFreq,
          fs.sumTotalTermFreq.toDouble / fs.docCount)))
        .toDF("doc_count", "sum_ttf", "avgdl")
    }),
    // group.limit + group.offset within-group paging (solr/core/src/java/
    // org/apache/solr/search/Grouping.java:groupOffset/docsPerGroup —
    // skip N docs INSIDE each group, then take the page): lang groups over
    // the 'vector' match set ranked by BM25, within-group rows 2..3.
    "ft_group_offset" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val scored = searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "score")
        .join(index.docs.toDF().select(col("docId"), col("lang")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(desc("score"), asc("doc_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1 && col("rn") <= 3)
        .select(col("lang"), col("rn"), col("doc_id"), col("score"))
        .orderBy("lang", "rn")
    }),
    // Sort by a compiled expression (lucene/expressions/src/java/org/
    // apache/lucene/expressions/Expression.java getSortField — an
    // expression over doc fields AS the sort key, not a score rescore):
    // 'merge' matches ordered by len*2 + doc_id%5 descending. The
    // expression folds into the projection; the sort is one TakeOrdered.
    "ft_sort_expr" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      searcher.matchesDS(searcher.parse("merge")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("len")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .withColumn("sort_key", col("len").cast("long") * 2 + col("doc_id") % 5)
        .orderBy(desc("sort_key"), asc("doc_id")).limit(12)
        .select(col("doc_id"), col("sort_key"))
    }),
    // ord()/rord() function queries (solr/core/src/java/org/apache/solr/
    // search/function/OrdFieldSource.java:44-52 — field values numbered
    // lexicographically starting at 1; ReverseOrdFieldSource = numValues −
    // ord + 1): ordinals over the lang dictionary, broadcast onto a doc
    // sample. The sorted-distinct dictionary is tiny; the doc side never
    // shuffles.
    "ft_func_ord" -> ((spark, sfDir) => {
      val d = DocsIndex.documents(spark, sfDir)
      val w = org.apache.spark.sql.expressions.Window.orderBy("lang")
      val ords = d.select("lang").distinct()
        .withColumn("ord", row_number().over(w))
      val nv = ords.count()
      d.filter(col("doc_id") % 37 === 0)
        .join(broadcast(ords), "lang")
        .withColumn("rord", lit(nv) - col("ord") + lit(1))
        .select(col("doc_id"), col("lang"), col("ord"), col("rord"))
        .orderBy("doc_id")
    }),
    // Cross-core query-time join (solr/core/src/java/org/apache/solr/search/
    // JoinQParserPlugin.java — {!join fromIndex=other from=f to=f}: the
    // match set of a DIFFERENT core's query projected through a key field
    // onto this core): from-core = the stemmed index ('tables' stems to
    // 'table'), key = source label, to-core = the main corpus further
    // filtered by 'merge'. The from-side key set is distinct + broadcast.
    "ft_join_from_index" -> ((spark, sfDir) => {
      val (sIdx, sSearcher) = DocsIndex.get(spark, sfDir, DocsIndex.Stemmed)
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val fromKeys = sSearcher.matchesDS(sSearcher.parse("tables")).toDF("docId")
        .join(sIdx.docs.toDF().select(col("docId"), col("commit")), "docId")
        .select("commit").distinct()
      searcher.matchesDS(searcher.parse("merge")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("commit")), "docId")
        .join(broadcast(fromKeys), "commit")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    // FieldExistsQuery over docvalues (lucene/core/src/java/org/apache/
    // lucene/search/DocValuesFieldExistsQuery.java — match docs that HAVE a
    // value for a field): the atomic index's partial 'boost' field; exists
    // vs missing bucket counts + the existing values' exact sum. The dv
    // table IS the match iterator — one aggregate over it, one anti-join
    // for the missing side.
    "ft_dv_exists" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.Atomic)
      val boost = index.docValues.toDF().filter(col("field") === "boost")
        .select(col("docId"), col("value"))
      val ex = boost.agg(count(lit(1)).as("cnt"), sum("value").as("sum_boost"))
        .select(lit("exists").as("bucket"), col("cnt"), col("sum_boost"))
      val miss = index.docs.toDF().select(col("docId"))
        .join(boost.select("docId"), Seq("docId"), "left_anti")
        .agg(count(lit(1)).as("cnt"))
        .select(lit("missing").as("bucket"), col("cnt"), lit(0L).as("sum_boost"))
      ex.unionByName(miss).orderBy("bucket")
    }),
    // Sort by docvalues with sortMissingLast (lucene/core/src/java/org/
    // apache/lucene/search/SortField.java setMissingValue; Solr schema
    // sortMissingLast=true): 'merge' hits ordered by the partial 'boost'
    // dv descending, docs WITHOUT the field sorting last (missing → -1 on
    // both engines — avoids cross-engine null canon), docId tiebreak.
    "ft_dv_sort_missing" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Atomic)
      val boost = index.docValues.toDF().filter(col("field") === "boost")
        .select(col("docId"), col("value").as("b"))
      searcher.matchesDS(graft.search.TermQ("merge")).toDF("docId")
        .join(boost, Seq("docId"), "left")
        .withColumn("boost", coalesce(col("b"), lit(-1L)))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("boost"), asc("doc_id")).limit(12)
        .select(col("doc_id"), col("boost"))
    }),
    // LTR feature-logger transformer (solr/contrib/ltr/src/java/org/apache/
    // solr/ltr/response/transform/LTRFeatureLoggerTransformerFactory.java —
    // [features] returns the extracted feature vector per result doc): the
    // ft_ltr/ft_ltr_trees feature set (first-pass BM25, doc length, lang
    // flag) logged for the top-10 of 'vector'. Feature extraction is the
    // same broadcast-join projection the models consume.
    "ft_ltr_features" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val first = searcher.searchDouble(searcher.parse("vector"), 10)
      val firstDF = spark.createDataFrame(first.toSeq.map(h => (h.docId, h.score)))
        .toDF("docId", "f_s1")
      firstDF
        .join(index.docs.toDF().select(col("docId"), col("len"), col("lang")), "docId")
        .withColumn("f_len", col("len").cast("long"))
        .withColumn("f_lang", when(col("lang") === "en", 1L).otherwise(0L))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("f_s1"), asc("doc_id"))
        .select(col("doc_id"), col("f_s1"), col("f_len"), col("f_lang"))
    }),
    // TopTermsScoringBooleanQueryRewrite (lucene/core/src/java/org/apache/
    // lucene/search/MultiTermQuery.java:114-140 + TopTermsRewrite.java:
    // 202-207 — the SCORING rewrite for multi-term queries: keep the top
    // `size` expanded terms in a priority queue ordered by (boost, then
    // SMALLER term wins ties), emit a BooleanQuery of SHOULD TermQueries):
    // prefix s* with size=4 expands dictionary-first off termStats (constant
    // boost -> first 4 terms in term order), each doc scores the SUM of its
    // per-term BM25 — summed in exact 1e4-units so the distributed
    // disjunction is order-independent.
    "ft_prefix_scored" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      import spark.implicits._
      val expanded = index.termStats.toDF().filter(col("term").startsWith("s"))
        .orderBy("term").limit(4).select("term").as[String].collect().toSeq
      expanded.map(t =>
        searcher.scoreAllDoubleDS(graft.search.TermQ(t)).toDF("docId", "s"))
        .reduce(_ unionByName _)
        .groupBy("docId")
        .agg((sum(round(col("s") * 10000).cast("long")).cast("double") / 10000.0)
          .as("score"))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(15)
        .select(col("doc_id"), col("score"))
    }),
    // DirectSpellChecker (lucene/suggest/src/java/org/apache/lucene/search/
    // spell/DirectSpellChecker.java:60,303-320,458 — suggestions straight
    // off the term dictionary, no side index; score =
    // LuceneLevenshteinDistance.java:106 `1 - d/min(len)`, transposition-
    // counting; order = SuggestWordScoreComparator: score desc, docFreq
    // desc, term asc): top-5 for the misspelling 'tble' with maxEdits=2 and
    // prefix=1. Dictionary-first — one row per term off termStats.
    "ft_spell_direct" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir)
      import spark.implicits._
      val q = "tble"
      index.termStats.as[graft.index.TermStatsRow]
        .flatMap { ts =>
          val d = graft.search.Query.damerauLevenshtein(ts.term, q)
          if (ts.term != q && ts.term.startsWith("t") && d <= 2)
            Some((ts.term, ts.docFreq,
              1.0 - d.toDouble / math.min(ts.term.length, q.length)))
          else None
        }.toDF("term", "docfreq", "score")
        .orderBy(desc("score"), desc("docfreq"), asc("term")).limit(5)
    }),
    // SuggestMode.SUGGEST_MORE_POPULAR (lucene/suggest/src/java/org/apache/
    // lucene/search/spell/SuggestMode.java:33-38 + DirectSpellChecker
    // .java:350-360 — even a term PRESENT in the dictionary gets
    // suggestions, but only ones with a HIGHER docFreq): neighbors of
    // 'fast' within damerau distance 2 whose df exceeds df('fast'),
    // most-popular first. Dictionary-first off termStats.
    "ft_spell_popular" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir)
      import spark.implicits._
      val q = "fast"
      val qDf = index.termStats.as[graft.index.TermStatsRow]
        .filter(_.term == q).collect().headOption.map(_.docFreq).getOrElse(0L)
      index.termStats.as[graft.index.TermStatsRow]
        .flatMap { ts =>
          val d = graft.search.Query.damerauLevenshtein(ts.term, q)
          if (ts.term != q && d <= 2 && ts.docFreq > qDf)
            Some((ts.term, ts.docFreq)) else None
        }.toDF("term", "docfreq")
        .orderBy(desc("docfreq"), asc("term")).limit(5)
    }),
    // DocumentValueSourceDictionary suggester weights (lucene/suggest/src/
    // java/org/apache/lucene/search/suggest/DocumentValueSourceDictionary
    // .java:38-70 — suggestion entries read from stored documents, each
    // weighted by a value-source EXPRESSION instead of a stored weight
    // field): entry = the doc's first-two-token phrase, weight =
    // 2·n_chars − doc_id%7, duplicate entries keep the max weight;
    // completions for the typed prefix 'ta'.
    "ft_suggest_expr" -> ((spark, sfDir) => {
      DocsIndex.documents(spark, sfDir)
        .withColumn("entry", expr(
          "array_join(slice(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 1, 2), ' ')"))
        .withColumn("weight", lit(2L) * col("n_chars") - col("doc_id") % 7)
        .filter(col("entry").startsWith("ta"))
        .groupBy("entry").agg(max("weight").as("weight"))
        .orderBy(desc("weight"), asc("entry")).limit(10)
    }),
    // Index-stats function queries (solr/core/src/java/org/apache/solr/
    // search/ValueSourceParser.java:646-670 — docfreq(), totaltermfreq()/
    // ttf(), plus ClassicSimilarity idf = ln((docCount+1)/(docFreq+1))+1):
    // per-term stats straight off the termStats dictionary (one row per
    // term — never the blocks table), idf emitted as floor(idf·1e6).
    "ft_func_docfreq" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir)
      val terms = Seq("big", "spark", "table", "vector")
      val n = index.docs.count()
      index.termStats.toDF().filter(col("term").isin(terms: _*))
        .withColumn("maxdoc", lit(n))
        .withColumn("idf_micro6",
          floor((log(lit((n + 1).toDouble) / (col("docFreq").cast("double") + lit(1.0)))
            + lit(1.0)) * lit(1e6)).cast("long"))
        .select(col("term"), col("docFreq").as("docfreq"),
          col("totalTermFreq").as("ttf"), col("maxdoc"), col("idf_micro6"))
        .orderBy("term")
    }),
    // Atomic updates (solr/core/src/java/org/apache/solr/update/processor/
    // AtomicUpdateDocumentMerger.java:100-124,435,480 — set/inc merged
    // against the CURRENT stored document): popularity taken through a set
    // batch then an inc batch (DocsIndex.Atomic), read back through a
    // real 'merge' query. Latest-generation resolution is the same
    // gen-stacked docvalues path as ft_dv_update.
    "ft_atomic_update" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Atomic)
      searcher.matchesDS(graft.search.TermQ("merge")).toDF("docId")
        .join(index.docValues.toDF().filter(col("field") === "popularity")
          .select(col("docId"), col("value").as("popularity")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("popularity"), asc("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("popularity"))
    }),
    // Monitor presearcher pruning made observable (lucene/monitor/src/java/
    // org/apache/lucene/monitor/TermFilteredPresearcher.java — queries are
    // indexed by a minimal covering term disjunction so most never run per
    // doc): for the same standing set as ft_monitor, count CANDIDATE docs
    // (term prefilter hit) vs CONFIRMED matches per query. At 100 TB this
    // is the difference between running every registered query on every
    // doc and running ~df(term)/N of them — the candidate/matched ratio IS
    // the pruning evidence.
    "ft_monitor_presearch" -> ((spark, sfDir) => {
      val standing = Seq(
        "q_bool" -> graft.search.BoolQ(
          must = Seq(graft.search.TermQ("spark")),
          mustNot = Seq(graft.search.TermQ("vector"))),
        "q_phrase" -> graft.search.PhraseQ(Seq("big", "table"), Seq(0, 1)),
        "q_vector" -> graft.search.TermQ("vector"))
      graft.streaming.QueryMonitor
        .presearchBatch(DocsIndex.files(spark, sfDir), standing,
          graft.analysis.Analyzers.simple)
        .toDF()
        .groupBy(col("queryName"))
        .agg(count(lit(1)).as("candidates"),
          sum(when(col("matched"), 1L).otherwise(0L)).as("matched"))
        .withColumnRenamed("queryName", "query_name")
        .orderBy("query_name")
    }),
    // MultipassTermFilteredPresearcher (reference: lucene/monitor/src/java/
    // org/apache/lucene/monitor/MultipassTermFilteredPresearcher.java:1-150
    // — pass p of a conjunction indexes the p-th-best child's covering
    // terms; a doc must hit EVERY pass to stay a candidate, so
    // conjunction-heavy standing sets prune far tighter than the single
    // pass while disjunctions are unaffected): per query, single-pass
    // candidates vs 2-pass candidates vs confirmed matches.
    "ft_monitor_multipass" -> ((spark, sfDir) => {
      val standing = Seq(
        "q_conj3" -> graft.search.BoolQ(must = Seq(
          graft.search.TermQ("spark"), graft.search.TermQ("hash"),
          graft.search.TermQ("join"))),
        "q_conj_phrase" -> graft.search.BoolQ(must = Seq(
          graft.search.PhraseQ(Seq("big", "table"), Seq(0, 1)),
          graft.search.TermQ("scan"))),
        "q_or" -> graft.search.BoolQ(should = Seq(
          graft.search.TermQ("vector"), graft.search.TermQ("stream"))))
      graft.streaming.QueryMonitor
        .presearchMultipassBatch(DocsIndex.files(spark, sfDir), standing,
          graft.analysis.Analyzers.simple, passes = 2)
        .toDF()
        .groupBy(col("queryName"))
        .agg(count(lit(1)).as("cand_single"),
          sum(when(col("candMulti"), 1L).otherwise(0L)).as("cand_multi"),
          sum(when(col("matched"), 1L).otherwise(0L)).as("matched"))
        .withColumnRenamed("queryName", "query_name")
        .orderBy("query_name")
    }),
    // group.query grouping (solr/core/src/java/org/apache/solr/search/
    // Grouping.java — inner class CommandQuery: each group.query defines a
    // bucket; hits of the MAIN query are ranked within each bucket): main
    // query 'vector', buckets = matches of 'table' vs the rest, top-2 per
    // bucket. Match set + score set off the real scatter; the per-bucket
    // top-k is one window.
    "ft_group_query" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val scores = searcher.scoreAllDoubleDS(searcher.parse("vector")).toDF("docId", "s")
      val inGrp = searcher.matchesDS(searcher.parse("table")).toDF("docId")
        .withColumn("grp", lit("q:table"))
      val outGrp = index.docs.toDF().select(col("docId"))
        .join(inGrp.select("docId"), Seq("docId"), "left_anti")
        .withColumn("grp", lit("q:not_table"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy(desc("s"), asc("doc_id"))
      scores.join(inGrp.unionByName(outGrp), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("grp"), col("doc_id"), col("s").as("score"))
        .orderBy(asc("grp"), desc("score"), asc("doc_id"))
    }),
    // PhrasesIdentificationComponent (solr/core/src/java/org/apache/solr/
    // handler/component/PhrasesIdentificationComponent.java:933-1084): score
    // every contiguous sub-phrase of the query 'table hash value' with the
    // Bayesian model P(words|phrase)·(P(phrase)−maxWrapperP) −
    // P(words|¬phrase)·(1−(P(phrase)−maxWrapperP)), where
    // P(words|phrase)=shingle_ttf/min(word_ttf), P(words|¬phrase)=
    // shingle_ttf/max(word_ttf), P(phrase)=conj(input)/conj(words); then
    // scaled by 1/(1+maxQueryLen−maxIndexedLen) and conj(input)/maxSubConj
    // (:1075-1081). Stats come off the REAL indexes: word ttf from
    // termStats, bigram ttf from the shingle index's termStats, conjunction
    // doc counts from the engine's AND scatter. maxIndexedPositionLength=2
    // (bigram shingles), maxQueryPositionLength=3; singles score 0.0
    // (:971-973). Scores emitted as floor(s·1e6) micro-units so the
    // negative-capable doubles compare exactly.
    "ft_phrases_ident" -> ((spark, sfDir) => {
      val words = Seq("table", "hash", "value")
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val (shIndex, _) = DocsIndex.get(spark, sfDir, DocsIndex.Shingled)
      val ttf = index.termStats.filter(col("term").isin(words: _*))
        .collect().map(t => t.term -> t.totalTermFreq).toMap
      val bigrams = words.sliding(2).map(_.mkString("_")).toSeq
      val bttf = shIndex.termStats.filter(col("term").isin(bigrams: _*))
        .collect().map(t => t.term -> t.totalTermFreq).toMap
        .withDefaultValue(0L)
      def conj(ts: Seq[String]): Long =
        searcher.matchesDS(searcher.parse(ts.mkString(" AND "))).count()
      val c12 = conj(words.slice(0, 2)); val c23 = conj(words.slice(1, 3))
      val c123 = conj(words)
      val scale = 1.0 / (1 + 3 - 2)
      // one bigram sub-phrase's words_score given the input's conj count
      def sub(bg: String, w1: String, w2: String, inputConj: Long): Double = {
        val pTtf = bttf(bg).toDouble
        val wConj = if (bg == "table_hash") c12 else c23
        val pp = inputConj.toDouble / wConj
        pTtf / math.min(ttf(w1), ttf(w2)) * pp -
          pTtf / math.max(ttf(w1), ttf(w2)) * (1.0 - pp)
      }
      val bg1 = sub("table_hash", "table", "hash", c12) * scale * (c12.toDouble / c12)
      val bg2 = sub("hash_value", "hash", "value", c23) * scale * (c23.toDouble / c23)
      val tri = (sub("table_hash", "table", "hash", c123) +
        sub("hash_value", "hash", "value", c123)) * scale *
        (c123.toDouble / math.max(math.max(c12, c23), c123))
      val rows = Seq(
        ("table", 1, 0L), ("hash", 1, 0L), ("value", 1, 0L),
        ("table hash", 2, math.floor(bg1 * 1e6).toLong),
        ("hash value", 2, math.floor(bg2 * 1e6).toLong),
        ("table hash value", 3, math.floor(tri * 1e6).toLong))
      spark.createDataFrame(rows).toDF("phrase", "plen", "score_micro6")
        .orderBy("phrase")
    }),
    // JoinUtil ScoreMode.Max (lucene/join/src/java/org/apache/lucene/search/
    // join/ScoreMode.java:37, TermsIncludingScoreQuery svalue max): from-side
    // 'group' scores aggregated per join key with MAX — order-independent,
    // so no integer-units discipline needed — then mapped onto the to-side.
    "ft_join_scored_max" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val from = searcher.scoreAllDoubleDS(searcher.parse("group")).toDF("docId", "s")
        .join(index.docs.toDF().select(col("docId"), col("commit")), "docId")
        .groupBy("commit").agg(max("s").as("score"))
      index.docs.toDF().select(col("docId"), col("commit"))
        .join(broadcast(from), "commit")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20)
    }),
    // BM25 parameterization (lucene/core/.../similarities/BM25Similarity
    // .java:40-52 — the (k1, b) constructor, not just the defaults): the
    // short-query tuning k1=0.875, b=0.25 (both dyadic, so the Float
    // fields widen to EXACT doubles) through the same double scorer; the
    // oracle inlines the tuned constants into the textbook formula.
    "ft_search_bm25_tuned" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val s = searcher.withSimilarity(graft.search.Bm25Sim(0.875f, 0.25f))
      s.searchDoubleDS(s.parse("vector OR merge"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // cursorMark deep paging (solr/core/src/java/org/apache/solr/search/
    // CursorMark.java — each response carries the next totem; a page-3
    // fetch is two cursor hops, never an offset scan): two searchAfter
    // hops of 5 must equal OFFSET 10 LIMIT 5 of the global order.
    "ft_cursor_walk" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val q = searcher.parse("table")
      val p1 = searcher.searchDouble(q, 5)
      val p2 = if (p1.isEmpty) p1 else searcher.searchDouble(q, 5, p1.last)
      val after = if (p2.isEmpty) null else p2.last
      searcher.searchDoubleDS(q, 5, after).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(5)
        .select(col("doc_id"), col("score"))
    }),
    // EnumFieldType ordinal sort (solr/core/src/java/org/apache/solr/
    // schema/EnumFieldType.java — a configured value list sorts by ordinal,
    // not lexicographically): langs ordered zh < de < fr < es < en; 'vector'
    // hits sorted (enum ordinal, doc_id).
    "ft_enum_sort" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val ord = array_position(
        typedLit(Seq("zh", "de", "fr", "es", "en")), col("lang"))
      searcher.matchesDS(graft.search.TermQ("vector")).toDF("docId")
        .join(index.docs.toDF().select(col("docId"), col("lang")), "docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("lang"), ord.as("ord"), col("doc_id"))
        .orderBy(asc("ord"), asc("doc_id")).limit(15)
    }),
    // Jaro similarity over dictionary term pairs (lucene/suggest/src/java/
    // org/apache/lucene/search/spell/JaroWinklerDistance.java:40-95 — the
    // spell-checker's string distance): the ENGINE implements the matching
    // window + transposition algorithm in Scala over 1-prefix-blocked term
    // pairs from the real dictionary; the ORACLE is DuckDB's independent
    // built-in jaro_similarity — two separate implementations must agree to
    // 4 decimals on every pair. Prefix blocking bounds the pair count
    // (same blocking idea as the dedup family) at any dictionary size.
    "ft_jaro_pairs" -> ((spark, sfDir) => {
      import spark.implicits._
      val (index, _) = DocsIndex.get(spark, sfDir)
      val ts = index.termStats.toDF().select(col("term"))
        .filter(length(col("term")) >= 4)
      val pairs = ts.as("a").join(ts.as("b"),
        expr("substring(a.term, 1, 1) = substring(b.term, 1, 1) AND a.term < b.term"))
        .select(col("a.term").as("t1"), col("b.term").as("t2"))
        .as[(String, String)]
      pairs.map { case (t1, t2) =>
        (t1, t2, graft.search.TopK.round4(jaroSim(t1, t2)))
      }.toDF("t1", "t2", "jaro4").orderBy("t1", "t2")
    }),
    // exists()/def()/if() function queries (solr/core/src/java/org/apache/
    // solr/search/ValueSourceParser.java — ExistsValueSource, DefValueSource,
    // IfValueSource): over the versioned index's PARTIAL 'payload'
    // doc-values (only %3∈{0,1} docs carry one), if(exists(payload),
    // payload, 42) per 'vector' match — a docId-keyed verify, never a scan.
    "ft_func_def" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WithVersionedUpdates)
      val payload = index.docValues.toDF().filter(col("field") === "payload")
        .select(col("docId").as("pd"), col("value").as("pv"))
      searcher.matchesDS(graft.search.TermQ("vector")).toDF("docId")
        .join(payload, col("docId") === col("pd"), "left")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"),
          when(col("pv").isNotNull, lit(1L)).otherwise(lit(0L)).as("has_payload"),
          coalesce(col("pv"), lit(42L)).as("def_payload"))
        .orderBy("doc_id")
    }),
    // DocBasedVersionConstraints upserts (DocsIndex.WithVersionedUpdates
    // scaladoc): batch 1 versions %3==0 docs; batch 2 replays %6==0 docs
    // with STALE versions (dropped) and versions %3==1 docs fresh (applied).
    // Final (version, payload) doc-values prove per-doc gating.
    "ft_version_upsert" -> ((spark, sfDir) => {
      val (index, _) = DocsIndex.get(spark, sfDir, DocsIndex.WithVersionedUpdates)
      val dv = index.docValues.toDF()
      dv.filter(col("field") === "version")
        .select(col("docId"), col("value").as("version"))
        .join(dv.filter(col("field") === "payload")
          .select(col("docId").as("d2"), col("value").as("payload")),
          col("docId") === col("d2"))
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"), col("version"), col("payload"))
        .orderBy("doc_id")
    }),
    // CompositeIdRouter shard routing (solr/core/src/java/org/apache/solr/
    // common/cloud/CompositeIdRouter via solr/solrj/.../common/util/
    // Hash.java:66-132 murmurhash3_x86_32, seed 0): each source key hashes
    // through the REAL murmur3 chain (validated against the reference
    // algorithm bit-for-bit), the 32-bit ring splits into 4 equal shard
    // ranges. The oracle recomputes the identical integer chain in SQL.
    "ft_shard_route" -> ((spark, sfDir) => {
      val base = DocsIndex.documents(spark, sfDir)
        .groupBy(col("source").as("s")).agg(count(lit(1)).as("n_docs"))
      m32Steps((a, b) => s"($a ^ $b)")
        .foldLeft(base) { case (df, (alias, e)) => df.selectExpr("*", s"$e AS $alias") }
        .selectExpr("s AS source", "h AS murmur32", "shard", "n_docs")
        .orderBy("source")
    }),
    // forceMerge after deletes (lucene/core/src/java/org/apache/lucene/
    // index/IndexWriter.java:1870-1930 — merges rewrite live docs only):
    // unlike ft_delete_search (tombstones live, stats still include deleted
    // docs), here the merge PURGES the %7 tombstones, so docCount/avgdl/df
    // all shift to the survivor set and the BM25 scores move with them.
    "ft_merged_search" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.MergedDeletes)
      searcher.searchDoubleDS(searcher.parse("vector"), 10).toDF()
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), col("score"))
    }),
    // PerFieldSimilarityWrapper (lucene/core/src/java/org/apache/lucene/
    // search/similarities/PerFieldSimilarityWrapper.java:20-45 — each field
    // scores under its own Similarity inside one query): BM25 leg ('vector')
    // + ClassicSimilarity leg ('table'), each round4'd by its own scorer,
    // summed per doc across a full-outer union of the two match sets.
    "ft_perfield_sim" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir)
      val a = searcher.scoreAllDoubleDS(graft.search.TermQ("vector")).toDF("docId", "sa")
      val b = searcher.withSimilarity(graft.search.ClassicSim)
        .scoreAllDoubleDS(graft.search.TermQ("table")).toDF("docId", "sb")
      a.join(b, Seq("docId"), "full_outer")
        .select(col("docId"),
          (coalesce(col("sa"), lit(0.0)) + coalesce(col("sb"), lit(0.0))).as("score"))
        .join(DocsIndex.docIdMap(index), "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(12)
        .select(col("doc_id"), col("score"))
    }),
    // deleteByQuery (solr/core/src/java/org/apache/solr/update/
    // DirectUpdateHandler2.java:440-520; DocExpirationUpdateProcessorFactory's
    // periodic expire purge runs through it): the delete set comes from a
    // real query ('slow AND hash') against the committed index, tombstoned
    // through the same .liv-analog path; a subsequent search honors them.
    "ft_delete_by_query" -> ((spark, sfDir) => {
      val (index, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.WithQueryDeletes)
      searcher.matchesDS(searcher.parse("table OR vector")).toDF("docId")
        .join(DocsIndex.docIdMap(index), "docId")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    // PathHierarchyTokenizer (lucene/analysis/common/src/java/org/apache/
    // lucene/analysis/path/PathHierarchyTokenizer.java:30-49 — "/a/b/c" emits
    // /a, /a/b, /a/b/c): each doc's lang/source/decile path expands to its
    // prefix chain; facet counts per emitted path token. Map-side expansion
    // (≤3 tokens/doc), one grouped count — no extra shuffle beyond the agg.
    "ft_path_hierarchy" -> ((spark, sfDir) => {
      DocsIndex.documents(spark, sfDir)
        .select(col("lang"), col("source"), (col("doc_id") % 10).as("dec"))
        .select(explode(array(
          col("lang"),
          concat_ws("/", col("lang"), col("source")),
          concat_ws("/", col("lang"), col("source"), col("dec")))).as("path"))
        .groupBy("path").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("path")).limit(15)
    }),
    // LengthFilter (lucene/analysis/common/src/java/org/apache/lucene/
    // analysis/miscellaneous/LengthFilter.java:25-54 — accept(): keep tokens
    // with min <= len <= max): the [3,5]-length band of the token stream,
    // term totals over the filtered stream, top-12 by ttf.
    "ft_length_filter" -> ((spark, sfDir) => {
      DocsIndex.documents(spark, sfDir)
        .select(explode(expr(
          "filter(regexp_extract_all(lower(text), '[a-z0-9]+', 0)," +
            " t -> length(t) >= 3 AND length(t) <= 5)")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("ttf"))
        .orderBy(desc("ttf"), asc("term")).limit(12)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "ft_postings_tf" ->
      s"""SELECT * FROM (
         |  SELECT t.term AS term, d.doc_id AS doc_id,
         |         len(list_filter($TOKS, x -> x = t.term)) AS tf
         |  FROM documents d
         |  CROSS JOIN (SELECT unnest(['spark','query','vector']) AS term) t
         |) WHERE tf > 0 ORDER BY term, doc_id""".stripMargin,
    // RRF: per-query ranks over round4'd scores (ties -> doc_id), fused by
    // the identical double sum; unmatched side contributes exactly 0
    "ft_rrf" ->
      s"""$PRELUDE,
         |ra AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS ra FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s
         |  FROM dl, st) WHERE tf > 0),
         |rb AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rb FROM (
         |  SELECT dl.doc_id, ${tfSql("table")} AS tf,
         |    round(${bmSql(idfSql(dfSql("table")), tfSql("table"))}, 4) AS s
         |  FROM dl, st) WHERE tf > 0)
         |SELECT doc_id, coalesce(ra, 0) AS ra, coalesce(rb, 0) AS rb,
         |  round(coalesce(CAST(1 AS DOUBLE) / (60 + ra), CAST(0 AS DOUBLE))
         |      + coalesce(CAST(1 AS DOUBLE) / (60 + rb), CAST(0 AS DOUBLE)), 6) AS rrf
         |FROM ra FULL JOIN rb USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "ft_get" ->
      s"""SELECT doc_id, lang, source, len(tk) AS n_tokens
         |FROM (SELECT doc_id, lang, source, $TOKS AS tk FROM documents)
         |WHERE doc_id IN (7, 42, 123) ORDER BY doc_id""".stripMargin,
    // surviving token at raw index i keeps position i-1 (0-based): the
    // stop filter's posIncrement gap arithmetic collapses to exactly this
    "ft_analyze" ->
      s"""SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, tk[i] AS term
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents WHERE doc_id < 3),
         |     (SELECT unnest(generate_series(1, 5000)) AS i) gs
         |WHERE i <= len(tk)
         |  AND tk[i] NOT IN ('a','an','and','are','as','at','be','but','by',
         |    'for','if','in','into','is','it','no','not','of','on','or','such',
         |    'that','the','their','then','there','these','they','this','to',
         |    'was','will','with')
         |ORDER BY doc_id, pos""".stripMargin,
    "ft_term_positions" ->
      s"""SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents),
         |     (SELECT unnest(generate_series(1, 5000)) AS i) gs
         |WHERE i <= len(tk) AND tk[i] = 'window'
         |ORDER BY doc_id, pos""".stripMargin,
    "ft_frange" ->
      s"""WITH dl AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT doc_id, rtf FROM (
         |  SELECT doc_id, CAST(${tfSql("vector")} AS DOUBLE) / len(tk) AS rtf,
         |    ${tfSql("vector")} AS tf
         |  FROM dl
         |) WHERE tf > 0 AND rtf >= 0.02 AND rtf <= 0.05
         |ORDER BY doc_id""".stripMargin,
    "ft_payload_score" ->
      s"""WITH pos AS (
         |  SELECT doc_id, CAST(((i - 1) % 11) + 1 AS DOUBLE) AS payload
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents),
         |       (SELECT unnest(generate_series(1, 5000)) AS i) gs
         |  WHERE i <= len(tk) AND tk[i] = 'merge')
         |SELECT doc_id, count(*) AS tf, min(payload) AS p_min,
         |  max(payload) AS p_max, sum(payload) AS p_sum,
         |  round(sum(payload) / count(*), 4) AS p_avg
         |FROM pos GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // real delimited payloads: every original 'merge' occurrence stores 3,
    // every rewritten 'batch' stores 9 — the reductions re-derive from the
    // ORIGINAL token counts
    "ft_payload_delimited" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |    len(list_filter(tk, x -> x = 'merge')) AS n_m,
         |    len(list_filter(tk, x -> x = 'batch')) AS n_b
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |SELECT doc_id, CAST(n_m + n_b AS BIGINT) AS tf,
         |  CAST(CASE WHEN n_m > 0 THEN 3 ELSE 9 END AS DOUBLE) AS p_min,
         |  CAST(CASE WHEN n_b > 0 THEN 9 ELSE 3 END AS DOUBLE) AS p_max,
         |  CAST(3 * n_m + 9 * n_b AS DOUBLE) AS p_sum,
         |  round(CAST(3 * n_m + 9 * n_b AS DOUBLE) / (n_m + n_b), 4) AS p_avg
         |FROM c WHERE n_m + n_b > 0 ORDER BY doc_id""".stripMargin,
    // payload-check: positions whose stored payload equals 9 are exactly
    // the rewritten 'batch' occurrences
    "ft_payload_delimited_check" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(tk, x -> x = 'batch')) AS BIGINT) AS n_match
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x -> x = 'batch')) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_surround" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'data'
         |  AND len(list_filter(generate_series(i + 1, least(len(tk), i + 3)),
         |        j -> tk[j] IN ('table', 'stream'))) > 0)) > 0
         |  AND len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'hash'
         |    AND len(list_filter(
         |          generate_series(greatest(1, i - 2), least(len(tk), i + 2)),
         |          j -> tk[j] = 'join')) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_soundex" ->
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct($TOKS)) AS tok FROM documents)
         |SELECT DISTINCT doc_id FROM toks
         |WHERE regexp_full_match(tok, '[a-z]+')
         |  AND ${soundexSql("tok", ", 'g'")} = ${soundexSql("'filtre'", ", 'g'")}
         |ORDER BY doc_id""".stripMargin,
    "ft_block_join_facet" ->
      s"""WITH toks AS (SELECT doc_id, source, lang, $TOKS AS tk FROM documents),
         |parents AS (SELECT DISTINCT source FROM toks WHERE list_contains(tk, 'vector'))
         |SELECT lang, count(*) AS cnt
         |FROM toks JOIN parents USING (source)
         |GROUP BY lang ORDER BY cnt DESC, lang""".stripMargin,
    "ft_payload_check" ->
      s"""WITH pos AS (
         |  SELECT doc_id, ((i - 1) % 11) + 1 AS payload
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents),
         |       (SELECT unnest(generate_series(1, 5000)) AS i) gs
         |  WHERE i <= len(tk) AND tk[i] = 'merge')
         |SELECT doc_id, count(*) AS n_match
         |FROM pos WHERE payload = 5
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ft_term_stats" ->
      s"""SELECT tok AS term, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS total_term_freq
         |FROM (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |  GROUP BY doc_id, tok
         |)
         |WHERE tok IN ('spark','query','vector','customer','window')
         |GROUP BY tok ORDER BY term""".stripMargin,
    "ft_doc_len" ->
      s"SELECT doc_id, len($TOKS) AS n_tokens FROM documents ORDER BY doc_id",
    "ft_top_terms" ->
      s"""SELECT tok AS term, count(*) AS doc_freq
         |FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS tok FROM documents)
         |GROUP BY tok ORDER BY doc_freq DESC, term LIMIT 20""".stripMargin,
    "ft_match_and" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'spark') AND list_contains(tk, 'vector') AND list_contains(tk, 'hash')
         |ORDER BY doc_id""".stripMargin,
    "ft_match_or" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector') OR list_contains(tk, 'customer')
         |ORDER BY doc_id""".stripMargin,
    "ft_match_not" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'spark') AND NOT list_contains(tk, 'vector')
         |ORDER BY doc_id""".stripMargin,
    "ft_match_phrase" ->
      """SELECT doc_id FROM documents
        |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])big[^a-z0-9]+table([^a-z0-9]|$)')
        |ORDER BY doc_id""".stripMargin,
    "ft_match_prefix" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x -> x LIKE 'cust%')) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_match_wildcard" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x -> regexp_matches(x, '^w.ndow$$'))) > 0
         |ORDER BY doc_id""".stripMargin,
    // leading wildcard *able == any token with suffix 'able'
    "ft_rev_wildcard" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x -> x LIKE '%able')) > 0
         |ORDER BY doc_id""".stripMargin,
    // collapse on source, min-len selector, docId-asc tiebreak
    "ft_collapse_min" ->
      s"""SELECT source, doc_id, n_tokens FROM (
         |  SELECT source, doc_id, len(tk) AS n_tokens,
         |    row_number() OVER (PARTITION BY source ORDER BY len(tk), doc_id) AS rnk
         |  FROM (SELECT doc_id, source, $TOKS AS tk FROM documents)
         |  WHERE list_contains(tk, 'vector')
         |) WHERE rnk = 1 ORDER BY source""".stripMargin,
    "ft_match_sloppy" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)),
         |        i -> tk[i] = 'big' AND len(list_filter(
         |               generate_series(greatest(1, i + 1 - 2), least(len(tk), i + 1 + 2)),
         |               j -> tk[j] = 'table')) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    // window condition on (i, j, k) with offsets (0, 1, 2): span <= slop is
    // equivalent to ALL pairwise |Δposition − Δoffset| <= slop, so k ranges
    // over the intersection of the windows around i and j
    "ft_match_sloppy3" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'spark'
         |  AND len(list_filter(generate_series(greatest(1, i + 1 - 3), least(len(tk), i + 1 + 3)),
         |        j -> tk[j] = 'query'
         |          AND len(list_filter(generate_series(greatest(1, i + 2 - 3, j + 1 - 3),
         |                                              least(len(tk), i + 2 + 3, j + 1 + 3)),
         |                k -> tk[k] = 'table')) > 0)) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_match_fuzzy" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x -> levenshtein(x, 'sort') <= 2)) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_match_fuzzy_prefix" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x -> x LIKE 'so%'
         |  AND abs(len(x) - 4) <= 2 AND levenshtein(x, 'sort') <= 2)) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_match_fuzzy_dl" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x -> abs(len(x) - 4) <= 2
         |  AND damerau_levenshtein(x, 'sort') <= 2)) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_match_range" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x -> x >= 'row' AND x <= 'sort')) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_match_regexp" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x -> regexp_matches(x, '^s(can|ort|low)$$'))) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_facet_lang" ->
      s"""SELECT lang, count(*) AS cnt
         |FROM (SELECT lang, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector') OR list_contains(tk, 'customer')
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "ft_facet_path" ->
      s"""WITH m AS (
         |  SELECT t.doc_id, d.lang, d.source
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents) t
         |  JOIN documents d ON t.doc_id = d.doc_id
         |  WHERE list_contains(t.tk, 'table'))
         |SELECT path, cnt FROM (
         |  SELECT lang AS path, count(*) AS cnt FROM m GROUP BY lang
         |  UNION ALL
         |  SELECT lang || '/' || source, count(*) FROM m GROUP BY lang, source
         |) ORDER BY cnt DESC, path LIMIT 20""".stripMargin,
    "ft_drill_sideways" ->
      s"""WITH m AS (
         |  SELECT t.doc_id, d.lang, d.source
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents) t
         |  JOIN documents d ON t.doc_id = d.doc_id
         |  WHERE list_contains(t.tk, 'vector'))
         |SELECT dim, value, cnt FROM (
         |  SELECT 'lang' AS dim, lang AS value, count(*) AS cnt FROM m
         |  WHERE source = 'src3' GROUP BY lang
         |  UNION ALL
         |  SELECT 'source', source, count(*) FROM m
         |  WHERE lang = 'en' GROUP BY source
         |) ORDER BY dim, cnt DESC, value""".stripMargin,
    "ft_sort_field" ->
      s"""SELECT doc_id, n_tokens FROM
         |  (SELECT doc_id, $TOKS AS tk, len($TOKS) AS n_tokens FROM documents)
         |WHERE list_contains(tk, 'spark') AND list_contains(tk, 'vector')
         |ORDER BY n_tokens DESC, doc_id LIMIT 10""".stripMargin,
    "ft_index_sort" ->
      s"""SELECT lang, doc_id FROM (SELECT lang, doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector')
         |ORDER BY lang, doc_id LIMIT 10""".stripMargin,
    // docvalues stack: base len(tk), gen1 %5 -> 777, gen2 %10 -> 1000000+id
    // (gen2 overrides gen1 where both touched a doc — latest wins)
    "ft_dv_update" ->
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 10 = 0 THEN 1000000 + doc_id
         |       WHEN doc_id % 5 = 0 THEN 777
         |       ELSE len(tk) END AS popularity
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector')
         |ORDER BY popularity DESC, doc_id LIMIT 10""".stripMargin,
    "ft_match_msm" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE (CASE WHEN list_contains(tk, 'vector') THEN 1 ELSE 0 END)
         |    + (CASE WHEN list_contains(tk, 'customer') THEN 1 ELSE 0 END)
         |    + (CASE WHEN list_contains(tk, 'hash') THEN 1 ELSE 0 END) >= 2
         |ORDER BY doc_id""".stripMargin,
    "ft_match_docvalues" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector') AND len(tk) BETWEEN 50 AND 80
         |ORDER BY doc_id""".stripMargin,
    // dv range rides the match set; popularity = the stacked-gen CASE
    "ft_dv_range" ->
      s"""SELECT doc_id, popularity FROM (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0 THEN 1000000 + doc_id
         |         WHEN doc_id % 5 = 0 THEN 777
         |         ELSE len(tk) END AS popularity, tk
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |WHERE list_contains(tk, 'merge')
         |  AND popularity BETWEEN 40 AND 200
         |ORDER BY doc_id""".stripMargin,
    // DocValuesStats over the 'merge' match set; popularity = the same
    // stacked-gen CASE as ft_dv_range
    "ft_dv_stats" ->
      s"""SELECT count(*) AS n, min(v) AS min_v, max(v) AS max_v,
         |  CAST(sum(v) AS BIGINT) AS s,
         |  round(CAST(sum(v) AS DOUBLE) / count(*), 4) AS mean_v,
         |  round((CAST(sum(v * v) AS DOUBLE) - CAST(sum(v) AS DOUBLE) * sum(v) / count(*)) / (count(*) - 1), 4) AS var_v
         |FROM (
         |  SELECT CASE WHEN doc_id % 10 = 0 THEN 1000000 + doc_id
         |       WHEN doc_id % 5 = 0 THEN 777
         |       ELSE len(tk) END AS v
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |  WHERE list_contains(tk, 'merge'))""".stripMargin,
    // CommonGrams: BM25 of the gram 'the_table' — tf = adjacent-pair count,
    // df = docs containing the pair, doc length = unigram count (stacked
    // grams are discountOverlaps overlaps)
    "ft_commongrams" ->
      s"""$PRELUDE,
         |pt AS (SELECT doc_id, dlq,
         |    len(list_filter(range(1, len(tk)),
         |      i -> tk[i] = 'the' AND tk[i+1] = 'table')) AS tf
         |  FROM dl),
         |pst AS (SELECT count(*) FILTER (WHERE tf > 0) AS df FROM pt)
         |SELECT doc_id,
         |  round(ln(1 + (st.n - pst.df + 0.5) / (pst.df + 0.5)) * (tf * (1.2 + 1))
         |    / (tf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)), 4) AS score
         |FROM pt, st, pst WHERE tf > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // automaton paths 'merge query' | 'merge table query' over 0-based
    // positions (the engine's position base)
    "ft_term_automaton" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(range(1, len(tk)),
         |    i -> tk[i] = 'merge' AND tk[i+1] = 'query')) > 0
         |   OR len(list_filter(range(1, len(tk) - 1),
         |    i -> tk[i] = 'merge' AND tk[i+1] = 'table' AND tk[i+2] = 'query')) > 0
         |ORDER BY doc_id""".stripMargin,
    // best 20-position fragment anchored at a {merge, table} hit; 0-based
    // positions; ties -> earliest start, then doc_id
    "ft_fvh_fragment" ->
      s"""WITH pos AS (
         |  SELECT doc_id, i - 1 AS p FROM (
         |    SELECT doc_id, unnest(tk) AS t, unnest(range(1, len(tk) + 1)) AS i
         |    FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |  WHERE t IN ('merge', 'table')),
         |cnt AS (
         |  SELECT a.doc_id, a.p AS s, count(*) AS n_match
         |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
         |    AND b.p BETWEEN a.p AND a.p + 19
         |  GROUP BY a.doc_id, a.p),
         |best AS (
         |  SELECT doc_id, s, n_match,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY n_match DESC, s) AS rn
         |  FROM cnt)
         |SELECT doc_id, CAST(s AS BIGINT) AS frag_start, n_match
         |FROM best WHERE rn = 1
         |ORDER BY n_match DESC, doc_id LIMIT 10""".stripMargin,
    // boostByQuery: BM25('merge') doubled where 'table' also matches
    "ft_boost_by_query" ->
      s"""$PRELUDE
         |SELECT doc_id,
         |  round(round(s, 4) * (CASE WHEN list_contains(tk, 'table')
         |    THEN 2.0 ELSE 1.0 END), 4) AS score
         |FROM (
         |  SELECT dl.doc_id, dl.tk, ${tfSql("merge")} AS tf,
         |    ${bmSql(idfSql(dfSql("merge")), tfSql("merge"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // InetAddressPoint range [10.64.0.0, 10.191.255.255] over the 'hash'
    // match set; same dotted-string -> u32 decode as the engine
    "ft_ip_range" ->
      s"""SELECT doc_id, ip FROM (
         |  SELECT doc_id,
         |    '10.' || ((doc_id * 7919) % 256) || '.' ||
         |    ((doc_id * 104729) % 256) || '.' || (doc_id % 256) AS ip
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |  WHERE list_contains(tk, 'hash'))
         |WHERE CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
         |    + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
         |    + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
         |    + CAST(string_split(ip, '.')[4] AS BIGINT)
         |  BETWEEN 171966464 AND 180355071
         |ORDER BY doc_id""".stripMargin,
    "ft_join" ->
      """SELECT doc_id FROM documents
        |WHERE source IN (SELECT source FROM documents
        |  WHERE regexp_matches(lower(text), '(^|[^a-z0-9])big[^a-z0-9]+table([^a-z0-9]|$)'))
        |ORDER BY doc_id""".stripMargin,
    // eDisMax: text-side scores from the shared dlq family; source-side
    // BM25 with the single-token field's exact stats (tf=1, dl=dlq=1,
    // avgdl=1.0) spelled in the engine's op order — each field rounds to
    // 4 before the per-term max, like scoreAllDoubleDS does
    "ft_edismax" ->
      s"""$PRELUDE,
         |srcstats AS (SELECT count(*) AS n2,
         |  (SELECT count(*) FROM documents WHERE source = 'src3') AS df3
         |  FROM documents),
         |tsc AS (
         |  SELECT dl.doc_id,
         |    ${tfSql("vector")} AS tf_v, ${tfSql("src3")} AS tf_3,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS tv,
         |    round(${bmSql(idfSql(dfSql("src3")), tfSql("src3"))}, 4) AS t3
         |  FROM dl, st),
         |ssc AS (
         |  SELECT d.doc_id, d.source,
         |    CASE WHEN d.source = 'src3' THEN
         |      round(ln(1 + (s2.n2 - s2.df3 + 0.5) / (s2.df3 + 0.5))
         |        * (1 * (1.2 + 1))
         |        / (1 + 1.2 * (1 - 0.75 + 0.75 * CAST(1 AS DOUBLE) / CAST(1 AS DOUBLE))), 4)
         |    ELSE 0.0 END AS s3
         |  FROM documents d, srcstats s2)
         |SELECT doc_id, round(greatest(tv, 2 * 0.0) + greatest(t3, 2 * s3), 4) AS score
         |FROM tsc JOIN ssc USING (doc_id)
         |WHERE tf_v > 0 OR tf_3 > 0 OR source = 'src3'
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // ScoreMode.Max join: per-source max of the round4'd from-side scores
    "ft_join_scored" ->
      s"""$PRELUDE,
         |scored AS (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s
         |  FROM dl, st),
         |fv AS (
         |  SELECT d.source, max(sc.s) AS score
         |  FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
         |  WHERE sc.tf > 0 GROUP BY d.source)
         |SELECT d.doc_id, fv.score FROM documents d JOIN fv ON d.source = fv.source
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ft_join_scored_total" ->
      s"""$PRELUDE,
         |scored AS (
         |  SELECT dl.doc_id, ${tfSql("stream")} AS tf,
         |    round(${bmSql(idfSql(dfSql("stream")), tfSql("stream"))}, 4) AS s
         |  FROM dl, st),
         |fv AS (
         |  SELECT d.source, CAST(sum(CAST(round(sc.s * 10000) AS BIGINT)) AS BIGINT) AS score_1e4
         |  FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
         |  WHERE sc.tf > 0 GROUP BY d.source)
         |SELECT d.doc_id, fv.score_1e4 FROM documents d JOIN fv ON d.source = fv.source
         |ORDER BY score_1e4 DESC, doc_id LIMIT 20""".stripMargin,
    "ft_join_scored_avg" ->
      s"""$PRELUDE,
         |scored AS (
         |  SELECT dl.doc_id, ${tfSql("group")} AS tf,
         |    round(${bmSql(idfSql(dfSql("group")), tfSql("group"))}, 4) AS s
         |  FROM dl, st),
         |fv AS (
         |  SELECT d.source,
         |    (CAST(sum(CAST(round(sc.s * 10000) AS BIGINT)) AS DOUBLE) / 10000.0)
         |      / count(*) AS score
         |  FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
         |  WHERE sc.tf > 0 GROUP BY d.source)
         |SELECT d.doc_id, fv.score FROM documents d JOIN fv ON d.source = fv.source
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ft_covering" ->
      s"""SELECT doc_id, n_matched FROM (
         |  SELECT doc_id,
         |    CAST((CASE WHEN list_contains(tk, 'vector') THEN 1 ELSE 0 END)
         |       + (CASE WHEN list_contains(tk, 'table') THEN 1 ELSE 0 END)
         |       + (CASE WHEN list_contains(tk, 'customer') THEN 1 ELSE 0 END)
         |       + (CASE WHEN list_contains(tk, 'window') THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
         |    len(tk) AS l
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |WHERE n_matched >= l % 3 + 1
         |ORDER BY doc_id""".stripMargin,
    "ft_delete_match" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE (list_contains(tk, 'vector') OR list_contains(tk, 'customer'))
         |  AND doc_id % 7 <> 0
         |ORDER BY doc_id""".stripMargin,
    "ft_delete_not" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE NOT list_contains(tk, 'vector') AND doc_id % 7 <> 0
         |ORDER BY doc_id""".stripMargin,
    // NOTE: collection stats (n, avgdl, df) intentionally include the
    // tombstoned docs — deletes shift BM25 stats only at merge, like Lucene
    "ft_delete_search" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 AND doc_id % 7 <> 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_term" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_expression" ->
      s"""$PRELUDE,
         |win AS (
         |  SELECT doc_id, s FROM (
         |    SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |      ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |    FROM dl, st
         |  ) WHERE tf > 0 ORDER BY s DESC, doc_id LIMIT 50)
         |SELECT doc_id, round(s / ln(1.0 + n_chars), 4) AS expr_score
         |FROM win JOIN documents USING (doc_id)
         |ORDER BY expr_score DESC, doc_id LIMIT 10""".stripMargin,
    // ClassicSimilarity: (ln((n+1)/(df+1)) + 1) * sqrt(tf) / sqrt(dlq) —
    // op order mirrors ClassicSim.DblScorer exactly
    "ft_search_tfidf" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    (ln((st.n + 1) / (${dfSql("vector")} + 1.0)) + 1)
         |      * sqrt(${tfSql("vector")}) / sqrt(dlq) AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // SweetSpot: idf * baselineTf * (1/sqrt(steep·(|dlq−30|+|dlq−70|−40)+1))
    // — op order and the explicit * (1/sqrt(...)) mirror SweetSpotSim.DblScorer
    "ft_search_sweetspot" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("filter")} AS tf,
         |    (ln((st.n + 1) / (${dfSql("filter")} + 1.0)) + 1)
         |      * (CASE WHEN ${tfSql("filter")} <= 2 THEN 1.5
         |              ELSE sqrt(${tfSql("filter")} + 1.5 * 1.5 - 2) END)
         |      * (1.0 / sqrt(0.5 * (abs(dlq - 30) + abs(dlq - 70) - 40) + 1.0)) AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // LMDirichlet, mu=2000: ln(1 + tf/(mu*p)) + ln(mu/(dlq+mu)) clamped at
    // 0, p = (ttf+1)/(sumTotalTermFreq+1) — grouping mirrors LMDirichletSim
    "ft_search_lmd" ->
      s"""$PRELUDE,
         |lm AS (SELECT sum(len(tk)) AS sttf,
         |              sum(${tfSql("table")}) AS ttf FROM toks)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("table")} AS tf,
         |    (SELECT CASE WHEN s0 > 0 THEN s0 ELSE 0 END FROM (
         |       SELECT ln(1 + ${tfSql("table")}
         |                    / (2000.0 * ((lm.ttf + 1) / (lm.sttf + 1)))) +
         |              ln(2000.0 / (dlq + 2000.0)) AS s0 FROM lm)) AS s
         |  FROM dl
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // LMJelinekMercer λ=0.1: ln(1 + (0.9·tf/dlq) / (0.1·p)),
    // p = (ttf+1)/(sttf+1) — grouping mirrors LMJelinekMercerSim.DblScorer
    "ft_search_lmjm" ->
      s"""$PRELUDE,
         |lm AS (SELECT sum(len(tk)) AS sttf,
         |              sum(${tfSql("batch")}) AS ttf FROM toks)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("batch")} AS tf,
         |    (SELECT ln(1 + ((1 - 0.1) * ${tfSql("batch")} / dlq)
         |                   / (0.1 * ((lm.ttf + 1) / (lm.sttf + 1)))) FROM lm) AS s
         |  FROM dl
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // DFI standardized: expected = (ttf+1)·dlq/(sttf+1); freq <= expected
    // -> 0 else log2((tf-e)/sqrt(e) + 1) — mirrors DFISim.raw
    // saturated measure (f−e)/e through the same DFI shell
    "ft_search_dfi_sat" ->
      s"""$PRELUDE,
         |lm AS (SELECT sum(len(tk)) AS sttf,
         |              sum(${tfSql("table")}) AS ttf FROM toks)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("table")} AS tf,
         |    (SELECT CASE WHEN ${tfSql("table")} <= e THEN 0
         |            ELSE log2((${tfSql("table")} - e) / e + 1) END
         |     FROM (SELECT (lm.ttf + 1) * dlq / (lm.sttf + 1) AS e FROM lm)) AS s
         |  FROM dl
         |) WHERE tf > 0 AND s > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // chi-squared measure (f−e)²/e through the same DFI shell
    "ft_search_dfi_chi" ->
      s"""$PRELUDE,
         |lm AS (SELECT sum(len(tk)) AS sttf,
         |              sum(${tfSql("merge")}) AS ttf FROM toks)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("merge")} AS tf,
         |    (SELECT CASE WHEN ${tfSql("merge")} <= e THEN 0
         |            ELSE log2((${tfSql("merge")} - e) * (${tfSql("merge")} - e) / e + 1) END
         |     FROM (SELECT (lm.ttf + 1) * dlq / (lm.sttf + 1) AS e FROM lm)) AS s
         |  FROM dl
         |) WHERE tf > 0 AND s > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // DFR G-B-H1: λ = F/(n+F), A/B logs, aet = (F+1)/(df+1), tfn = tf·avgdl/dlq
    "ft_search_dfr_gb1" ->
      s"""$PRELUDE,
         |lm AS (SELECT sum(${tfSql("batch")}) AS ttf,
         |              (SELECT count(*) FROM toks
         |               WHERE list_contains(tk, 'batch')) AS df FROM toks)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("batch")} AS tf,
         |    (SELECT ((ln((1 + l) / l) / ln(2))
         |       - ((ln((1 + l) / l) / ln(2)) - (ln(l + 1) / ln(2)))
         |         / (1 + ${tfSql("batch")} * 1.0 * (st.avgdl / dlq)))
         |       * ((f0 + 1.0) / (df0 + 1.0))
         |     FROM (SELECT (lm.ttf + 1) AS f0,
         |             (lm.ttf + 1) / (st.n + (lm.ttf + 1)) AS l,
         |             lm.df AS df0 FROM lm, st)) AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // IB SPL: −ln((λ^(1−1/(tfn+1)) − λ)/(1 − λ)), λ = (ttf+1)/(n+1)
    "ft_search_ib_spl" ->
      s"""$PRELUDE,
         |lm AS (SELECT sum(${tfSql("scan")}) AS ttf FROM toks)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("scan")} AS tf,
         |    (SELECT -ln((pow(l, 1 - 1 / (${tfSql("scan")} *
         |                   (ln(1 + 1.0 * av / dlq) / ln(2)) + 1)) - l)
         |                / (1 - l))
         |     FROM (SELECT (lm.ttf + 1.0) / (st.n + 1.0) AS l,
         |                  st.avgdl AS av FROM lm, st)) AS s
         |  FROM dl
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // Axiomatic F2-LOG: ln idf, tfln = tf/(tf + s + s·dlq/avgdl), s = 0.25
    "ft_search_axiomatic_f2log" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("line")} AS tf,
         |    (${tfSql("line")} / (${tfSql("line")} + 0.25 + 0.25 * dlq / st.avgdl))
         |      * ln((st.n + 1.0) / ${dfSql("line")}) AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // CombSUM: BM25 + Classic for the same term, summed then round4'd
    "ft_search_multisim" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("window")} AS tf,
         |    ${bmSql(idfSql(dfSql("window")), tfSql("window"))}
         |    + (ln((st.n + 1) / (${dfSql("window")} + 1.0)) + 1)
         |      * sqrt(${tfSql("window")}) / sqrt(dlq) AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_dfi" ->
      s"""$PRELUDE,
         |lm AS (SELECT sum(len(tk)) AS sttf,
         |              sum(${tfSql("vector")}) AS ttf FROM toks)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    (SELECT CASE WHEN ${tfSql("vector")} <= e THEN 0
         |            ELSE log2((${tfSql("vector")} - e) / sqrt(e) + 1) END
         |     FROM (SELECT (lm.ttf + 1) * dlq / (lm.sttf + 1) AS e FROM lm)) AS s
         |  FROM dl
         |) WHERE tf > 0 AND s > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // DFR InL2: A = log2((N+1)/(df+0.5)), tfn = tf·log2(1 + avgdl/dlq),
    // s = A · 1 · (1 − 1/(1+tfn)) — mirrors DFRInL2Sim.DblScorer op order
    "ft_search_dfr" ->
      s"""$PRELUDE,
         |ts AS (SELECT ${dfSql("merge")} AS df)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("merge")} AS tf,
         |    (SELECT (ln((st.n + 1) / (ts.df + 0.5)) / ln(2)) * 1.0 *
         |            (1 - 1.0 / (1 + ${tfSql("merge")} *
         |                            (ln(1 + 1.0 * st.avgdl / dlq) / ln(2))))
         |     FROM st, ts) AS s
         |  FROM dl
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // IB LL-D-H2: λ = (df+1)/(N+1), tfn = tf·log2(1 + avgdl/dlq),
    // s = −ln(λ/(tfn+λ)) — mirrors IBLLSim.DblScorer op order
    "ft_search_ib" ->
      s"""$PRELUDE,
         |ts AS (SELECT ${dfSql("window")} AS df)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("window")} AS tf,
         |    (SELECT -ln(((ts.df + 1.0) / (st.n + 1.0)) /
         |                (${tfSql("window")} *
         |                   (ln(1 + 1.0 * st.avgdl / dlq) / ln(2)) +
         |                 ((ts.df + 1.0) / (st.n + 1.0))))
         |     FROM st, ts) AS s
         |  FROM dl
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // Axiomatic F2EXP: tfln = tf/(tf + 0.25 + 0.25·dlq/avgdl),
    // idf = ((N+1)/df)^0.35, s = max(0, 1·1·tfln·idf − 0) — mirrors
    // AxiomaticF2EXPSim.raw op order
    "ft_search_axiomatic" ->
      s"""$PRELUDE,
         |ts AS (SELECT ${dfSql("sort")} AS df)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("sort")} AS tf,
         |    (SELECT greatest(0.0, 1.0 * 1.0 *
         |       (${tfSql("sort")} /
         |          (${tfSql("sort")} + 0.25 + 0.25 * dlq / st.avgdl)) *
         |       pow((st.n + 1.0) / ts.df, 0.35) - 0.0)
         |     FROM st, ts) AS s
         |  FROM dl
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // BooleanSimilarity: per-clause score = boost; SHOULD sums matched clauses
    "ft_search_boolsim" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    ${tfSql("vector")} + ${tfSql("batch")} AS tf,
         |    CASE WHEN ${tfSql("vector")} > 0 THEN 1.5 ELSE 0 END
         |      + CASE WHEN ${tfSql("batch")} > 0 THEN 1.0 ELSE 0 END AS s
         |  FROM dl
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // elevation: scores = the ft_search_term BM25 family; elevated docs
    // (priority 3/2/1) pinned first with coalesce(score, 0), doc 1 excluded
    "ft_elevate" ->
      s"""$PRELUDE,
         |scores AS (
         |  SELECT doc_id, round(s, 4) AS score FROM (
         |    SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |      ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |    FROM dl, st) WHERE tf > 0),
         |elev(doc_id, prio) AS (VALUES (11, 3), (3, 2), (7, 1))
         |SELECT doc_id, elevated, score FROM (
         |  SELECT e.doc_id, 1 AS elevated, coalesce(s.score, 0.0) AS score,
         |         e.prio
         |  FROM elev e LEFT JOIN scores s ON e.doc_id = s.doc_id
         |  UNION ALL
         |  SELECT s.doc_id, 0, s.score, 0 FROM scores s
         |  WHERE s.doc_id NOT IN (SELECT doc_id FROM elev) AND s.doc_id <> 1
         |) ORDER BY prio DESC, score DESC, doc_id LIMIT 10""".stripMargin,
    // BM25 over the bigram shingle stream: dlen = len-1, tf = consecutive
    // ('big','table') pairs, same SmallFloat quantization of dlen
    "ft_shingle_search" ->
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) >= 2 THEN len(tk) - 1 ELSE 0 END AS dlen,
         |    len(list_filter(range(1, len(tk)),
         |        i -> tk[i] = 'big' AND tk[i+1] = 'table')) AS tf
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents)),
         |st AS (SELECT count(*) AS n,
         |              CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl,
         |              (SELECT count(*) FROM sh WHERE tf > 0) AS df FROM sh),
         |dl AS (
         |  SELECT doc_id, tf,
         |    CASE WHEN dlen < 24 THEN dlen
         |         WHEN dlen - 24 < 8 THEN dlen
         |         ELSE 24 + (((dlen - 24) >> (length(format('{:b}', dlen - 24)) - 4))
         |                    << (length(format('{:b}', dlen - 24)) - 4)) END AS dlq
         |  FROM sh)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, dl.tf,
         |    ln(1 + (st.n - st.df + 0.5) / (st.df + 0.5))
         |      * (dl.tf * (1.2 + 1))
         |      / (dl.tf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // WD index BM25: tf = raw-token occurrences + pair-boundary compound
    // concats (odd 1-indexed i — DocsIndex.camelize pairs (1,2),(3,4),…);
    // dl = raw token count (discountOverlaps: the stacked original and its
    // first part share a position). Corpus is verified letter-only, so every
    // camelCase compound case-splits.
    "ft_wd_search" -> wdBmSql("vector"),
    "ft_wd_compound" -> wdBmSql("fasthash"),
    "ft_wd_phrase" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(range(1, len(tk)),
         |      i -> tk[i] = 'fast' AND tk[i+1] = 'hash')) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_search_not" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    ${tfSql("vector")} AS tf_v, ${tfSql("table")} AS tf_t,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf_v > 0 AND tf_t = 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_msm" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    (CASE WHEN ${tfSql("vector")} > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN ${tfSql("customer")} > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN ${tfSql("hash")} > 0 THEN 1 ELSE 0 END) AS n_match,
         |    (${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}
         |     + ${bmSql(idfSql(dfSql("customer")), tfSql("customer"))}
         |     + ${bmSql(idfSql(dfSql("hash")), tfSql("hash"))}) AS s
         |  FROM dl, st
         |) WHERE n_match >= 2
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_bool" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    ${tfSql("table")} AS tf_t, ${tfSql("vector")} AS tf_v, ${tfSql("batch")} AS tf_b,
         |    (${bmSql(idfSql(dfSql("table")), tfSql("table"))}
         |     + ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))})
         |     + ${bmSql(idfSql(dfSql("batch")), tfSql("batch"))} AS s
         |  FROM dl, st
         |) WHERE tf_b > 0 AND (tf_t > 0 OR tf_v > 0)
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_phrase" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, pf, tf_c,
         |    (CASE WHEN pf = 0 THEN 0.0
         |          ELSE (${idfSql(dfSql("big"))} + ${idfSql(dfSql("table"))})
         |               * (pf * (1.2 + 1)) / (pf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END)
         |     + ${bmSql(idfSql(dfSql("customer")), "tf_c")} AS s
         |  FROM (
         |    SELECT doc_id, tk, dlq,
         |      len(list_filter(generate_series(1, len(tk) - 1),
         |                      i -> tk[i] = 'big' AND tk[i+1] = 'table')) AS pf,
         |      ${tfSql("customer")} AS tf_c
         |    FROM dl
         |  ) dl, st
         |) WHERE pf > 0 OR tf_c > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_sloppy" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, pf,
         |    CASE WHEN pf = 0 THEN 0.0
         |         ELSE (${idfSql(dfSql("big"))} + ${idfSql(dfSql("table"))})
         |              * (pf * (1.2 + 1)) / (pf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END AS s
         |  FROM (
         |    SELECT doc_id, dlq,
         |      len(list_filter(generate_series(1, len(tk)),
         |        i -> tk[i] = 'big' AND len(list_filter(
         |               generate_series(greatest(1, i + 1 - 2), least(len(tk), i + 1 + 2)),
         |               j -> tk[j] = 'table')) > 0)) AS pf
         |    FROM dl
         |  ) dl, st
         |) WHERE pf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_dismax" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, tf_v, tf_c,
         |    greatest(${bmSql(idfSql(dfSql("vector")), "tf_v")},
         |             ${bmSql(idfSql(dfSql("customer")), "tf_c")})
         |    + 0.5 * least(${bmSql(idfSql(dfSql("vector")), "tf_v")},
         |                  ${bmSql(idfSql(dfSql("customer")), "tf_c")}) AS s
         |  FROM (
         |    SELECT doc_id, dlq, ${tfSql("vector")} AS tf_v, ${tfSql("customer")} AS tf_c
         |    FROM dl
         |  ) dl, st
         |) WHERE tf_v > 0 OR tf_c > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // blended stats: one shared idf from greatest(df_vector, df_customer)
    "ft_search_blended" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, tf_v, tf_c,
         |    greatest(${bmSql(s"${idfSql(s"greatest(${dfSql("vector")}, ${dfSql("customer")})")}", "tf_v")},
         |             ${bmSql(s"${idfSql(s"greatest(${dfSql("vector")}, ${dfSql("customer")})")}", "tf_c")})
         |    + 0.5 * least(${bmSql(s"${idfSql(s"greatest(${dfSql("vector")}, ${dfSql("customer")})")}", "tf_v")},
         |                  ${bmSql(s"${idfSql(s"greatest(${dfSql("vector")}, ${dfSql("customer")})")}", "tf_c")}) AS s
         |  FROM (
         |    SELECT doc_id, dlq, ${tfSql("vector")} AS tf_v, ${tfSql("customer")} AS tf_c
         |    FROM dl
         |  ) dl, st
         |) WHERE tf_v > 0 OR tf_c > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_boost" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, tf_v, tf_c,
         |    (CASE WHEN tf_v = 0 THEN 0.0
         |          ELSE (2.0 * ${idfSql(dfSql("vector"))}) * (tf_v * (1.2 + 1))
         |               / (tf_v + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END)
         |     + ${bmSql(idfSql(dfSql("customer")), "tf_c")} AS s
         |  FROM (
         |    SELECT doc_id, dlq, ${tfSql("vector")} AS tf_v, ${tfSql("customer")} AS tf_c
         |    FROM dl
         |  ) dl, st
         |) WHERE tf_v > 0 OR tf_c > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_synonym" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, tf_syn,
         |    CASE WHEN tf_syn = 0 THEN 0.0
         |         ELSE ln(1 + (st.n - df_syn + 0.5) / (df_syn + 0.5))
         |              * (tf_syn * (1.2 + 1))
         |              / (tf_syn + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END AS s
         |  FROM (
         |    SELECT doc_id, dlq, ${tfSql("spark")} + ${tfSql("query")} AS tf_syn,
         |      least(${dfSql("spark")} + ${dfSql("query")}, (SELECT count(*) FROM toks)) AS df_syn
         |    FROM dl
         |  ) dl, st
         |) WHERE tf_syn > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_fuzzy_scored" ->
      s"""$PRELUDE,
         |cand AS (SELECT tok AS term, count(*) AS df,
         |           1 - CAST(levenshtein(tok, 'sort') AS DOUBLE) / least(len(tok), 4) AS boost
         |         FROM (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM toks)
         |         GROUP BY tok
         |         HAVING levenshtein(tok, 'sort') <= 2 AND abs(len(tok) - 4) <= 2
         |         ORDER BY boost DESC, term LIMIT 5)
         |SELECT doc_id, round(sum(CASE WHEN tf = 0 THEN 0.0 ELSE
         |    (boost * ln(1 + (st.n - df + 0.5) / (df + 0.5))) * (tf * (1.2 + 1))
         |    / (tf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END), 4) AS score
         |FROM (SELECT dl.doc_id, dl.dlq, c.term, c.df, c.boost,
         |             len(list_filter(dl.tk, x -> x = c.term)) AS tf
         |      FROM dl CROSS JOIN cand c) per, st
         |GROUP BY doc_id HAVING max(tf) > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_search_after" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10 OFFSET 10""".stripMargin,
    "ft_monitor" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT doc_id, query_name FROM (
         |  SELECT doc_id, 'q_vector' AS query_name FROM t WHERE list_contains(tk, 'vector')
         |  UNION ALL
         |  SELECT doc_id, 'q_phrase' FROM documents
         |  WHERE regexp_matches(lower(text), '(^|[^a-z0-9])big[^a-z0-9]+table([^a-z0-9]|$$)')
         |  UNION ALL
         |  SELECT doc_id, 'q_bool' FROM t
         |  WHERE list_contains(tk, 'spark') AND NOT list_contains(tk, 'vector')
         |) ORDER BY doc_id, query_name""".stripMargin,
    "ft_stop_phrase" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk) - 2),
         |        i -> tk[i] = 'big' AND tk[i+2] = 'table')) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_stop_count" ->
      s"""SELECT count(*) AS total_hits
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'value')""".stripMargin,
    // identical to ft_search_term: the UAX#29 standard analyzer must
    // tokenize this pure-[a-z0-9 ] corpus exactly like the simple analyzer
    "ft_uax_search" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // accent-then-fold BM25: the oracle re-applies the engine's deterministic
    // accenting and folds with strip_accents — token stream, df, norms and
    // scores must all match the unfolded engine-side chain
    "ft_ascii_fold" ->
      s"""${PRELUDE.replace(TOKS, ACC_TOKS)}
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("table")} AS tf,
         |    ${bmSql(idfSql(dfSql("table")), tfSql("table"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // wrap-in-markup then strip: tags + entities removed in SQL exactly as
    // the engine's HTMLStripCharFilter must remove them pre-tokenization
    "ft_html_strip" ->
      s"""${PRELUDE.replace(TOKS, HTML_TOKS)}
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("table")} AS tf,
         |    ${bmSql(idfSql(dfSql("table")), tfSql("table"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // stemmed-index BM25: the query term 'tables' drops its plural s on the
    // query side; df/tf/norms recomputed over the stemmed token stream
    "ft_stem_search" ->
      s"""$STEM_PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("table")} AS tf,
         |    ${bmSql(idfSql(dfSql("table")), tfSql("table"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // 'queries' -> 'query' (the ies->y arm) on both index and query side
    "ft_stem_match" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $STEM_TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'query')
         |ORDER BY doc_id""".stripMargin,
    // CJK bigram BM25: tf/df of the 数据 bigram, doc length = ascii words
    // + (run length - 1) per Han run
    "ft_cjk_search" ->
      s"""$CJK_PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("数据")} AS tf,
         |    ${bmSql(idfSql(dfSql("数据")), tfSql("数据"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_cjk_unigram" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $CJK_TOKS AS tk FROM documents)
         |WHERE list_contains(tk, '键')
         |ORDER BY doc_id""".stripMargin,
    // dictionary-segmented BM25: disjunction of a dict word and an
    // OOV-tail bigram; doc length counts segmented tokens
    "ft_cjk_dict_search" ->
      s"""$CJKD_PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    ${tfSql("数据流")} AS tf_d, ${tfSql("储器")} AS tf_q,
         |    (${bmSql(idfSql(dfSql("数据流")), tfSql("数据流"))}
         |     + ${bmSql(idfSql(dfSql("储器")), tfSql("储器"))}) AS s
         |  FROM dl, st
         |) WHERE tf_d > 0 OR tf_q > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // whole segmented dictionary from the oracle's hand-derived run map
    "ft_cjk_dict_terms" ->
      s"""SELECT tok AS term, count(*) AS doc_freq,
         |  CAST(sum(tf) AS BIGINT) AS total_term_freq
         |FROM (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($CJKD_TOKS) AS tok FROM documents)
         |  GROUP BY doc_id, tok
         |)
         |GROUP BY tok ORDER BY term""".stripMargin,
    // word-break suggestions re-derived over the distinct-token dictionary
    "ft_spell_wordbreak" ->
      s"""WITH dict AS (
         |  SELECT tok AS term, count(*) AS df
         |  FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS tok FROM documents)
         |  GROUP BY tok),
         |inputs AS (SELECT * FROM (VALUES ('sortmerge'), ('bigtable'), ('datakey')) t(w)),
         |splits AS (
         |  SELECT w, CAST(i AS BIGINT) AS break_at,
         |    substr(w, 1, i) AS left_part, substr(w, i + 1) AS right_part
         |  FROM inputs, (SELECT unnest(generate_series(2, 30)) AS i)
         |  WHERE i <= len(w) - 2)
         |SELECT w AS input, break_at, left_part, right_part,
         |  dl.df AS df_left, dr.df AS df_right
         |FROM splits
         |JOIN dict dl ON dl.term = left_part
         |JOIN dict dr ON dr.term = right_part
         |ORDER BY input, least(dl.df, dr.df) DESC, break_at""".stripMargin,
    "ft_spell_combine" ->
      s"""WITH dict AS (
         |  SELECT tok AS term, count(*) AS df
         |  FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS tok FROM documents)
         |  GROUP BY tok),
         |inputs AS (SELECT * FROM (VALUES (0, 'mer', 'ge'), (1, 'ge', 'cust'),
         |                                 (2, 'cust', 'omer')) t(pos, w1, w2))
         |SELECT CAST(pos AS BIGINT) AS pos, w1, w2, w1 || w2 AS combined, dict.df
         |FROM inputs JOIN dict ON dict.term = w1 || w2
         |ORDER BY pos""".stripMargin,
    // multi-word-input synonym BM25: tf = adjacent big/table pair count,
    // df = docs with >=1 pair, doc length untouched by the stacked token
    "ft_syn_graph_term" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, tf,
         |    ${bmSql(idfSql("(SELECT count(*) FROM toks WHERE len(list_filter(" +
              "generate_series(1, len(tk) - 1), " +
              "i -> tk[i] = 'big' AND tk[i+1] = 'table')) > 0)"), "tf")} AS s
         |  FROM (
         |    SELECT doc_id, tk, dlq,
         |      len(list_filter(generate_series(1, len(tk) - 1),
         |                      i -> tk[i] = 'big' AND tk[i+1] = 'table')) AS tf
         |    FROM dl
         |  ) dl, st
         |) WHERE tf > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // multi-word-output synonym phrase BM25: each original 'merge' becomes
    // mergejoin@p + merge@p + join@p+1, so phrase freq = merge count,
    // df('join') absorbs the injected tails, and the inserted position
    // inflates every doc's length by its merge count
    "ft_syn_graph_phrase" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |ex AS (SELECT doc_id,
         |    len(tk) + len(list_filter(tk, x -> x = 'merge')) AS dlen,
         |    len(list_filter(tk, x -> x = 'merge')) AS pf,
         |    CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END AS has_m,
         |    CASE WHEN list_contains(tk, 'join')
         |           OR list_contains(tk, 'merge') THEN 1 ELSE 0 END AS has_j
         |  FROM toks),
         |st AS (SELECT count(*) AS n,
         |    CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl,
         |    CAST(sum(has_m) AS BIGINT) AS dfm,
         |    CAST(sum(has_j) AS BIGINT) AS dfj FROM ex),
         |dl AS (
         |  SELECT doc_id, pf,
         |    CASE WHEN dlen < 24 THEN dlen
         |         WHEN dlen - 24 < 8 THEN dlen
         |         ELSE 24 + (((dlen - 24) >> (length(format('{:b}', dlen - 24)) - 4))
         |                    << (length(format('{:b}', dlen - 24)) - 4)) END AS dlq
         |  FROM ex)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, dl.pf,
         |    (ln(1 + (st.n - st.dfm + 0.5) / (st.dfm + 0.5))
         |     + ln(1 + (st.n - st.dfj + 0.5) / (st.dfj + 0.5)))
         |      * (dl.pf * (1.2 + 1))
         |      / (dl.pf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) AS s
         |  FROM dl, st
         |) WHERE pf > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // phrase across the expansion boundary: "join batch" hits natural
    // adjacent pairs AND former "merge batch" sites (join lands one
    // position before the shifted batch) — only true under the flatten
    // position shift
    "ft_syn_graph_shift" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk) - 1),
         |      i -> (tk[i] = 'join' OR tk[i] = 'merge')
         |           AND tk[i+1] = 'batch')) > 0
         |ORDER BY doc_id""".stripMargin,
    // EnglishAnalyzer-chain BM25: disjunction over the stems of two query
    // words absent from the corpus; df/tf/norms over the stop-filtered,
    // Porter-stemmed stream
    "ft_porter_search" ->
      s"""$PORTER_PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    ${tfSql("relat")} AS tf_r, ${tfSql("oscil")} AS tf_o,
         |    (${bmSql(idfSql(dfSql("relat")), tfSql("relat"))}
         |     + ${bmSql(idfSql(dfSql("oscil")), tfSql("oscil"))}) AS s
         |  FROM dl, st
         |) WHERE tf_r > 0 OR tf_o > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // 'generalize' and the corpus form 'generalizations' share the Porter
    // stem 'gener'
    "ft_porter_match" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $PORTER_TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'gener')
         |ORDER BY doc_id""".stripMargin,
    // the whole Porter-index dictionary: stems + df + ttf from the oracle's
    // independent paper-derived vocabulary map
    "ft_porter_terms" ->
      s"""SELECT tok AS term, count(*) AS doc_freq,
         |  CAST(sum(tf) AS BIGINT) AS total_term_freq
         |FROM (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($PORTER_TOKS) AS tok FROM documents)
         |  GROUP BY doc_id, tok
         |)
         |GROUP BY tok ORDER BY term""".stripMargin,
    // the whole ICU-fold dictionary: folded terms + df + ttf from the
    // oracle's per-character fold of the same injected corpus
    "ft_icu_fold" ->
      s"""SELECT tok AS term, count(*) AS doc_freq,
         |  CAST(sum(tf) AS BIGINT) AS total_term_freq
         |FROM (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($ICU_TOKS) AS tok FROM documents)
         |  GROUP BY doc_id, tok
         |)
         |GROUP BY tok ORDER BY term""".stripMargin,
    // BM25 over the folded token stream: df/tf/norms post-fold
    "ft_icu_search" ->
      s"""$ICU_PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    ${tfSql("table")} AS tf_t, ${tfSql("vector")} AS tf_v,
         |    (${bmSql(idfSql(dfSql("table")), tfSql("table"))}
         |     + ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}) AS s
         |  FROM dl, st
         |) WHERE tf_t > 0 OR tf_v > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // Snowball-German BM25 over the per-language index: the query stems
    // 'haus'/'wander' exist only in de docs; stats corpus-wide
    "ft_stem_de_search" ->
      s"""$LANGSTEM_PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    ${tfSql("haus")} AS tf_h, ${tfSql("wander")} AS tf_w,
         |    (${bmSql(idfSql(dfSql("haus")), tfSql("haus"))}
         |     + ${bmSql(idfSql(dfSql("wander")), tfSql("wander"))}) AS s
         |  FROM dl, st
         |) WHERE tf_h > 0 OR tf_w > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // minimal-French BM25: query stems 'don'/'port' live only in fr docs
    "ft_stem_fr_search" ->
      s"""$LANGSTEM_PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    ${tfSql("don")} AS tf_d, ${tfSql("port")} AS tf_p,
         |    (${bmSql(idfSql(dfSql("don")), tfSql("don"))}
         |     + ${bmSql(idfSql(dfSql("port")), tfSql("port"))}) AS s
         |  FROM dl, st
         |) WHERE tf_d > 0 OR tf_p > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // the whole per-language dictionary from the oracle's independent
    // hand-derived stem maps
    "ft_stem_lang_terms" ->
      s"""SELECT tok AS term, count(*) AS doc_freq,
         |  CAST(sum(tf) AS BIGINT) AS total_term_freq
         |FROM (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($LANGSTEM_TOKS) AS tok FROM documents)
         |  GROUP BY doc_id, tok
         |)
         |GROUP BY tok ORDER BY term""".stripMargin,
    // identical to ft_search_term: two-batch incremental commit + compact
    // must be score-equivalent to the single-shot build
    "ft_incr_search" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // FunctionScoreQuery: round4(BM25) · (1 + rawLen/100), re-rounded — the
    // multiplier uses the RAW token count (len(tk)), not the quantized dlq
    "ft_function_score" ->
      s"""$PRELUDE
         |SELECT doc_id,
         |  round(round(s, 4) * (1.0 + CAST(dlen AS DOUBLE) / 100.0), 4) AS fscore
         |FROM (
         |  SELECT dl.doc_id, len(dl.tk) AS dlen, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY fscore DESC, doc_id LIMIT 10""".stripMargin,
    // FeatureField saturation: round4(BM25) + 2·f/(f+60), f = raw token count
    "ft_feature_sat" ->
      s"""$PRELUDE
         |SELECT doc_id,
         |  round(round(s, 4)
         |        + 2.0 * CAST(dlen AS DOUBLE) / (CAST(dlen AS DOUBLE) + 60.0), 4) AS fscore
         |FROM (
         |  SELECT dl.doc_id, len(dl.tk) AS dlen, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY fscore DESC, doc_id LIMIT 10""".stripMargin,
    // DistanceFeatureQuery: round4(BM25) + 3·500/(500+|doc_id−2500|)
    "ft_distance_feature" ->
      s"""$PRELUDE
         |SELECT doc_id,
         |  round(round(s, 4)
         |        + 3.0 * 500.0 / (500.0 + abs(doc_id - 2500)), 4) AS fscore
         |FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY fscore DESC, doc_id LIMIT 10""".stripMargin,
    // CombinedFieldQuery / BM25F: the oracle re-tokenizes the same virtual
    // field (title·2 ++ body) — tf, df, dl, and avgdl are all COMBINED stats
    "ft_combined" ->
      s"""$CMB_PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("table")} + ${tfSql("src7")} AS tf,
         |    ${bmSql(idfSql(dfSql("table")), tfSql("table"))}
         |      + ${bmSql(idfSql(dfSql("src7")), tfSql("src7"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // synonym index: tf('fast') = fast+slow occurrences, df likewise; the
    // stacked token doesn't count toward dl (discountOverlaps), so the
    // PRELUDE's dlq applies unchanged
    "ft_syn_search" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    len(list_filter(tk, x -> x = 'fast' OR x = 'slow')) AS tf,
         |    ${bmSql(
              idfSql("(SELECT count(*) FROM toks WHERE list_contains(tk, 'fast') OR list_contains(tk, 'slow'))"),
              "len(list_filter(tk, x -> x = 'fast' OR x = 'slow'))")} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_syn_phrase" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk) - 1),
         |        i -> (tk[i] = 'fast' OR tk[i] = 'slow') AND tk[i + 1] = 'table')) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_spell_collate" ->
      s"""WITH dict AS (
         |  SELECT tok AS term, count(DISTINCT doc_id) AS df
         |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |  GROUP BY tok),
         |inp(term_in) AS (VALUES ('vektor'), ('tabel'))
         |SELECT term_in, correction, dist, df FROM (
         |  SELECT term_in, term AS correction,
         |    CAST(levenshtein(term_in, term) AS BIGINT) AS dist, df,
         |    row_number() OVER (PARTITION BY term_in
         |      ORDER BY levenshtein(term_in, term), df DESC, term) AS rk
         |  FROM inp, dict WHERE levenshtein(term_in, term) <= 2)
         |WHERE rk = 1 ORDER BY term_in""".stripMargin,
    // build telemetry: total postings = Σ per-doc distinct tokens
    "ft_build_metrics" ->
      s"""SELECT CAST(sum(len(list_distinct(tk))) AS BIGINT) AS total_postings,
         |  true AS rates_positive, true AS blocks_positive
         |FROM (SELECT $TOKS AS tk FROM documents)""".stripMargin,
    // phrase-prefix: 'fast' immediately followed by any s-prefixed token
    "ft_phrase_prefix" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk) - 1),
         |        i -> tk[i] = 'fast' AND tk[i + 1] LIKE 's%')) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_total_hits_gte" ->
      """SELECT 'GTE' AS relation, true AS ge_threshold, true AS le_true_count,
        |  CAST(5 AS BIGINT) AS n_hits, true AS topk_exact""".stripMargin,
    "ft_count" ->
      s"""SELECT count(*) AS total_hits
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector') OR list_contains(tk, 'customer')""".stripMargin,
    "ft_total_hits" ->
      s"""SELECT count(*) AS total_hits, 'EQ' AS relation
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector') OR list_contains(tk, 'customer')""".stripMargin,
    // anchored alternation over the same token dictionary
    "ft_match_regexp_alt" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(tk, x ->
         |  regexp_matches(x, '^(scan|sort|s[a-z]ow)$$'))) > 0
         |ORDER BY doc_id""".stripMargin,
    // sharded scoring with global stats == the plain single-index top-10
    "ft_shard_global_stats" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("stream")} AS tf,
         |    ${bmSql(idfSql(dfSql("stream")), tfSql("stream"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // pf: round4'd term legs + the boosted phrase leg, summed, round4'd
    "ft_edismax_pf" ->
      s"""$PRELUDE,
         |legs AS (
         |  SELECT dl.doc_id,
         |    round(${bmSql(idfSql(dfSql("table")), tfSql("table"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("table")} > 0
         |  UNION ALL
         |  SELECT dl.doc_id,
         |    round(${bmSql(idfSql(dfSql("hash")), tfSql("hash"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("hash")} > 0
         |  UNION ALL
         |  SELECT doc_id, round(s, 4) AS s FROM (
         |    SELECT dl.doc_id, pf,
         |      (2 * (${idfSql(dfSql("table"))} + ${idfSql(dfSql("hash"))}))
         |        * (pf * (1.2 + 1))
         |        / (pf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) AS s
         |    FROM (
         |      SELECT doc_id, tk, dlq,
         |        len(list_filter(generate_series(1, len(tk) - 1),
         |                        i -> tk[i] = 'table' AND tk[i+1] = 'hash')) AS pf
         |      FROM dl) dl, st
         |  ) WHERE pf > 0)
         |SELECT doc_id, round(sum(s), 4) AS score FROM legs GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 12""".stripMargin,
    // pf2/pf3 shingle boosts: three term legs + two pf2 bigram legs
    // (boost 1.5) + the pf3 trigram leg (boost 1.25), each round4'd, summed
    "ft_edismax_pf2" ->
      s"""$PRELUDE,
         |legs AS (
         |  SELECT dl.doc_id,
         |    round(${bmSql(idfSql(dfSql("big")), tfSql("big"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("big")} > 0
         |  UNION ALL
         |  SELECT dl.doc_id,
         |    round(${bmSql(idfSql(dfSql("table")), tfSql("table"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("table")} > 0
         |  UNION ALL
         |  SELECT dl.doc_id,
         |    round(${bmSql(idfSql(dfSql("hash")), tfSql("hash"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("hash")} > 0
         |  UNION ALL
         |  SELECT doc_id, round(s, 4) AS s FROM (
         |    SELECT dl.doc_id, pf,
         |      (CAST(1.5 AS DOUBLE) * (${idfSql(dfSql("big"))} + ${idfSql(dfSql("table"))}))
         |        * (pf * (1.2 + 1))
         |        / (pf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) AS s
         |    FROM (
         |      SELECT doc_id, tk, dlq,
         |        len(list_filter(generate_series(1, len(tk) - 1),
         |                        i -> tk[i] = 'big' AND tk[i+1] = 'table')) AS pf
         |      FROM dl) dl, st
         |  ) WHERE pf > 0
         |  UNION ALL
         |  SELECT doc_id, round(s, 4) AS s FROM (
         |    SELECT dl.doc_id, pf,
         |      (CAST(1.5 AS DOUBLE) * (${idfSql(dfSql("table"))} + ${idfSql(dfSql("hash"))}))
         |        * (pf * (1.2 + 1))
         |        / (pf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) AS s
         |    FROM (
         |      SELECT doc_id, tk, dlq,
         |        len(list_filter(generate_series(1, len(tk) - 1),
         |                        i -> tk[i] = 'table' AND tk[i+1] = 'hash')) AS pf
         |      FROM dl) dl, st
         |  ) WHERE pf > 0
         |  UNION ALL
         |  SELECT doc_id, round(s, 4) AS s FROM (
         |    SELECT dl.doc_id, pf,
         |      (CAST(1.25 AS DOUBLE) * (${idfSql(dfSql("big"))} + ${idfSql(dfSql("table"))} + ${idfSql(dfSql("hash"))}))
         |        * (pf * (1.2 + 1))
         |        / (pf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) AS s
         |    FROM (
         |      SELECT doc_id, tk, dlq,
         |        len(list_filter(generate_series(1, len(tk) - 2),
         |                        i -> tk[i] = 'big' AND tk[i+1] = 'table'
         |                             AND tk[i+2] = 'hash')) AS pf
         |      FROM dl) dl, st
         |  ) WHERE pf > 0)
         |SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 4) AS score FROM legs GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 12""".stripMargin,
    // flattened main result: group-head order then within-group order
    "ft_group_main" ->
      s"""SELECT doc_id, lang, n_tokens, head_len FROM (
         |  SELECT doc_id, lang, len(tk) AS n_tokens,
         |    max(len(tk)) OVER (PARTITION BY lang) AS head_len,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY len(tk) DESC, doc_id) AS rnk
         |  FROM (SELECT doc_id, lang, $TOKS AS tk FROM documents)
         |  WHERE list_contains(tk, 'vector') OR list_contains(tk, 'table'))
         |WHERE rnk <= 2
         |ORDER BY head_len DESC, lang, n_tokens DESC, doc_id""".stripMargin,
    "ft_group" ->
      s"""SELECT lang, rnk, doc_id, n_tokens FROM (
         |  SELECT lang, doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS rnk
         |  FROM (SELECT lang, doc_id, len(tk) AS n_tokens, tk
         |        FROM (SELECT lang, doc_id, $TOKS AS tk FROM documents))
         |  WHERE list_contains(tk, 'vector') OR list_contains(tk, 'table')
         |) WHERE rnk <= 2 ORDER BY lang, rnk""".stripMargin,
    "ft_sigterms" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |m AS (SELECT doc_id, tk FROM toks WHERE list_contains(tk, 'spark')),
         |fg AS (SELECT tok AS term, count(*) AS fg_df
         |       FROM (SELECT unnest(list_distinct(tk)) AS tok FROM m) GROUP BY tok),
         |bg AS (SELECT tok AS term, count(*) AS doc_freq
         |       FROM (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM toks) GROUP BY tok),
         |st AS (SELECT count(*) AS n FROM toks),
         |mc AS (SELECT count(*) AS c FROM m)
         |SELECT term, fg_df, doc_freq,
         |  round(ln((CAST(fg_df AS DOUBLE) / mc.c) / (CAST(doc_freq AS DOUBLE) / st.n)), 4) AS score
         |FROM fg JOIN bg USING (term), st, mc
         |WHERE fg_df >= 3 AND doc_freq >= 3
         |ORDER BY score DESC, term LIMIT 10""".stripMargin,
    "ft_highlight" ->
      s"""SELECT doc_id, CAST(p AS BIGINT) AS pos,
         |  array_to_string(tk[greatest(1, p - 2):least(len(tk), p + 2)], ' ') AS snippet
         |FROM (SELECT doc_id, $TOKS AS tk,
         |             list_position($TOKS, 'vector') AS p FROM documents)
         |WHERE p IS NOT NULL AND p > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_suggest" ->
      s"""SELECT tok AS term, count(*) AS doc_freq,
         |  CAST(levenshtein(tok, 'sorw') AS BIGINT) AS dist
         |FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS tok FROM documents)
         |GROUP BY tok
         |HAVING levenshtein(tok, 'sorw') <= 2
         |ORDER BY dist, doc_freq DESC, term LIMIT 5""".stripMargin,
    // fuzzy autocomplete: maxEdits=1 on the typed prefix, first char exact
    "ft_fuzzy_complete" ->
      s"""SELECT tok AS term, count(*) AS doc_freq,
         |  CAST(levenshtein(substr(tok, 1, 3), 'ser') AS BIGINT) AS dist
         |FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS tok FROM documents)
         |WHERE substr(tok, 1, 1) = 's'
         |GROUP BY tok HAVING levenshtein(substr(tok, 1, 3), 'ser') <= 1
         |ORDER BY doc_freq DESC, term LIMIT 5""".stripMargin,
    "ft_complete" ->
      s"""SELECT tok AS term, count(*) AS doc_freq
         |FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS tok FROM documents)
         |WHERE tok LIKE 's%'
         |GROUP BY tok
         |ORDER BY doc_freq DESC, term LIMIT 5""".stripMargin,
    "ft_infix_suggest" ->
      s"""SELECT tok AS term, count(*) AS weight
         |FROM (SELECT doc_id, unnest(list_distinct($TOKS)) AS tok FROM documents)
         |WHERE tok LIKE '%er%'
         |GROUP BY tok
         |ORDER BY weight DESC, term LIMIT 5""".stripMargin,
    "ft_suggest_context" ->
      s"""SELECT term, count(*) AS weight
         |FROM (SELECT unnest($TOKS) AS term FROM documents WHERE source = 'src7')
         |WHERE term LIKE 's%'
         |GROUP BY 1 ORDER BY weight DESC, term LIMIT 5""".stripMargin,
    // fuzzy-in-phrase: adjacency where slot 2 is any term within 1 edit
    "ft_complex_phrase" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk) - 1),
         |  i -> tk[i] = 'batch' AND levenshtein(tk[i + 1], 'tabl') <= 1)) > 0
         |ORDER BY doc_id""".stripMargin,
    "ft_scale_score" ->
      s"""$PRELUDE,
         |scored AS (
         |  SELECT dl.doc_id, ${tfSql("filter")} AS tf,
         |    round(${bmSql(idfSql(dfSql("filter")), tfSql("filter"))}, 4) AS s
         |  FROM dl, st),
         |m AS (SELECT min(s) AS mn, max(s) AS mx FROM scored WHERE tf > 0)
         |SELECT doc_id,
         |  round(CASE WHEN m.mx = m.mn THEN 0.0
         |        ELSE (s - m.mn) / (m.mx - m.mn) END, 4) AS score
         |FROM scored, m WHERE tf > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // gram 'sor' is emitted exactly once per token of length >= 3 whose
    // 3-prefix is 'sor' (the 4- and 5-grams are different strings)
    "ft_edgengram" ->
      s"""SELECT doc_id, count(*) AS gram_tf
         |FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |WHERE len(tok) >= 3 AND substr(tok, 1, 3) = 'sor'
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all
    "ft_analysis_chain" ->
      s"""SELECT term, count(*) AS cnt FROM (
         |  SELECT regexp_replace(tok, '[0-9]+', 'N', 'g') AS term
         |  FROM (SELECT unnest($TOKS) AS tok FROM documents))
         |WHERE len(term) BETWEEN 3 AND 8
         |GROUP BY 1 ORDER BY cnt DESC, term LIMIT 10""".stripMargin,
    // the same top-5 selection as ft_mlt, surfaced with tf/df/score details
    "ft_mlt_terms" ->
      s"""$PRELUDE,
         |bg AS (SELECT tok AS term, count(*) AS df
         |       FROM (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM toks) GROUP BY tok),
         |srctf AS (SELECT tok AS term, count(*) AS tf
         |          FROM (SELECT unnest(tk) AS tok FROM toks WHERE doc_id = 42) GROUP BY tok)
         |SELECT term, tf, df, round(sc, 4) AS score FROM (
         |  SELECT s.term, s.tf, bg.df,
         |    s.tf * ln(1 + (st.n - bg.df + 0.5) / (bg.df + 0.5)) AS sc
         |  FROM srctf s JOIN bg USING (term), st
         |  WHERE s.tf >= 2 AND bg.df >= 5
         |  ORDER BY sc DESC, s.term LIMIT 5)
         |ORDER BY sc DESC, term""".stripMargin,
    "ft_mlt" ->
      s"""$PRELUDE,
         |bg AS (SELECT tok AS term, count(*) AS df
         |       FROM (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM toks) GROUP BY tok),
         |srctf AS (SELECT tok AS term, count(*) AS tf
         |          FROM (SELECT unnest(tk) AS tok FROM toks WHERE doc_id = 42) GROUP BY tok),
         |top5 AS (SELECT s.term FROM srctf s JOIN bg USING (term), st
         |         WHERE s.tf >= 2 AND bg.df >= 5
         |         ORDER BY s.tf * ln(1 + (st.n - bg.df + 0.5) / (bg.df + 0.5)) DESC, s.term
         |         LIMIT 5),
         |per AS (SELECT dl.doc_id, dl.dlq, t.term, bg.df,
         |               len(list_filter(dl.tk, x -> x = t.term)) AS tf
         |        FROM dl CROSS JOIN top5 t JOIN bg ON bg.term = t.term)
         |SELECT doc_id, round(sum(CASE WHEN tf = 0 THEN 0.0
         |    ELSE ln(1 + (st.n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1))
         |         / (tf + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END), 4) AS score
         |FROM per, st
         |WHERE doc_id <> 42
         |GROUP BY doc_id
         |HAVING max(tf) > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // ordered 2-term span: j strictly after i, gap j - i - 1 <= 4
    "ft_span_near" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'query'
         |  AND len(list_filter(generate_series(i + 1, least(len(tk), i + 5)),
         |        j -> tk[j] = 'table')) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    // ordered 3-term chain i < j < k with total gap k - i - 2 <= 6
    "ft_span_near3" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'spark'
         |  AND len(list_filter(generate_series(i + 1, least(len(tk), i + 7)),
         |        j -> tk[j] = 'data'
         |          AND len(list_filter(generate_series(j + 1, least(len(tk), i + 8)),
         |                k -> tk[k] = 'table')) > 0)) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    // unordered 2-term: |i - j| - 1 <= 5 in either direction
    "ft_span_unordered" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'customer'
         |  AND len(list_filter(
         |        generate_series(greatest(1, i - 6), least(len(tk), i + 6)),
         |        j -> tk[j] = 'vector')) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    // ordered or-slot span: an (key|hash) occurrence followed by a
    // (table|value) occurrence with gap j - i - 1 <= 3
    "ft_span_or" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)),
         |        i -> tk[i] IN ('key', 'hash')
         |  AND len(list_filter(generate_series(i + 1, least(len(tk), i + 4)),
         |        j -> tk[j] IN ('table', 'value'))) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    // minimal ordered intervals: i a 'data' position, j the FIRST 'table'
    // after i (no 'table' inside), next 'data' not before j (no 'data'
    // inside -> minimal), internal gap j - i - 1 <= 2; count per doc
    "ft_intervals" ->
      s"""SELECT doc_id, n_intervals FROM (
         |  SELECT doc_id,
         |    CAST(len(list_filter(generate_series(1, len(pa)), m ->
         |      len(list_filter(pb, j -> j > pa[m]
         |        AND len(list_filter(pb, j2 -> j2 > pa[m] AND j2 < j)) = 0
         |        AND (m = len(pa) OR pa[m+1] >= j)
         |        AND j - pa[m] - 1 <= 2)) > 0)) AS BIGINT) AS n_intervals
         |  FROM (SELECT doc_id,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'data') AS pa,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'table') AS pb
         |        FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |  WHERE len(pa) > 0 AND len(pb) > 0)
         |WHERE n_intervals > 0 ORDER BY doc_id""".stripMargin,
    // slop-weighted interval frequency, same minimal-interval enumeration;
    // the oracle rounds AFTER summing in the same ascending-i order
    "ft_intervals_score" ->
      s"""SELECT doc_id, round(freq, 4) AS sloppy_freq FROM (
         |  SELECT doc_id,
         |    list_sum(list_transform(generate_series(1, len(pa)), m ->
         |      CASE WHEN len(list_filter(pb, j -> j > pa[m])) > 0
         |             AND (m = len(pa) OR pa[m+1] >= list_min(list_filter(pb, j -> j > pa[m])))
         |           THEN 1.0 / (1.0 + (list_min(list_filter(pb, j -> j > pa[m])) - pa[m] - 1))
         |           ELSE 0.0 END)) AS freq
         |  FROM (SELECT doc_id,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'data') AS pa,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'table') AS pb
         |        FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |  WHERE len(pa) > 0 AND len(pb) > 0)
         |WHERE freq > 0 ORDER BY sloppy_freq DESC, doc_id LIMIT 15""".stripMargin,
    // minimal unordered intervals: adjacent opposite-type pairs in the
    // merged 'key'/'value' position stream, gap <= 3; count per doc
    "ft_intervals_unordered" ->
      s"""SELECT doc_id, n_intervals FROM (
         |  SELECT doc_id,
         |    CAST(len(list_filter(generate_series(1, len(pm) - 1), m ->
         |      tk[pm[m]] != tk[pm[m+1]] AND pm[m+1] - pm[m] - 1 <= 3)) AS BIGINT)
         |      AS n_intervals
         |  FROM (SELECT doc_id, tk,
         |          list_filter(generate_series(1, len(tk)),
         |                      i -> tk[i] = 'key' OR tk[i] = 'value') AS pm
         |        FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |  WHERE len(pm) >= 2)
         |WHERE n_intervals > 0 ORDER BY doc_id""".stripMargin,
    // minimal ordered data→table intervals (ft_intervals enumeration, no
    // gap cap) that CONTAIN a 'key' position (inclusive bounds)
    "ft_intervals_containing" ->
      s"""SELECT doc_id, n_intervals FROM (
         |  SELECT doc_id,
         |    CAST(len(list_filter(generate_series(1, len(pa)), m ->
         |      len(list_filter(pb, j -> j > pa[m]
         |        AND len(list_filter(pb, j2 -> j2 > pa[m] AND j2 < j)) = 0
         |        AND (m = len(pa) OR pa[m+1] >= j)
         |        AND len(list_filter(pk, p -> p >= pa[m] AND p <= j)) > 0)) > 0))
         |      AS BIGINT) AS n_intervals
         |  FROM (SELECT doc_id,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'data') AS pa,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'table') AS pb,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'key') AS pk
         |        FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |  WHERE len(pa) > 0 AND len(pb) > 0)
         |WHERE n_intervals > 0 ORDER BY doc_id""".stripMargin,
    // the complement: minimal data→table intervals with NO 'key' inside
    "ft_intervals_notcontaining" ->
      s"""SELECT doc_id, n_intervals FROM (
         |  SELECT doc_id,
         |    CAST(len(list_filter(generate_series(1, len(pa)), m ->
         |      len(list_filter(pb, j -> j > pa[m]
         |        AND len(list_filter(pb, j2 -> j2 > pa[m] AND j2 < j)) = 0
         |        AND (m = len(pa) OR pa[m+1] >= j)
         |        AND len(list_filter(pk, p -> p >= pa[m] AND p <= j)) = 0)) > 0))
         |      AS BIGINT) AS n_intervals
         |  FROM (SELECT doc_id,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'data') AS pa,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'table') AS pb,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'key') AS pk
         |        FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |  WHERE len(pa) > 0 AND len(pb) > 0)
         |WHERE n_intervals > 0 ORDER BY doc_id""".stripMargin,
    // 'key' positions contained by some minimal data→table interval
    "ft_intervals_containedby" ->
      s"""SELECT doc_id, n_intervals FROM (
         |  SELECT doc_id,
         |    CAST(len(list_filter(pk, p ->
         |      len(list_filter(generate_series(1, len(pa)), m -> pa[m] <= p
         |        AND len(list_filter(pb, j -> j > pa[m]
         |          AND len(list_filter(pb, j2 -> j2 > pa[m] AND j2 < j)) = 0
         |          AND (m = len(pa) OR pa[m+1] >= j)
         |          AND j >= p)) > 0)) > 0)) AS BIGINT) AS n_intervals
         |  FROM (SELECT doc_id,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'data') AS pa,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'table') AS pb,
         |          list_filter(generate_series(1, len(tk)), i -> tk[i] = 'key') AS pk
         |        FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |  WHERE len(pa) > 0 AND len(pb) > 0 AND len(pk) > 0)
         |WHERE n_intervals > 0 ORDER BY doc_id""".stripMargin,
    // block = adjacency: 'data' at i, 'table' at i+1
    "ft_intervals_block" ->
      s"""SELECT doc_id, n_intervals FROM (
         |  SELECT doc_id,
         |    CAST(len(list_filter(generate_series(1, len(tk) - 1),
         |      i -> tk[i] = 'data' AND tk[i+1] = 'table')) AS BIGINT) AS n_intervals
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |WHERE n_intervals > 0 ORDER BY doc_id""".stripMargin,
    // passage: +-3-token window around the FIRST 'vector' occurrence
    "ft_passage" ->
      s"""SELECT doc_id,
         |  array_to_string(list_slice(tk, greatest(idx - 3, 1), idx + 3), ' ') AS passage
         |FROM (SELECT doc_id, tk, list_position(tk, 'vector') AS idx
         |      FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |WHERE idx IS NOT NULL AND idx > 0
         |ORDER BY doc_id""".stripMargin,
    // blended-term dismax: both legs share the max df, pure max combine
    "ft_blended_term" ->
      s"""$PRELUDE,
         |bb AS (SELECT greatest(${dfSql("table")}, ${dfSql("vector")}) AS dfb FROM st)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, tf_t, tf_v,
         |    greatest(
         |      CASE WHEN tf_t = 0 THEN 0.0
         |           ELSE ln(1 + (st.n - bb.dfb + 0.5) / (bb.dfb + 0.5))
         |             * (tf_t * (1.2 + 1))
         |             / (tf_t + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END,
         |      CASE WHEN tf_v = 0 THEN 0.0
         |           ELSE ln(1 + (st.n - bb.dfb + 0.5) / (bb.dfb + 0.5))
         |             * (tf_v * (1.2 + 1))
         |             / (tf_v + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END) AS s
         |  FROM (SELECT doc_id, tk, dlq, ${tfSql("table")} AS tf_t,
         |          ${tfSql("vector")} AS tf_v FROM dl) dl, st, bb
         |) WHERE tf_t > 0 OR tf_v > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // length-filtered BM25: stream = tokens of length 4..8 only
    "ft_length_filter_search" ->
      s"""${PRELUDE.replace(TOKS,
             s"list_filter($TOKS, t -> len(t) >= 4 AND len(t) <= 8)")}
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("customer")} AS tf,
         |    ${bmSql(idfSql(dfSql("customer")), tfSql("customer"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // luke report: every index-level stat re-derived from the corpus
    "ft_luke" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |pt AS (SELECT doc_id, tok, count(*) AS tf
         |       FROM (SELECT doc_id, unnest(tk) AS tok FROM toks)
         |       GROUP BY doc_id, tok)
         |SELECT stat, value FROM (
         |  SELECT 'doc_count' AS stat, CAST(count(*) AS BIGINT) AS value FROM toks
         |  UNION ALL SELECT 'max_doc', CAST(count(*) AS BIGINT) FROM toks
         |  UNION ALL SELECT 'n_terms', CAST(count(DISTINCT tok) AS BIGINT) FROM pt
         |  UNION ALL SELECT 'sum_doc_freq', CAST(count(*) AS BIGINT) FROM pt
         |  UNION ALL SELECT 'sum_total_term_freq', CAST(sum(tf) AS BIGINT) FROM pt)
         |ORDER BY stat""".stripMargin,
    // allBuckets: top-5 source buckets + the ~all aggregate row
    "ft_facet_allbuckets" ->
      s"""SELECT bucket, cnt FROM (
         |  SELECT bucket, cnt FROM (
         |    SELECT source AS bucket, count(*) AS cnt FROM documents
         |    GROUP BY source ORDER BY cnt DESC, bucket LIMIT 5)
         |  UNION ALL
         |  SELECT '~all', count(*) FROM documents)
         |ORDER BY cnt DESC, bucket""".stripMargin,
    // feature pumps: saturation w/(w+5) and log ln(1+w) on w = n_chars/100,
    // added to the round4 BM25 leg
    "ft_feature_field" ->
      s"""$PRELUDE
         |SELECT doc_id, sat, lg, score FROM (
         |  SELECT doc_id, sat, lg,
         |    floor((s + sat + lg) * 10000.0 + 0.5) / 10000.0 AS score FROM (
         |    SELECT dl.doc_id, tf,
         |      round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s,
         |      floor((w / (w + 5.0)) * 10000.0 + 0.5) / 10000.0 AS sat,
         |      floor(ln(1.0 + w) * 10000.0 + 0.5) / 10000.0 AS lg
         |    FROM (
         |      SELECT dl.doc_id, tk, dlq, ${tfSql("vector")} AS tf,
         |        CAST(d.n_chars AS DOUBLE) / 100.0 AS w
         |      FROM dl JOIN documents d ON dl.doc_id = d.doc_id) dl, st
         |    WHERE tf > 0))
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // covering query: per-doc dynamic minimum-match 1 + doc_id % 3
    "ft_covering_query" ->
      s"""SELECT doc_id, n_match FROM (
         |  SELECT doc_id,
         |    CAST(CASE WHEN list_contains(tk, 'vector') THEN 1 ELSE 0 END
         |     + CASE WHEN list_contains(tk, 'table') THEN 1 ELSE 0 END
         |     + CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END AS BIGINT) AS n_match
         |  FROM (SELECT doc_id, $TOKS AS tk FROM documents))
         |WHERE n_match >= 1 + doc_id % 3
         |ORDER BY doc_id""".stripMargin,
    // score explain: every factor re-derived, floor-1e6 rounding spelled
    // identically on both sides
    "ft_explain_factors" ->
      s"""$PRELUDE,
         |top1 AS (
         |  SELECT doc_id, dlq, tf, round(s, 4) AS score FROM (
         |    SELECT dl.doc_id, dlq, ${tfSql("vector")} AS tf,
         |      ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |    FROM dl, st) WHERE tf > 0
         |  ORDER BY round(s, 4) DESC, doc_id LIMIT 1),
         |fx AS (
         |  SELECT CAST(${dfSql("vector")} AS BIGINT) AS dfv, st.n AS n,
         |    st.avgdl AS avgdl
         |  FROM st)
         |SELECT doc_id, factor, value FROM (
         |  SELECT t.doc_id, 'avgdl' AS factor,
         |    floor(fx.avgdl * 1000000.0 + 0.5) / 1000000.0 AS value
         |  FROM top1 t, fx
         |  UNION ALL SELECT t.doc_id, 'df', CAST(fx.dfv AS DOUBLE) FROM top1 t, fx
         |  UNION ALL SELECT t.doc_id, 'dlq', CAST(t.dlq AS DOUBLE) FROM top1 t
         |  UNION ALL SELECT t.doc_id, 'idf',
         |    floor(ln(1 + (fx.n - fx.dfv + 0.5) / (fx.dfv + 0.5)) * 1000000.0 + 0.5)
         |      / 1000000.0
         |  FROM top1 t, fx
         |  UNION ALL SELECT t.doc_id, 'n', CAST(fx.n AS DOUBLE) FROM top1 t, fx
         |  UNION ALL SELECT t.doc_id, 'score', t.score FROM top1 t
         |  UNION ALL SELECT t.doc_id, 'tf', CAST(t.tf AS DOUBLE) FROM top1 t
         |  UNION ALL SELECT t.doc_id, 'tf_norm',
         |    floor((t.tf * (1.2 + 1))
         |      / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dlq / fx.avgdl))
         |      * 1000000.0 + 0.5) / 1000000.0
         |  FROM top1 t, fx)
         |ORDER BY factor""".stripMargin,
    // diversified top-k: at most 2 per source, then global top-10
    "ft_diversified_topk" ->
      s"""$PRELUDE
         |SELECT doc_id, source, score FROM (
         |  SELECT doc_id, source, score,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id) AS rnk
         |  FROM (
         |    SELECT dl.doc_id, d.source, round(s, 4) AS score FROM (
         |      SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |        ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |      FROM dl, st) dl
         |    JOIN documents d ON dl.doc_id = d.doc_id
         |    WHERE tf > 0))
         |WHERE rnk <= 2
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // all group heads: one head per source under (n_tokens desc, doc_id)
    "ft_group_heads" ->
      s"""SELECT source, doc_id, n_tokens FROM (
         |  SELECT source, doc_id, len(tk) AS n_tokens,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY len(tk) DESC, doc_id) AS rnk
         |  FROM (SELECT doc_id, source, $TOKS AS tk FROM documents)
         |  WHERE list_contains(tk, 'vector'))
         |WHERE rnk = 1 ORDER BY source""".stripMargin,
    // keyword-repeat dictionary: each pluralized token contributes its
    // surface form AND its stem (when they differ)
    "ft_keyword_repeat" ->
      s"""SELECT tok AS term, count(*) AS doc_freq,
         |  CAST(sum(tf) AS BIGINT) AS total_term_freq
         |FROM (
         |  SELECT doc_id, tok, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(
         |    flatten(list_transform(regexp_extract_all(lower($STEM_TXT), '[a-z0-9]+'),
         |      t -> CASE WHEN ($STEM_CASE) = t THEN [t]
         |           ELSE [t, $STEM_CASE] END))) AS tok FROM documents)
         |  GROUP BY doc_id, tok
         |)
         |WHERE tok IN ('table','tables','query','queries','value','values',
         |              'hash','hashes')
         |GROUP BY tok ORDER BY term""".stripMargin,
    // stupid-backoff bigram suggester: seen continuations at c(big,w)/c(big),
    // unseen at 0.4·c(w)/total, round6-ranked
    "ft_free_text_suggest" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |uni AS (SELECT tok AS word, count(*) AS uttf
         |        FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok),
         |tot AS (SELECT CAST(sum(uttf) AS BIGINT) AS total FROM uni),
         |ctx AS (SELECT uttf AS cttf FROM uni WHERE word = 'big'),
         |bi AS (
         |  SELECT w AS word, count(*) AS bttf FROM (
         |    SELECT unnest(list_transform(list_filter(
         |      generate_series(1, len(tk) - 1), i -> tk[i] = 'big'),
         |      i -> tk[i+1])) AS w
         |    FROM toks) GROUP BY w)
         |SELECT word,
         |  round(CASE WHEN bttf IS NOT NULL
         |    THEN CAST(bttf AS DOUBLE) / CAST(cttf AS DOUBLE)
         |    ELSE CAST(0.4 AS DOUBLE) * (CAST(uttf AS DOUBLE) / CAST(total AS DOUBLE)) END, 6) AS score
         |FROM uni LEFT JOIN bi USING (word), tot, ctx
         |ORDER BY score DESC, word LIMIT 5""".stripMargin,
    // per-doc term vectors: tf over the doc's tokens, df from the corpus,
    // tf_idf = tf/df (one exact integer division)
    "ft_term_vectors" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |dfs AS (
         |  SELECT tok AS term, count(*) AS df
         |  FROM (SELECT doc_id, unnest(list_distinct(tk)) AS tok FROM toks)
         |  GROUP BY tok),
         |tv AS (
         |  SELECT doc_id, tok AS term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks WHERE doc_id < 5)
         |  GROUP BY doc_id, tok)
         |SELECT tv.doc_id, tv.term, CAST(tv.tf AS BIGINT) AS tf,
         |  CAST(dfs.df AS BIGINT) AS df,
         |  CAST(tv.tf AS DOUBLE) / dfs.df AS tf_idf
         |FROM tv JOIN dfs ON tv.term = dfs.term
         |ORDER BY tv.doc_id, tv.term""".stripMargin,
    // rerank: top-20 'vector' hits get 2 × round4(score('table')) added
    "ft_rerank" ->
      s"""$PRELUDE,
         |main AS (
         |  SELECT doc_id, round(s, 4) AS s FROM (
         |    SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |      ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |    FROM dl, st) WHERE tf > 0
         |  ORDER BY s DESC, doc_id LIMIT 20),
         |boost AS (
         |  SELECT doc_id, round(s, 4) AS bs FROM (
         |    SELECT dl.doc_id, ${tfSql("table")} AS tf,
         |      ${bmSql(idfSql(dfSql("table")), tfSql("table"))} AS s
         |    FROM dl, st) WHERE tf > 0)
         |SELECT doc_id,
         |  round(s + CAST(2.0 AS DOUBLE) * coalesce(bs, CAST(0.0 AS DOUBLE)), 4) AS score
         |FROM main LEFT JOIN boost USING (doc_id)
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // ranked multi-passage: 20-token windows, PassageScorer BM25 shape
    // (pivot 20), top-2 per doc by (round4 score desc, window asc)
    "ft_passages_ranked" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |stats AS (SELECT count(*) AS n FROM toks),
         |dfm AS (SELECT count(*) AS v FROM toks WHERE list_contains(tk, 'merge')),
         |dft AS (SELECT count(*) AS v FROM toks WHERE list_contains(tk, 'table')),
         |wins AS (
         |  SELECT doc_id, CAST(w AS BIGINT) AS win,
         |    len(list_filter(list_slice(tk, w * 20 + 1, w * 20 + 20),
         |        x -> x = 'merge')) AS tf_m,
         |    len(list_filter(list_slice(tk, w * 20 + 1, w * 20 + 20),
         |        x -> x = 'table')) AS tf_t,
         |    least(20, len(tk) - w * 20) AS win_len
         |  FROM toks, (SELECT unnest(generate_series(0, 499)) AS w)
         |  WHERE w * 20 < len(tk)),
         |scored AS (
         |  SELECT doc_id, win, tf_m, tf_t,
         |    round(
         |      CASE WHEN tf_m = 0 THEN 0.0
         |           ELSE ln(1 + (n - dfm.v + 0.5) / (dfm.v + 0.5))
         |             * (tf_m * (1.2 + 1))
         |             / (tf_m + 1.2 * (1 - 0.75 + 0.75 * win_len / 20.0)) END
         |      + CASE WHEN tf_t = 0 THEN 0.0
         |           ELSE ln(1 + (n - dft.v + 0.5) / (dft.v + 0.5))
         |             * (tf_t * (1.2 + 1))
         |             / (tf_t + 1.2 * (1 - 0.75 + 0.75 * win_len / 20.0)) END, 4)
         |      AS score
         |  FROM wins, stats, dfm, dft
         |  WHERE tf_m > 0 OR tf_t > 0)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |       ORDER BY score DESC, win) AS BIGINT) AS rank,
         |  win * 20 + 1 AS win_start, tf_m + tf_t AS n_match, score
         |FROM scored
         |QUALIFY rank <= 2
         |ORDER BY doc_id, rank""".stripMargin,
    // FILTER clause: both terms gate, only 'vector' scores (boost-0 must)
    "ft_filter_clause" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf1, ${tfSql("table")} AS tf2,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf1 > 0 AND tf2 > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "ft_sort_after" ->
      s"""SELECT doc_id, n_tokens FROM
         |  (SELECT doc_id, $TOKS AS tk, len($TOKS) AS n_tokens FROM documents)
         |WHERE list_contains(tk, 'vector')
         |ORDER BY n_tokens DESC, doc_id LIMIT 10 OFFSET 10""".stripMargin,
    "ft_term_in_set" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'dup') OR list_contains(tk, 'elephant')
         |   OR list_contains(tk, 'sort') OR list_contains(tk, 'window')
         |ORDER BY doc_id""".stripMargin,
    // snapshot: gen0 counts every 'vector' match, latest only doc_id%7<>0
    "ft_snapshot" ->
      s"""SELECT
         |  (SELECT count(*) FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |   WHERE list_contains(tk, 'vector')) AS n_at_gen0,
         |  (SELECT count(*) FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |   WHERE list_contains(tk, 'vector') AND doc_id % 7 <> 0) AS n_at_latest""".stripMargin,
    // span-containing: same greedy chain, but a 'value' must fall in [i, j0]
    "ft_group_facet" ->
      s"""SELECT lang, count(DISTINCT source) AS n_groups
         |FROM (SELECT doc_id, lang, source, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'table')
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "ft_facet_agg" ->
      s"""SELECT lang, count(*) AS cnt, CAST(sum(len(tk)) AS BIGINT) AS sum_len,
         |  round(CAST(CAST(sum(len(tk)) AS BIGINT) AS DOUBLE) / count(*), 4) AS avg_len
         |FROM (SELECT doc_id, lang, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector')
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "ft_simpleqp" ->
      s"""SELECT doc_id
         |FROM (SELECT doc_id, lower(text) AS lt, $TOKS AS tk FROM documents)
         |WHERE regexp_matches(lt, '(^|[^a-z0-9])big[^a-z0-9]+table([^a-z0-9]|$$)')
         |   OR (len(list_filter(tk, x -> x LIKE 'tabl%')) > 0
         |       AND NOT list_contains(tk, 'vector'))
         |ORDER BY doc_id""".stripMargin,
    "ft_span_containing" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'key'
         |  AND len(list_filter(generate_series(i + 1, len(tk)), j -> tk[j] = 'table')) > 0
         |  AND list_filter(generate_series(i + 1, len(tk)), j -> tk[j] = 'table')[1] - i - 1 <= 4
         |  AND len(list_filter(
         |        generate_series(i, list_filter(generate_series(i + 1, len(tk)),
         |                                       j -> tk[j] = 'table')[1]),
         |        k -> tk[k] = 'value')) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    // span-not: greedy chain = FIRST 'table' after the 'key' anchor; the
    // chain must meet the gap budget and contain no 'hash' in [i, j0]
    "ft_span_not" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'key'
         |  AND len(list_filter(generate_series(i + 1, len(tk)), j -> tk[j] = 'table')) > 0
         |  AND list_filter(generate_series(i + 1, len(tk)), j -> tk[j] = 'table')[1] - i - 1 <= 4
         |  AND len(list_filter(
         |        generate_series(i, list_filter(generate_series(i + 1, len(tk)),
         |                                       j -> tk[j] = 'table')[1]),
         |        k -> tk[k] = 'hash')) = 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    // span-first: the term within the first 10 1-based list positions
    "ft_span_first" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, least(len(tk), 10)),
         |        i -> tk[i] = 'spark')) > 0
         |ORDER BY doc_id""".stripMargin,
    // fuzzy-like-this: variants by damerau distance, shared per-word idf
    "ft_fuzzy_like_this" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |stc AS (SELECT count(*) AS n FROM toks),
         |dict AS (
         |  SELECT term, count(*) AS df FROM (
         |    SELECT doc_id, unnest(list_distinct(tk)) AS term FROM toks)
         |  GROUP BY term),
         |words AS (SELECT unnest(['joib', 'tabel', 'vektor']) AS src),
         |vars AS (
         |  SELECT w.src, d.term, d.df,
         |    1.0 - CAST(damerau_levenshtein(w.src, d.term) AS DOUBLE)
         |          / least(length(w.src), length(d.term)) AS b
         |  FROM words w JOIN dict d
         |    ON damerau_levenshtein(w.src, d.term) <= 1),
         |wdf AS (
         |  SELECT src,
         |    coalesce(max(CASE WHEN term = src THEN df END),
         |             CAST(sum(df) AS BIGINT) // count(*)) AS src_df
         |  FROM vars GROUP BY src),
         |scored AS (
         |  SELECT v.term,
         |    CAST(floor(v.b * v.b *
         |      (ln((stc.n + 1.0) / (wdf.src_df + 1.0)) + 1.0) * 1e6)
         |      AS BIGINT) AS micro
         |  FROM vars v JOIN wdf ON v.src = wdf.src, stc),
         |hits AS (
         |  SELECT t.doc_id, sum(s.micro) AS m
         |  FROM toks t JOIN scored s ON list_contains(t.tk, s.term)
         |  GROUP BY t.doc_id)
         |SELECT doc_id, CAST(m AS DOUBLE) / 1e6 AS score
         |FROM hits ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // split parts partition the match set by doc_id parity, losslessly
    "ft_index_split" ->
      s"""SELECT doc_id % 2 AS part, doc_id
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector') AND list_contains(tk, 'table')
         |ORDER BY part, doc_id""".stripMargin,
    // grouped by best-hit score, within-group by (score, doc_id)
    "ft_group_sort" ->
      s"""$PRELUDE,
         |sc AS (
         |  SELECT dl.doc_id, round(s, 4) AS score FROM (
         |    SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |      ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |    FROM dl, st) dl WHERE tf > 0),
         |lbl AS (SELECT sc.doc_id, sc.score, d.lang
         |        FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
         |hr AS (
         |  SELECT lang, CAST(row_number() OVER (ORDER BY head DESC, lang)
         |    AS BIGINT) AS grp_rank
         |  FROM (SELECT lang, max(score) AS head FROM lbl GROUP BY lang
         |        ORDER BY head DESC, lang LIMIT 2)),
         |r AS (
         |  SELECT hr.grp_rank, lbl.lang, lbl.doc_id, lbl.score,
         |    CAST(row_number() OVER (PARTITION BY lbl.lang
         |      ORDER BY lbl.score DESC, lbl.doc_id) AS BIGINT) AS rnk
         |  FROM lbl JOIN hr ON lbl.lang = hr.lang)
         |SELECT grp_rank, lang, rnk, doc_id, score FROM r
         |WHERE rnk <= 2 ORDER BY grp_rank, rnk""".stripMargin,
    // span position range [5,20): SQL 1-indexed i in [start+1, end]
    "ft_span_posrange" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, tf,
         |    ${bmSql(idfSql(dfSql("merge")), "tf")} AS s
         |  FROM (
         |    SELECT doc_id, dlq,
         |      len(list_filter(generate_series(6, least(len(tk), 20)),
         |          i -> tk[i] = 'merge')) AS tf
         |    FROM dl
         |  ) dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // one doc's term vector: tf + 0-based positions per distinct token
    "ft_term_vector" ->
      s"""WITH d AS (SELECT $TOKS AS tk FROM documents WHERE doc_id = 42)
         |SELECT term,
         |  CAST(len(list_filter(generate_series(1, len(tk)), i -> tk[i] = term)) AS BIGINT) AS tf,
         |  array_to_string(list_transform(
         |    list_filter(generate_series(1, len(tk)), i -> tk[i] = term), x -> x - 1), ',') AS positions
         |FROM (SELECT DISTINCT unnest(tk) AS term, tk FROM d)
         |ORDER BY term""".stripMargin,
    // BM25 explain breakdown for (term='vector', doc 42): idf and tfNorm
    // on the quantized doc length, every component round4'd
    "ft_explain" ->
      s"""$PRELUDE
         |SELECT CAST(42 AS BIGINT) AS doc_id, 'vector' AS term,
         |  ${dfSql("vector")} AS doc_freq,
         |  CAST(${tfSql("vector")} AS BIGINT) AS term_freq,
         |  round(${idfSql(dfSql("vector"))}, 4) AS idf,
         |  round((${tfSql("vector")} * (1.2 + 1))
         |      / (${tfSql("vector")} + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)), 4) AS tf_norm,
         |  round(${idfSql(dfSql("vector"))} * (${tfSql("vector")} * (1.2 + 1))
         |      / (${tfSql("vector")} + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)), 4) AS score
         |FROM dl, st WHERE doc_id = 42""".stripMargin,
    // block join to parent, ScoreMode.Max: parent = source group, score =
    // max round4'd child BM25, child_hits = matching children
    "ft_block_join" ->
      s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
         |st AS (SELECT count(*) AS n, CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl FROM toks),
         |dl AS (
         |  SELECT doc_id, source, tk,
         |    CASE WHEN len(tk) < 24 THEN len(tk)
         |         WHEN len(tk) - 24 < 8 THEN len(tk)
         |         ELSE 24 + (((len(tk) - 24) >> (length(format('{:b}', len(tk) - 24)) - 4))
         |                    << (length(format('{:b}', len(tk) - 24)) - 4)) END AS dlq
         |  FROM toks),
         |ch AS (
         |  SELECT dl.source AS parent,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("vector")} > 0)
         |SELECT parent, CAST(count(*) AS BIGINT) AS child_hits, max(s) AS score
         |FROM ch GROUP BY parent
         |ORDER BY score DESC, parent LIMIT 5""".stripMargin,
    // ToChildBlockJoin: children of the top-3 Max-score parents, each child
    // carrying the parent score
    "ft_block_join_child" ->
      s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
         |st AS (SELECT count(*) AS n, CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl FROM toks),
         |dl AS (
         |  SELECT doc_id, source, tk,
         |    CASE WHEN len(tk) < 24 THEN len(tk)
         |         WHEN len(tk) - 24 < 8 THEN len(tk)
         |         ELSE 24 + (((len(tk) - 24) >> (length(format('{:b}', len(tk) - 24)) - 4))
         |                    << (length(format('{:b}', len(tk) - 24)) - 4)) END AS dlq
         |  FROM toks),
         |ch AS (
         |  SELECT dl.source AS parent,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("vector")} > 0),
         |ps AS (
         |  SELECT parent, max(s) AS score FROM ch GROUP BY parent
         |  ORDER BY score DESC, parent LIMIT 3)
         |SELECT d.doc_id, ps.parent, ps.score
         |FROM documents d JOIN ps ON d.source = ps.parent
         |ORDER BY score DESC, parent, doc_id""".stripMargin,
    // two-pass rescore: top-50 by round4'd BM25('vector'), combined =
    // round4(s1 + 2.0 * s2) where s2 is BM25('customer') on those docs only
    "ft_rescore" ->
      s"""$PRELUDE,
         |first AS (
         |  SELECT doc_id, s1 FROM (
         |    SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |      round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s1
         |    FROM dl, st)
         |  WHERE tf > 0 ORDER BY s1 DESC, doc_id LIMIT 50),
         |second AS (
         |  SELECT dl.doc_id,
         |    round(${bmSql(idfSql(dfSql("customer")), tfSql("customer"))}, 4) AS s2
         |  FROM dl, st WHERE ${tfSql("customer")} > 0)
         |SELECT f.doc_id, round(f.s1 + 2.0 * coalesce(s.s2, 0.0), 4) AS score
         |FROM first f LEFT JOIN second s ON f.doc_id = s.doc_id
         |ORDER BY score DESC, f.doc_id LIMIT 10""".stripMargin,
    // bigram LM: continuations of 'big' counted over adjacent token pairs
    "ft_freetext" ->
      s"""SELECT s AS suggestion, CAST(count(*) AS BIGINT) AS freq FROM (
         |  SELECT unnest(list_transform(
         |    list_filter(range(1, len(tk)), i -> tk[i] = 'big'), i -> tk[i+1])) AS s
         |  FROM (SELECT $TOKS AS tk FROM documents))
         |GROUP BY s ORDER BY freq DESC, suggestion LIMIT 5""".stripMargin,
    // ScoreMode.Total: per-parent sum of child scores over exact integer
    // ten-thousandths (matches the engine's order-independent sum)
    "ft_block_join_total" ->
      s"""WITH toks AS (SELECT doc_id, source, $TOKS AS tk FROM documents),
         |st AS (SELECT count(*) AS n, CAST(sum(len(tk)) AS DOUBLE) / count(*) AS avgdl FROM toks),
         |dl AS (
         |  SELECT doc_id, source, tk,
         |    CASE WHEN len(tk) < 24 THEN len(tk)
         |         WHEN len(tk) - 24 < 8 THEN len(tk)
         |         ELSE 24 + (((len(tk) - 24) >> (length(format('{:b}', len(tk) - 24)) - 4))
         |                    << (length(format('{:b}', len(tk) - 24)) - 4)) END AS dlq
         |  FROM toks),
         |ch AS (
         |  SELECT dl.source AS parent,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("vector")} > 0)
         |SELECT parent, CAST(count(*) AS BIGINT) AS child_hits,
         |  CAST(sum(CAST(round(s * 10000) AS BIGINT)) AS DOUBLE) / 10000 AS score
         |FROM ch GROUP BY parent
         |ORDER BY score DESC, parent LIMIT 5""".stripMargin,
    "ft_multiphrase" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(range(1, len(tk)),
         |      i -> tk[i] IN ('big', 'slow') AND tk[i+1] = 'table')) > 0
         |ORDER BY doc_id""".stripMargin,
    // CommonTermsQuery: match gated by the low-freq MUST term only; score =
    // must + (should-sum), parenthesized exactly like ReqOptSumScorer.scoreD
    // over DisjunctionSumScorer (req + (0 + batch + table)). The low/high
    // split (dup low, batch/table high at cutoff 0.3) is stable: the
    // generator holds dup at ~5% df and the head terms at ~80%.
    "ft_common_terms" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("dup")} AS tf,
         |    ${bmSql(idfSql(dfSql("dup")), tfSql("dup"))}
         |      + (${bmSql(idfSql(dfSql("batch")), tfSql("batch"))}
         |         + ${bmSql(idfSql(dfSql("table")), tfSql("table"))}) AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // LTR linear model over the first-pass top-50: identical feature
    // expression tree (0.7*s1 - 0.2*(dlen/avgdl) + 0.5*langflag) so the
    // IEEE double arithmetic matches the engine bit-for-bit before round4
    "ft_ltr" ->
      s"""$PRELUDE,
         |first AS (
         |  SELECT doc_id, s1 FROM (
         |    SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |      round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s1
         |    FROM dl, st)
         |  WHERE tf > 0 ORDER BY s1 DESC, doc_id LIMIT 50),
         |feats AS (
         |  SELECT f.doc_id, f.s1, len(t.tk) AS dlen, d.lang
         |  FROM first f JOIN toks t ON f.doc_id = t.doc_id
         |  JOIN documents d ON f.doc_id = d.doc_id)
         |SELECT doc_id,
         |  round(0.7 * s1 - 0.2 * (dlen / st.avgdl)
         |        + 0.5 * (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 4) AS model
         |FROM feats, st
         |ORDER BY model DESC, doc_id LIMIT 10""".stripMargin,
    "ft_export" ->
      s"""SELECT doc_id, lang, len(tk) AS n_tokens
         |FROM (SELECT doc_id, lang, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'table')
         |ORDER BY lang, n_tokens DESC, doc_id""".stripMargin,
    // FunctionScoreQuery: every match's round4'd BM25 sum, multiplied by
    // the doc-value source (1 + len/1000), re-rounded, THEN top-10
    "ft_func_boost" ->
      s"""$PRELUDE
         |SELECT doc_id,
         |  round(round(s, 4) * (1 + len(tk) / 1000.0), 4) AS score
         |FROM (
         |  SELECT dl.doc_id, dl.tk,
         |    ${tfSql("vector")} AS tf_v, ${tfSql("batch")} AS tf_b,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}
         |      + ${bmSql(idfSql(dfSql("batch")), tfSql("batch"))} AS s
         |  FROM dl, st
         |) WHERE tf_v > 0 OR tf_b > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // relatedness() per lang bucket (RelatednessAgg.java:473-503), fg =
    // 'vector OR table' matches, bg = collection; floor-form rounding
    // mirrors Math.round for the possibly-negative relatedness
    "q_relatedness" ->
      s"""WITH toks AS (SELECT doc_id, lang, $TOKS AS tk FROM documents),
         |fg AS (SELECT doc_id, lang FROM toks
         |       WHERE list_contains(tk, 'vector') OR list_contains(tk, 'table')),
         |sz AS (SELECT (SELECT count(*) FROM toks) AS bg_size,
         |              (SELECT count(*) FROM fg) AS fg_size),
         |b AS (SELECT t.lang, count(*) AS bg_count,
         |             coalesce((SELECT count(*) FROM fg WHERE fg.lang = t.lang), 0) AS fg_count
         |      FROM toks t GROUP BY t.lang),
         |z AS (SELECT lang, fg_count, bg_count, bg_size, fg_size,
         |        (fg_count - CAST(fg_size AS DOUBLE)
         |           * (bg_count / CAST(bg_size AS DOUBLE)))
         |        / (CASE WHEN sqrt(CAST(fg_size AS DOUBLE)
         |                   * (bg_count / CAST(bg_size AS DOUBLE))
         |                   * (1 - bg_count / CAST(bg_size AS DOUBLE))) = 0
         |                THEN 1e-10
         |                ELSE sqrt(CAST(fg_size AS DOUBLE)
         |                   * (bg_count / CAST(bg_size AS DOUBLE))
         |                   * (1 - bg_count / CAST(bg_size AS DOUBLE))) END) AS zv
         |      FROM b, sz)
         |SELECT lang, fg_count, bg_count,
         |  floor(CAST(fg_count AS DOUBLE) / bg_size * 100000.0 + 0.5) / 100000.0 AS fg_pop,
         |  floor(CAST(bg_count AS DOUBLE) / bg_size * 100000.0 + 0.5) / 100000.0 AS bg_pop,
         |  floor((0.2 * ((zv + -80.0) / (50.0 + abs(zv + -80.0)))
         |       + 0.2 * ((zv + -30.0) / (30.0 + abs(zv + -30.0)))
         |       + 0.2 * ((zv + 0.0) / (30.0 + abs(zv + 0.0)))
         |       + 0.2 * ((zv + 30.0) / (30.0 + abs(zv + 30.0)))
         |       + 0.2 * ((zv + 80.0) / (50.0 + abs(zv + 80.0)))) * 100000.0 + 0.5)
         |    / 100000.0 AS relatedness
         |FROM z
         |ORDER BY relatedness DESC, lang""".stripMargin,
    // diversified top-k: per-lang rank over the FULL scored match set
    // (scores round4'd before ranking, as everywhere), cap 2 per lang,
    // then the global top-10
    "ft_diversified" ->
      s"""$PRELUDE,
         |scored AS (
         |  SELECT x.doc_id, d.lang, round(x.s, 4) AS score
         |  FROM (
         |    SELECT dl.doc_id,
         |      ${tfSql("vector")} AS tf_v, ${tfSql("table")} AS tf_t,
         |      ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}
         |        + ${bmSql(idfSql(dfSql("table")), tfSql("table"))} AS s
         |    FROM dl, st) x
         |  JOIN documents d ON x.doc_id = d.doc_id
         |  WHERE x.tf_v > 0 OR x.tf_t > 0)
         |SELECT doc_id, lang, score FROM (
         |  SELECT doc_id, lang, score,
         |    row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn
         |  FROM scored)
         |WHERE rn <= 2
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // boosted synonym: blended freq = tf_spark * 1.0 + tf_query * 0.5 in
    // the engine's clause order; same pseudo-term df as ft_search_synonym
    "ft_search_synboost" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, tf_syn,
         |    CASE WHEN tf_syn = 0 THEN 0.0
         |         ELSE ln(1 + (st.n - df_syn + 0.5) / (df_syn + 0.5))
         |              * (tf_syn * (1.2 + 1))
         |              / (tf_syn + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END AS s
         |  FROM (
         |    SELECT doc_id, dlq,
         |      CAST(1.0 AS DOUBLE) * ${tfSql("spark")}
         |        + CAST(0.5 AS DOUBLE) * ${tfSql("query")} AS tf_syn,
         |      least(${dfSql("spark")} + ${dfSql("query")}, (SELECT count(*) FROM toks)) AS df_syn
         |    FROM dl
         |  ) dl, st
         |) WHERE tf_syn > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // word-break: every split position of each input; keep splits where
    // both halves are dictionary terms (df = count of docs containing)
    "ft_word_break" ->
      s"""WITH dict AS (
         |  SELECT tok AS term, count(DISTINCT doc_id) AS df
         |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |  GROUP BY tok),
         |inp(input) AS (VALUES ('rowscan'), ('fasttable'), ('xyzzy')),
         |series AS (SELECT unnest(generate_series(1, 12)) AS i),
         |cand AS (
         |  SELECT input, substr(input, 1, i) AS left_part,
         |         substr(input, i + 1) AS right_part
         |  FROM inp, series WHERE i < len(input))
         |SELECT input, left_part, right_part, l.df AS df_left, r.df AS df_right
         |FROM cand
         |JOIN dict l ON l.term = cand.left_part
         |JOIN dict r ON r.term = cand.right_part
         |ORDER BY input, left_part""".stripMargin,
    // word-combine: adjacent pair concatenations that are dictionary terms
    "ft_word_combine" ->
      s"""WITH dict AS (
         |  SELECT tok AS term, count(DISTINCT doc_id) AS df
         |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |  GROUP BY tok),
         |inp(left_in, right_in) AS (VALUES ('val', 'ue'), ('ta', 'ble'), ('big', 'data'))
         |SELECT left_in, right_in, left_in || right_in AS combined, df
         |FROM inp JOIN dict ON dict.term = inp.left_in || inp.right_in
         |ORDER BY combined""".stripMargin,
    // span near with a prefix-expanded slot: a 'query' occurrence followed
    // within gap 3 by any ta*-prefixed token
    "ft_span_prefix" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'query'
         |  AND len(list_filter(generate_series(i + 1, least(len(tk), i + 4)),
         |        j -> tk[j] LIKE 'ta%')) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    // terms.regex: dictionary terms matching the regex, by df desc
    "ft_terms_regex" ->
      s"""SELECT term, df FROM (
         |  SELECT tok AS term, count(DISTINCT doc_id) AS df
         |  FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |  GROUP BY tok)
         |WHERE regexp_matches(term, '^[a-z]{3}$$')
         |ORDER BY df DESC, term LIMIT 10""".stripMargin,
    // topic pull 2: matches whose version (docId = ingest order) exceeds
    // the batch-1 checkpoint (= half the corpus, the first commit's
    // high-water mark)
    "q_topic" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE doc_id > (SELECT count(*) / 2 - 1 FROM documents)
         |  AND list_contains(tk, 'merge') AND list_contains(tk, 'vector')
         |ORDER BY doc_id""".stripMargin,
    // feature log leg: round4(BM25) + 2·ln(1 + len)
    "ft_feature_log" ->
      s"""$PRELUDE
         |SELECT doc_id,
         |  round(round(s, 4)
         |        + 2.0 * ln(1.0 + CAST(dlen AS DOUBLE)), 4) AS fscore
         |FROM (
         |  SELECT dl.doc_id, len(dl.tk) AS dlen, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY fscore DESC, doc_id LIMIT 10""".stripMargin,
    // grouped-response header counts over the match set
    "ft_group_ngroups" ->
      s"""SELECT count(DISTINCT lang) AS n_groups, count(*) AS n_matches
         |FROM (SELECT doc_id, lang, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector') OR list_contains(tk, 'table')""".stripMargin,
    // MemoryIndex: single-doc collection stats — docCount=1, df=1, avgdl=dl
    "ft_memory_index" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |m AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
         |  CASE WHEN len(tk) < 24 THEN len(tk)
         |       WHEN len(tk) - 24 < 8 THEN len(tk)
         |       ELSE 24 + (((len(tk) - 24) >> (length(format('{:b}', len(tk) - 24)) - 4))
         |                  << (length(format('{:b}', len(tk) - 24)) - 4)) END AS dlq,
         |  len(list_filter(tk, x -> x = 'spark')) AS tf1,
         |  len(list_filter(tk, x -> x = 'table')) AS tf2
         |  FROM toks)
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT doc_id, tf1 + tf2 AS anytf,
         |    (CASE WHEN tf1 = 0 THEN 0.0 ELSE ln(1 + 0.5 / 1.5)
         |       * (tf1 * (1.2 + 1)) / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dlq / dl)) END
         |   + CASE WHEN tf2 = 0 THEN 0.0 ELSE ln(1 + 0.5 / 1.5)
         |       * (tf2 * (1.2 + 1)) / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dlq / dl)) END) AS s
         |  FROM m)
         |WHERE anytf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // replica serves the identical BM25 top-k the oracle recomputes
    "ft_replica_search" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("stream")} AS tf,
         |    ${bmSql(idfSql(dfSql("stream")), tfSql("stream"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // per-doc term vectors with collection df
    "ft_termvectors" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |tv AS (SELECT doc_id, term, count(*) AS tf FROM
         |  (SELECT doc_id, unnest(tk) AS term FROM toks WHERE doc_id IN (1, 2, 3))
         |  GROUP BY 1, 2),
         |df AS (SELECT term, count(DISTINCT doc_id) AS docfreq FROM
         |  (SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY 1)
         |SELECT tv.doc_id, tv.term, tv.tf, df.docfreq
         |FROM tv JOIN df USING (term) ORDER BY doc_id, term""".stripMargin,
    // external keyed values: eff = doc_id*7 % 13 + 1, fscore = BM25 * eff
    "ft_external_file" ->
      s"""$PRELUDE
         |SELECT doc_id, round(round(s, 4) * (doc_id * 7 % 13 + 1), 4) AS fscore FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY fscore DESC, doc_id LIMIT 10""".stripMargin,
    // CheckIndex totals recounted from raw text; problems pinned to 0
    "ft_check_index" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT (SELECT count(*) FROM toks) AS doc_count,
         |       (SELECT count(DISTINCT t)
         |        FROM (SELECT unnest(tk) AS t FROM toks)) AS term_count,
         |       (SELECT CAST(sum(len(tk)) AS BIGINT) FROM toks) AS sum_ttf,
         |       CAST(0 AS BIGINT) AS problems""".stripMargin,
    // hard negatives: per query term, top-5 BM25 among docs NOT containing
    // the positive marker 'table' — rank on the round4'd score like the
    // ft_search family
    "td_mine_negatives" -> {
      def leg(t: String) =
        s"""(SELECT '$t' AS q, doc_id, round(s, 4) AS score FROM (
           |  SELECT dl.doc_id, ${tfSql(t)} AS tf, ${tfSql("table")} AS ptf,
           |    ${bmSql(idfSql(dfSql(t)), tfSql(t))} AS s
           |  FROM dl, st)
           | WHERE tf > 0 AND ptf = 0 ORDER BY score DESC, doc_id LIMIT 5)""".stripMargin
      s"""$PRELUDE
         |SELECT * FROM (
         |${leg("merge")}
         |UNION ALL
         |${leg("spark")}
         |UNION ALL
         |${leg("window")}
         |) ORDER BY q, score DESC, doc_id""".stripMargin
    },
    // Bloom term filter: same bit arithmetic over the distinct-token dict
    "ft_bloom_terms" -> {
      def bit(src: String) =
        s"(((instr('0123456789abcdef', substr($src, 1, 1)) - 1) * 16 + " +
          s"(instr('0123456789abcdef', substr($src, 2, 1)) - 1)) * 16 + " +
          s"(instr('0123456789abcdef', substr($src, 3, 1)) - 1))"
      s"""WITH dict AS (
         |  SELECT DISTINCT unnest(tk) AS term
         |  FROM (SELECT $TOKS AS tk FROM documents)),
         |bits AS (
         |  SELECT DISTINCT bit FROM (
         |    SELECT ${bit("md5(term)")} AS bit FROM dict
         |    UNION ALL
         |    SELECT ${bit("md5(term || '#b')")} AS bit FROM dict)),
         |cands AS (SELECT unnest(['vector','table','merge','stream','dup',
         |  'hash','window','spark','zebra','quux','flink','duck','presto',
         |  'beam','iceberg','arrow']) AS candidate)
         |SELECT candidate,
         |  CASE WHEN candidate IN (SELECT term FROM dict) THEN 1 ELSE 0 END
         |    AS in_dict,
         |  CASE WHEN ${bit("md5(candidate)")} IN (SELECT bit FROM bits)
         |        AND ${bit("md5(candidate || '#b')")} IN (SELECT bit FROM bits)
         |       THEN 1 ELSE 0 END AS bloom_maybe
         |FROM cands ORDER BY candidate""".stripMargin
    },
    // phrase with a wildcard position: 'fast' immediately before any s* term
    "ft_phrase_wildcard" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(range(1, len(tk)),
         |      i -> tk[i] = 'fast' AND tk[i+1] LIKE 's%')) > 0
         |ORDER BY doc_id""".stripMargin,
    // XML-parsed boolean: must merge + filter key (0-score gate) +
    // 2-boosted should stream; ReqOptSum parenthesization like ft_common_terms
    "ft_xmlqp" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, tf_m, tf_k,
         |    ${bmSql(idfSql(dfSql("merge")), "tf_m")}
         |     + (CASE WHEN tf_s = 0 THEN 0.0
         |             ELSE (2.0 * ${idfSql(dfSql("stream"))}) * (tf_s * (1.2 + 1))
         |                  / (tf_s + 1.2 * (1 - 0.75 + 0.75 * dlq / st.avgdl)) END) AS s
         |  FROM (
         |    SELECT doc_id, dlq, ${tfSql("merge")} AS tf_m,
         |      ${tfSql("stream")} AS tf_s, ${tfSql("key")} AS tf_k
         |    FROM dl
         |  ) dl, st
         |) WHERE tf_m > 0 AND tf_k > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    // blended infix: weight · (1 − 0.1·(first 'table' position − 1))
    "ft_blended_infix" ->
      s"""SELECT doc_id,
         |  CAST(n_chars AS DOUBLE) * (1.0 - 0.1 * CAST(pos - 1 AS DOUBLE)) AS blended
         |FROM (SELECT doc_id, n_chars, list_position($TOKS, 'table') AS pos
         |      FROM documents)
         |WHERE pos > 0
         |ORDER BY blended DESC, doc_id LIMIT 10""".stripMargin,
    // tree-ensemble re-rank: same first-pass window as ft_ltr, then the
    // generated CASE cascade — thresholds carry the reference's float
    // NODE_SPLIT_SLACK, serialized once from the shared Scala constants
    "ft_ltr_trees" ->
      s"""$PRELUDE,
         |first AS (
         |  SELECT doc_id, s1 FROM (
         |    SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |      round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s1
         |    FROM dl, st)
         |  WHERE tf > 0 ORDER BY s1 DESC, doc_id LIMIT 50),
         |feats AS (
         |  SELECT f.doc_id, f.s1, CAST(len(t.tk) AS DOUBLE) AS dlen,
         |    CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS langf
         |  FROM first f JOIN toks t ON f.doc_id = t.doc_id
         |  JOIN documents d ON f.doc_id = d.doc_id)
         |SELECT doc_id,
         |  round(${ltrModelSql(Seq("s1", "dlen", "langf"))}, 4) AS model
         |FROM feats ORDER BY model DESC, doc_id LIMIT 20""".stripMargin,
    // association facets: grouping sets = the two taxonomy levels;
    // n_chars/64 is an exact binary fraction so both engines sum it exactly
    "ft_facet_assoc" ->
      s"""SELECT CASE WHEN lang IS NULL THEN source
         |            ELSE source || '/' || lang END AS path,
         |  int_assoc, float_assoc FROM (
         |  SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS int_assoc,
         |    sum(CAST(n_chars AS DOUBLE) / 64.0) AS float_assoc
         |  FROM documents GROUP BY GROUPING SETS ((source), (source, lang)))
         |ORDER BY path""".stripMargin,
    // range-field relations over [n_chars, n_chars + doc_id%128] vs [250,310]
    "ft_range_field" ->
      s"""WITH r AS (SELECT n_chars AS lo, n_chars + (doc_id % 128) AS hi
         |           FROM documents),
         |c AS (SELECT
         |  CAST(sum(CASE WHEN lo <= 310 AND hi >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS i,
         |  CAST(sum(CASE WHEN lo >= 250 AND hi <= 310 THEN 1 ELSE 0 END) AS BIGINT) AS w,
         |  CAST(sum(CASE WHEN lo <= 250 AND hi >= 310 THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |  CAST(sum(CASE WHEN lo <= 310 AND hi >= 250
         |           AND NOT (lo >= 250 AND hi <= 310)
         |           AND NOT (lo <= 250 AND hi >= 310) THEN 1 ELSE 0 END) AS BIGINT) AS x
         |  FROM r)
         |SELECT 'CONTAINS' AS relation, ct AS n FROM c
         |UNION ALL SELECT 'CROSSES', x FROM c
         |UNION ALL SELECT 'INTERSECTS', i FROM c
         |UNION ALL SELECT 'WITHIN', w FROM c""".stripMargin,
    // quality eval: ranked top-20, judgments = the conjunction match set;
    // AP partial sums in floor(p*1e8) BIGINTs (order-independent), every
    // other metric a single IEEE division — bit-equal across engines
    "ft_eval_metrics" ->
      s"""$PRELUDE,
         |ranked AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank FROM (
         |    SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |      round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s
         |    FROM dl, st)
         |  WHERE tf > 0 ORDER BY s DESC, doc_id LIMIT 20),
         |rel AS (SELECT doc_id FROM toks
         |        WHERE list_contains(tk, 'vector') AND list_contains(tk, 'table')),
         |mg AS (SELECT count(*) AS maxgood FROM rel),
         |sc AS (
         |  SELECT r.rank, CASE WHEN rel.doc_id IS NULL THEN 0 ELSE 1 END AS g,
         |    sum(CASE WHEN rel.doc_id IS NULL THEN 0 ELSE 1 END)
         |      OVER (ORDER BY r.rank) AS ng
         |  FROM ranked r LEFT JOIN rel ON r.doc_id = rel.doc_id),
         |pp AS (SELECT rank, g, ng, CAST(ng AS DOUBLE) / rank AS p FROM sc),
         |m AS (SELECT
         |  max(CASE WHEN rank = 5 THEN p END) AS p_at_5,
         |  max(CASE WHEN rank = 10 THEN p END) AS p_at_10,
         |  CAST(sum(CASE WHEN g = 1 THEN CAST(floor(p * 1e8) AS BIGINT)
         |               ELSE 0 END) AS DOUBLE) / 1e8
         |    / (SELECT maxgood FROM mg) AS map,
         |  coalesce(max(CASE WHEN g = 1 AND rank <= 5
         |                    THEN CAST(1.0 AS DOUBLE) / rank END),
         |           CAST(0.0 AS DOUBLE)) AS mrr,
         |  CAST(max(ng) AS DOUBLE) / (SELECT maxgood FROM mg) AS recall
         |  FROM pp)
         |SELECT metric, value FROM (
         |  SELECT 'map' AS metric, map AS value FROM m
         |  UNION ALL SELECT 'mrr', mrr FROM m
         |  UNION ALL SELECT 'p_at_10', p_at_10 FROM m
         |  UNION ALL SELECT 'p_at_5', p_at_5 FROM m
         |  UNION ALL SELECT 'recall', recall FROM m)
         |ORDER BY metric""".stripMargin,
    // strdist edit similarity = 1 - lev / max(len, 5) over the DISTINCT
    // dictionary (termStats analog = distinct tokens)
    "ft_strdist" ->
      s"""WITH dict AS (
         |  SELECT DISTINCT unnest(tk) AS term
         |  FROM (SELECT $TOKS AS tk FROM documents)),
         |d AS (SELECT term,
         |  CAST(1.0 AS DOUBLE) - CAST(levenshtein(term, 'tabel') AS DOUBLE)
         |    / greatest(len(term), 5) AS sim
         |  FROM dict)
         |SELECT term, sim FROM d WHERE sim >= 0.6
         |ORDER BY sim DESC, term LIMIT 10""".stripMargin,
    // parents with >=1 child hit, sorted by min child token length
    "ft_block_join_sort" ->
      s"""WITH ch AS (
         |  SELECT source AS parent, len(tk) AS clen
         |  FROM (SELECT doc_id, source, $TOKS AS tk FROM documents)
         |  WHERE list_contains(tk, 'vector'))
         |SELECT parent, min(clen) AS min_child_len,
         |  count(*) AS child_hits
         |FROM ch GROUP BY parent
         |ORDER BY min_child_len, parent LIMIT 10""".stripMargin,
    // igain over the 'spark' class split, shared entropy expression
    "ft_igain_terms" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($TOKS) AS tk FROM documents),
         |stats AS (
         |  SELECT CAST((SELECT count(*) FROM t
         |               WHERE list_contains(tk, 'spark')) AS BIGINT) AS np,
         |    CAST((SELECT count(*) FROM t) AS DOUBLE) AS nd),
         |cnt AS (
         |  SELECT term, count(*) AS dfq,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS xc
         |  FROM (SELECT doc_id, unnest(tk) AS term,
         |          list_contains(tk, 'spark') AS pos FROM t)
         |  GROUP BY term)
         |SELECT term, dfq,
         |  CAST(floor(($igainScoreSql) * 1e9) AS BIGINT) AS igain_nano
         |FROM cnt, stats
         |ORDER BY igain_nano DESC, term LIMIT 8""".stripMargin,
    // switch case 'b': the conjunction branch
    "ft_switch" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'table') AND list_contains(tk, 'spark')
         |ORDER BY doc_id""".stripMargin,
    // max of the two clause scores per doc
    "ft_maxscore" ->
      s"""$PRELUDE,
         |legs AS (
         |  SELECT dl.doc_id,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("vector")} > 0
         |  UNION ALL
         |  SELECT dl.doc_id,
         |    round(${bmSql(idfSql(dfSql("table")), tfSql("table"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("table")} > 0)
         |SELECT doc_id, max(s) AS score FROM legs GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 12""".stripMargin,
    // graphTerms: only under-cap terms survive ('a'/'the' are hubs)
    "ft_graph_terms" ->
      s"""WITH caps AS (
         |  SELECT tok FROM (
         |    SELECT tok, count(DISTINCT doc_id) AS df
         |    FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |    WHERE tok IN ('vector', 'table', 'a', 'the')
         |    GROUP BY tok)
         |  WHERE df <= 385)
         |SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents) t
         |WHERE EXISTS (SELECT 1 FROM caps WHERE list_contains(t.tk, caps.tok))
         |ORDER BY doc_id""".stripMargin,
    // sigm leg: round4(BM25) + 2*len^2/(len^2+3600)
    "ft_feature_sigm" ->
      s"""$PRELUDE
         |SELECT doc_id,
         |  round(round(s, 4)
         |    + 2.0 * CAST(len(tk) * len(tk) AS DOUBLE)
         |      / (CAST(len(tk) * len(tk) AS DOUBLE) + 3600.0), 4) AS fscore
         |FROM (
         |  SELECT dl.doc_id, dl.tk, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st)
         |WHERE tf > 0 ORDER BY fscore DESC, doc_id LIMIT 10""".stripMargin,
    // sorted-index range = plain filter on the sort field
    "ft_sorted_range" ->
      s"""SELECT doc_id, CAST(len(tk) AS BIGINT) AS len
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(tk) BETWEEN 50 AND 80
         |ORDER BY doc_id""".stripMargin,
    // dictionary mid-band by df bounds
    "ft_terms_bounds" ->
      s"""SELECT tok AS term, count(DISTINCT doc_id) AS df
         |FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
         |GROUP BY tok HAVING df BETWEEN 100 AND 400
         |ORDER BY term""".stripMargin,
    // mm "2<75%" over 4 optional clauses -> at least 3 present
    "ft_mm_spec" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE (CASE WHEN list_contains(tk, 'vector') THEN 1 ELSE 0 END)
         |    + (CASE WHEN list_contains(tk, 'table') THEN 1 ELSE 0 END)
         |    + (CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END)
         |    + (CASE WHEN list_contains(tk, 'window') THEN 1 ELSE 0 END) >= 3
         |ORDER BY doc_id""".stripMargin,
    // precedence grammar: (spark AND vector) OR customer
    "ft_parser_precedence" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE (list_contains(tk, 'spark') AND list_contains(tk, 'vector'))
         |   OR list_contains(tk, 'customer')
         |ORDER BY doc_id""".stripMargin,
    // everything except the negated term
    "ft_pure_negative" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE NOT list_contains(tk, 'vector')
         |ORDER BY doc_id""".stripMargin,
    // top terms by total term frequency
    "ft_top_terms_ttf" ->
      s"""SELECT tok AS term, count(*) AS ttf
         |FROM (SELECT unnest($TOKS) AS tok FROM documents)
         |GROUP BY tok ORDER BY ttf DESC, term LIMIT 20""".stripMargin,
    // one scored pass, two reductions: top-5 hits (score in 1e4 units) +
    // the lang facet
    "ft_multi_collect" ->
      s"""$PRELUDE,
         |sc AS (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s
         |  FROM dl, st),
         |m AS (SELECT sc.doc_id, sc.s, d.lang
         |      FROM sc JOIN documents d ON sc.doc_id = d.doc_id WHERE sc.tf > 0)
         |SELECT kind, label, value FROM (
         |  SELECT 'hit' AS kind, CAST(doc_id AS VARCHAR) AS label,
         |    CAST(round(s * 10000) AS BIGINT) AS value
         |  FROM (SELECT doc_id, s FROM m ORDER BY s DESC, doc_id LIMIT 5)
         |  UNION ALL
         |  SELECT 'facet', lang, count(*) FROM m GROUP BY lang)
         |ORDER BY kind, label""".stripMargin,
    // ordered span: 'hash' then a damerau<=1 't'-prefixed variant of 'tble'
    // within the slop-3 window
    "ft_span_fuzzy" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE len(list_filter(generate_series(1, len(tk)), i -> tk[i] = 'hash'
         |  AND len(list_filter(generate_series(i + 1, least(len(tk), i + 4)),
         |        j -> tk[j] LIKE 't%'
         |          AND damerau_levenshtein(tk[j], 'tble') <= 1)) > 0)) > 0
         |ORDER BY doc_id""".stripMargin,
    // mapped-stream BM25: the same char rewrite in SQL, then the standard
    // scored-search oracle shape
    "ft_mapping_charfilter" -> {
      val mapToks = "regexp_extract_all(lower(regexp_replace(regexp_replace(" +
        "text, '\\bbig\\b', 'large', 'g'), '\\bslow\\b', 'sluggish', 'g')), '[a-z0-9]+')"
      s"""${PRELUDE.replace(TOKS, mapToks)}
         |SELECT doc_id, score FROM (
         |  SELECT dl.doc_id, ${tfSql("large")} AS tf,
         |    round(${bmSql(idfSql(dfSql("large")), tfSql("large"))}, 4) AS score
         |  FROM dl, st)
         |WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    },
    // compound (lang asc, score desc, doc_id) over the scored match set
    "ft_sort_compound" ->
      s"""$PRELUDE,
         |sc AS (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS score
         |  FROM dl, st)
         |SELECT d.lang, sc.doc_id, sc.score
         |FROM sc JOIN documents d ON sc.doc_id = d.doc_id
         |WHERE sc.tf > 0
         |ORDER BY d.lang, sc.score DESC, sc.doc_id LIMIT 12""".stripMargin,
    // collection stats recounted from the raw token stream
    "ft_field_stats" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS doc_count,
         |  CAST(sum(len(tk)) AS BIGINT) AS sum_ttf,
         |  CAST(CAST(sum(len(tk)) AS BIGINT) AS DOUBLE) / count(*) AS avgdl
         |FROM t""".stripMargin,
    // within-group rows 2..3 of the lang-grouped scored match set
    "ft_group_offset" ->
      s"""$PRELUDE,
         |sc AS (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS score
         |  FROM dl, st),
         |g AS (SELECT sc.doc_id, sc.score, d.lang
         |      FROM sc JOIN documents d ON sc.doc_id = d.doc_id WHERE sc.tf > 0),
         |r AS (SELECT lang, doc_id, score,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY score DESC, doc_id) AS rn FROM g)
         |SELECT lang, rn, doc_id, score FROM r WHERE rn > 1 AND rn <= 3
         |ORDER BY lang, rn""".stripMargin,
    // expression sort key len*2 + doc_id%5 over the merge match set
    "ft_sort_expr" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT doc_id, CAST(len(tk) * 2 + doc_id % 5 AS BIGINT) AS sort_key
         |FROM t WHERE list_contains(tk, 'merge')
         |ORDER BY sort_key DESC, doc_id LIMIT 12""".stripMargin,
    // ord = dense position in the sorted lang dictionary (1-based), rord
    // reversed
    "ft_func_ord" ->
      s"""WITH o AS (
         |  SELECT lang, row_number() OVER (ORDER BY lang) AS ord,
         |    count(*) OVER () AS nv
         |  FROM (SELECT DISTINCT lang FROM documents))
         |SELECT d.doc_id, d.lang, o.ord, o.nv - o.ord + 1 AS rord
         |FROM documents d JOIN o ON d.lang = o.lang
         |WHERE d.doc_id % 37 = 0 ORDER BY d.doc_id""".stripMargin,
    // cross-core join: stemmed-core 'tables'->'table' match set keyed on
    // source, projected onto main-core 'merge' matches
    "ft_join_from_index" ->
      s"""WITH fr AS (
         |  SELECT DISTINCT source FROM (
         |    SELECT source, $STEM_TOKS AS tk FROM documents)
         |  WHERE list_contains(tk, 'table')),
         |t AS (SELECT doc_id, source, $TOKS AS tk FROM documents)
         |SELECT t.doc_id FROM t JOIN fr ON t.source = fr.source
         |WHERE list_contains(t.tk, 'merge')
         |ORDER BY t.doc_id""".stripMargin,
    // exists/missing buckets over the partial boost dv (= 'vector' docs)
    "ft_dv_exists" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT bucket, cnt, sum_boost FROM (
         |  SELECT 'exists' AS bucket, count(*) AS cnt,
         |    CAST(sum(doc_id % 100) AS BIGINT) AS sum_boost
         |  FROM t WHERE list_contains(tk, 'vector')
         |  UNION ALL
         |  SELECT 'missing', count(*), 0
         |  FROM t WHERE NOT list_contains(tk, 'vector'))
         |ORDER BY bucket""".stripMargin,
    // merge hits by boost desc (missing = -1 sorts last), docId tiebreak
    "ft_dv_sort_missing" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT doc_id,
         |  CASE WHEN list_contains(tk, 'vector') THEN doc_id % 100
         |       ELSE -1 END AS boost
         |FROM t WHERE list_contains(tk, 'merge')
         |ORDER BY boost DESC, doc_id LIMIT 12""".stripMargin,
    // feature logger: the ft_ltr feature join surfaced as output columns
    "ft_ltr_features" ->
      s"""$PRELUDE,
         |first AS (
         |  SELECT doc_id, s1 FROM (
         |    SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |      round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s1
         |    FROM dl, st)
         |  WHERE tf > 0 ORDER BY s1 DESC, doc_id LIMIT 10)
         |SELECT f.doc_id, f.s1 AS f_s1, CAST(len(t.tk) AS BIGINT) AS f_len,
         |  CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS f_lang
         |FROM first f JOIN toks t ON f.doc_id = t.doc_id
         |JOIN documents d ON f.doc_id = d.doc_id
         |ORDER BY f_s1 DESC, f.doc_id""".stripMargin,
    // scoring rewrite: first-4 s* terms in term order (constant boost ties
    // break toward the smaller term), per-doc disjunction sum in 1e4 units
    "ft_prefix_scored" -> {
      val terms = Seq("scan", "slow", "small", "sort")
      val legs = terms.map(t =>
        s"""SELECT dl.doc_id,
           |    CAST(round(round(${bmSql(idfSql(dfSql(t)), tfSql(t))}, 4) * 10000)
           |      AS BIGINT) AS su
           |  FROM dl, st WHERE ${tfSql(t)} > 0""".stripMargin)
        .mkString("\n  UNION ALL\n  ")
      s"""$PRELUDE,
         |u AS (
         |  $legs)
         |SELECT doc_id, CAST(sum(su) AS DOUBLE) / 10000.0 AS score
         |FROM u GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin
    },
    // DirectSpellChecker: transposition-counting distance <= 2, exact first
    // char, score = 1 - d/min(len), order (score desc, docfreq desc, term)
    // more-popular mode: neighbors of the PRESENT term with higher df
    "ft_spell_popular" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |dict AS (
         |  SELECT term, count(DISTINCT doc_id) AS docfreq
         |  FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY term),
         |qd AS (SELECT docfreq AS qdf FROM dict WHERE term = 'fast')
         |SELECT term, docfreq FROM dict, qd
         |WHERE term <> 'fast' AND damerau_levenshtein(term, 'fast') <= 2
         |  AND docfreq > qdf
         |ORDER BY docfreq DESC, term LIMIT 5""".stripMargin,
    "ft_spell_direct" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |dict AS (
         |  SELECT term, count(DISTINCT doc_id) AS docfreq
         |  FROM (SELECT doc_id, unnest(tk) AS term FROM t) GROUP BY term)
         |SELECT term, docfreq,
         |  CAST(1.0 AS DOUBLE)
         |    - CAST(damerau_levenshtein(term, 'tble') AS DOUBLE)
         |      / least(len(term), 4) AS score
         |FROM dict
         |WHERE term <> 'tble' AND term LIKE 't%'
         |  AND damerau_levenshtein(term, 'tble') <= 2
         |ORDER BY score DESC, docfreq DESC, term LIMIT 5""".stripMargin,
    // suggester entries = first-two-token phrases, expression weights,
    // max-dedup, prefix 'ta'
    "ft_suggest_expr" ->
      s"""SELECT entry, max(weight) AS weight FROM (
         |  SELECT array_to_string(list_slice($TOKS, 1, 2), ' ') AS entry,
         |    2 * n_chars - doc_id % 7 AS weight
         |  FROM documents)
         |WHERE entry LIKE 'ta%'
         |GROUP BY entry ORDER BY weight DESC, entry LIMIT 10""".stripMargin,
    // docfreq/ttf off the token stream; maxdoc = corpus size; idf =
    // ln((n+1)/(df+1)) + 1 in micro-units
    "ft_func_docfreq" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |n AS (SELECT count(*) AS n FROM t),
         |tok AS (SELECT doc_id, unnest(tk) AS tm FROM t),
         |q AS (SELECT unnest(['big', 'spark', 'table', 'vector']) AS term),
         |s AS (
         |  SELECT q.term, count(DISTINCT tok.doc_id) AS docfreq,
         |    count(*) AS ttf
         |  FROM q JOIN tok ON tok.tm = q.term GROUP BY q.term)
         |SELECT term, docfreq, ttf, n.n AS maxdoc,
         |  CAST(floor((ln(CAST(n.n + 1 AS DOUBLE)
         |    / (CAST(docfreq AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |    + CAST(1.0 AS DOUBLE)) * 1e6) AS BIGINT) AS idf_micro6
         |FROM s, n ORDER BY term""".stripMargin,
    // atomic set (doc_id%7 -> 111) then inc (+7 where 'spark' present) over
    // the base popularity = token count; read back on the 'merge' match set
    "ft_atomic_update" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |p AS (SELECT doc_id, tk,
         |  (CASE WHEN doc_id % 7 = 0 THEN 111 ELSE len(tk) END)
         |  + (CASE WHEN list_contains(tk, 'spark') THEN 7 ELSE 0 END)
         |    AS popularity
         |  FROM t)
         |SELECT doc_id, popularity FROM p WHERE list_contains(tk, 'merge')
         |ORDER BY popularity DESC, doc_id LIMIT 10""".stripMargin,
    // presearcher: candidates = docs containing the extracted term
    // ({spark} for the bool's must, {table} for the phrase — the
    // longer/heavier term, {vector} for the term query); matched = the
    // full query semantics
    "ft_monitor_presearch" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT query_name, candidates, matched FROM (
         |  SELECT 'q_bool' AS query_name,
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'spark')) AS candidates,
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'spark')
         |       AND NOT list_contains(tk, 'vector')) AS matched
         |  UNION ALL SELECT 'q_phrase',
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'table')),
         |    (SELECT count(*) FROM t WHERE len(list_filter(range(1, len(tk)),
         |       i -> tk[i] = 'big' AND tk[i+1] = 'table')) > 0)
         |  UNION ALL SELECT 'q_vector',
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'vector')),
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'vector')))
         |ORDER BY query_name""".stripMargin,
    // multipass pass terms hand-derived from the weightor (longer term
    // wins; ties break toward the greater string): q_conj3 children
    // {spark}(5) > {join}(4,'join'>'hash') > {hash} -> passes [spark, join];
    // q_conj_phrase: phrase's covering term 'table'(5) > {scan}(4) ->
    // passes [table, scan]; q_or: the union both passes
    "ft_monitor_multipass" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents)
         |SELECT query_name, cand_single, cand_multi, matched FROM (
         |  SELECT 'q_conj3' AS query_name,
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'spark')) AS cand_single,
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'spark')
         |       AND list_contains(tk, 'join')) AS cand_multi,
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'spark')
         |       AND list_contains(tk, 'hash') AND list_contains(tk, 'join')) AS matched
         |  UNION ALL SELECT 'q_conj_phrase',
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'table')),
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'table')
         |       AND list_contains(tk, 'scan')),
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'scan')
         |       AND len(list_filter(range(1, len(tk)),
         |         i -> tk[i] = 'big' AND tk[i+1] = 'table')) > 0)
         |  UNION ALL SELECT 'q_or',
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'vector')
         |       OR list_contains(tk, 'stream')),
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'vector')
         |       OR list_contains(tk, 'stream')),
         |    (SELECT count(*) FROM t WHERE list_contains(tk, 'vector')
         |       OR list_contains(tk, 'stream')))
         |ORDER BY query_name""".stripMargin,
    // group.query: bucket membership by 'table' containment, BM25 'vector'
    // ranking, top-2 per bucket
    "ft_group_query" ->
      s"""$PRELUDE,
         |sc AS (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS score
         |  FROM dl, st),
         |g AS (
         |  SELECT sc.doc_id, sc.score,
         |    CASE WHEN list_contains(t.tk, 'table') THEN 'q:table'
         |         ELSE 'q:not_table' END AS grp
         |  FROM sc JOIN toks t ON sc.doc_id = t.doc_id WHERE sc.tf > 0),
         |r AS (SELECT grp, doc_id, score,
         |        row_number() OVER (PARTITION BY grp
         |          ORDER BY score DESC, doc_id) AS rn FROM g)
         |SELECT grp, doc_id, score FROM r WHERE rn <= 2
         |ORDER BY grp, score DESC, doc_id""".stripMargin,
    // phrase-identification Bayesian model recomputed from raw text: word
    // ttfs, bigram shingle ttfs, conjunction doc counts; expression tree
    // parenthesized exactly like the Scala side (single IEEE ops on exact
    // integer inputs), emitted as floor(s*1e6) micro-units
    "ft_phrases_ident" ->
      s"""WITH t AS (SELECT doc_id, $TOKS AS tk FROM documents),
         |s AS (SELECT
         |  CAST((SELECT sum(len(list_filter(tk, x -> x = 'table'))) FROM t) AS BIGINT) AS t1,
         |  CAST((SELECT sum(len(list_filter(tk, x -> x = 'hash'))) FROM t) AS BIGINT) AS t2,
         |  CAST((SELECT sum(len(list_filter(tk, x -> x = 'value'))) FROM t) AS BIGINT) AS t3,
         |  CAST((SELECT sum(len(list_filter(range(1, len(tk)),
         |    i -> tk[i] = 'table' AND tk[i+1] = 'hash'))) FROM t) AS BIGINT) AS bg1,
         |  CAST((SELECT sum(len(list_filter(range(1, len(tk)),
         |    i -> tk[i] = 'hash' AND tk[i+1] = 'value'))) FROM t) AS BIGINT) AS bg2,
         |  CAST((SELECT count(*) FROM t WHERE list_contains(tk, 'table')
         |    AND list_contains(tk, 'hash')) AS BIGINT) AS c12,
         |  CAST((SELECT count(*) FROM t WHERE list_contains(tk, 'hash')
         |    AND list_contains(tk, 'value')) AS BIGINT) AS c23,
         |  CAST((SELECT count(*) FROM t WHERE list_contains(tk, 'table')
         |    AND list_contains(tk, 'hash') AND list_contains(tk, 'value')) AS BIGINT) AS c123),
         |sc AS (SELECT
         |  (CAST(bg1 AS DOUBLE) / least(t1, t2) * (CAST(c12 AS DOUBLE) / c12)
         |   - CAST(bg1 AS DOUBLE) / greatest(t1, t2)
         |     * (CAST(1.0 AS DOUBLE) - CAST(c12 AS DOUBLE) / c12))
         |    * CAST(0.5 AS DOUBLE) * (CAST(c12 AS DOUBLE) / c12) AS fb1,
         |  (CAST(bg2 AS DOUBLE) / least(t2, t3) * (CAST(c23 AS DOUBLE) / c23)
         |   - CAST(bg2 AS DOUBLE) / greatest(t2, t3)
         |     * (CAST(1.0 AS DOUBLE) - CAST(c23 AS DOUBLE) / c23))
         |    * CAST(0.5 AS DOUBLE) * (CAST(c23 AS DOUBLE) / c23) AS fb2,
         |  ((CAST(bg1 AS DOUBLE) / least(t1, t2) * (CAST(c123 AS DOUBLE) / c12)
         |    - CAST(bg1 AS DOUBLE) / greatest(t1, t2)
         |      * (CAST(1.0 AS DOUBLE) - CAST(c123 AS DOUBLE) / c12))
         |   + (CAST(bg2 AS DOUBLE) / least(t2, t3) * (CAST(c123 AS DOUBLE) / c23)
         |    - CAST(bg2 AS DOUBLE) / greatest(t2, t3)
         |      * (CAST(1.0 AS DOUBLE) - CAST(c123 AS DOUBLE) / c23)))
         |    * CAST(0.5 AS DOUBLE)
         |    * (CAST(c123 AS DOUBLE) / greatest(greatest(c12, c23), c123)) AS ftri
         |  FROM s)
         |SELECT phrase, plen, CAST(floor(score * 1e6) AS BIGINT) AS score_micro6
         |FROM (
         |  SELECT 'table' AS phrase, 1 AS plen, CAST(0.0 AS DOUBLE) AS score
         |  UNION ALL SELECT 'hash', 1, CAST(0.0 AS DOUBLE)
         |  UNION ALL SELECT 'value', 1, CAST(0.0 AS DOUBLE)
         |  UNION ALL SELECT 'table hash', 2, fb1 FROM sc
         |  UNION ALL SELECT 'hash value', 2, fb2 FROM sc
         |  UNION ALL SELECT 'table hash value', 3, ftri FROM sc)
         |ORDER BY phrase""".stripMargin,
    // join ScoreMode.Max: per-key max of round4'd from-side scores
    "ft_join_scored_max" ->
      s"""$PRELUDE,
         |scored AS (
         |  SELECT dl.doc_id, ${tfSql("group")} AS tf,
         |    round(${bmSql(idfSql(dfSql("group")), tfSql("group"))}, 4) AS s
         |  FROM dl, st),
         |fv AS (
         |  SELECT d.source, max(sc.s) AS score
         |  FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id
         |  WHERE sc.tf > 0 GROUP BY d.source)
         |SELECT d.doc_id, fv.score FROM documents d JOIN fv ON d.source = fv.source
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // if(exists(payload), payload, 42) over the 'vector' match set
    "ft_func_def" ->
      s"""SELECT doc_id,
         |  CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 1 ELSE 0 END AS BIGINT) AS has_payload,
         |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1
         |            WHEN doc_id % 3 = 1 THEN 3 ELSE 42 END AS BIGINT) AS def_payload
         |FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector')
         |ORDER BY doc_id""".stripMargin,
    // version gate: %3==0 keep batch-1 values, %3==1 get batch-2 values
    "ft_version_upsert" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id + 100
        |            ELSE doc_id + 200 END AS BIGINT) AS version,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS BIGINT) AS payload
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |ORDER BY doc_id""".stripMargin,
    // tuned constants inlined into the textbook double BM25
    "ft_search_bm25_tuned" -> {
      def bmT(idf: String, tf: String) =
        s"CASE WHEN $tf = 0 THEN 0.0 ELSE $idf * ($tf * (0.875 + 1)) " +
          s"/ ($tf + 0.875 * (1 - 0.25 + 0.25 * dlq / st.avgdl)) END"
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id,
         |    ${tfSql("vector")} AS tf_v, ${tfSql("merge")} AS tf_m,
         |    ${bmT(idfSql(dfSql("vector")), tfSql("vector"))}
         |     + ${bmT(idfSql(dfSql("merge")), tfSql("merge"))} AS s
         |  FROM dl, st
         |) WHERE tf_v > 0 OR tf_m > 0
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    },
    // page 3 by cursor chain == OFFSET 10 of the global order
    "ft_cursor_walk" ->
      s"""$PRELUDE
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("table")} AS tf,
         |    ${bmSql(idfSql(dfSql("table")), tfSql("table"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 5 OFFSET 10""".stripMargin,
    // enum ordinal sort: configured order zh < de < fr < es < en
    "ft_enum_sort" ->
      s"""SELECT lang,
         |  CAST(CASE lang WHEN 'zh' THEN 1 WHEN 'de' THEN 2 WHEN 'fr' THEN 3
         |       WHEN 'es' THEN 4 WHEN 'en' THEN 5 END AS BIGINT) AS ord,
         |  doc_id
         |FROM (SELECT doc_id, lang, $TOKS AS tk FROM documents)
         |WHERE list_contains(tk, 'vector')
         |ORDER BY ord, doc_id LIMIT 15""".stripMargin,
    // DuckDB's independent jaro_similarity over the same blocked pairs
    "ft_jaro_pairs" ->
      s"""WITH ts AS (
         |  SELECT DISTINCT tok AS term FROM (
         |    SELECT unnest($TOKS) AS tok FROM documents)
         |  WHERE len(tok) >= 4)
         |SELECT a.term AS t1, b.term AS t2,
         |  round(jaro_similarity(a.term, b.term), 4) AS jaro4
         |FROM ts a JOIN ts b
         |  ON substr(a.term, 1, 1) = substr(b.term, 1, 1) AND a.term < b.term
         |ORDER BY t1, t2""".stripMargin,
    // the identical murmur3 integer chain as a CTE ladder, xor() spelling
    "ft_shard_route" -> {
      val steps = m32Steps((a, b) => s"xor($a, $b)")
      val ctes = steps.zipWithIndex.map { case ((alias, e), i) =>
        val prev = if (i == 0) "s0" else s"s$i"
        s"s${i + 1} AS (SELECT *, $e AS $alias FROM $prev)"
      }
      s"""WITH s0 AS (SELECT source AS s, count(*) AS n_docs
         |            FROM documents GROUP BY source),
         |${ctes.mkString(",\n")}
         |SELECT s AS source, h AS murmur32, shard, n_docs
         |FROM s${steps.size} ORDER BY source""".stripMargin
    },
    // post-merge stats: the whole PRELUDE recomputed over survivors only
    "ft_merged_search" -> {
      val mergedPrelude = PRELUDE.replace("FROM documents",
        "FROM documents WHERE doc_id % 7 <> 0")
      s"""$mergedPrelude
         |SELECT doc_id, round(s, 4) AS score FROM (
         |  SELECT dl.doc_id, ${tfSql("vector")} AS tf,
         |    ${bmSql(idfSql(dfSql("vector")), tfSql("vector"))} AS s
         |  FROM dl, st
         |) WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    },
    // per-field sims: BM25 leg + Classic leg, round4 each, per-doc sum
    "ft_perfield_sim" ->
      s"""$PRELUDE,
         |legs AS (
         |  SELECT dl.doc_id,
         |    round(${bmSql(idfSql(dfSql("vector")), tfSql("vector"))}, 4) AS s
         |  FROM dl, st WHERE ${tfSql("vector")} > 0
         |  UNION ALL
         |  SELECT dl.doc_id,
         |    round((ln((st.n + 1) / (${dfSql("table")} + 1.0)) + 1)
         |      * sqrt(${tfSql("table")}) / sqrt(dlq), 4) AS s
         |  FROM dl, st WHERE ${tfSql("table")} > 0)
         |SELECT doc_id, sum(s) AS score FROM legs GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 12""".stripMargin,
    // delete-by-query: survivors of the 'slow AND hash' purge
    "ft_delete_by_query" ->
      s"""SELECT doc_id FROM (SELECT doc_id, $TOKS AS tk FROM documents)
         |WHERE (list_contains(tk, 'table') OR list_contains(tk, 'vector'))
         |  AND NOT (list_contains(tk, 'slow') AND list_contains(tk, 'hash'))
         |ORDER BY doc_id""".stripMargin,
    // path-hierarchy prefix chain, facet counts per emitted token
    "ft_path_hierarchy" ->
      """SELECT path, count(*) AS cnt FROM (
        |  SELECT unnest([lang,
        |                 lang || '/' || source,
        |                 lang || '/' || source || '/' ||
        |                   CAST(doc_id % 10 AS VARCHAR)]) AS path
        |  FROM documents)
        |GROUP BY path ORDER BY cnt DESC, path LIMIT 15""".stripMargin,
    // length band [3,5] of the token stream, top terms by ttf
    "ft_length_filter" ->
      s"""SELECT term, count(*) AS ttf FROM (
         |  SELECT unnest(list_filter($TOKS, t -> len(t) BETWEEN 3 AND 5)) AS term
         |  FROM documents)
         |GROUP BY term ORDER BY ttf DESC, term LIMIT 12""".stripMargin
  )
}
