package graft.index

/** Input row — the `input_hint` shape: an Iceberg/parquet table of
  * source-code files. `sha256` is optional (null = compute at ingest);
  * when present, the builder verifies content sha256 equality against it
  * (the north rule's per-row invariant, the Spark analog of Lucene's CRC32
  * file footers, reference: lucene/core/src/java/org/apache/lucene/codecs/CodecUtil.java:370-383). */
final case class CodeFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    sha256: String = null)

/** Per-document metadata (Lucene: norms + stored-field pointers;
  * reference norms computation: lucene/core/src/java/org/apache/lucene/index/DefaultIndexingChain.java:758-776).
  * `norm` is the unsigned byte value (0..255) of SmallFloat.intToByte4(len),
  * the index's one copy of it: posting blocks carry none, and the scorers
  * read it through the doc-range layout ([[graft.search.DocRange.norm]]). */
final case class DocRow(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    sha256: String,
    len: Int,
    norm: Int)

/** Intermediate analyzed document: doc metadata + its inverted terms.
  * `posFlat` concatenates per-term position arrays (lengths given by tfs). */
final case class AnalyzedDoc(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    sha256: String,
    len: Int,
    norm: Int,
    terms: Array[String],
    tfs: Array[Int],
    posFlat: Array[Int],
    /** Per-occurrence payloads aligned with posFlat (-1 = none); null when
      * the analyzer chain carries no payload markup. */
    payFlat: Array[Int] = null)

/** One posting: the unit that flows through THE shuffle (repartition by
  * hash(term, salt) — the Spark-native equivalent of Lucene's in-RAM
  * TermsHash -> sorted flush, reference:
  * lucene/core/src/java/org/apache/lucene/index/TermsHashPerField.java). */
final case class PostingRow(
    term: String,
    docId: Long,
    tf: Int,
    positions: Array[Int],
    norm: Int,
    /** Per-occurrence payloads aligned with positions (-1 = none); null
      * when this doc-term has no payloads — encoded inline in posEnc
      * (Lucene's .pos payload interleaving). */
    payloads: Array[Int] = null)

/** One encoded 128-doc posting block — a row of the postings table.
  * The (term)-keyed, docId-sorted block table IS the term dictionary
  * (Lucene's FST/BlockTree is replaced by parquet/Iceberg predicate
  * pushdown on the term column's min/max stats).
  * `blockTtf` = sum of freqs in the block (lets term stats aggregate over
  * blocks instead of re-shuffling raw postings). The row holds no norms:
  * each doc's norm is stored once, in [[DocRow.norm]], and the impact
  * frontier (`impactFreqs`/`impactNorms`) is computed from those norms at
  * encode time ([[CheckIndex]] recomputes it). A postings table written
  * with the former per-posting `normsEnc` column still reads: segment
  * tables are read through the encoder's columns ([[IndexStore.readStage]]). */
final case class BlockRow(
    term: String,
    blockId: Int,
    count: Int,
    firstDocId: Long,
    lastDocId: Long,
    blockTtf: Long,
    docsEnc: Array[Byte],
    freqsEnc: Array[Byte],
    posEnc: Array[Byte],
    impactFreqs: Array[Int],
    impactNorms: Array[Int]) {

  /** Rebuild the codec-facing block from this stored row — the single
    * source of truth for the BlockRow <-> EncodedBlock field mapping
    * (decoders in the scorer, the merger, and the oracle queries all go
    * through here). */
  def toEncodedBlock: graft.codec.EncodedBlock =
    graft.codec.EncodedBlock(count, firstDocId, lastDocId, blockTtf,
      docsEnc, freqsEnc, posEnc,
      impactFreqs.zip(impactNorms).map { case (f, n) => graft.codec.Impact(f, n) })
}

final case class TermStatsRow(term: String, docFreq: Long, totalTermFreq: Long)

/** One doc-keyed term-vector cell, materialized at WRITE time from the same
  * inversion the postings come from (the `.tvd`/CompressingTermVectorsWriter
  * analog, reference: lucene/core/src/java/org/apache/lucene/codecs/
  * compressing/CompressingTermVectorsWriter.java:60-120). Stored
  * range-partitioned + sorted by docId so a per-document fetch is parquet
  * row-group pruning on the docId key — never an uninvert of the term-keyed
  * blocks table. Opt-in per index ([[IndexConfig.storeTermVectors]]), like
  * Lucene's per-field `storeTermVectors` flag. */
final case class TermVectorRow(docId: Long, term: String, tf: Int)

/** One numeric docvalues cell. Updatable without reindexing
  * (`IndexWriter.updateNumericDocValue` analog, reference:
  * lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:1803-1834):
  * each update commits a new docvalues generation, like Lucene's
  * gen-suffixed `.dvd` stacks (`docValuesGen` in SegmentCommitInfo). */
final case class DocValueRow(docId: Long, field: String, value: Long)

final case class FieldStatsRow(docCount: Long, sumTotalTermFreq: Long, maxDocId: Long)

/** Top-k hit. Ordering discipline everywhere: score desc, docId asc
  * (reference tie-break: lucene/core/src/java/org/apache/lucene/search/HitQueue.java:76-81). */
final case class ScoreDoc(docId: Long, score: Float)

/** Top-k hit on the double-precision (oracle-facing) scored path. */
final case class ScoreDocD(docId: Long, score: Double)
