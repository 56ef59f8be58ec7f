package graft.search

import scala.reflect.ClassTag
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.storage.StorageLevel
import graft.index.{BlockRow, GraftIndex}

/** One doc range `[lo, hi)` of a [[DocRangeLayout]]: every posting block
  * overlapping the range, grouped by term and docId-sorted (a block
  * straddling a range boundary sits in every range it overlaps; the scorers
  * clip it by `[lo, hi)`), the range's tombstones (null = none) and its
  * docs' norms — Lucene's per-segment norms, read by docId
  * ([[norm]]); the blocks carry none. */
final class DocRange private (
    val lo: Long,
    val hi: Long,
    val blocks: Map[String, Array[BlockRow]],
    val live: LiveDocs,
    /** The norm byte of doc `normBase + i` at `i`, for every doc of the
      * range; a docId without a doc (purged by a merge) holds 0 and has no
      * postings. */
    norms: Array[Byte],
    normBase: Long,
    /** The range's term dictionary, sorted: multi-term clauses seek it. */
    terms: Array[String]) extends Serializable {

  /** The norm of doc `doc` (unsigned byte, 0..255), for a doc in the range. */
  @inline def norm(doc: Long): Int = norms((doc - normBase).toInt) & 0xFF

  /** The docs of this range in `[l, h)`, a sub-range of it: the same blocks,
    * tombstones and norms, for scorers that clip to a narrower window. */
  def clip(l: Long, h: Long): DocRange = {
    require(lo <= l && l <= h && h <= hi, s"[$l, $h) is not inside [$lo, $hi)")
    new DocRange(l, h, blocks, live, norms, normBase, terms)
  }

  /** The blocks a query touches in this range: its exact terms by lookup,
    * its multi-term clauses by `matches` over this range's terms. */
  def select(exact: Set[String], mts: Seq[MultiTermQ]): Map[String, Array[BlockRow]] = {
    val out = Map.newBuilder[String, Array[BlockRow]]
    exact.foreach(t => blocks.get(t).foreach(b => out += t -> b))
    mts.foreach(mt => matching(mt).foreach(t => out += t -> blocks(t)))
    out.result()
  }

  /** Terms of this range that `mt` matches. The scan starts at the clause's
    * seek key (range lower bound or literal prefix) and stops when a term
    * leaves that band, so a prefix clause reads only its own slice. */
  private def matching(mt: MultiTermQ): Iterator[String] = {
    val (from, inBand): (String, String => Boolean) = mt match {
      case TermRangeQ(lower, upper, _, _) =>
        (if (lower == null) "" else lower, t => upper == null || t.compareTo(upper) <= 0)
      case _ =>
        val p = Query.literalPrefix(mt)
        (p, t => t.startsWith(p))
    }
    var lo = 0
    var hi = terms.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (terms(mid).compareTo(from) < 0) lo = mid + 1 else hi = mid
    }
    terms.iterator.drop(lo).takeWhile(inBand).filter(mt.matches)
  }
}

object DocRange {

  /** The range `[lo, hi)` over `blocks` (each term's docId-sorted), with
    * `live` tombstones (null = none) and `norms(i)` the norm of doc `lo + i`. */
  def apply(lo: Long, hi: Long, blocks: Map[String, Array[BlockRow]], live: LiveDocs,
      norms: Array[Byte]): DocRange = {
    require(norms.length == hi - lo, s"${norms.length} norms for [$lo, $hi)")
    new DocRange(lo, hi, blocks, live, norms, lo, blocks.keys.toArray.sorted)
  }

  /** The norms of docs `[lo, hi)` from their `(docId, norm)` rows, one
    * byte per docId; a docId without a row holds 0. */
  def normsOf(lo: Long, hi: Long, rows: Iterator[(Long, Int)]): Array[Byte] = {
    val out = new Array[Byte]((hi - lo).toInt)
    rows.foreach { case (d, n) => out((d - lo).toInt) = n.toByte }
    out
  }

  /** The (docFreq, totalTermFreq) of each of `terms` over `ranges`: the
    * `count` and `blockTtf` of its blocks whose `firstDocId` lies in their
    * range's `[lo, hi)`, so a block straddling a range edge counts once.
    * Over every range of an index this is the term's `termstats` row
    * ([[graft.index.IndexBuilder.termStatsOf]]), tombstoned docs included,
    * as Lucene's statistics count deleted docs until a merge. A term with
    * no block has no entry. */
  def termStats(ranges: Array[DocRange], terms: Set[String]): Map[String, (Long, Long)] =
    terms.iterator.flatMap { t =>
      var df = 0L
      var ttf = 0L
      for (r <- ranges; blk <- r.blocks.getOrElse(t, Array.empty[BlockRow])
           if blk.firstDocId >= r.lo && blk.firstDocId < r.hi) {
        df += blk.count
        ttf += blk.blockTtf
      }
      if (df > 0) Some(t -> (df, ttf)) else None
    }.toMap
}

/** The resident doc-range layout of one index: the posting blocks laid out
  * once by docId range, one [[DocRange]] record per range, persisted
  * `MEMORY_AND_DISK` — Solr's document-partitioned shards held open
  * (SURVEY.md §3.3). A search is then one map-only job over the records:
  * no block scan, no shuffle, no per-query Catalyst plan.
  *
  * Every job this class submits runs a function declared here, through the
  * 4-argument `SparkContext.runJob`. Spark's closure cleaner reads and
  * parses the bytecode of the class that declared a job's function on every
  * job, uncached: `RDD.collect()`/`count()` hand it lambdas declared in
  * `RDD` and `SparkContext` (~390 KB of bytecode per job); this class and
  * its companion are 8 KB and 14 KB. */
final class DocRangeLayout private (val ranges: RDD[DocRange]) {

  /** The ranges in one partition, in ascending docId order. */
  private def inOrder: RDD[DocRange] =
    ranges.coalesce(1, shuffle = false, Some(DocRangeLayout.InOrder))

  /** The search task as an RDD, for the Dataset surfaces: runs `f` over the
    * ranges in ascending docId order, inside ONE task, handing every range
    * `ctx` completed with the statistics of `terms` and the task's one
    * [[TopKFloor]] ([[DocRangeLayout.inTask]]). Every run of the job — a
    * retry, or a Dataset collected twice — starts from an empty floor.
    * Collecting it pays Spark's per-job parse of `RDD`'s bytecode;
    * driver-side gathers use [[collect]]. */
  def serial[T: ClassTag](terms: Set[String], ctx: SearchContext)(
      f: (DocRange, SearchContext, TopKFloor) => Iterator[T]): RDD[T] =
    inOrder.mapPartitions(it => DocRangeLayout.inTask(it, terms, ctx, f))

  /** The same task as [[serial]], run as one job whose results come back to
    * the driver: one stage, one task, the ranges' output in range order. */
  def collect[T: ClassTag](terms: Set[String], ctx: SearchContext)(
      f: (DocRange, SearchContext, TopKFloor) => Iterator[T]): Array[T] = {
    var out: Array[T] = Array.empty[T]
    ranges.sparkContext.runJob(inOrder,
      (_: TaskContext, it: Iterator[DocRange]) => DocRangeLayout.inTask(it, terms, ctx, f).toArray,
      Seq(0), (_: Int, rows: Array[T]) => out = rows)
    out
  }

  def release(): Unit = ranges.unpersist(blocking = false)
}

object DocRangeLayout {

  /** The body of the one search task. It holds every range first (resident
    * references, all in this task) and sums the statistics of `terms` over
    * them into `ctx` ([[DocRange.termStats]]) — Lucene's per-leaf
    * `TermStates`, summed by `IndexSearcher.termStatistics`. Then it hands
    * `f` that context and one [[TopKFloor]], made inside the task, for
    * every range in turn, so each range starts from the k-th score the
    * ranges before it left. */
  private def inTask[T](ranges: Iterator[DocRange], terms: Set[String], ctx: SearchContext,
      f: (DocRange, SearchContext, TopKFloor) => Iterator[T]): Iterator[T] = {
    val held = ranges.toArray
    val full = ctx.copy(termStats = DocRange.termStats(held, terms))
    val floor = new TopKFloor
    held.iterator.flatMap(f(_, full, floor))
  }

  /** Groups every range of the parent into one partition, in range order. */
  private object InOrder extends PartitionCoalescer with Serializable {
    override def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val g = new PartitionGroup()
      g.partitions ++= parent.partitions
      Array(g)
    }
  }

  /** Range `pid` lives in partition `pid`. */
  private final class ByRange(n: Int) extends Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Lays `index` out over `p` aligned docId ranges of `ceil(maxDoc / p)`
    * docs each, in one job: every block row is keyed by each range it
    * overlaps, the docs' `(docId, norm)` and the tombstones by their range,
    * and the three are cogrouped into one record per range (ranges without
    * blocks still get an empty record, so MatchAll-anchored queries reach
    * them). The index must hold a doc. */
  def build(index: GraftIndex, p: Int): DocRangeLayout = {
    val sc = index.spark.sparkContext
    val maxDoc = index.fieldStats.maxDocId + 1
    require(maxDoc > 0, "empty index has no doc ranges")
    val span = math.max(1L, (maxDoc + p - 1) / p)
    val nParts = ((maxDoc + span - 1) / span).toInt
    val blocks = index.blocks.rdd.flatMap { blk =>
      (blk.firstDocId / span to blk.lastDocId / span).iterator.map(pid => (pid.toInt, blk))
    }
    import index.spark.implicits._
    val norms = index.docs.select("docId", "norm").as[(Long, Int)].rdd
      .map { case (d, n) => ((d / span).toInt, (d, n)) }
    val deletes: RDD[(Int, Long)] =
      if (!index.hasDeletes) sc.emptyRDD
      else index.deletes.rdd.filter(_ < maxDoc).map(d => ((d / span).toInt, d))
    val ranges = blocks.cogroup(norms, deletes, new ByRange(nParts)).mapPartitionsWithIndex { (pid, it) =>
      val rows = it.toArray
      val byTerm = rows.iterator.flatMap(_._2._1).toArray.groupBy(_.term)
        .map { case (t, arr) => t -> arr.sortBy(_.firstDocId) }
      val deleted = rows.iterator.flatMap(_._2._3).toArray
      val live = if (deleted.isEmpty) null else {
        java.util.Arrays.sort(deleted)
        new LiveDocs(deleted)
      }
      val lo = pid.toLong * span
      val hi = math.min(lo + span, maxDoc)
      Iterator.single(DocRange(lo, hi, byTerm, live,
        DocRange.normsOf(lo, hi, rows.iterator.flatMap(_._2._2))))
    }
    ranges.setName(s"graft doc-range layout ($nParts ranges)")
    ranges.persist(StorageLevel.MEMORY_AND_DISK)
    sc.runJob(ranges, (_: TaskContext, it: Iterator[DocRange]) => it.foreach(_ => ()),
      0 until nParts, (_: Int, _: Unit) => ())
    new DocRangeLayout(ranges)
  }
}
