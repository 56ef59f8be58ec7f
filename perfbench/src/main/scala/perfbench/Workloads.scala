package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import graft.fixtures.CodeCorpus
import graft.index.{CheckIndex, CodeFile, IndexConfig, IndexStore, ScoreDoc, SegmentMerger}
import graft.search.GraftSearcher
import scala.collection.mutable

/** Workload sizes. They are fixed so that one run (set-up repeated
  * `SetupReps` times plus the timed region and its checks) fits the
  * benchmark's per-run budget on a 4-core host. */
object Sizes {
  /** The engine set-up (base-index build, open, warm-up queries) is run
    * this many times per run; `setup_s` reports the median. */
  val SetupReps = 3
  val SearchDocs = 24000
  val MinQueries = 32
  /** Queries whose per-query pruning counts are summed: a fixed prefix of
    * the stream, so the sums repeat exactly for a seed. */
  val CountedQueries = 32
  /** Warm-up queries each update set-up repetition runs on its fresh
    * searcher (JIT warm-up of the query path). The search set-up instead
    * runs every distinct query of its stream once. */
  val UpdateWarmQueries = 24
  val UpdateBaseDocs = 16000
  val BatchDocs = 2000
  val DeletesPerRound = 400
  /** Queries per round: three blocks of the stream, each shape three times. */
  val QueriesPerRound = 24
  /** Rounds every update run makes, whatever `--seconds` says; space and
    * write amplification are read after the last of them. With the
    * default TieredPolicy the first merge comes at round 2 or 3 at these
    * sizes. */
  val Rounds = 3
}

/** What a workload reports: op counts, correctness, the end-to-end metrics
  * (always measured on untraced operations) and per-layer metrics. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]
  /** Counts `ops` failed operations, keeping the first messages. */
  def fail(msg: String, ops: Long = 1): Unit = { failed += ops; if (problems.size < 20) problems += msg }
}

final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Tracer, val work: Path) {
  import spark.implicits._
  val cores: Int = spark.sparkContext.defaultParallelism
  val cfg: IndexConfig = IndexConfig(numPartitions = cores)
  val offset: Long = Gen.docOffset(seed)
  val result = new Result

  /** Latency of every measured operation, by kind, and whether it was
    * traced: untraced ones feed the end-to-end metrics, traced ones the
    * layers, and the two together give the tracing overhead. */
  val ops = mutable.ArrayBuffer.empty[(String, Boolean, Double)]
  /** (stream index, shape, ms, blocks decoded, blocks skipped) per query. */
  val queries = mutable.ArrayBuffer.empty[(Int, String, Double, Long, Long)]
  /** Codec throughput from the engine's persisted `buildmetrics` table. */
  var postingsPerS: Double = 0.0

  def op(kind: String, ms: Double): Unit = ops += ((kind, tracer.active, ms))
  def untraced(kind: String): Seq[Double] = ops.collect { case (`kind`, false, ms) => ms }.toSeq

  /** Postings per task-second of the encode tasks of segment `seg`. */
  def readPostingsPerS(dir: String, seg: String): Unit = {
    val rows = spark.read.parquet(s"$dir/$seg/buildmetrics")
      .agg(sum(col("nPostings")), sum(col("elapsedMs"))).head()
    postingsPerS = rows.getLong(0) / (rows.getLong(1) / 1000.0)
  }

  def path(rel: String): String = work.resolve(rel).toString

  /** Stages consecutive tables to parquet in one job: `sizes(k)` docs each, starting
    * at corpus doc `from`, partitioned by table; table `k` reads back on
    * its own, with as many files as a table staged alone. */
  def stageTables(from: Long, sizes: Seq[Int], rel: String): IndexedSeq[Dataset[CodeFile]] = {
    val dir = path(rel)
    val parts = 2 * cores
    val ends = sizes.scanLeft(from)(_ + _).tail.toArray
    spark.range(from, ends.last, 1L, parts)
      .map { i =>
        var k = 0
        while (i >= ends(k)) k += 1
        (k, (i % parts).toInt, CodeCorpus.fileFor(i))
      }
      .toDF("batch", "slot", "file")
      .repartition(parts, col("slot"))
      .select("batch", "file.*")
      .write.partitionBy("batch").mode("overwrite").parquet(dir)
    sizes.indices.map(k => spark.read.parquet(s"$dir/batch=$k").as[CodeFile])
  }

  /** UTF-8 content bytes of corpus docs `[from, from + n)`. */
  def contentBytes(from: Long, n: Int): Long =
    (from until from + n).iterator.map(i => CodeCorpus.contentFor(i).getBytes("UTF-8").length.toLong).sum

  def delete(rel: String): Unit = Ctx.deleteTree(work.resolve(rel))

  /** Timed engine call: wall ms, recorded under span `name` when traced. */
  def timed[T](name: String)(f: => T): (T, Double, Span) = {
    val t0 = System.nanoTime()
    val (r, s) = tracer.span(name)(f)
    (r, (System.nanoTime() - t0) / 1e6, s)
  }

  /** Median seconds of `SetupReps` runs of `f`; the last run's value is
    * kept for the timed region. */
  def setupReps[T](f: Int => T): (T, Double) = {
    var last: T = null.asInstanceOf[T]
    val times = (0 until Sizes.SetupReps).map { rep =>
      val t0 = System.nanoTime()
      last = f(rep)
      (System.nanoTime() - t0) / 1e9
    }
    result.notes("setup_reps_s") = times.map(t => f"$t%.2f").mkString(",")
    (last, Stats.median(times))
  }

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Ctx {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  /** Size of every regular file under `p`, keyed by path. The engine's
    * `buildmetrics` tables are left out: they hold task timings, so their
    * encoded size changes by a byte or two from run to run, and the byte
    * counts built on this must repeat exactly for a seed. */
  def files(p: Path): Map[String, Long] = if (!Files.exists(p)) Map.empty else {
    val s = Files.walk(p)
    try {
      val out = mutable.HashMap.empty[String, Long]
      s.filter(f => Files.isRegularFile(f) && !f.toString.contains("/buildmetrics/"))
        .forEach(f => out(f.toString) = Files.size(f))
      out.toMap
    } finally s.close()
  }

  def treeBytes(p: Path): Long = files(p).values.sum
}

object Workloads {

  val names: Seq[String] = Seq("search", "update")

  /** Runs workload `name`; returns its set-up seconds. */
  def run(name: String, ctx: Ctx): Double = name match {
    case "search" => search(ctx)
    case "update" => update(ctx)
  }

  /** One measured query: `search(parse(text), 10)`. A traced query is
    * split into parse, plan and search spans; the engine's internal plan
    * then hits the stats cache the traced plan call just filled. */
  private def query(ctx: Ctx, searcher: GraftSearcher, q: Gen.Q, i: Int,
      kind: String = "query"): Array[ScoreDoc] = {
    import ctx._
    result.attempted += 1
    val dec0 = searcher.counters.decoded.value
    val skp0 = searcher.counters.skipped.value
    val t0 = System.nanoTime()
    val hits =
      if (!tracer.active) searcher.search(searcher.parse(q.text), 10)
      else {
        val (h, top) = tracer.span("query") {
          val (parsed, _) = tracer.span("search.parse")(searcher.parse(q.text))
          tracer.span("search.plan")(searcher.plan(parsed))
          tracer.span("search.search")(searcher.search(parsed, 10))._1
        }
        top.attrs("query_index") = i
        h
      }
    val ms = (System.nanoTime() - t0) / 1e6
    op(kind, ms)
    queries += ((i, q.shape, ms, searcher.counters.decoded.value - dec0, searcher.counters.skipped.value - skp0))
    hits
  }

  /** Closed loop, one client, over a single-segment index of
    * `SearchDocs` docs. Returns the set-up seconds. */
  def search(ctx: Ctx): Double = {
    import ctx._
    val n = Sizes.SearchDocs
    val stream = Gen.queries(seed, 4096, offset, n)
    // every distinct query of the stream, once, on each repetition's
    // searcher: JIT warm-up, and the timed region then runs with a full
    // term-stats cache (the long-running searcher); the cold-cache path is
    // measured by the update workload
    val warm = stream.distinctBy(_.text)
    val input = contentBytes(offset, n)
    val t0 = System.nanoTime()
    val files = stageTables(offset, Seq(n), "corpus").head
    val stageS = elapsed(t0)
    val buildMs = mutable.ArrayBuffer.empty[Double]
    val (searcher, repS) = setupReps { rep =>
      if (rep > 0) delete(s"index-${rep - 1}")
      val d = path(s"index-$rep")
      buildMs += timed("setup.build")(IndexStore.buildAndCommit(files, d, cfg))._2
      val s = new GraftSearcher(IndexStore.open(spark, d))
      warm.foreach(q => s.search(s.parse(q.text), 10))
      s
    }
    val dir = path(s"index-${Sizes.SetupReps - 1}")
    if (tracer.enabled) readPostingsPerS(dir, IndexStore.readManifest(dir).get.segments.head.name)
    val firstHits = mutable.LinkedHashMap.empty[String, (Array[ScoreDoc], Int)]
    val setupWall = elapsed(t0)
    val t1 = System.nanoTime()
    var i = 0
    while (i < Sizes.MinQueries || elapsed(t1) < seconds) {
      val q = stream(i % stream.size)
      tracer.active = tracer.enabled && i % 2 == 1
      val hits = query(ctx, searcher, q, i)
      firstHits.get(q.text) match {
        case None => firstHits(q.text) = (hits, 1)
        case Some((h, c)) =>
          firstHits(q.text) = (h, c + 1)
          if (!(h sameElements hits)) result.fail(s"query '${q.text}' returned different hits on a repeat")
      }
      i += 1
    }
    val loopS = elapsed(t1)
    val t2 = System.nanoTime()
    tracer.active = false
    // correctness, untimed: every distinct query's top-10 equals the
    // exhaustive oracle on the same searcher
    firstHits.foreach { case (text, (hits, count)) =>
      result.attempted += 1
      val exact = searcher.bruteForce(searcher.parse(text), 10)
      if (!(exact sameElements hits)) result.fail(s"query '$text': top-10 differs from bruteForce", count)
    }
    result.notes("phases_s") = f"stage $stageS%.1f, set-up reps ${setupWall - stageS}%.1f, timed $loopS%.1f, checks ${elapsed(t2)}%.1f"
    val lat = untraced("query")
    result.e2e("search_p50_ms") = Stats.median(lat)
    // the set-up's bulk builds of the base index: one single-segment
    // build of `SearchDocs` docs per repetition (the first one cold)
    result.layer("index.docs_per_s") = Stats.median(buildMs.map(ms => n / (ms / 1000)).toSeq)
    result.notes("setup_build_ms") = buildMs.map(t => f"$t%.0f").mkString(",")
    result.e2e("index_bytes_per_input_byte") = Ctx.treeBytes(java.nio.file.Paths.get(dir)).toDouble / input
    result.notes("queries") = s"$i in ${"%.1f".format(loopS)} s, ${firstHits.size} distinct"
    Stats.tail(lat).foreach { case (p, v) => result.notes("latency_tail") = f"p$p%.1f = $v%.1f ms (n=${lat.size})" }
    result.notes("shape_p50_ms") = Gen.shapes.map { sh =>
      val xs = ctx.queries.filter(_._2 == sh).map(_._3).toSeq
      f"$sh=${if (xs.isEmpty) 0.0 else Stats.median(xs)}%.0f"
    }.mkString(" ")
    result.notes("window_p50_ms") = lat.grouped(16).map(w => f"${Stats.median(w)}%.0f").mkString(" ")
    stageS + repS
  }

  /** Writes beside reads: rounds of append, delete, tiered compaction,
    * reopen and queries over a base index of `UpdateBaseDocs` docs.
    * Returns the set-up seconds. */
  def update(ctx: Ctx): Double = {
    import ctx._
    import spark.implicits._
    val base = Sizes.UpdateBaseDocs
    val rounds = Gen.rounds(seed, Sizes.Rounds, offset, base, Sizes.BatchDocs, Sizes.DeletesPerRound)
    val stream = Gen.queries(seed, 4096, offset, base)
    // a different stream: the measured queries of each round run on a
    // freshly opened searcher with a cold stats cache
    val warm = Gen.queries(seed ^ 0x5EEDL, Sizes.UpdateWarmQueries, offset, base)
    val dir = path("index")
    val batchBytes = rounds.map(r => contentBytes(r.appendFrom, r.appendDocs))
    val ts = System.nanoTime()
    val tables = stageTables(offset, base +: rounds.map(_.appendDocs), "corpus")
    val (baseFiles, batches) = (tables.head, tables.tail)
    val stageS = elapsed(ts)
    val (_, repS) = setupReps { _ =>
      delete("index")
      IndexStore.buildAndCommit(baseFiles, dir, cfg)
      val s = new GraftSearcher(IndexStore.open(spark, dir))
      warm.foreach(q => s.search(s.parse(q.text), 10))
    }
    val setupWall = elapsed(ts)
    val indexPath = work.resolve("index")
    var seen = Ctx.files(indexPath)
    var written = 0L
    def noteWrites(): Unit = {
      val now = Ctx.files(indexPath)
      now.foreach { case (p, sz) => if (!seen.get(p).contains(sz)) written += sz }
      seen = now
    }
    val deleted = mutable.HashSet.empty[Long]
    var committedBytes = 0L
    var committedDocs = 0L
    val writeMs = mutable.ArrayBuffer.empty[Double]
    var merges = 0
    var qi = 0
    val t0 = System.nanoTime()
    rounds.zipWithIndex.foreach { case (round, r) =>
      tracer.active = tracer.enabled && r % 2 == 1
      result.attempted += 3
      val (_, appendMs, _) = timed("index.append")(IndexStore.buildAndCommit(batches(r), dir, cfg))
      noteWrites()
      val (_, delMs, _) = timed("index.delete")(IndexStore.deleteDocs(spark, dir, round.deleteIds.toDS()))
      noteWrites()
      val before = IndexStore.readManifest(dir).get.segments.map(_.name).toSet
      val (m, mergeMs, mergeSpan) = timed("index.merge")(SegmentMerger.compactTiered(spark, dir, cfg))
      // harness bookkeeping before the refresh clock starts
      val made = m.segments.map(_.name).filterNot(before)
      merges += made.size
      Option(mergeSpan).foreach { s =>
        s.attrs("merges") = made.size
        s.attrs("bytes_rewritten") = made.map(n => Ctx.treeBytes(indexPath.resolve(n))).sum
      }
      op("index.append", appendMs)
      op("index.delete", delMs)
      op("index.merge", mergeMs)
      writeMs += appendMs + delMs + mergeMs
      if (r == 0 && tracer.enabled) readPostingsPerS(dir, IndexStore.readManifest(dir).get.segments.last.name)
      noteWrites()
      committedBytes += batchBytes(r)
      committedDocs += round.appendDocs
      deleted ++= round.deleteIds
      // refresh: from the commit to the first answer on a freshly opened
      // index and searcher
      result.attempted += 1
      val tCommit = System.nanoTime()
      val (searcher, openMs, openSpan) = timed("index.open")(new GraftSearcher(IndexStore.open(spark, dir)))
      Option(openSpan).foreach(_.attrs("segments_live") = m.segments.size)
      op("index.open", openMs)
      (0 until Sizes.QueriesPerRound).foreach { k =>
        val q = stream(qi % stream.size)
        // the first query after a refresh is never traced; the others
        // alternate traced / untraced, so the tracing overhead compares
        // like with like
        tracer.active = tracer.enabled && k % 2 == 1
        val hits = query(ctx, searcher, q, qi, if (k == 0) "query.first" else "query")
        qi += 1
        if (k == 0) op("refresh", (System.nanoTime() - tCommit) / 1e6)
        val bad = hits.map(_.docId).filter(deleted.contains(_))
        if (bad.nonEmpty) result.fail(s"round $r query '${q.text}' returned deleted docIds ${bad.take(3).mkString(",")}")
      }
      tracer.active = false
      // untimed: live doc count matches the generator
      val expected = base + committedDocs - deleted.size
      val got = searcher.index.liveDocsDF.count()
      if (got != expected) result.fail(s"round $r: $got live docs, generator says $expected")
    }
    val loopS = elapsed(t0)
    // space and write amplification after the fixed rounds, so they repeat
    // exactly for a seed; CodeCorpus names doc i's file `File<i>.<ext>`
    val liveBytes = IndexStore.open(spark, dir).liveDocsDF.map { d =>
      val i = d.path.substring(d.path.lastIndexOf("/File") + 5).takeWhile(_.isDigit).toLong
      CodeCorpus.contentFor(i).getBytes("UTF-8").length.toLong
    }.reduce(_ + _)
    val segBytes = IndexStore.readManifest(dir).get.segments.map(s => Ctx.treeBytes(indexPath.resolve(s.name))).sum
    val rep = CheckIndex.check(spark, dir)
    result.notes("phases_s") = f"stage $stageS%.1f, set-up reps ${setupWall - stageS}%.1f, rounds with checks $loopS%.1f, sizes and CheckIndex ${elapsed(t0) - loopS}%.1f"
    result.attempted += 1
    if (!rep.clean) result.fail(s"CheckIndex after $merges merges: ${rep.problems.mkString("; ")}")
    if (merges == 0) result.notes("warning") = "no merge happened in this run"
    result.e2e("search_p50_ms") = Stats.median(untraced("query") ++ untraced("query.first"))
    result.layer("index.docs_per_s") = committedDocs / (writeMs.sum / 1000)
    result.e2e("index_bytes_per_input_byte") = segBytes.toDouble / liveBytes
    result.layer("index.write_amp") = written.toDouble / committedBytes
    result.layer("index.merge.merges") = merges
    result.notes("rounds") = s"${rounds.size} rounds, $merges merges, $qi queries"
    result.notes("query_ms") = ctx.queries.map(q => f"${q._2}:${q._3}%.0f").mkString(" ")
    result.layer("index.open.segments_live") = IndexStore.readManifest(dir).get.segments.size
    stageS + repS
  }
}
