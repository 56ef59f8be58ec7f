package graft.search

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.index._

/** The resident doc-range layout behind every search surface: results on a
  * two-segment index with tombstones equal the exhaustive oracle at every
  * range count, pruning counters repeat exactly, and a search over a built
  * layout is one map-only job shared by every searcher of the index. */
class ResidentLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Two segments (250 + 150 docs plus 3 docs holding `zebra`, so that term
    * lives only in the second segment's doc ranges), sorted by `lang`,
    * with every 9th docId tombstoned. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-resident-").toString
    val cfg = IndexConfig(numPartitions = 2, sortFields = Seq("lang"))
    val all = CodeCorpus.files(400)
    val zebras = (0 until 3).map { i =>
      val c = s"zebra quokka if buffer $i"
      CodeFile("repo-z", s"z/Zebra$i.scala", "c0", "scala", c, IndexBuilder.sha256Hex(c))
    }
    IndexStore.buildAndCommit(spark.createDataset(all.take(250)), d, cfg)
    IndexStore.buildAndCommit(spark.createDataset(all.drop(250) ++ zebras), d, cfg)
    IndexStore.deleteDocs(spark, d, spark.range(0, 403, 9).as[Long])
    d
  }
  private lazy val index = IndexStore.open(spark, dir)
  private lazy val searcher = new GraftSearcher(index)

  private val parser = new QueryParser(graft.analysis.Analyzers.standard)
  private val queries: Seq[(String, Query)] = Seq(
    "term" -> parser.parse("indexwriter"),
    "and" -> parser.parse("mergepolicy AND buffer"),
    "or" -> parser.parse("if OR segment OR zebra"),
    "phrase" -> parser.parse("\"if return\""),
    "prefix" -> PrefixQ("merge"),
    "wildcard" -> WildcardQ("s?gm*t"),
    "fuzzy" -> FuzzyQ("buffr", 1),
    "not" -> parser.parse("NOT zebra"),
    "and-not" -> parser.parse("indexwriter NOT buffer"))

  /** Every live match, from the exhaustive single-range oracle. */
  private def exhaustive(q: Query): Set[Long] = searcher.bruteForce(q, 1000).map(_.docId).toSet

  test("fixture: two segments, tombstones, zebra only in the second segment") {
    assert(IndexStore.readManifest(dir).get.segments.size == 2)
    assert(index.hasDeletes)
    val zebra = exhaustive(TermQ("zebra"))
    assert(zebra.nonEmpty && zebra.forall(_ >= 250L))
  }

  for (p <- Seq(0, 2, 8); (name, q) <- queries) {
    test(s"$name at $p ranges: every surface equals the exhaustive oracle") {
      val all = exhaustive(q)
      assert(all.nonEmpty, s"$name matches nothing")
      val top = searcher.bruteForce(q, 10).toSeq
      assert(searcher.search(q, 10, null, p).toSeq == top)
      assert(searcher.searchDS(q, 10, null, p).collect().sorted(GraftSearcher.bestFirst)
        .take(10).toSeq == top)
      val (hits, total, rel) = searcher.searchWithTotal(q, 10, Long.MaxValue, p)
      assert(hits.toSeq == top)
      assert(total == all.size.toLong && rel == "EQ")
      assert(searcher.matchesDS(q, p).collect().toSet == all)
      val scored = searcher.scoreAllDoubleDS(q).collect()
      assert(scored.map(_.docId).toSet == all)
      assert(searcher.searchDoubleDS(q, 10, null, p).collect().sorted(GraftSearcher.bestFirstD)
        .take(10).toSeq == scored.sorted(GraftSearcher.bestFirstD).take(10).toSeq)
      // index order: each sorted run's 5 smallest matches are collected
      val ordered = searcher.searchByIndexOrder(q, 5, p).collect().toSet
      assert(ordered.subsetOf(all))
      val bases = index.sortRunBases.sorted :+ Long.MaxValue
      bases.sliding(2).foreach { case Seq(lo, hi) =>
        val first = all.filter(d => d >= lo && d < hi).toSeq.sorted.take(5)
        assert(first.forall(ordered.contains), s"run [$lo, $hi) lost its first matches")
      }
    }
  }

  test("NOT reaches doc ranges that hold none of the query's blocks") {
    val notZebra = searcher.matchesDS(searcher.parse("NOT zebra"), 8).collect().toSet
    // the first segment's ranges hold no zebra block, yet their live docs match
    assert(notZebra.exists(_ < 250L))
    assert(notZebra == exhaustive(searcher.parse("NOT zebra")))
    assert(notZebra.forall(_ % 9 != 0), "a tombstoned doc matched NOT")
  }

  test("per-query decoded/skipped counts repeat exactly on fresh searchers") {
    def deltas(s: GraftSearcher): Seq[(Long, Long)] = queries.map { case (_, q) =>
      val d0 = s.counters.decoded.value: Long
      val k0 = s.counters.skipped.value: Long
      s.search(q, 3)
      ((s.counters.decoded.value: Long) - d0, (s.counters.skipped.value: Long) - k0)
    }
    val a = deltas(new GraftSearcher(index))
    // the second searcher opens the index again: a freshly built layout
    val b = deltas(new GraftSearcher(IndexStore.open(spark, dir)))
    assert(a == b)
    assert(a.map(_._1).sum > 0)
  }

  /** Jobs, stages that ran, and shuffle bytes written by `body`'s jobs. */
  private def jobShape(body: => Unit): (Int, Int, Long) = {
    val sc = spark.sparkContext
    val group = s"resident-${System.nanoTime()}"
    val jobs = new AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffled = new AtomicLong
    val marker = new java.util.concurrent.CountDownLatch(1)
    val markerGroup = group + "-marker"
    def inGroup(props: java.util.Properties, g: String): Boolean =
      props != null && props.getProperty("spark.jobGroup.id") == g
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e.properties, group)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        if (inGroup(e.properties, group)) stages.add(e.stageInfo.stageId)
        if (inGroup(e.properties, markerGroup)) marker.countDown()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job shape")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job's stage is
      // seen, every event of `body` has been delivered
      sc.setJobGroup(markerGroup, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    (jobs.get.toInt, stages.size, shuffled.get)
  }

  /** What Spark's closure cleaner is handed while `body` runs, read off its
    * DEBUG lines: the implementation method of a Scala lambda (`Cleaning
    * indylambda closure: $anonfun$collect$1`; Spark 4 names no class for
    * these) or the class of any other closure (`+++ Cleaning closure <f>
    * (<class>) +++`). The cleaner parses the bytecode of the class that
    * declared each closure, on every job. */
  private def cleanedClosures(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val name = "org.apache.spark.util.ClosureCleaner"
    val Lambda = """Cleaning indylambda closure: (\S+)""".r
    val Other = """\+\+\+ Cleaning closure .* \((\S+)\) \+\+\+""".r
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("closure-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case Lambda(method) => seen.add(method)
        case Other(cls) => seen.add(cls)
        case _ =>
      }
    }
    probe.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val prev = Option(cfg.getLoggers.get(name))
    prev.foreach(_ => cfg.removeLogger(name))
    val debug = new LoggerConfig(name, Level.DEBUG, false)
    debug.addAppender(probe, null, null)
    cfg.addLogger(name, debug)
    ctx.updateLoggers()
    try body
    finally {
      cfg.removeLogger(name)
      prev.foreach(cfg.addLogger(name, _))
      ctx.updateLoggers()
      probe.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** Checks that the closures Spark's cleaner is handed while `searches`
    * runs were all declared in graft. */
  private def cleansOnlyGraftClosures(searches: => Unit): Unit = {
    StackProbeSim.ran.clear()
    val cleaned = cleanedClosures(searches)
    val ran = StackProbeSim.ran.toArray(Array.empty[String]).toSet
    assert(cleaned.size >= 3, s"the probe saw fewer closures than jobs: $cleaned")
    // a lambda's class: the class whose frame of that method ran in the task
    val declaredBy = cleaned.distinct.map { c =>
      c -> (if (!c.startsWith("$anonfun$")) Set(c)
        else ran.filter(_.endsWith("." + c)).map(_.stripSuffix("." + c)))
    }
    assert(declaredBy.forall { case (_, cls) => cls.nonEmpty && cls.forall(_.startsWith("graft.")) },
      s"closures declared outside graft: $declaredBy")
  }

  test("warm driver-side searches hand Spark's cleaner only closures declared in graft") {
    val idx = IndexStore.open(spark, dir)
    def all(s: GraftSearcher): Unit = {
      val q = s.parse("mergepolicy OR buffer")
      s.search(q, 10); s.searchWithTotal(q, 10); s.searchDouble(q, 10)
    }
    val s = new GraftSearcher(idx).withSimilarity(new StackProbeSim)
    all(s) // builds the layout
    cleansOnlyGraftClosures(all(s))
    // a cold searcher over the laid-out index: its first searches too
    cleansOnlyGraftClosures(all(new GraftSearcher(idx).withSimilarity(new StackProbeSim)))
  }

  test("a zero-doc index answers every driver-side search with no hits") {
    val empty = IndexBuilder.build(spark.emptyDataset[CodeFile], IndexConfig(numPartitions = 2))
    assert(empty.fieldStats.maxDocId < 0)
    val s = new GraftSearcher(empty)
    for (q <- Seq(s.parse("indexwriter"), s.parse("NOT zebra"), PrefixQ("merge"))) {
      assert(s.search(q, 10).isEmpty)
      assert(s.searchDouble(q, 10).isEmpty)
      val (hits, total, rel) = s.searchWithTotal(q, 10)
      assert(hits.isEmpty && total == 0L && rel == "EQ")
      assert(s.searchDS(q, 10).collect().isEmpty)
    }
  }

  private def layoutRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => r.name != null && r.name.startsWith("graft doc-range layout")).map(_.id).toSet

  test("a search over a built layout is one job, one stage, no shuffle") {
    val idx = IndexStore.open(spark, dir)
    val s = new GraftSearcher(idx)
    val q = s.parse("if OR segment")
    s.search(q, 10) // builds the layout
    val (jobs, stages, shuffled) = jobShape(s.search(q, 10))
    assert((jobs, stages, shuffled) == (1, 1, 0L))
    assert(jobShape(s.searchWithTotal(q, 10)) == (1, 1, 0L))
    assert(jobShape(s.searchDouble(q, 10)) == (1, 1, 0L))
    val (nJobs, nStages, nShuffled) = jobShape(s.matchesDS(s.parse("NOT zebra")).collect())
    assert((nJobs, nStages, nShuffled) == (1, 1, 0L))
  }

  test("a cold searcher's first searches are one job each, and planning runs none") {
    // the layout is built by another searcher; the index has two segments
    // and tombstones
    val idx = IndexStore.open(spark, dir)
    new GraftSearcher(idx).search(TermQ("if"), 10)
    val s = new GraftSearcher(idx)
    val q = s.parse("mergepolicy OR zebra AND \"if return\"")
    assert(jobShape(s.plan(q)) == (0, 0, 0L))
    assert(jobShape(s.search(q, 10)) == (1, 1, 0L))
    assert(jobShape(new GraftSearcher(idx).searchWithTotal(q, 10)) == (1, 1, 0L))
    assert(jobShape(new GraftSearcher(idx).searchDouble(q, 10)) == (1, 1, 0L))
    assert(s.search(q, 10).toSeq == s.bruteForce(q, 10).toSeq)
  }

  test("searchers over one index share its layout; close releases it") {
    val idx = IndexStore.open(spark, dir)
    val s1 = new GraftSearcher(idx)
    val q = s1.parse("mergepolicy OR buffer")
    val before = layoutRdds
    val hits = s1.search(q, 10)
    val built = layoutRdds -- before
    assert(built.size == 1)
    // a second searcher, a similarity copy: no new layout
    val s2 = new GraftSearcher(idx)
    assert(s2.search(q, 10).toSeq == hits.toSeq)
    s1.withSimilarity(ClassicSim).search(q, 10)
    assert(layoutRdds -- before == built)
    idx.close()
    assert((layoutRdds intersect built).isEmpty, "close() left the layout persisted")
    // still answers, laying the index out again
    assert(s2.search(q, 10).toSeq == hits.toSeq)
    val rebuilt = layoutRdds -- before
    assert(rebuilt.size == 1 && rebuilt != built)
    idx.close()
  }
}

/** BM25 that records, whenever a search task builds a scorer, the Scala
  * lambda bodies (`Class.$anonfun$...` frames) running above Spark's
  * `ResultTask.runTask`: the job's closures and what they call. Tasks run
  * in this JVM (`local[4]`), so the record is a JVM-wide queue. */
final class StackProbeSim extends Similarity {
  private val bm25 = Bm25Sim(Bm25.DEFAULT_K1, Bm25.DEFAULT_B)

  private def record(): Unit = {
    val frames = Thread.currentThread.getStackTrace
    val task = frames.indexWhere(_.getClassName == "org.apache.spark.scheduler.ResultTask")
    if (task >= 0) frames.take(task).filter(_.getMethodName.startsWith("$anonfun$"))
      .foreach(f => StackProbeSim.ran.add(f.getClassName + "." + f.getMethodName))
  }

  def scorer(boost: Float, df: Long, ttf: Long, stats: CollectionStats): SimScorer = {
    record(); bm25.scorer(boost, df, ttf, stats)
  }
  def doubleScorer(boost: Double, df: Long, ttf: Long, stats: CollectionStats): DoubleSimScorer = {
    record(); bm25.doubleScorer(boost, df, ttf, stats)
  }
  def multiTermScorer(boost: Float, freqs: Seq[(Long, Long)], stats: CollectionStats): SimScorer = {
    record(); bm25.multiTermScorer(boost, freqs, stats)
  }
  def multiTermDoubleScorer(boost: Double, freqs: Seq[(Long, Long)],
      stats: CollectionStats): DoubleSimScorer = {
    record(); bm25.multiTermDoubleScorer(boost, freqs, stats)
  }
}

object StackProbeSim {
  val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
