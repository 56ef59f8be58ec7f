package perfbench

import scala.collection.mutable

/** Per-layer metrics from a traced run. Layers are the engine's modules;
  * each Spark stage is attributed to a layer from the engine call that
  * caused it (its root span) and from what its SQL execution writes or
  * reads, never from source line numbers. */
object Layers {

  /** Write target of a SQL execution: the last path component of the
    * directory its `InsertIntoHadoopFsRelationCommand` writes (the
    * command's `Arguments: file:<dir>, ...` line), or "". */
  def writeTarget(plan: String): String =
    """Arguments: file:([^,\s]+),""".r.findFirstMatchIn(plan)
      .map(_.group(1).stripSuffix("/").split('/').last).getOrElse("")

  /** Layer of one stage of a build call (`IndexStore.buildAndCommit`):
    *  - the docmeta write runs scan, sha256 verify, docId assignment and
    *    tokenize (its result is persisted for the later sinks): analysis;
    *  - the postings write: its map stages are the term-hash exchange
    *    (index.shuffle), its result stage sort + blockify + encode + write
    *    (codec), as is the buildmetrics write;
    *  - the termstats write and the read-only aggregations (field stats)
    *    are index.stats; other read-only SQL jobs (docId key collection)
    *    are analysis; jobs outside any SQL execution are "other". */
  def buildLayer(plan: String, st: StageAgg): String = writeTarget(plan) match {
    case "docmeta" => "analysis"
    case "postings" => if (st.shWriteBytes > 0) "index.shuffle" else "codec"
    case "buildmetrics" => "codec"
    case "termstats" => "index.stats"
    case "" if plan.isEmpty => "other"
    case "" => if (plan.contains("HashAggregate") || plan.contains("/docmeta")) "index.stats" else "analysis"
    case _ => "other"
  }

  /** Calls that build a segment: the search set-up's bulk builds and the
    * update rounds' appends. */
  val buildCalls = Set("setup.build", "index.append")

  def compute(ctx: Ctx, spans: Seq[Span]): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val l = ctx.tracer.listener
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    val jobsOf: Map[Int, Seq[JobRec]] = l.jobs.values.toSeq.groupBy(_.spanId)
    def stagesOf(j: JobRec): Seq[StageAgg] =
      j.stageIds.flatMap(l.stages.get).filter(s => s.jobId == j.jobId && s.tasks > 0)
    val harness = spans.filter(_.name != "spark.job").filter(_.name != "spark.stage")
    def named(n: String): Seq[Span] = harness.filter(_.name == n)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def ms(s: Span): Double = s.durNs / 1e6

    // build layers: per build call, averaged over traced calls
    val builds = harness.filter(s => buildCalls(s.name))
    if (builds.nonEmpty) {
      val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      for (b <- builds; j <- jobsOf.getOrElse(b.id, Nil)) {
        val plan = l.planOf(j.execId)
        val target = writeTarget(plan)
        for (st <- stagesOf(j)) {
          val layer = buildLayer(plan, st)
          acc(s"$layer.busy_s") += st.runMs / 1e3
          acc(s"$layer.cpu_s") += st.cpuNs / 1e9
          acc(s"$layer.input_bytes") += st.inBytes
          acc(s"$layer.records") += st.inRecords
          acc(s"$layer.write_bytes") += st.shWriteBytes
          acc(s"$layer.shuffle_write_bytes") += st.shWriteBytes
          acc(s"$layer.shuffle_records") += st.shWriteRecords
          acc(s"$layer.spill_bytes") += st.spillBytes
          if (layer == "codec" && target == "postings") acc("codec.blocks") += st.outRecords
          if (target.nonEmpty) acc(s"index.write.${target}_bytes") += st.outBytes
        }
      }
      val n = builds.size.toDouble
      Seq("analysis.busy_s", "analysis.cpu_s", "analysis.input_bytes", "analysis.records",
        "index.shuffle.write_bytes", "index.shuffle.spill_bytes", "codec.busy_s", "codec.blocks",
        "index.stats.busy_s", "index.stats.shuffle_write_bytes",
        "index.write.docmeta_bytes", "index.write.postings_bytes", "index.write.termstats_bytes")
        .foreach(k => out(k) = acc(k) / n)
      out("index.shuffle.records") = acc("index.shuffle.shuffle_records") / n
      out("codec.postings_per_s") = ctx.postingsPerS
    }
    out("index.commit.append_ms") = med(named("index.append").map(ms))
    out("index.commit.delete_ms") = med(named("index.delete").map(ms))
    out("index.open.open_ms") = med(named("index.open").map(ms))
    val merging = named("index.merge").filter(_.attrs.getOrElse("merges", 0.0) > 0)
    out("index.merge.merge_s") = merging.map(_.durNs / 1e9).sum
    out("index.merge.bytes_rewritten") = merging.map(_.attrs("bytes_rewritten")).sum
    out("index.refresh_ms") = med(ctx.ops.collect { case ("refresh", _, v) => v }.toSeq)

    // search layers: per traced query
    val plans = named("search.plan")
    out("search.parse.ms") = mean(named("search.parse").map(ms))
    out("search.plan.ms") = mean(plans.map(ms))
    out("search.plan.stats_jobs") = mean(plans.map(p => jobsOf.getOrElse(p.id, Nil).size.toDouble))
    out("search.plan.stats_cache_hit_rate") =
      mean(plans.map(p => if (jobsOf.getOrElse(p.id, Nil).isEmpty) 1.0 else 0.0))
    val searches = named("search.search")
    if (searches.nonEmpty) {
      val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      for (s <- searches) {
        val js = jobsOf.getOrElse(s.id, Nil)
        for (j <- js; st <- stagesOf(j)) {
          acc("seek.rows") += st.inRecords
          acc("seek.bytes") += st.inBytes
          acc("scatter.bytes") += st.shWriteBytes
          acc("scatter.records") += st.shWriteRecords
          if (st.shReadBytes > 0) acc("score.ms") += st.runMs
        }
        acc("driver.ms") += Trace.selfTime(s.start, s.end,
          js.map(j => (ctx.tracer.nsOfEpochMs(j.startMs), ctx.tracer.nsOfEpochMs(j.endMs)))) / 1e6
      }
      val n = searches.size.toDouble
      out("search.seek.block_rows_read") = acc("seek.rows") / n
      out("search.seek.input_bytes") = acc("seek.bytes") / n
      out("search.scatter.shuffle_write_bytes") = acc("scatter.bytes") / n
      out("search.scatter.shuffle_records") = acc("scatter.records") / n
      out("search.driver.self_ms") = acc("driver.ms") / n
      out("search.score.busy_ms") = acc("score.ms") / n
    }
    // exact pruning counts over a fixed prefix of the query stream (traced
    // and untraced queries alike: the counters are not tracing)
    val counted = ctx.queries.filter(_._1 < Sizes.CountedQueries)
    def skipRatio(qs: Seq[(Int, String, Double, Long, Long)]): Double = {
      val d = qs.map(_._4).sum
      val k = qs.map(_._5).sum
      if (d + k == 0) 0.0 else k.toDouble / (d + k)
    }
    out("search.score.blocks_decoded") = counted.map(_._4).sum
    out("search.score.blocks_skipped") = counted.map(_._5).sum
    out("search.score.skip_ratio") = skipRatio(counted.toSeq)
    out("search.score.skip_ratio_skewed_or") = skipRatio(counted.filter(_._2 == "skewed_or").toSeq)
    out("search.score.skip_ratio_and") = skipRatio(counted.filter(_._2 == "and").toSeq)

    // spark work per measured engine call (a root span outside set-up)
    val roots = harness.filter(s => s.parent < 0 && !s.name.startsWith("setup."))
    if (roots.nonEmpty) {
      val perRoot = roots.map { r =>
        val js = harness.filter(s => root(s).id == r.id).flatMap(s => jobsOf.getOrElse(s.id, Nil))
        val sts = js.flatMap(stagesOf)
        (js.size.toDouble, sts.size.toDouble, sts.map(_.tasks).sum.toDouble, sts.map(_.schedDelayMs).sum.toDouble)
      }
      out("spark.jobs") = mean(perRoot.map(_._1))
      out("spark.stages") = mean(perRoot.map(_._2))
      out("spark.tasks") = mean(perRoot.map(_._3))
      out("spark.scheduler_delay_ms") = mean(perRoot.map(_._4))
    }
    out
  }

  /** Traced-minus-untraced median latency of the workload's main operation. */
  def overhead(ctx: Ctx, kind: String): (Double, Double) = {
    val on = ctx.ops.collect { case (`kind`, true, v) => v }.toSeq
    val off = ctx.ops.collect { case (`kind`, false, v) => v }.toSeq
    if (on.isEmpty || off.isEmpty) (0.0, 0.0)
    else {
      val d = Stats.median(on) - Stats.median(off)
      (d, d / Stats.median(off))
    }
  }
}
