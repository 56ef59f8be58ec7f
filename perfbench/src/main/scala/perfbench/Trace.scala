package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** One timed interval. `parent` is -1 for a root span. Times are
  * `System.nanoTime` values; Spark's epoch-millisecond event times are
  * mapped onto the same clock. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
    attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def durNs: Long = end - start
}

object Trace {

  /** Self time of [start, end): its length minus the part covered by the
    * union of the child intervals (each clipped to the parent). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }

  def json(s: Span): String = {
    val a = s.attrs.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"attrs":{$a}}"""
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** Task metrics summed over one stage. */
final class StageAgg(val stageId: Int, val jobId: Int) {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
  var outRecords = 0L
  var shWriteBytes = 0L
  var shWriteRecords = 0L
  var shReadBytes = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
  var submitMs = 0L
  var completeMs = 0L
}

final class JobRec(val jobId: Int, val spanId: Int, val execId: Long, val startMs: Long,
    val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Records the Spark jobs and stages caused by each traced engine call.
  * The harness sets the job description to `perfbench:<spanId>` around
  * the call; every job started under that description is attributed to
  * the span. Work is aggregated in memory and read after the run. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  /** SQL execution id -> its root execution's physical plan text. */
  private val plans = mutable.HashMap.empty[Long, String]
  private val roots = mutable.HashMap.empty[Long, Long]
  private val drainJobs = mutable.HashSet.empty[Int]
  @volatile var drained: Int = 0

  def planOf(execId: Long): String = synchronized {
    plans.getOrElse(roots.getOrElse(execId, execId), "")
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      plans(e.executionId) = e.physicalPlanDescription
      e.rootExecutionId.foreach(r => roots(e.executionId) = r)
    }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val desc: String = Option(js.properties).map(_.getProperty(JobListener.DescriptionKey)).orNull
    if (desc == JobListener.DrainMarker) synchronized { drainJobs += js.jobId }
    else if (desc != null && desc.startsWith("perfbench:")) synchronized {
      val exec = Option(js.properties.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L)
      val rec = new JobRec(js.jobId, desc.stripPrefix("perfbench:").toInt, exec, js.time, js.stageIds)
      jobs(js.jobId) = rec
      js.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new StageAgg(s, js.jobId))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    synchronized {
      jobs.get(je.jobId).foreach(_.endMs = je.time)
      if (drainJobs.contains(je.jobId)) drained += 1
    }
  }

  override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(ss.stageInfo.stageId).foreach(_.submitMs = ss.stageInfo.submissionTime.getOrElse(0L))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(sc.stageInfo.stageId).foreach(_.completeMs = sc.stageInfo.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(te.stageId).foreach { a =>
      val m = te.taskMetrics
      val info = te.taskInfo
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        // the Spark UI's definition of scheduler delay
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }
}

object JobListener {
  val DrainMarker = "perfbench-drain"
  /** The local property `SparkContext.setJobDescription` sets. */
  val DescriptionKey = "spark.job.description"
}

/** Span recorder around the harness's calls into the engine. When
  * `enabled` is false it only runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  val listener: JobListener = if (enabled) new JobListener else null
  if (enabled) sc.addSparkListener(listener)

  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  /** Per-operation switch: an untraced operation in a traced run is the
    * baseline the tracing overhead is measured against. */
  var active: Boolean = enabled

  def nsOfEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** Run `f` as span `name`; returns the result and the span (null when
    * not recording — callers add attributes through `Option(span)`). */
  def span[T](name: String)(f: => T): (T, Span) = {
    if (!active) return (f, null)
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevDesc = sc.getLocalProperty(JobListener.DescriptionKey)
    sc.setJobDescription(s"perfbench:$id")
    stack = id :: stack
    val t0 = System.nanoTime()
    val r = try f finally {
      stack = stack.tail
      sc.setJobDescription(prevDesc)
    }
    val s = Span(id, parent, name, t0, System.nanoTime())
    recorded += s
    (r, s)
  }

  /** Waits until the listener has seen every job submitted so far: runs a
    * marker job and polls for its end event (listener events are delivered
    * in order). */
  def drain(): Unit = if (enabled) {
    val expected = listener.drained + 1
    val before = sc.getLocalProperty(JobListener.DescriptionKey)
    sc.setJobDescription(JobListener.DrainMarker)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(before)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (listener.drained < expected && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Recorded harness spans plus one child span per Spark job and stage. */
  def allSpans: Seq[Span] = {
    val base = recorded.toVector
    if (!enabled) return base
    var id = nextId
    val out = mutable.ArrayBuffer.empty[Span]
    listener.synchronized {
      listener.jobs.values.foreach { j =>
        val jobSpan = Span(id, j.spanId, "spark.job", nsOfEpochMs(j.startMs),
          nsOfEpochMs(if (j.endMs > 0) j.endMs else j.startMs),
          mutable.LinkedHashMap("job_id" -> j.jobId.toDouble, "sql_execution_id" -> j.execId.toDouble))
        id += 1
        out += jobSpan
        j.stageIds.flatMap(listener.stages.get).filter(s => s.jobId == j.jobId && s.tasks > 0).foreach { st =>
          out += Span(id, jobSpan.id, "spark.stage", nsOfEpochMs(st.submitMs), nsOfEpochMs(st.completeMs),
            mutable.LinkedHashMap("stage_id" -> st.stageId.toDouble, "tasks" -> st.tasks.toDouble,
              "run_ms" -> st.runMs.toDouble, "cpu_ms" -> st.cpuNs / 1e6,
              "input_bytes" -> st.inBytes.toDouble, "input_records" -> st.inRecords.toDouble,
              "output_bytes" -> st.outBytes.toDouble,
              "shuffle_write_bytes" -> st.shWriteBytes.toDouble,
              "shuffle_write_records" -> st.shWriteRecords.toDouble,
              "shuffle_read_bytes" -> st.shReadBytes.toDouble,
              "spill_bytes" -> st.spillBytes.toDouble,
              "scheduler_delay_ms" -> st.schedDelayMs.toDouble))
          id += 1
        }
      }
    }
    base ++ out
  }

  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, spans.map(Trace.json).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
