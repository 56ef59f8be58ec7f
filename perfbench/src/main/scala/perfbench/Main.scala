package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark entry point:
  * `Main --workload <search|update> --seed <n> --seconds <s> --trace <0|1> --dir <benchmark dir>`.
  * Prints a human-readable report, then one JSON line (the last line of
  * stdout) with the end-to-end metrics (`--trace 0`) or the per-layer
  * metrics (`--trace 1`). */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.names.contains(workload), s"unknown workload '$workload' (${Workloads.names.mkString(", ")})")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val benchDir = Paths.get(opts.getOrElse("dir", "perfbench")).toAbsolutePath
    val contract = Contract.load(benchDir.getParent.resolve("BENCHMARK.json"))
    val work = benchDir.resolve(".work").resolve(s"$workload-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    try run(workload, seed, seconds, trace, contract, benchDir, work)
    finally Ctx.deleteTree(work)
  }

  private def run(workload: String, seed: Long, seconds: Int, trace: Boolean, contract: Contract,
      benchDir: Path, work: Path): Unit = {
    val tp = System.nanoTime()
    val calib = Probes.all(work)
    val calibS = (System.nanoTime() - tp) / 1e9
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a ready session, less the host probes
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - calibS
    try {
      val tracer = new Tracer(spark.sparkContext, trace)
      val ctx = new Ctx(spark, seed, seconds, tracer, work)
      val gc0 = gcSeconds()
      val setupMedian = Workloads.run(workload, ctx)
      val gcS = gcSeconds() - gc0
      val res = ctx.result
      res.e2e("setup_s") = sessionS + setupMedian
      val metrics: Seq[(String, Double, String)] =
        if (!trace) contract.endToEnd.map { case (n, u) => (n, res.e2e(n), u) }
        else {
          tracer.drain()
          val spans = tracer.allSpans
          val out = benchDir.resolve("out")
          tracer.write(out.resolve(s"$workload-seed$seed.spans.jsonl"), spans)
          // per-query pruning counts of every query, traced or not
          Files.write(out.resolve(s"$workload-seed$seed.queries.tsv"),
            ("index\tshape\tms\tblocks_decoded\tblocks_skipped\n" + ctx.queries.map { case (i, sh, ms, d, k) =>
              f"$i\t$sh\t$ms%.3f\t$d\t$k\n" }.mkString).getBytes("UTF-8"))
          val layer = Layers.compute(ctx, spans)
          layer ++= res.layer
          layer("jvm.gc_s") = gcS
          layer("jvm.heap_peak_mb") = heapPeakMb()
          val (d, share) = Layers.overhead(ctx, "query")
          layer("trace.overhead_ms") = d
          layer("trace.overhead_share") = share
          layer("host.calib_cpu_s") = calib("cpu")
          layer("host.calib_fault_s") = calib("fault")
          layer("host.calib_disk_s") = calib("disk")
          val unknown = layer.keySet -- contract.perLayer.map(_._1)
          require(unknown.isEmpty, s"per-layer metrics missing from BENCHMARK.json: ${unknown.mkString(", ")}")
          // a layer the workload does not exercise reports 0
          contract.perLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
        }
      // human-readable report: every metric by name and unit, the checks,
      // the host probes and the raw samples behind the medians
      println(s"workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} cores=$cores" +
        s" heap_max_mb=${Runtime.getRuntime.maxMemory >> 20}")
      println(f"host calib: cpu ${calib("cpu")}%.3f s, fault ${calib("fault")}%.3f s, disk ${calib("disk")}%.3f s")
      println(f"session start ${sessionS}%.2f s")
      res.notes.foreach { case (k, v) => println(s"$k: $v") }
      metrics.foreach { case (n, v, u) => println(f"  $n%-36s $v%14.4f $u") }
      val errorRate = res.failed.toDouble / math.max(res.attempted, 1L)
      println(f"correctness: ${res.attempted} ops attempted, ${res.failed} failed, error_rate $errorRate%.4f")
      res.problems.foreach(p => println(s"  FAILED: $p"))
      val m = metrics.map { case (n, v, u) => s""""$n":{"value":${Trace.num(v)},"unit":"$u"}""" }
      println(s"""{"correct":${res.failed == 0},"attempted":${res.attempted},"failed":${res.failed},"metrics":{${m.mkString(",")}}}""")
    } finally spark.stop()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Metric names and units, in report order, as `BENCHMARK.json` lists
  * them: the one table both the report and the JSON line use. */
final case class Contract(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

object Contract {
  def load(file: Path): Contract = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    def metrics(key: String): Seq[(String, String)] =
      root.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    Contract(metrics("end_to_end"), metrics("per_layer"))
  }
}

/** Host calibration probes, taken before the session starts so a run made
  * in one of the host's slow windows is visible beside its results:
  * a fixed integer loop (CPU), first touch of 512 MB of fresh heap (page
  * faults), and a 128 MB write + fsync (the device). */
object Probes {
  def all(work: Path): Map[String, Double] = Map("cpu" -> cpu(), "fault" -> fault(), "disk" -> disk(work))

  private def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  def cpu(): Double = time {
    var h = 0x123456789L
    var i = 0
    while (i < (1 << 27)) { h = h * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (h == 42L) print("")
  }

  def fault(): Double = time {
    val arr = new Array[Long](64 << 20)
    var acc = 0L
    var i = 0
    while (i < arr.length) { arr(i) = i * 0x9E3779B97F4A7C15L; acc ^= arr(i); i += 1 }
    if (acc == 42L) print("")
  }

  def disk(work: Path): Double = {
    val chunk = Array.tabulate[Byte](1 << 20)(_.toByte)
    val f = work.resolve("calib.bin").toFile
    val sec = time {
      val os = new java.io.FileOutputStream(f)
      try {
        var i = 0
        while (i < 128) { os.write(chunk); i += 1 }
        os.getFD.sync()
      } finally os.close()
    }
    f.delete()
    sec
  }
}
