package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured-Streaming analytics over the events stream — the Solr
  * streaming-expressions `daemon`/`topic` + TimeSeriesStream combination
  * (reference: solr/solrj/src/java/org/apache/solr/client/solrj/io/stream/
  * DaemonStream.java, TimeSeriesStream.java) re-expressed as real
  * `readStream` pipelines: file source -> event-time watermark -> windowed
  * aggregation / keyed state -> sink. The verify surface runs them with
  * `Trigger.AvailableNow` into a memory sink so the result is a bounded,
  * deterministic table; a production deployment points the same plan at a
  * Kafka/file source and a parquet/Kafka sink and lets it run continuously.
  */
object StreamAggregates {

  /** The file stream source wants a DIRECTORY to watch (real deployments
    * stream from landing dirs); a bare parquet FILE is staged into a temp
    * dir once per JVM. */
  private val staged = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def streamableDir(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) path
    else staged.computeIfAbsent(path, _ => {
      val dir = java.nio.file.Paths.get(graft.index.IndexBuilder.scratchDir("graft-stream-src-"))
      java.nio.file.Files.copy(p, dir.resolve(p.getFileName))
      dir.toString
    })
  }

  private def runToMemory(spark: SparkSession, df: DataFrame, mode: OutputMode): DataFrame = {
    val name = "mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = graft.index.IndexBuilder.scratchDir("graft-ckpt-")
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Tumbling 1-day event-time windows per event_type: counts + exact cent
    * sums. The watermark bounds aggregation state at scale (windows older
    * than max-event-time − 1 day are finalized and evictable); COMPLETE
    * output mode emits every window so the bounded verify run returns the
    * full history. */
  def windowedCounts(spark: SparkSession, eventsPath: String): DataFrame = {
    val schema = spark.read.parquet(eventsPath).schema
    val agg = spark.readStream
      .schema(schema)
      .parquet(streamableDir(eventsPath))
      // parquet infers TIMESTAMP_NTZ; watermarks need an instant type.
      // Session tz is pinned UTC, so the cast is wall-clock identity.
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
      .select(col("w.start").cast("date").as("day"), col("event_type"),
        col("cnt"), col("sum_cents"))
    runToMemory(spark, agg, OutputMode.Complete())
  }

  /** Sliding-window streaming aggregation (the overlapping-window variant
    * of [[windowedCounts]] — Structured Streaming `window(ts, len, slide)`
    * with len=2·slide, so every event lands in exactly two windows;
    * reference analog: Solr TimeSeriesStream gaps are tumbling-only, the
    * sliding shape is the Spark-native generalization): 12h windows
    * sliding 6h, per event type. */
  def slidingCounts(spark: SparkSession, eventsPath: String): DataFrame = {
    val schema = spark.read.parquet(eventsPath).schema
    val agg = spark.readStream
      .schema(schema)
      .parquet(streamableDir(eventsPath))
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "12 hours", "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH").as("wstart"),
        col("event_type"), col("cnt"))
    runToMemory(spark, agg, OutputMode.Complete())
  }

  /** Stream-static enrichment join (Solr `fetch` over a topic stream;
    * reference: solr/solrj/src/java/org/apache/solr/client/solrj/io/stream/
    * FetchStream.java — batch lookup enrich of a flowing stream): each
    * streaming event joins the customer dim on user_id, aggregated per
    * market segment. The static side is BROADCAST into every micro-batch
    * task, so the stream side never shuffles for the join — the standard
    * 100 TB/day enrichment shape. */
  def enrichedCounts(spark: SparkSession, eventsPath: String,
                     customerPath: String): DataFrame = {
    val schema = spark.read.parquet(eventsPath).schema
    val dim = spark.read.parquet(customerPath)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val agg = spark.readStream.schema(schema).parquet(streamableDir(eventsPath))
      .join(broadcast(dim), "user_id")
      .groupBy("segment")
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
    runToMemory(spark, agg, OutputMode.Complete())
  }

  /** Stream-STREAM interval join (the conversion-attribution shape; Spark's
    * watermarked two-stream equi-join with a time-range condition): the
    * click stream joins the purchase stream on user_id where the purchase
    * lands within 1 hour after the click. Both sides carry event-time
    * watermarks so the join state is BOUNDED — clicks older than the
    * purchase watermark minus the join window are evicted, which is what
    * lets the same plan run forever on an unbounded 100 TB/day feed. The
    * returned table is the raw joined pairs (Append mode); callers
    * aggregate it as a batch table. */
  def conversionJoin(spark: SparkSession, eventsPath: String): DataFrame = {
    val schema = spark.read.parquet(eventsPath).schema
    def side(tpe: String, tsName: String, idName: String) = spark.readStream
      .schema(schema).parquet(streamableDir(eventsPath))
      .filter(col("event_type") === tpe)
      .select(col("user_id"), col("ts").cast("timestamp").as(tsName),
        col("event_id").as(idName))
      .withWatermark(tsName, "1 hour")
    val clicks = side("click", "click_ts", "click_id")
    val purchases = side("purchase", "purchase_ts", "purchase_id")
    val joined = clicks.join(purchases,
      clicks("user_id") === purchases("user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(clicks("user_id"), col("click_id"), col("purchase_id"))
    runToMemory(spark, joined, OutputMode.Append())
  }

  /** Per-user session state: last event time (micros) + closed-session
    * count. Bounded: two longs per key, regardless of stream length. */
  final case class SessionState(lastMicros: Long, sessions: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long)

  /** Sessionization via `flatMapGroupsWithState` — the
    * `KeyValueGroupedDataset` keyed-state surface: a session closes after
    * 30 minutes of inactivity. Events inside one micro-batch are sorted per
    * key before folding; across batches the fold assumes the source delivers
    * batches in event-time order (the standard Spark sessionization contract
    * — out-of-order arrivals within the watermark would use an event-time
    * timeout instead). Emits each key's running total per batch (Update
    * mode); with AvailableNow over a bounded source the last emission per
    * key is the full count. */
  def sessionize(spark: SparkSession, eventsPath: String, gapMicros: Long = 1800000000L): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(eventsPath).schema
    val events = spark.readStream
      .schema(schema)
      .parquet(streamableDir(eventsPath))
      .select(col("user_id").cast("long"),
        unix_micros(col("ts").cast("timestamp")).as("micros"))
      .as[(Long, Long)]
    val sessions = events
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          val ts = rows.map(_._2).toArray
          java.util.Arrays.sort(ts)
          var (last, n) =
            state.getOption.map(s => (s.lastMicros, s.sessions)).getOrElse((Long.MinValue, 0L))
          ts.foreach { t =>
            if (last == Long.MinValue || t - last > gapMicros) n += 1
            last = t
          }
          state.update(SessionState(last, n))
          Iterator.single(UserSessions(user, n))
      }
    runToMemory(spark, sessions.toDF(), OutputMode.Update())
  }

  /** Streaming exact dedup: `dropDuplicates` on the content hash — the
    * continuous-ingest version of td_dedup_exact (repeated documents index
    * once, however the stream batches them). Dedup state is one hash per
    * distinct doc; a production deployment bounds it with an event-time
    * watermark + `dropDuplicatesWithinWatermark` (this corpus has no event
    * time, and the verify run is bounded by AvailableNow). Only the count
    * survives to the output: WHICH duplicate wins is batch-order-dependent
    * by definition, the cardinality is not. */
  def dedupCount(spark: SparkSession, docsPath: String): DataFrame = {
    val schema = spark.read.parquet(docsPath).schema
    val uniq = spark.readStream
      .schema(schema)
      .parquet(streamableDir(docsPath))
      .select(md5(col("text")).as("h"))
      .dropDuplicates("h")
      .groupBy().agg(count(lit(1)).as("n_unique"))
    runToMemory(spark, uniq, OutputMode.Complete())
  }
}
