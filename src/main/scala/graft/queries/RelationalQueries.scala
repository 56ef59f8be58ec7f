package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / aggregation / dataflow operators over the TPC-H-ish testdata
  * tables — the Spark-native renderings of the reference's OLAP surface:
  * Solr JSON facets (SURVEY.md §2.6) and Solr streaming expressions
  * (SURVEY.md §2.7). Every query has a DuckDB oracle.
  *
  * Numeric discipline for exact cross-engine hashing: money is aggregated in
  * integer cents (`CAST(round(x*100) AS BIGINT)`), quantities are
  * whole-number doubles (order-independent exact sums), and divisions happen
  * once, on already-exact operands — identical IEEE results in both engines.
  */
object RelationalQueries {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  private val cents = "CAST(round(l_extendedprice * 100) AS BIGINT)"

  /** Landing-zone copies staged this JVM, by (sfDir, name). */
  private val landings =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** The path of this JVM's landing-zone copy `name` of `sfDir`'s tables
    * (the untimed set-up of the source-format queries): a child of a fresh
    * recorded scratch dir ([[graft.index.IndexBuilder.scratchDir]], deleted
    * at JVM exit), written by `stage(path)` on first use. A copy is never
    * shared across JVMs, so regenerated sf tables are never served stale. */
  private[graft] def landing(sfDir: String, name: String)(stage: String => Unit): String =
    landings.computeIfAbsent((sfDir, name), _ => {
      val path = s"${graft.index.IndexBuilder.scratchDir("graft-landing-")}/$name"
      stage(path)
      path
    })

  /** Bucketed tables already staged this JVM (q_bucketed_join). */
  private val bucketStaged =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: the RollupStream / StatsComponent analog
    "q1_agg" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          sum(expr(cents)).as("sum_price_cents"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // facet field: top-N buckets by count (FacetFieldProcessorByHashDV)
    "q_facet_field" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .groupBy(col("o_orderpriority").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("bucket"))
        .limit(5)
    }),
    // Multi-select faceting — JSON facet domain excludeTags (reference:
    // solr/core/src/java/org/apache/solr/search/facet/FacetRequest.java
    // domain filter handling + solr/core/src/java/org/apache/solr/request/
    // SimpleFacets.java:~getFacetFieldCounts excludeTags): the base query
    // selects priority='1-URGENT' (tagged) AND totalprice>=100000, but the
    // facet over priority EXCLUDES its own tag — every priority bucket is
    // counted against the price filter only, so the UI can show what
    // selecting each other priority WOULD return. One scan, two aggregates
    // via conditional counting — no second pass over the fact table.
    "q_facet_exclude" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .filter(col("o_totalprice") >= 100000)
        .groupBy(col("o_orderpriority").as("bucket"))
        .agg(count(lit(1)).as("cnt_excl_tag"),
          count(when(col("o_orderpriority") === "1-URGENT", 1)).as("cnt_selected"))
        .orderBy("bucket")
    }),
    // facet range: numeric gap buckets (FacetRange)
    "q_facet_range" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    }),
    // range facet with the `other` buckets (Solr facet.range.other=all,
    // reference: solr/core/src/java/org/apache/solr/request/
    // SimpleFacets / RangeFacetProcessor — before/after/between counts
    // alongside the gap buckets): same single-pass grouped agg plus one
    // filtered global agg
    "q_facet_range_other" -> ((spark, sfDir) => {
      val o = t(spark, sfDir, "orders")
      val bucket = when(col("o_totalprice") < 50000.0, lit("before"))
        .when(col("o_totalprice") >= 200000.0, lit("after"))
        .otherwise(concat(lit("r"),
          floor(col("o_totalprice") / 50000).cast("long").cast("string")))
      val bins = o.groupBy(bucket.as("bucket")).agg(count(lit(1)).as("cnt"))
      val between = o
        .filter(col("o_totalprice") >= 50000.0 && col("o_totalprice") < 200000.0)
        .agg(count(lit(1)).as("cnt"))
        .select(lit("between").as("bucket"), col("cnt"))
      bins.unionByName(between).orderBy("bucket")
    }),
    // OLS regression + prediction (Solr streaming-expressions `regress` /
    // `predict`, reference: solr/solrj/src/java/org/apache/solr/client/
    // solrj/io/eval/RegressionEvaluator.java): slope/intercept from the
    // normal equations over EXACT integer sums (quantity is whole, money in
    // cents), so the only float ops are the final divisions — one
    // distributed agg pass, no collect of rows
    "q_regress" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem")
        .select(col("l_quantity").cast("long").as("x"), expr(cents).as("y"))
        .agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
        .select(
          round((col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
            / (col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")), 4)
            .as("slope"),
          round((col("sy").cast("double")
            - ((col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
               / (col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")))
              * col("sx").cast("double")) / col("n").cast("double"), 4)
            .as("intercept"))
    }),
    // interval facets (Solr IntervalFacets, reference: solr/core/src/java/
    // org/apache/solr/request/IntervalFacets.java): EXPLICIT intervals with
    // per-bound inclusivity, allowed to overlap (unlike range facets) — one
    // conditional-sum pass, then stack to (interval, count) rows
    "q_facet_interval" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .agg(
          sum(when(col("o_totalprice") >= 0 && col("o_totalprice") < 150000, 1L)
            .otherwise(0L)).as("n1"),
          sum(when(col("o_totalprice") >= 100000 && col("o_totalprice") <= 250000, 1L)
            .otherwise(0L)).as("n2"),
          sum(when(col("o_totalprice") > 200000, 1L).otherwise(0L)).as("n3"))
        .selectExpr(
          "stack(3, '[0,150000)', n1, '[100000,250000]', n2, '(200000,*]', n3) AS (ival, cnt)")
        .orderBy("ival")
    }),
    // nested sub-facets (Solr JSON facets: per-bucket sub-facets with their
    // own sort/limit, reference: solr/core/src/java/org/apache/solr/search/
    // facet/FacetRequest.java:141,368-379): top-2 lang buckets, each with
    // its own top-2 source sub-buckets. Outer buckets prune FIRST (the
    // broadcast semi-join), so the sub-facet agg only touches surviving
    // buckets — the shape that holds when the outer field has millions of
    // buckets at corpus scale.
    "q_facet_nested" -> ((spark, sfDir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val topLangs = docs.groupBy("lang").agg(count(lit(1)).as("lang_cnt"))
        .orderBy(desc("lang_cnt"), asc("lang")).limit(2)
      val w = Window.partitionBy("lang").orderBy(desc("src_cnt"), asc("source"))
      docs.join(broadcast(topLangs), "lang")
        .groupBy("lang", "lang_cnt", "source").agg(count(lit(1)).as("src_cnt"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("lang"), col("lang_cnt"), col("rnk"), col("source"), col("src_cnt"))
        .orderBy(desc("lang_cnt"), asc("lang"), asc("rnk"))
    }),
    // facet query: counts under predicates (FacetQuery)
    "q_facet_query" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders").agg(
        sum(when(col("o_totalprice") > 200000, 1).otherwise(0)).as("n_big"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("n_urgent"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"))
    }),
    // stats component: min/max/count/distinct per group
    "q_stats" -> ((spark, sfDir) => {
      t(spark, sfDir, "part")
        .groupBy("p_brand")
        .agg(
          min(col("p_size")).as("min_size"),
          max(col("p_size")).as("max_size"),
          count(lit(1)).as("cnt"),
          countDistinct(col("p_type")).as("n_types"))
        .orderBy("p_brand")
    }),
    // percentile agg (exact interpolated, the PercentileAgg analog)
    "q_percentile" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem").agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.9)").as("p90"))
    }),
    // Approx percentile under the accuracy CONTRACT (Spark's
    // ApproximatePercentile = Greenwald-Khanna with rank error ≤ N/acc):
    // the sketch is the 100-TB path (bounded memory per partition,
    // mergeable); the verdict joins the sketch output back against exact
    // ranks — returned value's rank interval [#<v + 1, #≤v] must
    // intersect [pN − N/acc, pN + N/acc]. Exact percentiles ride along
    // (the known-good percentile ↔ quantile_cont bridge), so the oracle
    // pins them and asserts the contract flags.
    "q_approx_percentile" -> ((spark, sfDir) => {
      val acc = 100
      val x = t(spark, sfDir, "lineitem")
        .select(col("l_quantity").cast("double").as("x"))
      val ap = x.agg(
        expr(s"approx_percentile(x, 0.5, $acc)").as("a50"),
        expr(s"approx_percentile(x, 0.9, $acc)").as("a90"),
        expr("percentile(x, 0.5)").as("p50_exact"),
        expr("percentile(x, 0.9)").as("p90_exact"),
        count(lit(1)).as("n"))
      val r = x.crossJoin(broadcast(ap)).agg(
        sum(when(col("x") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("x") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("x") <= col("a90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("x") < col("a90"), 1L).otherwise(0L)).as("lt90"),
        first("p50_exact").as("p50_exact"), first("p90_exact").as("p90_exact"),
        first("n").as("n"))
      r.select(col("n"), col("p50_exact"), col("p90_exact"),
        (col("le50") >= col("n") * 0.5 - col("n") / lit(acc) &&
          (col("lt50") + 1) <= col("n") * 0.5 + col("n") / lit(acc))
          .cast("int").as("p50_within"),
        (col("le90") >= col("n") * 0.9 - col("n") / lit(acc) &&
          (col("lt90") + 1) <= col("n") * 0.9 + col("n") / lit(acc))
          .cast("int").as("p90_within"))
    }),
    // Solr facet.prefix (SimpleFacets: term facet constrained to buckets
    // with a given prefix — the prefix is a pushable filter BEFORE the
    // count, never a post-filter over all buckets)
    "q_facet_prefix" -> ((spark, sfDir) => {
      t(spark, sfDir, "part")
        .select(explode(split(col("p_name"), " ")).as("bucket"))
        .filter(col("bucket").startsWith("b"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("bucket"))
        .limit(10)
    }),
    // Solr JSON facet numBuckets + allBuckets (FacetFieldProcessor:
    // numBuckets = distinct bucket count, allBuckets = the aggregates over
    // every bucket regardless of the top-k limit) — one pass
    "q_facet_numbuckets" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .select(floor(col("o_totalprice") / 10000).as("bucket"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .agg(countDistinct(col("bucket")).as("num_buckets"),
          count(lit(1)).as("all_cnt"),
          sum(col("cents")).as("all_sum_cents"))
    }),
    // median absolute deviation (Solr math `mad`; commons-math
    // DescriptiveStatistics-based MadEvaluator): med = exact interpolated
    // median, mad = median of |x − med| — two distributed percentile
    // passes with the 1-row median broadcast between them, never a collect
    "q_mad" -> ((spark, sfDir) => {
      val x = t(spark, sfDir, "lineitem")
        .selectExpr("CAST(l_quantity AS DOUBLE) AS x")
      val med = x.agg(expr("percentile(x, 0.5)").as("med"))
      x.crossJoin(broadcast(med))
        .selectExpr("med", "abs(x - med) AS d")
        .agg(max("med").as("med"), expr("percentile(d, 0.5)").as("mad"))
    }),
    // unique agg (UniqueAgg / HLLAgg exact form)
    "q_unique" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem").agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n"))
    }),
    // hash join with broadcast dim (HashJoinStream)
    "q_join_broadcast" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .join(broadcast(t(spark, sfDir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("sum_price_cents"))
        .orderBy("c_mktsegment")
    }),
    // star join + group agg (TPC-H Q5 shape; joins ordered small->large)
    "q_join_star" -> ((spark, sfDir) => {
      val li = t(spark, sfDir, "lineitem")
      val o = t(spark, sfDir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val c = t(spark, sfDir, "customer")
      val n = t(spark, sfDir, "nation")
      val r = t(spark, sfDir, "region").filter(col("r_name") === "ASIA")
      // customer is SF-scaled: no forced broadcast (the planner/AQE picks
      // broadcast from its actual size — identical plan at bench scale, a
      // safe shuffled join at 100x); nation/region are constant-size dims
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
          .as("revenue_cents"))
        .orderBy(desc("revenue_cents"), asc("n_name"))
    }),
    // left outer join + null-side counting (LeftOuterJoinStream)
    "q_join_leftouter" -> ((spark, sfDir) => {
      t(spark, sfDir, "customer")
        .join(t(spark, sfDir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          count(when(col("o_orderkey").isNull, 1)).as("n_no_orders"))
        .orderBy("c_mktsegment")
    }),
    // anti join (ComplementStream): customers who never fired a purchase event
    "q_join_anti" -> ((spark, sfDir) => {
      val purchases = t(spark, sfDir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"))
      t(spark, sfDir, "customer")
        .join(purchases, col("c_custkey") === col("user_id"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("c_nationkey")
    }),
    // semi join (IntersectStream)
    "q_join_semi" -> ((spark, sfDir) => {
      t(spark, sfDir, "nation")
        .join(t(spark, sfDir, "customer"), col("n_nationkey") === col("c_nationkey"), "left_semi")
        .select("n_name")
        .orderBy("n_name")
    }),
    // rollup over join (pivot-facet / multi-level buckets). Built via the
    // SQL surface: the Dataset API's ambiguous-self-join heuristic
    // false-positives on rollup-after-join column reuse.
    "q_rollup" -> ((spark, sfDir) => {
      t(spark, sfDir, "customer").createOrReplaceTempView("v_customer")
      t(spark, sfDir, "nation").createOrReplaceTempView("v_nation")
      t(spark, sfDir, "region").createOrReplaceTempView("v_region")
      spark.sql(
        """SELECT r_name, n_name, count(*) AS cnt
          |FROM v_customer
          |JOIN v_nation ON c_nationkey = n_nationkey
          |JOIN v_region ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP(r_name, n_name)
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    }),
    // full CUBE lattice (multi-dim JSON facets emit every dim combination;
    // Catalyst plans CUBE as one expand + one hash agg — no per-combination
    // rescan)
    "q_cube" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem").createOrReplaceTempView("v_lineitem")
      spark.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
          |       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_cents
          |FROM v_lineitem
          |GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),
    // Solr math conv(): 3-point smoothing kernel over the ordered hourly
    // series. Kernel weights are dyadic rationals (0.25/0.5/0.25) over
    // integer counts, each output one 3-term sum written in one op order —
    // exact in IEEE doubles on both engines, no rounding step needed. The
    // global window runs over the AGGREGATED series (one row per hour —
    // bounded output, not data-scale), so the single-range sort is cheap;
    // the data-scale work is the hash agg before it.
    "q_convolve" -> ((spark, sfDir) => {
      val hourly = t(spark, sfDir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("hour")
      hourly
        .select(col("hour"),
          (lag(col("cnt"), 1).over(w) * 0.25 + col("cnt") * 0.5 +
            lead(col("cnt"), 1).over(w) * 0.25).as("smooth"))
        .filter(col("smooth").isNotNull)
        .orderBy("hour")
    }),
    // Solr math expMovingAverage (α = 0.5): a left fold s ← s·0.5 + x·0.5
    // over the ordered hourly series. The fold runs over the AGGREGATED
    // series collected into one array (bounded: one element per hour);
    // both engines execute the identical IEEE op sequence, so the result
    // is bit-equal with no rounding step.
    "q_ewma" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).cast("double").as("cnt"))
        .agg(sort_array(collect_list(struct(col("hour"), col("cnt")))).as("hs"))
        .select(expr("transform(hs, h -> h.cnt)").as("xs"))
        .select(size(col("xs")).cast("long").as("n"),
          expr("aggregate(slice(xs, 2, size(xs) - 1), xs[0], " +
            "(s, x) -> s * 0.5d + x * 0.5d)").as("ewma"))
    }),
    // expand/collapse: top-2 rows per group via window (CollapsingQParser)
    "q_window_topk" -> ((spark, sfDir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(spark, sfDir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    }),
    // collapse + expand (Solr CollapsingQParser + ExpandComponent,
    // reference: solr/core/src/java/org/apache/solr/handler/component/
    // ExpandComponent.java): collapse keeps the head doc per group (highest
    // o_totalprice), expand returns up to 2 of the collapsed-away docs per
    // surviving group under a DIFFERENT sort (o_orderkey asc) — the two
    // result sets ride the same window shuffle
    "q_expand" -> ((spark, sfDir) => {
      val wHead = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      val o = t(spark, sfDir, "orders")
        .filter(col("o_custkey") <= 50)
        .withColumn("head_rn", row_number().over(wHead))
      val heads = o.filter(col("head_rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), lit("collapsed").as("kind"),
          lit(0L).as("rnk"))
      val wExp = Window.partitionBy("o_custkey").orderBy(asc("o_orderkey"))
      val expanded = o.filter(col("head_rn") > 1)
        .withColumn("rnk", row_number().over(wExp).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), lit("expanded").as("kind"),
          col("rnk"))
      heads.unionByName(expanded)
        .orderBy("o_custkey", "kind", "rnk", "o_orderkey")
    }),
    // time-series bucketing (TimeSeriesStream)
    "q_timeseries" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy("day")
    }),
    // REAL Structured Streaming surfaces (StreamAggregates scaladoc): the
    // same events flow through readStream -> watermark/window or keyed state
    // -> sink; AvailableNow bounds the run so the oracle can recompute it
    "q_stream_window" -> ((spark, sfDir) =>
      graft.streaming.StreamAggregates.windowedCounts(spark, s"$sfDir/events.parquet")
        .orderBy("day", "event_type")),
    // sliding windows: every event in exactly two 12h/6h windows
    "q_stream_sliding" -> ((spark, sfDir) =>
      graft.streaming.StreamAggregates.slidingCounts(spark, s"$sfDir/events.parquet")
        .orderBy("wstart", "event_type")),
    // stream-static broadcast enrichment (StreamAggregates.enrichedCounts)
    "q_stream_enrich" -> ((spark, sfDir) =>
      graft.streaming.StreamAggregates.enrichedCounts(spark,
        s"$sfDir/events.parquet", s"$sfDir/customer.parquet")
        .orderBy("segment")),
    // stream-STREAM interval join (StreamAggregates.conversionJoin):
    // watermarked click x purchase attribution, aggregated per user
    "q_stream_join" -> ((spark, sfDir) =>
      graft.streaming.StreamAggregates.conversionJoin(spark, s"$sfDir/events.parquet")
        .groupBy("user_id").agg(count(lit(1)).as("n_conv"))
        .orderBy(desc("n_conv"), asc("user_id")).limit(20)),
    // streaming exact dedup (StreamAggregates.dedupCount scaladoc)
    "q_stream_dedup" -> ((spark, sfDir) =>
      graft.streaming.StreamAggregates.dedupCount(spark, s"$sfDir/documents.parquet")),
    "q_sessionize" -> ((spark, sfDir) =>
      graft.streaming.StreamAggregates.sessionize(spark, s"$sfDir/events.parquet")
        // one emission per key per micro-batch; the running total is
        // monotone, so max = the final count whatever the batch split
        .groupBy("user_id").agg(max("n_sessions").as("n_sessions"))
        .orderBy("user_id")),
    // TimeSeriesStream gap semantics (reference: solr/solrj/src/java/org/
    // apache/solr/client/solrj/io/stream/TimeSeriesStream.java — Solr's
    // JSON range facet emits EVERY bucket in [start, end] at the given gap,
    // empty buckets with zero counts): hourly purchase counts over the full
    // stream span, absent hours zero-filled by a generated hour axis. The
    // axis derives from one min/max agg (a scalar), so the left join is a
    // broadcast of the small counts side — no extra shuffle at scale.
    "q_timeseries_gapfill" -> ((spark, sfDir) => {
      val e = t(spark, sfDir, "events").withColumn("ts", col("ts").cast("timestamp"))
      val hours = e
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
      val counts = e.filter(col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("cnt0"))
      hours.join(broadcast(counts), Seq("hour"), "left")
        .select(col("hour"), coalesce(col("cnt0"), lit(0L)).as("cnt"))
        .orderBy("hour")
    }),
    // As-of join — for each purchase, the latest same-user click at/before
    // its timestamp (the temporal-attribution operator Spark lacks as a
    // native join type). Spark-first rendering: no per-event lookup and no
    // inequality join; both sides union on the key, one shuffle partitions
    // by user, and a running `last(click, ignoreNulls)` window carries the
    // most recent click forward onto each purchase row. Tie discipline:
    // clicks sort before purchases at equal ts (typ 0 < 1) so `<=` is
    // inclusive, and equal-ts clicks sort by ascending id so the carried
    // value is the max click id — the oracle's ORDER BY ts DESC, id DESC.
    // At 100 TB this is one shuffle + an in-partition sorted sweep; a hot
    // user key salts the same way any keyed window does.
    "q_asof" -> ((spark, sfDir) => {
      val ev = t(spark, sfDir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("typ"),
          col("event_id").as("click_id"),
          lit(null).cast("long").as("purchase_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("typ"),
          lit(null).cast("long").as("click_id"),
          col("event_id").as("purchase_id"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("typ"), col("click_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("asof_click", last(col("click_id"), ignoreNulls = true).over(w))
        .filter(col("typ") === 1)
        .select(col("purchase_id").as("event_id"), col("asof_click"))
        .orderBy("event_id")
    }),
    // Range join — lineitems shipped inside each order's [date, date+3d)
    // window, NO equi key. The scale path is the canonical bucketed
    // interval join: each order explodes into the day buckets its window
    // covers (bounded fan-out = window/bucket width), lineitems bucket by
    // their own day, and the join becomes an equi-join on the bucket plus
    // an exact range filter — linear in input, no O(n·m) inequality join.
    // Orders with zero shipments are restored by a left join against the
    // counted side (broadcast: one row per order key).
    "q_range_join" -> ((spark, sfDir) => {
      val o = t(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").as("lo"),
          (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("hi"))
      val buckets = o.select(col("o_orderkey"), col("lo"), col("hi"),
        explode(expr(
          "sequence(date_trunc('DAY', lo), date_trunc('DAY', hi), interval 1 day)"))
          .as("day"))
      // r06: lineitems pre-aggregate to one row per (day, exact shipdate)
      // BEFORE the interval join (guide §2.3 "aggregate before you
      // shuffle"): the day-bucket join then multiplies order-windows by
      // ~day-count rows instead of by every lineitem row (measured 17.4 s
      // -> 2.9 s at sf0.1 — the unaggregated join materialized ~150M
      // intermediate rows), and the per-order count is the exact sum of
      // group counts inside the range.
      val li = t(spark, sfDir, "lineitem")
        .select(col("l_shipdate"), date_trunc("DAY", col("l_shipdate")).as("day"))
        .groupBy("day", "l_shipdate").agg(count(lit(1)).as("c"))
      val cnt = buckets.join(li, "day")
        .filter(col("l_shipdate") >= col("lo") && col("l_shipdate") < col("hi"))
        .groupBy("o_orderkey").agg(sum("c").as("n0"))
      o.select("o_orderkey").join(cnt, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"), coalesce(col("n0"), lit(0L)).as("n_shipped"))
        .orderBy("o_orderkey")
    }),
    // explode / CartesianProductStream (unnest multivalued field)
    "q_explode" -> ((spark, sfDir) => {
      t(spark, sfDir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("word"))
        .limit(10)
    }),
    // having (post-agg filter, HavingStream)
    "q_having" -> ((spark, sfDir) => {
      t(spark, sfDir, "customer")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 60)
        .orderBy("c_nationkey")
    }),
    // global top-k by sort (RankStream -> TakeOrderedAndProject)
    "q_topk_orders" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
    }),
    // distinct (UniqueStream)
    "q_distinct" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // multi-key groupBy (pivot facets)
    "q_pivot" -> ((spark, sfDir) => {
      t(spark, sfDir, "documents")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "source")
    }),
    // stddev / variance / sumsq aggs (StddevAgg / VarianceAgg / SumsqAgg;
    // l_quantity is whole-number doubles so sumsq is exact in double)
    "q_stddev" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          sum(col("l_quantity") * col("l_quantity")).cast("long").as("sumsq_qty"))
        .orderBy("l_returnflag")
    }),
    // Solr math `skewness()` / `kurtosis()` (Commons-Math sample moments,
    // the definitions Solr's stream evaluators delegate to): computed from
    // EXACT integer raw-moment sums (x..x^4 as BIGINT, one hash agg) and
    // the identical double expression tree on the oracle side — central
    // moments c2..c4 derived algebraically from the raw sums, so the
    // distributed sum order can never perturb the result. Map-side partial
    // agg; scales as a plain groupBy.
    "q_skewness" -> ((spark, sfDir) => {
      val x = col("x")
      val m = t(spark, sfDir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n0"),
          sum(x).as("s1l"), sum(x * x).as("s2l"),
          sum(x * x * x).as("s3l"), sum(x * x * x * x).as("s4l"))
      val n = col("n0").cast("double")
      val s1 = col("s1l").cast("double"); val s2 = col("s2l").cast("double")
      val s3 = col("s3l").cast("double"); val s4 = col("s4l").cast("double")
      val mean = s1 / n
      val c2 = s2 - mean * s1
      val c3 = s3 - (lit(3.0) * mean) * s2 + ((lit(2.0) * mean) * mean) * s1
      val c4 = s4 - (lit(4.0) * mean) * s3 + ((lit(6.0) * mean) * mean) * s2 -
        (((lit(3.0) * mean) * mean) * mean) * s1
      val v = c2 / (n - lit(1.0))
      val skew = (n / ((n - lit(1.0)) * (n - lit(2.0)))) * c3 / (v * sqrt(v))
      val kurt = (n * (n + lit(1.0)) / (((n - lit(1.0)) * (n - lit(2.0))) * (n - lit(3.0)))) *
        c4 / (v * v) -
        (lit(3.0) * (n - lit(1.0))) * (n - lit(1.0)) / ((n - lit(2.0)) * (n - lit(3.0)))
      m.select(col("l_returnflag"),
        round(skew, 4).as("skewness"), round(kurt, 4).as("kurtosis"))
        .orderBy("l_returnflag")
    }),
    // Solr math `polyfit` (Commons-Math PolynomialCurveFitter, degree 2):
    // least-squares fit of price-cents on quantity from EXACT integer sums
    // (x..x^4, y, xy, x^2y as BIGINT, one agg) solved by Cramer's rule —
    // every product/division runs in double with the identical expression
    // tree on the oracle side, so the distributed sum order is irrelevant
    // and the coefficients are deterministic. One agg pass, map-side
    // partials; scales as a plain aggregate.
    "q_polyfit" -> ((spark, sfDir) => {
      val x = col("x"); val y = col("y")
      val m = t(spark, sfDir, "lineitem")
        .select(col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
        .agg(count(lit(1)).as("n0"),
          sum(x).as("s1l"), sum(x * x).as("s2l"),
          sum(x * x * x).as("s3l"), sum(x * x * x * x).as("s4l"),
          sum(y).as("t0l"), sum(x * y).as("t1l"), sum(x * x * y).as("t2l"))
      val n = col("n0").cast("double")
      val s1 = col("s1l").cast("double"); val s2 = col("s2l").cast("double")
      val s3 = col("s3l").cast("double"); val s4 = col("s4l").cast("double")
      val t0 = col("t0l").cast("double"); val t1 = col("t1l").cast("double")
      val t2 = col("t2l").cast("double")
      val d = n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) + s2 * (s1 * s3 - s2 * s2)
      val c0 = (t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2) + s2 * (t1 * s3 - s2 * t2)) / d
      val c1 = (n * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2) + s2 * (s1 * t2 - t1 * s2)) / d
      val c2 = (n * (s2 * t2 - t1 * s3) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s3 - s2 * s2)) / d
      m.select(round(c0, 4).as("c0"), round(c1, 4).as("c1"), round(c2, 4).as("c2"))
    }),
    // HLL approx distinct (HLLAgg): the property both engines verify is the
    // HLL estimate landing within 10% of the exact count — sketches differ
    // across engines, the accuracy contract is what's portable
    "q_hll" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem")
        .agg(
          countDistinct(col("l_partkey")).as("n_exact"),
          approx_count_distinct(col("l_partkey"), 0.02).as("n_hll"))
        .select(col("n_exact"),
          (abs(col("n_hll") - col("n_exact")) * 10 <= col("n_exact"))
            .cast("int").as("hll_within_10pct"))
    }),
    // sorted union (MergeStream: k-way merge of two sorted tuple streams)
    "q_merge" -> ((spark, sfDir) => {
      val ev = t(spark, sfDir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts", "event_type").sortWithinPartitions("ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "ts", "event_type").sortWithinPartitions("ts")
      clicks.unionByName(purchases)
        .orderBy("ts", "event_id")
        .limit(100)
        .select("event_id", "event_type")
    }),
    // FetchStream: enrich a top-k tuple stream with a batched lookup join
    // (winners only — Solr's GET_FIELDS stage)
    "q_fetch" -> ((spark, sfDir) => {
      val top = t(spark, sfDir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
      top.join(broadcast(t(spark, sfDir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("price_cents"), col("c_name"))
        .orderBy("o_orderkey")
    }),
    // heatmap facet: 2-D bucketed counts (FacetHeatmap)
    "q_heatmap" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .groupBy(
          floor(col("o_totalprice") / 50000).as("price_bucket"),
          col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("price_bucket", "prio")
    }),
    // CSV source (CsvStream / spark.read.csv): stage the nation dim as CSV
    // (untimed setup, like a landing zone drop) and aggregate from the CSV
    // scan — the oracle reads the same rows from parquet
    "q_csv" -> ((spark, sfDir) => {
      val csvPath = landing(sfDir, "nation.csv")(p =>
        t(spark, sfDir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey")
          .write.option("header", "true").csv(p))
      spark.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(csvPath)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("cnt"), sum(col("n_nationkey")).as("sum_key"))
        .orderBy("n_regionkey")
    }),
    // JSON-lines source (Solr JsonLoader, reference: solr/core/src/java/org/
    // apache/solr/handler/loader/JsonLoader.java — document ingestion from
    // JSON): round-trip a projection through JSON lines on disk with an
    // explicit schema (no sampling inference pass at scale), aggregate from
    // the JSON scan; the oracle reads the same rows from parquet.
    "q_json" -> ((spark, sfDir) => {
      val jsonPath = landing(sfDir, "documents.json")(p =>
        t(spark, sfDir, "documents")
          .select("doc_id", "lang", "n_chars")
          .write.json(p))
      spark.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT").json(jsonPath)
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),
    // JDBC source (JDBCStream, reference: solr/solrj/src/java/org/apache/
    // solr/client/solrj/io/stream/JDBCStream.java): round-trip a projection
    // through an embedded Derby database (the JDBC endpoint this sandbox can
    // host — Derby ships with Spark), then aggregate from the JDBC scan.
    // The oracle reads the same rows from parquet.
    "q_jdbc" -> ((spark, sfDir) => {
      def url(db: String) = s"jdbc:derby:$db;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val db = landing(sfDir, "derby") { p =>
        // Derby reads its log path once, when the first database boots
        System.setProperty("derby.stream.error.file", s"$p.log")
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("text_len"))
          .write.jdbc(url(p), "docs_rt", props)
      }
      spark.read.jdbc(url(db), "docs_rt", props)
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum(col("text_len")).as("sum_len"))
        .orderBy("lang")
    }),
    // RandomStream analog: distributed Bernoulli sample, made deterministic
    // (and oracle-recomputable) by hashing the key — the reproducible-
    // sampling trick standard in training-data pipelines. ~1/16 of orders;
    // map-only, no shuffle, scales to any corpus size.
    "q_sample" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy("o_orderkey")
    }),
    // chi-square independence test over a contingency table (Solr math
    // `chiSquareDataSet`, commons-math ChiSquareTest): lang × source over
    // documents. Per-cell statistic = ONE double expression over exact
    // integer totals — (o·n − rt·ct)²/(rt·ct·n) — floored to micro-units,
    // so the cross-cell sum is an exact BIGINT (order-independent)
    "q_chisq" -> ((spark, sfDir) => {
      val obs = t(spark, sfDir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rowT = obs.groupBy("lang").agg(sum("o").as("rt"))
      val colT = obs.groupBy("source").agg(sum("o").as("ct"))
      val tot = obs.agg(sum("o").as("n"),
        countDistinct("lang").as("nl"), countDistinct("source").as("ns"))
      obs.join(rowT, "lang").join(colT, "source").crossJoin(broadcast(tot))
        .selectExpr(
          "CAST(floor(CAST((o * n - rt * ct) * (o * n - rt * ct) AS DOUBLE)" +
            " / (CAST(rt AS DOUBLE) * ct * n) * 1000000.0) AS BIGINT) AS cell_micro",
          "(nl - 1) * (ns - 1) AS dof")
        .groupBy("dof").agg(sum("cell_micro").as("chi2_micro"))
        .select(col("dof"), col("chi2_micro"))
    }),
    // Parallel SQL surface (Solr SQL over Calcite, reference: solr/core/
    // src/java/org/apache/solr/handler/sql/ — SELECT..GROUP BY..HAVING..
    // ORDER BY compiled onto facet/stream plans): here the SQL text IS the
    // engine's native surface — spark.sql over a registered view runs the
    // identical Catalyst plan the DataFrame API builds
    "q_sql" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders").createOrReplaceTempView("orders_v")
      spark.sql(
        """SELECT o_orderpriority, count(*) AS cnt,
          |  CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price
          |FROM orders_v
          |WHERE o_orderstatus = 'O'
          |GROUP BY o_orderpriority
          |HAVING count(*) > 10
          |ORDER BY o_orderpriority""".stripMargin)
    }),
    // sampled faceting (lucene/facet/.../RandomSamplingFacetsCollector.java:
    // counts over a doc sample, scaled back by 1/rate): deterministic
    // md5-hash sample at rate 1/16 (first hex digit), counts ×16 — the
    // facet pass touches 1/16th of the match set, the 100 TB trade
    "q_facet_sampled" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "7")
        .groupBy("o_orderpriority")
        .agg((count(lit(1)) * 16).as("est_cnt"), count(lit(1)).as("sampled"))
        .orderBy("o_orderpriority")
    }),
    // bbox filter (solr/core/.../search/SpatialFilterQParser.java bbox):
    // customers inside a lat/lon rectangle. The testdata has no
    // coordinates, so both engines derive them deterministically from
    // c_custkey with the SAME integer arithmetic — no trig, bit-exact.
    // A rectangle filter is map-only and pushes down to the scan.
    "q_geo_bbox" -> ((spark, sfDir) => {
      t(spark, sfDir, "customer")
        .withColumn("lat", expr(latSql)).withColumn("lon", expr(lonSql))
        .filter(col("lat").between(40.0, 60.0) && col("lon").between(-10.0, 20.0))
        .select("c_custkey", "lat", "lon")
        .orderBy("c_custkey")
    }),
    // polygon containment (LatLonPoint.newPolygonQuery): ray-cast crossing
    // test against a fixed quadrilateral — map-only predicate over the
    // synthetic coordinates, the same shape Lucene evaluates per point
    "q_geo_polygon" -> ((spark, sfDir) => {
      t(spark, sfDir, "customer")
        .withColumn("lat", expr(latSql)).withColumn("lon", expr(lonSql))
        .filter(expr(pipSql("lat", "lon", polyVerts)))
        .select("c_custkey", "lat", "lon")
        .orderBy("c_custkey")
    }),
    // geodist() (solr/core/.../search/function/distance/HaversineConstFunction.java;
    // DistanceUtils.distHaversineRAD, earth mean radius 6371.0087714 km):
    // 10 nearest customers to (48.85, 2.35). The formula text is shared
    // verbatim with the oracle; results round to 10 m so the engines'
    // libm-vs-Java trig ulp differences cannot flip a comparison.
    "q_geodist" -> ((spark, sfDir) => {
      t(spark, sfDir, "customer")
        .withColumn("lat", expr(latSql)).withColumn("lon", expr(lonSql))
        .withColumn("dist_km",
          expr(s"floor(${havSql("lat", "lon", "48.85", "2.35")} * 100.0 + 0.5) / CAST(100.0 AS DOUBLE)"))
        .select("c_custkey", "dist_km")
        .orderBy(asc("dist_km"), asc("c_custkey"))
        .limit(10)
    }),
    // per-bucket percentiles (Solr stats component over facet buckets,
    // percentiles param — reference: solr/core/src/java/org/apache/solr/
    // handler/component/StatsValuesFactory.java percentiles): exact
    // interpolated median + p90 per group. Interpolation on whole-number
    // doubles yields x.0/x.5 exactly in both engines.
    "q_group_percentile" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"))
        .orderBy("l_returnflag")
    }),
    // Pearson correlation + sample covariance (Solr math expressions `corr`
    // / `cov`, reference: solr/solrj/src/java/org/apache/solr/client/solrj/
    // io/eval/CorrelationEvaluator.java, CovarianceEvaluator.java). One
    // distributed agg pass accumulates EXACT integer sums (quantity is
    // whole, price rounded to whole dollars so every square-sum fits both
    // BIGINT and a double's 53-bit mantissa); the final expression text is
    // shared verbatim with the oracle so the only float ops are identical
    // IEEE sequences on exact operands.
    "q_corr" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem")
        .selectExpr("CAST(l_quantity AS BIGINT) AS x",
          "CAST(round(l_extendedprice) AS BIGINT) AS y")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .selectExpr(s"$corrExpr AS corr_qty_price", s"$covExpr AS cov_qty_price")
    }),
    // Welch's two-sample t-test between return-flag groups (Solr math
    // `ttest`, reference: solr/solrj/src/java/org/apache/solr/client/
    // solrj/io/eval/TTestEvaluator.java — the commons-math Welch
    // statistic): one grouped agg of exact BIGINT sums (map-side
    // combined), then a single-row formula — never a collect
    "q_ttest" -> ((spark, sfDir) => {
      val g = t(spark, sfDir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .selectExpr("l_returnflag AS f", "CAST(l_quantity AS BIGINT) AS x")
        .groupBy("f")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("q"))
      g.filter(col("f") === "R").selectExpr("n AS n1", "s AS s1", "q AS q1")
        .crossJoin(g.filter(col("f") === "A")
          .selectExpr("n AS n2", "s AS s2", "q AS q2"))
        .selectExpr("n1", "n2", s"$ttestExpr AS t_stat")
    }),
    // one-way ANOVA between the three return-flag groups (Solr math
    // `anova`, commons-math OneWayAnova): per-group exact BIGINT sums in
    // one grouped pass, then a single fixed F-statistic expression tree
    "q_anova" -> ((spark, sfDir) => {
      val g = t(spark, sfDir, "lineitem")
        .selectExpr("l_returnflag AS f", "CAST(l_quantity AS BIGINT) AS x")
        .groupBy("f")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("q"))
      g.filter(col("f") === "R").selectExpr("n AS n1", "s AS s1", "q AS q1")
        .crossJoin(g.filter(col("f") === "A")
          .selectExpr("n AS n2", "s AS s2", "q AS q2"))
        .crossJoin(g.filter(col("f") === "N")
          .selectExpr("n AS n3", "s AS s3", "q AS q3"))
        .selectExpr("n1", "n2", "n3", s"$anovaExpr AS f_stat")
    }),
    // equal-width histogram over data-driven min/max (Solr `hist`,
    // reference: solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // HistogramEvaluator.java): two agg passes (bounds, then bin counts via
    // a broadcast of the 1-row bounds), never a collect. Bin arithmetic is
    // BBox overlap-ratio relevancy (reference: lucene/spatial-extras/src/
    // java/org/apache/lucene/spatial/bbox/BBoxOverlapRatioValueSource.java:
    // 34-40 — score = queryRatio * qtp + targetRatio * (1 - qtp) with
    // qtp = 0.25 default): boxes live on an integer grid (the stacked-gen
    // discipline), so intersection/areas are exact BIGINTs and the score is
    // ONE shared expression text of two divisions. Map-only over the scan;
    // the i > 0 prune is the pushable analogue of the spatial tree filter.
    "q_bbox_overlap" -> ((spark, sfDir) => {
      t(spark, sfDir, "customer")
        .selectExpr("c_custkey",
          "c_custkey % 97 AS minx", "(c_custkey * 13) % 89 AS miny",
          "5 + c_custkey % 37 AS w", "5 + (c_custkey * 3) % 31 AS h")
        .selectExpr("c_custkey",
          "greatest(0, least(minx + w, 70) - greatest(minx, 20)) * " +
            "greatest(0, least(miny + h, 60) - greatest(miny, 10)) AS i",
          "w * h AS ad")
        .filter(col("i") > 0)
        .selectExpr("c_custkey",
          "round(0.25 * (CAST(i AS DOUBLE) / 2500.0) " +
            "+ 0.75 * (CAST(i AS DOUBLE) / CAST(ad AS DOUBLE)), 4) AS score")
        .orderBy(desc("score"), asc("c_custkey")).limit(10)
    }),
    // [subquery] doc transformer (reference: solr/core/src/java/org/apache/
    // solr/response/transform/SubQueryAugmenterFactory.java:52-66 — attach
    // to every parent result doc the top-N rows of a second query keyed by
    // a parent field): parents = top-5 orders by price, children = each
    // parent's top-3 lineitems. The tiny parent set broadcasts; the child
    // query runs ONE distributed window over the semi-joined fact slice —
    // never a per-parent loop, which is the scale trap the reference's
    // per-doc re-execution would hit at 100 TB.
    "q_subquery" -> ((spark, sfDir) => {
      val parents = t(spark, sfDir, "orders")
        .selectExpr("o_orderkey",
          "CAST(floor(o_totalprice * 100) AS BIGINT) AS ocents")
        .orderBy(desc("ocents"), asc("o_orderkey")).limit(5)
      val w = Window.partitionBy("o_orderkey")
        .orderBy(desc("lcents"), asc("l_linenumber"))
      t(spark, sfDir, "lineitem")
        .selectExpr("l_orderkey AS o_orderkey", "l_linenumber",
          "CAST(floor(l_extendedprice * 100) AS BIGINT) AS lcents")
        .join(broadcast(parents.select("o_orderkey")), "o_orderkey")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .selectExpr("o_orderkey", "rn", "CAST(l_linenumber AS BIGINT) AS l_linenumber", "lcents")
        .orderBy("o_orderkey", "rn")
    }),
    // Spearman's rank correlation (Solr math `spearmansCorr`, reference:
    // solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // SpearmansCorrelationEvaluator.java → commons-math
    // SpearmansCorrelation = Pearson over tie-averaged ranks): ranks kept
    // in exact half-units (2·rank is a BIGINT — the q_rank discipline),
    // centered by the exact constant n+1 (the mean of 2·rank) so every
    // moment stays inside BIGINT / a double's 53-bit mantissa; the final
    // formula is ONE shared text over three exact sums. The rank windows
    // run over the grouped VALUE tables (small however big the fact
    // table); rows join back distributed.
    "q_spearman" -> ((spark, sfDir) => {
      def rows = t(spark, sfDir, "lineitem")
        .selectExpr("CAST(l_quantity AS BIGINT) AS x",
          "CAST(round(l_extendedprice) AS BIGINT) AS y")
      // fresh scan per rank table: distinct attribute lineage keeps the
      // join-back clear of Spark's ambiguous-self-join check
      def rankTab(c: String, out: String): DataFrame = {
        val byVal = rows.groupBy(c).agg(count(lit(1)).as("c"))
        val w = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, -1)
        byVal.withColumn("cum", coalesce(sum("c").over(w), lit(0L)))
          .selectExpr(c, s"2 * cum + c + 1 AS $out")
      }
      rows.join(rankTab("x", "rx2"), "x").join(rankTab("y", "ry2"), "y")
        .crossJoin(broadcast(rows.agg((count(lit(1)) + lit(1L)).as("np1"))))
        .selectExpr("rx2 - np1 AS dx", "ry2 - np1 AS dy")
        .agg(sum(expr("dx * dy")).as("sdxy"),
          sum(expr("dx * dx")).as("sdx2"),
          sum(expr("dy * dy")).as("sdy2"))
        .selectExpr(s"$spearmanExpr AS spearman")
    }),
    // Kendall's tau-b (Solr math `kendallsCorr`, reference: solr/solrj/
    // src/java/org/apache/solr/client/solrj/io/eval/
    // KendallsCorrelationEvaluator.java → commons-math
    // KendallsCorrelation): 24 hourly (count, cents) points ⇒ the O(n²)
    // pair sweep is a bounded 276-row self-join over the POST-AGG series,
    // never a collect; concordant−discordant and both tie-pair counts are
    // exact BIGINTs, tau-b = two sqrts + one division of shared text.
    "q_kendall" -> ((spark, sfDir) => {
      val s = t(spark, sfDir, "events")
        .filter(col("event_type") === "purchase")
        .selectExpr("hour(ts) AS h", "CAST(floor(value * 100) AS BIGINT) AS cents")
        .groupBy("h").agg(count(lit(1)).as("x"), sum("cents").as("y"))
      val a = s.selectExpr("h AS h1", "x AS x1", "y AS y1")
      val b = s.selectExpr("h AS h2", "x AS x2", "y AS y2")
      a.join(b, col("h1") < col("h2"))
        .agg(
          sum(expr("CASE WHEN (x1 - x2) * (y1 - y2) > 0 THEN 1 " +
            "WHEN (x1 - x2) * (y1 - y2) < 0 THEN -1 ELSE 0 END")).as("cmd"),
          count(lit(1)).as("n0"),
          sum(expr("CASE WHEN x1 = x2 THEN 1 ELSE 0 END")).as("n1"),
          sum(expr("CASE WHEN y1 = y2 THEN 1 ELSE 0 END")).as("n2"))
        .selectExpr("cmd", s"$kendallExpr AS tau_b")
    }),
    // distance-radius filter (`LatLonPoint.newDistanceQuery`, reference:
    // lucene/core/src/java/org/apache/lucene/document/LatLonPoint.java +
    // LatLonPointDistanceQuery — a bounding-box prune then per-point
    // haversine verify): the conservative-superset box predicate is the
    // parquet min/max prune analogue (scan-pushed, semantics-neutral);
    // the verify reuses q_geodist's shared-text haversine. Box bounds:
    // Δlat = r/111.045 ≤ 13.6°, Δlon = asin(sin(r/R)/cos(lat₀)) ≤ 20.8°,
    // widened to ±14.9/±22 for slack.
    // LatLonPoint nearest-k (reference: lucene/sandbox/src/java/org/apache/
    // lucene/sandbox/document/NearestNeighbor.java — BKD best-first k
    // nearest by haversine): top-10 customers nearest the query point,
    // centi-km floor quantization shared with q_geo_radius
    "q_geo_nearest" -> ((spark, sfDir) => {
      t(spark, sfDir, "customer")
        .withColumn("lat", expr(latSql)).withColumn("lon", expr(lonSql))
        .withColumn("dist_km",
          expr(s"floor(${havSql("lat", "lon", "48.85", "2.35")} * 100.0 + 0.5) / CAST(100.0 AS DOUBLE)"))
        .select("c_custkey", "dist_km")
        .orderBy(asc("dist_km"), asc("c_custkey")).limit(10)
    }),
    "q_geo_radius" -> ((spark, sfDir) => {
      t(spark, sfDir, "customer")
        .withColumn("lat", expr(latSql)).withColumn("lon", expr(lonSql))
        .filter(col("lat").between(33.95, 63.75) &&
          col("lon").between(-19.65, 24.35))
        .withColumn("dist_km",
          expr(s"floor(${havSql("lat", "lon", "48.85", "2.35")} * 100.0 + 0.5) / CAST(100.0 AS DOUBLE)"))
        .filter(col("dist_km") <= 1500.0)
        .select("c_custkey", "dist_km")
        .orderBy(asc("c_custkey"))
    }),
    // exact double on small ints — identical in both engines.
    "q_hist" -> ((spark, sfDir) => {
      val x = t(spark, sfDir, "lineitem")
        .selectExpr("CAST(l_quantity AS BIGINT) AS x")
      val bounds = x.agg(min("x").as("minx"), max("x").as("maxx"))
      x.crossJoin(broadcast(bounds))
        .selectExpr(
          "CAST(floor(CAST((x - minx) * 10 AS DOUBLE) / CAST(maxx - minx + 1 AS DOUBLE)) AS BIGINT) AS bin")
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
        .orderBy("bin")
    }),
    // trailing moving average over the daily event series (Solr
    // `movingAvg`, reference: solr/solrj/src/java/org/apache/solr/client/
    // solrj/io/eval/MovingAverageEvaluator.java): window = current + 6
    // preceding days. The window runs over the POST-AGG series (one row per
    // day), so the single-partition sort is over a tiny frame whatever the
    // corpus size; the heavy lifting is the distributed daily agg.
    "q_moving_avg" -> ((spark, sfDir) => {
      val daily = t(spark, sfDir, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("day").rowsBetween(-6, 0)
      daily
        .withColumn("ma7",
          round(sum("cnt").over(w).cast("double") / count(lit(1)).over(w), 4))
        .orderBy("day")
    }),
    // trailing moving MEDIAN over the daily series (Solr math
    // `movingMedian`): exact interpolated median over the 7-row trailing
    // frame; the window runs over the post-agg series (1 row per day)
    "q_moving_median" -> ((spark, sfDir) => {
      val daily = t(spark, sfDir, "events")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("day").rowsBetween(-6, 0)
      daily
        .withColumn("mm7", expr("percentile(cnt, 0.5)").over(w))
        .orderBy("day")
    }),
    // z-score outlier detection (Solr `zscores` / `outliers` evaluators,
    // reference: solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // NormalizeEvaluator.java): one agg pass for exact integer moments, then
    // a map-only filter against mean + 2.5 sd — the shared-text double math
    // guarantees both engines draw the identical threshold.
    "q_zscore" -> ((spark, sfDir) => {
      val ev = t(spark, sfDir, "events")
        .selectExpr("event_id", "CAST(floor(value * 100) AS BIGINT) AS cents")
      val m = ev.agg(count(lit(1)).as("n"), sum("cents").as("s"),
        sum(col("cents") * col("cents")).as("ss"))
      ev.crossJoin(broadcast(m))
        .filter(expr(s"CAST(cents AS DOUBLE) > $zThresholdExpr"))
        .select("event_id", "cents")
        .orderBy("event_id")
    }),
    // Mann-Whitney U (Solr math mannWhitney, reference: solr/solrj/src/java/
    // org/apache/solr/client/solrj/io/eval/MannWhitneyUEvaluator.java:50-56 →
    // commons-math MannWhitneyUTest: tie-AVERAGED pooled ranks, U1 =
    // sumRank(x) − n1(n1+1)/2, U = max(U1, n1·n2 − U1)). Exactness: ranks are
    // carried in HALF-UNITS — for a distinct value v, rank2(v) = 2·(#pooled
    // below v) + (#tied at v) + 1 = 2·avgRank(v), an exact BIGINT — so every
    // sum is integer and order-independent; the single ÷2 happens once at the
    // end. Scale shape: one groupBy over the value domain (bounded distinct
    // cents), one prefix-sum window over that compressed domain (not the raw
    // rows; at 100 TB this is a range-partitioned prefix sum over value
    // buckets), one scalar agg.
    "q_mannwhitney" -> ((spark, sfDir) => {
      val ev = t(spark, sfDir, "events")
        .filter(col("event_type").isin("click", "view"))
        .selectExpr("event_type", "CAST(floor(value * 100) AS BIGINT) AS cents")
      val byVal = ev.groupBy("cents").agg(
        count(lit(1)).as("c"),
        sum(expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")).as("ca"))
      val w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
      byVal
        .withColumn("cum", coalesce(sum("c").over(w), lit(0L)))
        .withColumn("rank2", lit(2L) * col("cum") + col("c") + lit(1L))
        .agg(sum("ca").as("n1"), sum(col("c") - col("ca")).as("n2"),
          sum(col("ca") * col("rank2")).as("sr2"))
        .selectExpr("n1", "n2", mannWhitneyUExpr)
    }),
    // Two-sample Kolmogorov-Smirnov D (Solr math ks, reference: solr/solrj/
    // src/java/org/apache/solr/client/solrj/io/eval/
    // KolmogorovSmirnovEvaluator.java → commons-math
    // kolmogorovSmirnovStatistic: D = sup_v |ECDF1(v) − ECDF2(v)|).
    // Exactness: the sup is maximized over the cross-multiplied integer
    // |cumA·n2 − cumB·n1| (exact BIGINT), divided by n1·n2 once at the end.
    // Same compressed-value-domain prefix-sum shape as q_mannwhitney.
    "q_ks" -> ((spark, sfDir) => {
      val ev = t(spark, sfDir, "events")
        .filter(col("event_type").isin("click", "view"))
        .selectExpr("event_type", "CAST(floor(value * 100) AS BIGINT) AS cents")
      val byVal = ev.groupBy("cents").agg(
        sum(expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")).as("a"),
        sum(expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END")).as("b"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byVal.agg(sum("a").as("n1"), sum("b").as("n2"))
      byVal
        .withColumn("cumA", sum("a").over(w))
        .withColumn("cumB", sum("b").over(w))
        .crossJoin(broadcast(tot))
        .groupBy("n1", "n2")
        .agg(max(abs(col("cumA") * col("n2") - col("cumB") * col("n1"))).as("num"))
        .selectExpr("n1", "n2", "num", ksExpr)
    }),
    // Distribution-CDF outlier detection (Solr math outliers, reference:
    // solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // OutliersEvaluator.java: keep tuples whose cumulativeProbability under
    // the fitted distribution is < low or > hi) against
    // exponentialDistribution(mean(value)) — CDF(x) = 1 − exp(−x/mean),
    // commons-math ExponentialDistribution.cumulativeProbability. mean is
    // drawn from exact integer cent sums; the CDF text is shared so both
    // engines run the identical IEEE sequence. Map-only after one scalar agg.
    "q_outliers" -> ((spark, sfDir) => {
      val ev = t(spark, sfDir, "events")
        .selectExpr("event_id", "CAST(floor(value * 100) AS BIGINT) AS cents")
      val m = ev.agg(count(lit(1)).as("n"), sum("cents").as("s"))
      ev.crossJoin(broadcast(m))
        .withColumn("cum_prob", expr(expCdfExpr))
        .filter(col("cum_prob") < 0.01 || col("cum_prob") > 0.99)
        .selectExpr("event_id", "cents", "round(cum_prob, 4) AS cum_prob_r")
        .orderBy("event_id")
    }),
    // Paired t-test (Solr math pairedTtest, reference: solr/solrj/src/java/
    // org/apache/solr/client/solrj/io/eval/PairedTTestEvaluator.java →
    // commons-math TTest.pairedT: one-sample t over per-pair differences).
    // Pairs = users with BOTH click and view activity; the paired
    // measurement is the user's click-cents vs view-cents total. The t
    // statistic is drawn from exact integer difference sums (n, Σd, Σd²)
    // through one shared expression. Scale: one user-keyed grouped agg
    // (map-side combined) + one scalar agg.
    "q_paired_ttest" -> ((spark, sfDir) => {
      val ev = t(spark, sfDir, "events")
        .filter(col("event_type").isin("click", "view"))
        .selectExpr("user_id", "event_type", "CAST(floor(value * 100) AS BIGINT) AS cents")
      val byUser = ev.groupBy("user_id").agg(
        sum(expr("CASE WHEN event_type = 'click' THEN cents ELSE 0 END")).as("xc"),
        sum(expr("CASE WHEN event_type = 'view' THEN cents ELSE 0 END")).as("xv"),
        max(expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")).as("hc"),
        max(expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END")).as("hv"))
      byUser.filter(col("hc") === 1 && col("hv") === 1)
        .select((col("xc") - col("xv")).as("d"))
        .agg(count(lit(1)).as("n"), sum("d").as("s"),
          sum(col("d") * col("d")).as("q"))
        .selectExpr("n", pairedTExpr)
    }),
    // Earth-mover's distance (Solr math earthMovers, reference: solr/solrj/
    // src/java/org/apache/solr/client/solrj/io/eval/EarthMoversEvaluator.java
    // → commons-math EarthMoversDistance: total = Σ_k |prefix_k(a − b)|)
    // between the daily click-count and view-count series. Counts are exact
    // BIGINTs, the prefix sum runs over the compressed day domain, the total
    // is an exact integer — no floating point anywhere.
    "q_emd" -> ((spark, sfDir) => {
      val daily = t(spark, sfDir, "events")
        .filter(col("event_type").isin("click", "view"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          sum(expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")).as("a"),
          sum(expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END")).as("b"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("pre", sum(col("a") - col("b")).over(w))
        .agg(count(lit(1)).as("n_days"), sum(abs(col("pre"))).as("emd"))
    }),
    // Vector distance evaluators (Solr math, reference: solr/solrj/src/java/
    // org/apache/solr/client/solrj/io/eval/ManhattanEvaluator.java,
    // ChebyshevDistanceEvaluator.java, EuclideanEvaluator.java,
    // CanberraEvaluator.java — commons-math DistanceMeasure family) between
    // embedding vectors 0 and 1 on the shared floor(x·1000) integer
    // quantization: manhattan/chebyshev exact BIGINT, euclidean = one sqrt
    // of an exact sum, canberra micro-quantized per term (|a−b|/(|a|+|b|),
    // 0 when both are 0 — commons-math's convention) so its sum is
    // order-independent. Map-only over the zipped components.
    "q_distances" -> ((spark, sfDir) => {
      val e = t(spark, sfDir, "embeddings")
        .filter(col("vec_id") <= 1)
        .select(col("vec_id"),
          posexplode(transform(col("embedding"),
            x => floor(x.cast("double") * 1000).cast("long"))).as(Seq("pos", "v")))
      val a = e.filter(col("vec_id") === 0).select(col("pos"), col("v").as("va"))
      val b = e.filter(col("vec_id") === 1).select(col("pos"), col("v").as("vb"))
      a.join(b, "pos")
        .selectExpr("abs(va - vb) AS d", "abs(va) + abs(vb) AS sab")
        .agg(
          sum("d").as("manhattan"),
          max("d").as("chebyshev"),
          sum(col("d") * col("d")).as("eu2"),
          sum(expr(canberraTermExpr)).as("canberra_micro8"))
        .selectExpr("manhattan", "chebyshev",
          "round(sqrt(CAST(eu2 AS DOUBLE)), 4) AS euclidean_r", "canberra_micro8")
    }),
    // Discrete Fourier transform of a time series (Solr math fft, reference:
    // solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // FFTEvaluator.java → commons-math FastFourierTransformer, STANDARD
    // normalization, forward: X_k = Σ_n x_n·e^(−2πikn/N), returned as the
    // real/imaginary pair per bin). Input: the first 32 hourly click-count
    // buckets (N = 32, power of two as the FFT requires). The engine computes
    // the DFT as a distributed sum — each (k, n) product term is
    // micro-quantized to an exact BIGINT so the per-bin sums are
    // order-independent; an executor-local FFT would be O(N log N) per
    // partition, but the distributed-sum shape is the one that scales to
    // series that don't fit one machine, and N=32 makes both identical in
    // cost. Scale: a compressed hour-domain prefix rank + one k-keyed
    // grouped agg (map-side combined).
    "q_fft" -> ((spark, sfDir) => {
      val hourly = t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy("h")
      val series = hourly
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .filter(col("n") < 32).select("n", "x")
      spark.range(32).select(col("id").as("k"))
        .crossJoin(series)
        .selectExpr("k",
          s"CAST(floor(x * cos(2 * pi() * (k * n) / 32) * 1e6) AS BIGINT) AS tr",
          s"CAST(floor(-x * sin(2 * pi() * (k * n) / 32) * 1e6) AS BIGINT) AS ti")
        .groupBy("k")
        .agg(sum("tr").as("re_micro6"), sum("ti").as("im_micro6"))
        .orderBy("k")
    }),
    // Poisson CDF (Solr math poissonDistribution + cumulativeProbability,
    // reference: solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // PoissonDistributionEvaluator.java + CumulativeProbabilityEvaluator.java
    // → P(X ≤ k) = Σ_{i=0..k} e^(−λ)·λ^i/i!). λ = mean daily click count
    // from exact integer sums; the CDF is a per-row sequential fold on the
    // term ratio t_i = t_{i−1}·λ/i (identical op order in both engines, no
    // factorial overflow). k ≥ 1 always (days come from a count groupBy).
    // Map-only after one scalar agg; the fold is O(k) per row.
    "q_poisson" -> ((spark, sfDir) => {
      val daily = t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("k"))
      val m = daily.agg(sum("k").as("s"), count(lit(1)).as("n"))
      daily.crossJoin(broadcast(m))
        .withColumn("lam", expr("CAST(s AS DOUBLE) / n"))
        .withColumn("cdf", expr(
          "aggregate(slice(sequence(0, k), 2, CAST(k AS INT)), " +
            "array(exp(-lam), exp(-lam)), " +
            "(acc, i) -> array(acc[0] * lam / i, acc[1] + acc[0] * lam / i))[1]"))
        .selectExpr("day", "k", "round(cdf, 4) AS cdf_r")
        .orderBy("day")
    }),
    // Sample covariance (Solr math cov, reference: solr/solrj/src/java/org/
    // apache/solr/client/solrj/io/eval/CovarianceEvaluator.java → commons-
    // math Covariance, n−1 denominator) over paired daily click/view counts.
    // cov = (n·Σxy − Σx·Σy) / (n·(n−1)): numerator and denominator are both
    // exact BIGINTs from one grouped agg + one scalar agg, so the single
    // IEEE division is bit-identical cross-engine — no float accumulation.
    "q_cov" -> ((spark, sfDir) => {
      val daily = t(spark, sfDir, "events")
        .filter(col("event_type").isin("click", "view"))
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(when(col("event_type") === "click", 1)).as("x"),
          count(when(col("event_type") === "view", 1)).as("y"))
      daily.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"))
        .selectExpr("n",
          "CAST(n * sxy - sx * sy AS DOUBLE) / (n * (n - 1)) AS cov")
    }),
    // Derivative of the linear interpolation (Solr math derivative(lerp(x)),
    // reference: solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // DerivativeEvaluator.java over LerpEvaluator.java — the derivative of a
    // piecewise-linear interpolant is the per-segment slope): on the unit
    // hourly grid the slope is the exact integer forward difference. One
    // windowed lead over the 32-point series — no collect, no UDF.
    "q_derivative" -> ((spark, sfDir) => {
      val hourly = t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy("h")
      val series = hourly
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .filter(col("n") < 32).select("n", "x")
      val w2 = Window.orderBy("n")
      series.withColumn("dy", lead(col("x"), 1).over(w2) - col("x"))
        .filter(col("dy").isNotNull)
        .select(col("n"), col("dy").cast("long").as("dy"))
        .orderBy("n")
    }),
    // Definite integral of the linear interpolant (Solr math integrate,
    // reference: solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // IntegrateEvaluator.java — Romberg over the interpolated function; for
    // a piecewise-linear interpolant the trapezoid rule IS exact): total =
    // (2·Σx − x_first − x_last)/2 — exact BIGINT numerator, one division.
    "q_integrate" -> ((spark, sfDir) => {
      val hourly = t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy("h")
      val series = hourly
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .filter(col("n") < 32).select("n", "x")
      val mx = series.agg(max("n").as("mx"))
      series.crossJoin(broadcast(mx))
        .agg(max("mx").as("m"),
          (sum(col("x")) * 2
            - sum(when(col("n") === 0, col("x")).otherwise(0))
            - sum(when(col("n") === col("mx"), col("x")).otherwise(0))).as("num"))
        .selectExpr("m", "CAST(num AS DOUBLE) / 2 AS integral")
    }),
    // Binomial CDF (Solr math binomialDistribution + cumulativeProbability,
    // reference: solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // BinomialDistributionEvaluator.java, CumulativeProbabilityEvaluator.java
    // → commons-math BinomialDistribution): P(X ≤ 5), n = 16 trials, p =
    // clicks/(clicks+views) (one exact division). Zero libm: (1−p)^16 is a
    // 16-step sequential product fold and each successive PMF term is
    // t_i = t_{i−1}·(17−i)/i·(p/(1−p)) — identical op order in DuckDB.
    "q_binomial" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .agg(count(when(col("event_type") === "click", 1)).as("c"),
          count(when(col("event_type") === "view", 1)).as("v"))
        .selectExpr("CAST(c AS DOUBLE) / (c + v) AS p")
        .selectExpr("p",
          "aggregate(sequence(1, 16), CAST(1.0 AS DOUBLE), (acc, i) -> acc * (1.0 - p)) AS t0")
        .selectExpr("round(p, 4) AS p_r",
          "round(aggregate(sequence(1, 5), array(t0, t0), " +
            "(acc, i) -> array(acc[0] * (17 - i) / i * (p / (1.0 - p)), " +
            "acc[1] + acc[0] * (17 - i) / i * (p / (1.0 - p))))[1], 4) AS cdf5")
    }),
    // G-test of independence (Solr math gtestDataSet, reference: solr/solrj/
    // src/java/org/apache/solr/client/solrj/io/eval/GTestDataSetEvaluator.java
    // → commons-math GTest: G = 2·Σ O·ln(O/E), E = rowTot·colTot/N) over the
    // lang × source contingency table — the log-likelihood-ratio twin of
    // q_chisq, same exact-count plumbing, per-cell micro-nat quantization
    // keeps the sum order-independent. Zero cells contribute 0 (absent from
    // the grouped observation table, matching 0·ln 0 → 0).
    "q_gtest" -> ((spark, sfDir) => {
      val obs = t(spark, sfDir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val rowT = obs.groupBy("lang").agg(sum("o").as("rt"))
      val colT = obs.groupBy("source").agg(sum("o").as("ct"))
      val tot = obs.agg(sum("o").as("n"),
        countDistinct("lang").as("nl"), countDistinct("source").as("ns"))
      obs.join(rowT, "lang").join(colT, "source").crossJoin(broadcast(tot))
        .selectExpr(
          "CAST(floor(o * ln(CAST(o AS DOUBLE) * n / (CAST(rt AS DOUBLE) * ct))" +
            " * 1000000.0) AS BIGINT) AS cell_micro",
          "(nl - 1) * (ns - 1) AS dof")
        .groupBy("dof").agg((sum("cell_micro") * 2).as("g_micro"))
        .select(col("dof"), col("g_micro"))
    }),
    // min-max scaling (Solr math minMaxScale, reference: solr/solrj/src/
    // java/org/apache/solr/client/solrj/io/eval/MinMaxScaleEvaluator.java:
    // (x − min)/(max − min) onto [0, 1]). Hourly click counts; min/max are
    // exact integers so each scaled value is ONE IEEE division of exact
    // operands. Map-only after a broadcast scalar agg.
    "q_minmax" -> ((spark, sfDir) => {
      val hourly = t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("x"))
      val m = hourly.agg(min("x").as("mn"), max("x").as("mx"))
      hourly.crossJoin(broadcast(m))
        .selectExpr("hour", "x",
          "CAST(x - mn AS DOUBLE) / (mx - mn) AS scaled")
        .orderBy("hour")
    }),
    // Cross-correlation delay estimation (Solr math finddelay, reference:
    // solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // FindDelayEvaluator.java:55-75: convolve(a, reverse(b)), argmax of
    // |conv| with the FIRST index winning ties, delay = idx + 1 − len(b)).
    // Series: the first 24 hour-buckets of the event stream, a = click
    // counts, b = view counts (0-filled on the shared hour domain). All
    // integer products — the correlation surface is exact and the argmax
    // deterministic. Scale: the lag join is a bounded 24×24 fan-out keyed
    // by lag index, one grouped agg.
    "q_finddelay" -> ((spark, sfDir) => {
      val w = Window.orderBy("hour")
      val hourly = t(spark, sfDir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(
          sum(expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END")).as("x"),
          sum(expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END")).as("y"))
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .filter(col("n") < 24)
      val a = hourly.select(col("n").as("k"), col("x"))
      val b = hourly.select(col("n").as("m"), col("y"))
      a.crossJoin(b)
        .selectExpr("k + (24 - 1 - m) AS idx", "x * y AS p")
        .groupBy("idx").agg(sum("p").as("c"))
        .orderBy(abs(col("c")).desc, col("idx").asc)
        .limit(1)
        .selectExpr("CAST(idx + 1 - 24 AS BIGINT) AS delay", "abs(c) AS max_abs")
    }),
    // TSV source (TupStream's TSV sibling of CsvStream — solr/solrj/src/
    // java/org/apache/solr/client/solrj/io/stream/TsvStream semantics):
    // stage the region dim as tab-separated text (untimed landing-zone
    // drop), aggregate off the TSV scan; the oracle reads parquet.
    "q_tsv" -> ((spark, sfDir) => {
      val tsvPath = landing(sfDir, "region.tsv")(p =>
        t(spark, sfDir, "region")
          .select("r_regionkey", "r_name")
          .write.option("header", "true")
          .option("sep", "\t").csv(p))
      spark.read.option("header", "true").option("sep", "\t")
        .schema("r_regionkey INT, r_name STRING")
        .csv(tsvPath)
        .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")
    }),
    // Linear interpolation at interval midpoints (Solr math lerp, reference:
    // solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // LerpEvaluator.java → commons-math LinearInterpolator): hourly click
    // counts sampled at half-hours — (y_i + y_{i+1})/2, one exact division
    // of integer operands per row. Window lead over the compressed hour
    // domain, map-only otherwise.
    "q_lerp" -> ((spark, sfDir) => {
      val w = Window.orderBy("hour")
      t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("x"))
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .withColumn("xn", lead("x", 1).over(w))
        .filter(col("xn").isNotNull)
        .selectExpr("n", "CAST(x + xn AS DOUBLE) / 2 AS mid")
        .orderBy("n")
    }),
    // Multivariate OLS (Solr math olsRegress, reference: solr/solrj/src/
    // java/org/apache/solr/client/solrj/io/eval/OLSRegressionEvaluator.java
    // → commons-math OLSMultipleLinearRegression): price cents on
    // (quantity, discount cents) via the 3×3 normal equations solved by
    // Cramer over exact BIGINT moment sums — the q_polyfit discipline with
    // two regressors. One distributed agg pass, driver-free.
    "q_ols" -> ((spark, sfDir) => {
      val m = t(spark, sfDir, "lineitem")
        .select(col("l_quantity").cast("long").as("x1"),
          floor(col("l_discount") * 100).cast("long").as("x2"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
        .agg(count(lit(1)).as("n0"),
          sum("x1").as("a1"), sum("x2").as("a2"),
          sum(col("x1") * col("x1")).as("a11"),
          sum(col("x1") * col("x2")).as("a12"),
          sum(col("x2") * col("x2")).as("a22"),
          sum("y").as("b0"), sum(col("x1") * col("y")).as("b1"),
          sum(col("x2") * col("y")).as("b2"))
      val n = col("n0").cast("double")
      val s1 = col("a1").cast("double"); val s2 = col("a2").cast("double")
      val s11 = col("a11").cast("double"); val s12 = col("a12").cast("double")
      val s22 = col("a22").cast("double")
      val t0 = col("b0").cast("double"); val t1 = col("b1").cast("double")
      val t2 = col("b2").cast("double")
      val d = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
      val c0 = (t0 * (s11 * s22 - s12 * s12) - s1 * (t1 * s22 - s12 * t2) + s2 * (t1 * s12 - s11 * t2)) / d
      val c1 = (n * (t1 * s22 - s12 * t2) - t0 * (s1 * s22 - s12 * s2) + s2 * (s1 * t2 - t1 * s2)) / d
      val c2 = (n * (s11 * t2 - t1 * s12) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s12 - s11 * s2)) / d
      m.select(round(c0, 4).as("c0"), round(c1, 4).as("c1"), round(c2, 4).as("c2"))
    }),
    // Akima spline interpolation at interval midpoints (Solr math akima,
    // reference: solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // AkimaEvaluator.java → commons-math AkimaSplineInterpolator): tangent
    // t_i = (|m_{i+1}−m_i|·m_{i−1} + |m_{i−1}−m_{i−2}|·m_i) / (Σ weights),
    // equal-slopes degenerate case → (m_{i−1}+m_i)/2; Hermite cubic at
    // u = 0.5 collapses to 0.5·y_i + 0.125·t_i + 0.5·y_{i+1} − 0.125·t_{i+1}.
    // Interior intervals only (the reference's end handling switches to
    // three-point differentiation — documented subset). Slopes/weights are
    // exact integers on the uniform hour grid; the 0/0 test is exact. All
    // window lag/lead over the compressed hour domain — map-only, local.
    "q_akima" -> ((spark, sfDir) => {
      val w = Window.orderBy("hour")
      t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("x"))
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .withColumn("xn", lead("x", 1).over(w))
        .withColumn("m", col("xn") - col("x"))
        .withColumn("mm2", lag("m", 2).over(w))
        .withColumn("mm1", lag("m", 1).over(w))
        .withColumn("mp1", lead("m", 1).over(w))
        .withColumn("mp2", lead("m", 2).over(w))
        .filter(col("mm2").isNotNull && col("mp2").isNotNull)
        .selectExpr("n",
          s"round(0.5 * x + 0.125 * ${akimaT("mm2", "mm1", "m", "mp1")} + " +
            s"0.5 * xn - 0.125 * ${akimaT("mm1", "m", "mp1", "mp2")}, 4) AS mid_r")
        .orderBy("n")
    }),
    "q_timediff" -> (timediffQuery(_, _)),
    "q_moving_mad" -> (movingMadQuery(_, _)),
    // HashQParserPlugin worker partition filter (reference: solr/core/src/
    // java/org/apache/solr/search/HashQParserPlugin.java — ParallelStream
    // gives worker w of N the docs with hash(key) % N == w, a disjoint and
    // complete partition of the result set): deterministic md5-derived
    // 4-way split of orders; per-worker counts (their sum is the full
    // table, checked by the oracle values). Map-only + one grouped count.
    "q_hash_partition" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders")
        .select((ascii(substring(md5(col("o_orderkey").cast("string")), 1, 1)) % 4)
          .cast("long").as("worker"))
        .groupBy("worker").agg(count(lit(1)).as("cnt"))
        .orderBy("worker")
    }),
    // Correlation MATRIX (Solr math corr(matrix), reference: solr/solrj/
    // src/java/org/apache/solr/client/solrj/io/eval/CorrelationEvaluator
    // .java — matrix mode computes pairwise Pearson over the columns of a
    // matrix): ONE distributed agg collects exact BIGINT moments for all
    // three columns simultaneously (map-side combined — a single pass over
    // the fact table no matter how many columns), then each upper-triangle
    // cell is a fixed shared-text expression over those sums. At 100 TB
    // this stays one scan + one 10-value reduce.
    "q_corr_matrix" -> ((spark, sfDir) => {
      val m = t(spark, sfDir, "lineitem").selectExpr(
        "CAST(l_quantity AS BIGINT) AS x1",
        "CAST(round(l_extendedprice) AS BIGINT) AS x2",
        "CAST(round(l_discount * 100) AS BIGINT) AS x3")
        .agg(count(lit(1)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"), sum("x3").as("s3"),
          sum(col("x1") * col("x1")).as("q11"),
          sum(col("x2") * col("x2")).as("q22"),
          sum(col("x3") * col("x3")).as("q33"),
          sum(col("x1") * col("x2")).as("q12"),
          sum(col("x1") * col("x3")).as("q13"),
          sum(col("x2") * col("x3")).as("q23"))
      m.selectExpr(
        s"stack(3, 'x1:x2', ${corrCellExpr(1, 2)}, " +
          s"'x1:x3', ${corrCellExpr(1, 3)}, " +
          s"'x2:x3', ${corrCellExpr(2, 3)}) AS (pair, corr)")
        .orderBy("pair")
    }),
    // loess local regression (Solr math `loess`, reference: solr/solrj/
    // src/java/org/apache/solr/client/solrj/io/eval/LoessEvaluator.java →
    // commons-math LoessInterpolator.smooth): for each point of the
    // 32-hour click series, a tricube-weighted linear fit over its 7
    // nearest neighbours (bandwidth 7/32; the commons-math denominator is
    // the distance to the farthest window point), evaluated at the point.
    // Zero robustness iterations (Solr's default robustIterations=0... the
    // evaluator exposes them but the default smooth() path is one pass).
    // Exactness: tricube weights are floor(·1e4) integers (u³ is ONE IEEE
    // division of exact cubes), all five weighted moments are exact BIGINT
    // sums, the fitted intercept is ONE division of exact operands — the
    // established cross-engine discipline. Scale shape: the window pair
    // expansion is a bounded 7-way fan-out (a windowed frame at scale),
    // one grouped agg — never a collect.
    "q_loess" -> ((spark, sfDir) => {
      val hourly = t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy("h")
      val series = hourly
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .filter(col("n") < 32).select("n", "x")
      val a = series.select(col("n").as("i"))
      val b = series.select(col("n").as("j"), col("x").as("yj"))
      a.join(b, expr(
          "j BETWEEN greatest(0, least(i - 3, 25)) AND greatest(0, least(i - 3, 25)) + 6"))
        .selectExpr("i", "j - i AS xr", "yj",
          "abs(j - i) AS d",
          "greatest(i - greatest(0, least(i - 3, 25)), greatest(0, least(i - 3, 25)) + 6 - i) AS dmax")
        .withColumn("u3",
          expr("CAST(d * d * d AS DOUBLE) / CAST(dmax * dmax * dmax AS DOUBLE)"))
        .withColumn("wq",
          expr("CAST(floor((1.0 - u3) * (1.0 - u3) * (1.0 - u3) * 1e4) AS BIGINT)"))
        .groupBy("i")
        .agg(sum("wq").as("sw"), sum(expr("wq * xr")).as("sx"),
          sum(expr("wq * yj")).as("sy"), sum(expr("wq * xr * xr")).as("sxx"),
          sum(expr("wq * xr * yj")).as("sxy"))
        .selectExpr("i AS n",
          "CAST(sxx * sy - sx * sxy AS DOUBLE) / CAST(sw * sxx - sx * sx AS DOUBLE) AS loess")
        .orderBy("n")
    }),
    // describe (Solr math, reference: solr/solrj/src/java/org/apache/solr/
    // client/solrj/io/eval/DescribeEvaluator.java:50-65 — commons-math
    // DescriptiveStatistics dump: N/min/max/sum/sumsq/mean/var/popVar/
    // stdev/geometricMean/skewness/kurtosis). All raw moments are EXACT
    // BIGINT sums (one hash agg, map-side partials); mean is one division
    // of exact operands; variance/skew/kurtosis reuse the q_skewness
    // central-moment expression tree (identical text on the oracle side);
    // geometricMean = exp(mean ln) over micro-nat integer log sums — the
    // established cross-engine ln discipline. round4 on the non-exact
    // outputs. One aggregate pass; scales as a plain agg.
    "q_describe" -> ((spark, sfDir) => {
      val m = t(spark, sfDir, "lineitem")
        .select(col("l_quantity").cast("long").as("x"))
        .agg(count(lit(1)).as("n0"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          sum(col("x")).as("s1l"), sum(expr("x*x")).as("s2l"),
          sum(expr("x*x*x")).as("s3l"), sum(expr("x*x*x*x")).as("s4l"),
          sum(expr("CAST(floor(ln(CAST(x AS DOUBLE)) * 1e6) AS BIGINT)"))
            .as("lnq"))
      val n = col("n0").cast("double")
      val s1 = col("s1l").cast("double"); val s2 = col("s2l").cast("double")
      val s3 = col("s3l").cast("double"); val s4 = col("s4l").cast("double")
      val mean = s1 / n
      val c2 = s2 - mean * s1
      val c3 = s3 - (lit(3.0) * mean) * s2 + ((lit(2.0) * mean) * mean) * s1
      val c4 = s4 - (lit(4.0) * mean) * s3 + ((lit(6.0) * mean) * mean) * s2 -
        (((lit(3.0) * mean) * mean) * mean) * s1
      val v = c2 / (n - lit(1.0))
      val skew = (n / ((n - lit(1.0)) * (n - lit(2.0)))) * c3 / (v * sqrt(v))
      val kurt = (n * (n + lit(1.0)) / (((n - lit(1.0)) * (n - lit(2.0))) * (n - lit(3.0)))) *
        c4 / (v * v) -
        (lit(3.0) * (n - lit(1.0))) * (n - lit(1.0)) / ((n - lit(2.0)) * (n - lit(3.0)))
      m.select(col("n0").as("n"), col("min_x"), col("max_x"),
        col("s1l").as("sum_x"), col("s2l").as("sumsq_x"),
        mean.as("mean_x"),
        round(v, 4).as("var_samp_x"), round(c2 / n, 4).as("var_pop_x"),
        round(sqrt(v), 4).as("stdev_x"),
        round(exp((col("lnq").cast("double") / lit(1e6)) / n), 4)
          .as("geo_mean_x"),
        round(skew, 4).as("skewness_x"), round(kurt, 4).as("kurtosis_x"))
    }),
    // mode (Solr math, reference: solr/solrj/src/java/org/apache/solr/
    // client/solrj/io/eval/ModeEvaluator.java:50-57 → commons-math
    // StatUtils.mode — ALL values tied at the max frequency, ascending):
    // per-returnflag value counts, window max per group, keep the ties.
    // Exact integer counts; one groupBy + one window. Scales: the window
    // partitions by group key, never a global single partition.
    "q_mode" -> ((spark, sfDir) => {
      val c = t(spark, sfDir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
        .groupBy("l_returnflag", "x").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("l_returnflag")
      c.withColumn("mx", max(col("cnt")).over(w))
        .filter(col("cnt") === col("mx"))
        .select(col("l_returnflag"), col("x").as("mode_x"), col("cnt"))
        .orderBy("l_returnflag", "mode_x")
    }),
    // frequencyTable (Solr math, reference: solr/solrj/src/java/org/apache/
    // solr/client/solrj/io/eval/FrequencyTableEvaluator.java:61-85 —
    // commons-math Frequency bins: per distinct value, count / cumFreq /
    // pct / cumPct in value order): exact integer counts and cumulative
    // sums; pct and cumPct are single IEEE divisions of exact operands.
    // The cumulative window runs over ~50 distinct values (the AGGREGATED
    // table), not the raw rows — single-partition cost is bounded by the
    // value cardinality at any scale.
    "q_freq_table" -> ((spark, sfDir) => {
      val c = t(spark, sfDir, "lineitem")
        .select(col("l_quantity").cast("long").as("value"))
        .groupBy("value").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      c.withColumn("cum_freq", sum(col("cnt")).over(w))
        .withColumn("tot", sum(col("cnt")).over(wall))
        .select(col("value"), col("cnt"),
          col("cum_freq"),
          (col("cnt").cast("double") / col("tot").cast("double")).as("pct"),
          (col("cum_freq").cast("double") / col("tot").cast("double"))
            .as("cum_pct"))
        .orderBy("value")
    }),
    // meanDifference (Solr math, reference: solr/solrj/src/java/org/apache/
    // solr/client/solrj/io/eval/MeanDifferenceEvaluator.java:50-53 →
    // commons-math StatUtils.meanDifference = mean of paired differences):
    // per-day click vs view counts are the pairs; the difference sum is an
    // exact BIGINT, the mean is ONE division. Two grouped aggs, map-side
    // partials.
    "q_mean_diff" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .groupBy(date_trunc("day", col("ts")).as("d"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("a"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("b"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("a") - col("b")).as("diff_sum"))
        .select(col("n_days"), col("diff_sum"),
          (col("diff_sum").cast("double") / col("n_days").cast("double"))
            .as("mean_diff"))
    }),
    // markovChain (Solr math, reference: solr/solrj/src/java/org/apache/
    // solr/client/solrj/io/eval/MarkovChainEvaluator.java:56-108 — a
    // transition matrix drives EnumeratedIntegerDistribution sampling).
    // sample() is RNG; the deterministic law it draws from is the matrix
    // itself, so the oracle pins (a) the estimated transition matrix from
    // per-user event sequences (exact counts, ONE division per cell) and
    // (b) the two-step distribution from state 'click' — each path term
    // P(click,s)·P(s,t) is a product of two exact-operand divisions,
    // micro-quantized to floor(1e9·x) integers before the sum so the
    // addition order can never perturb the result. Transitions come from
    // one lag window per user (bounded per-key state); two grouped aggs.
    "q_markov" -> ((spark, sfDir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = t(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("s"))
        .withColumn("t", lead(col("s"), 1).over(w))
        .filter(col("t").isNotNull)
      val cnt = pairs.groupBy("s", "t").agg(count(lit(1)).as("c"))
      val rw = Window.partitionBy("s")
      val p = cnt.withColumn("rt", sum(col("c")).over(rw))
        .select(col("s"), col("t"),
          (col("c").cast("double") / col("rt").cast("double")).as("p"))
      val from = p.filter(col("s") === "click")
        .select(col("t").as("mid"), col("p").as("p1"))
      val step2 = from.join(p.select(col("s").as("mid"), col("t"),
          col("p").as("p2")), "mid")
        .groupBy("t")
        .agg(sum(expr("CAST(floor(p1 * p2 * 1e9) AS BIGINT)")).as("micro"))
        .select(col("t").as("state"),
          (col("micro").cast("double") / lit(1e9)).as("p_two_step"))
      p.filter(col("s") === "click").select(col("t").as("state"),
          col("p").as("p_one_step"))
        .join(step2, "state")
        .select(col("state"), col("p_one_step"), col("p_two_step"))
        .orderBy("state")
    }),
    // geometricDistribution + cumulativeProbability (Solr math, reference:
    // solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // GeometricDistributionEvaluator.java:36-41 → commons-math
    // GeometricDistribution: CDF(k) = 1 − (1−p)^(k+1)): p is the observed
    // purchase share (one division of exact counts); the power is an
    // explicit multiplication chain — zero libm, identical fold order in
    // DuckDB, exactly the q_binomial discipline.
    "q_geometric" -> ((spark, sfDir) => {
      val base = t(spark, sfDir, "events")
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("k"))
        .selectExpr(
          "1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS q")
      base.selectExpr(
          """stack(6,
            | 0, 1.0 - q,
            | 1, 1.0 - q*q,
            | 2, 1.0 - q*q*q,
            | 3, 1.0 - q*q*q*q,
            | 4, 1.0 - q*q*q*q*q,
            | 5, 1.0 - q*q*q*q*q*q) AS (k, cdf)""".stripMargin)
        .orderBy("k")
    }),
    // rank transform (Solr math `rank`, reference: solr/solrj/src/java/org/
    // apache/solr/client/solrj/io/eval/RankEvaluator.java → commons-math
    // NaturalRanking, ties averaged): the mannWhitney half-unit discipline
    // standalone — 2·rank stays an exact BIGINT (2·cum + c + 1), the
    // averaged rank is ONE division by 2. One grouped agg + one cumulative
    // window over the aggregated value table (bounded by value cardinality).
    "q_rank" -> ((spark, sfDir) => {
      val byVal = t(spark, sfDir, "events")
        .filter(col("event_type") === "purchase")
        .selectExpr("CAST(floor(value * 100) AS BIGINT) AS cents")
        .groupBy("cents").agg(count(lit(1)).as("c"))
      val w = Window.orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
      byVal.withColumn("cum", coalesce(sum("c").over(w), lit(0L)))
        .selectExpr("cents", "c",
          "CAST(2 * cum + c + 1 AS DOUBLE) / 2.0 AS avg_rank")
        .orderBy("cents").limit(20)
    }),
    // vector norms (Solr math l1norm / linfnorm / norm, reference:
    // solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // L1NormEvaluator.java, LInfNormEvaluator.java, NormEvaluator.java →
    // commons-math L1/LInf/L2): over floor(x*1000)-quantized embeddings —
    // L1 and L∞ are exact BIGINTs, L2 is round4(sqrt of an exact sum).
    // Map-only per row.
    "q_vector_norms" -> ((spark, sfDir) => {
      t(spark, sfDir, "embeddings")
        .filter(col("vec_id") < 5)
        .select(col("vec_id"), transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("v"))
        .select(col("vec_id"),
          aggregate(col("v"), lit(0L), (a, x) => a + abs(x)).as("l1"),
          aggregate(col("v"), lit(0L), (a, x) => greatest(a, abs(x)))
            .as("linf"),
          round(sqrt(aggregate(col("v"), lit(0L), (a, x) => a + x * x)
            .cast("double")), 4).as("l2"))
        .orderBy("vec_id")
    }),
    // Solr date math (operators/DateMath scaladoc — reference: solr/core/
    // src/java/org/apache/solr/util/DateMathParser.java:46-68 — NOW with
    // left-to-right +N/-N adds and /unit round-down, UTC): six expressions
    // against a fixed anchor, each a pure typed map like the analyzer chain
    // (no UDF registration, no driver loop); output epoch seconds so both
    // engines hash integers
    "q_datemath" -> ((spark, sfDir) => {
      import spark.implicits._
      val anchor = java.time.Instant.parse("2024-03-15T13:45:30Z")
      Seq("NOW/DAY", "NOW/HOUR+30MINUTES", "NOW+6MONTHS+3DAYS/DAY",
          "NOW-1YEAR/MONTH", "NOW+90DAYS", "NOW/YEAR").toDS()
        .map(e =>
          (e, graft.operators.DateMath.eval(anchor, e).getEpochSecond))
        .toDF("expr", "epoch_s")
        .orderBy("expr")
    }),
    // normalizeSum (Solr math, reference: solr/solrj/src/java/org/apache/
    // solr/client/solrj/io/eval/NormalizeSumEvaluator.java — scale a
    // vector so it sums to 1): per-lang doc counts over the corpus, each
    // divided once by the exact total — a single IEEE division on exact
    // BIGINT operands, identical in both engines. One grouped agg + one
    // 1-row broadcast.
    "q_normalize" -> ((spark, sfDir) => {
      val counts = t(spark, sfDir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
      counts.crossJoin(broadcast(counts.agg(sum("cnt").as("tot"))))
        .selectExpr("lang", "CAST(cnt AS DOUBLE) / tot AS share")
        .orderBy("lang")
    }),
    // Solr Analytics component expression request (solr/contrib/analytics/
    // src/java/org/apache/solr/analytics/AnalyticsExpression.java; mapping
    // functions DivideFunction/SubtractFunction/IfFunction/ComparisonFunction
    // over reductions SumFunction/CountFunction/MaxFunction/MinFunction/
    // UniqueFunction, grouped by a value facet): mean = div(sum,count) as a
    // single IEEE division of the exact integer-cents sum; spread =
    // sub(max,min); unique = countDistinct; label = if(gt(count,1000),...).
    // One hash aggregation, map-side partials — the whole expression tree
    // folds into the agg projection.
    "q_analytics_expr" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          (sum(expr(cents)).cast("double") / count(lit(1))).as("mean_cents"),
          (max(expr(cents)) - min(expr(cents))).as("spread_cents"),
          countDistinct("l_suppkey").as("uniq_supp"),
          when(count(lit(1)) > 1000, lit("big")).otherwise(lit("small"))
            .as("size_label"))
        .orderBy("l_returnflag")
    }),
    // CurrencyFieldType with asymmetric exchange rates (solr/core/src/java/
    // org/apache/solr/schema/CurrencyFieldType.java:54 +
    // FileExchangeRateProvider / currency.xml semantics — USD->EUR and
    // EUR->USD are INDEPENDENT rates, not reciprocals): order totals stored
    // in USD cents, range-filtered in EUR. The rate table is a 2-row
    // broadcast; conversion = BIGINT cents x BIGINT rate-micros, exact.
    "q_currency" -> ((spark, sfDir) => {
      import spark.implicits._
      val rates = Seq(("USD", "EUR", 882000L), ("EUR", "USD", 1120000L))
        .toDF("from_cur", "to_cur", "rate_micro")
      t(spark, sfDir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("usd_cents"))
        .crossJoin(broadcast(rates.filter(col("from_cur") === "USD" &&
          col("to_cur") === "EUR")))
        .withColumn("eur_micros", col("usd_cents") * col("rate_micro"))
        .filter(col("eur_micros") >= lit(8800000000000L) &&
          col("eur_micros") < lit(8900000000000L))
        .select(col("o_orderkey"), col("usd_cents"), col("eur_micros"))
        .orderBy("o_orderkey")
    }),
    // SQL handler join (solr/core/src/java/org/apache/solr/handler/sql/
    // SolrSchema.java + the Calcite SQL interface — Solr's /sql endpoint
    // compiles JOIN/GROUP BY onto streaming expressions; here the ANSI text
    // goes straight to Catalyst): segment revenue via orders⋈customer in
    // integer cents.
    "q_sql_join" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders").createOrReplaceTempView("v_orders")
      t(spark, sfDir, "customer").createOrReplaceTempView("v_customer")
      spark.sql(
        """SELECT c.c_mktsegment AS seg, COUNT(*) AS cnt,
          |  SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS sum_cents
          |FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
          |GROUP BY c.c_mktsegment ORDER BY seg""".stripMargin)
    }),
    // facet2D (solr/solrj/src/java/org/apache/solr/client/solrj/io/stream/
    // Facet2DStream.java — a two-dimensional facet grid where EACH
    // dimension is independently limited to its top buckets, unlike pivot's
    // nested drill): top-3 langs × top-2 sources by count, the grid
    // restricted to the limited dimension values. Two tiny top-N broadcast
    // sets prune the single grouped count.
    "q_facet2d" -> ((spark, sfDir) => {
      val d = t(spark, sfDir, "documents")
      val topLang = d.groupBy("lang").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("lang")).limit(3).select("lang")
      val topSrc = d.groupBy("source").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("source")).limit(2).select("source")
      d.join(broadcast(topLang), "lang")
        .join(broadcast(topSrc), "source")
        .groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "source")
    }),
    // Correlation significance (solr/solrj/src/java/org/apache/solr/client/
    // solrj/io/eval/CorrelationSignificanceEvaluator.java — the t-statistic
    // t = r·sqrt((n−2)/(1−r²)) behind the correlation p-value): unrounded r
    // over the exact q_corr moments, both emitted in floor-quantized units.
    "q_corr_significance" -> ((spark, sfDir) => {
      t(spark, sfDir, "lineitem")
        .selectExpr("CAST(l_quantity AS BIGINT) AS x",
          "CAST(round(l_extendedprice) AS BIGINT) AS y")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .selectExpr(
          s"CAST(floor(($rRawExpr) * 1e8) AS BIGINT) AS r_micro8",
          s"CAST(floor((($rRawExpr) * sqrt((CAST(n AS DOUBLE) - 2.0) " +
            s"/ (1.0 - ($rRawExpr) * ($rRawExpr)))) * 1e6) AS BIGINT) AS t_micro6")
    }),
    // Weibull CDF, shape k=2 (solr/solrj/src/java/org/apache/solr/client/
    // solrj/io/eval/WeibullDistributionEvaluator.java +
    // CumulativeProbabilityEvaluator.java): scale² fitted as the exact
    // second moment of quantity, CDF(x) = 1 − e^(−x²/λ²) at five fixed
    // points — x² exact integers, one division, one exp (bit-compatible
    // cross-engine, same as the Poisson/logit rows).
    "q_weibull" -> ((spark, sfDir) => {
      val m = t(spark, sfDir, "lineitem")
        .selectExpr("CAST(l_quantity AS BIGINT) AS x")
        .agg(count(lit(1)).as("n"), sum(col("x") * col("x")).as("sxx"))
        .selectExpr("CAST(sxx AS DOUBLE) / n AS lsq")
      val xs = spark.range(1, 6).selectExpr("id * 10 AS x0")
      xs.crossJoin(broadcast(m))
        .selectExpr("x0",
          "CAST(floor((1.0 - exp(-(CAST(x0 * x0 AS DOUBLE) / lsq))) * 1e8) AS BIGINT) AS cdf_micro8")
        .orderBy("x0")
    }),
    // getBarycenter / getCenter (solr/solrj/src/java/org/apache/solr/client/
    // solrj/io/eval/GetBarycenterEvaluator.java, GetCenterEvaluator.java —
    // centroid of a 2-D point cloud + its enclosing spread): coordinate
    // sums in exact centi-degree BIGINTs (means = single divisions), spread
    // = max haversine from the centroid in floored centi-km (max is
    // order-independent). One aggregate + one map-side distance pass.
    "q_barycenter" -> ((spark, sfDir) => {
      val pts = t(spark, sfDir, "customer")
        .withColumn("latc", expr("(c_custkey * 7919) % 17000 - 8500"))
        .withColumn("lonc", expr("(c_custkey * 104729) % 36000 - 18000"))
      val c = pts.agg(count(lit(1)).as("n"),
        sum("latc").as("slat"), sum("lonc").as("slon"))
        .select(col("n"),
          (col("slat").cast("double") / col("n") / 100.0).as("clat"),
          (col("slon").cast("double") / col("n") / 100.0).as("clon"))
      pts.withColumn("lat", expr(latSql)).withColumn("lon", expr(lonSql))
        .crossJoin(broadcast(c))
        .withColumn("d", expr(
          s"floor(${havSql("lat", "lon", "clat", "clon")} * 100.0 + 0.5)"))
        .groupBy("n", "clat", "clon")
        .agg(max("d").cast("long").as("max_dist_centikm"))
        .select(col("n"), col("clat"), col("clon"), col("max_dist_centikm"))
    }),
    // getArea over a data-defined polygon (solr/solrj/src/java/org/apache/
    // solr/client/solrj/io/eval/GetAreaEvaluator.java — area of a 2-D
    // region): the closed polyline through the first 5 customers' points in
    // key order, shoelace formula on exact centi-degree integers — 2·area
    // is an exact BIGINT, no floating point anywhere.
    "q_poly_area" -> ((spark, sfDir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("c_custkey")
      val pts = t(spark, sfDir, "customer")
        .orderBy("c_custkey").limit(5)
        .withColumn("x", expr("(c_custkey * 7919) % 17000 - 8500"))
        .withColumn("y", expr("(c_custkey * 104729) % 36000 - 18000"))
        .withColumn("i", row_number().over(w))
      val nxt = pts.select(col("i").as("j"), col("x").as("xn"), col("y").as("yn"))
      pts.join(nxt, pmod(col("i"), lit(5)) + 1 === col("j"))
        .agg(abs(sum(col("x") * col("yn") - col("xn") * col("y"))).as("twice_area"))
    }),
    // Regression goodness-of-fit (solr/solrj/src/java/org/apache/solr/
    // client/solrj/io/eval/RegressionEvaluator.java exposes RSquared; RSS/
    // TSS from the fitted OLS): per-row residuals against the q_ols
    // coefficients, squared residuals floored to BIGINTs so the distributed
    // sums are order-independent; R² = 1 − RSS/TSS.
    "q_residuals" -> ((spark, sfDir) => {
      val li = t(spark, sfDir, "lineitem")
      val m = li
        .select(col("l_quantity").cast("long").as("x1"),
          floor(col("l_discount") * 100).cast("long").as("x2"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
        .agg(count(lit(1)).as("n0"),
          sum("x1").as("a1"), sum("x2").as("a2"),
          sum(col("x1") * col("x1")).as("a11"),
          sum(col("x1") * col("x2")).as("a12"),
          sum(col("x2") * col("x2")).as("a22"),
          sum("y").as("b0"), sum(col("x1") * col("y")).as("b1"),
          sum(col("x2") * col("y")).as("b2"))
      val n = col("n0").cast("double")
      val s1 = col("a1").cast("double"); val s2 = col("a2").cast("double")
      val s11 = col("a11").cast("double"); val s12 = col("a12").cast("double")
      val s22 = col("a22").cast("double")
      val t0 = col("b0").cast("double"); val t1 = col("b1").cast("double")
      val t2 = col("b2").cast("double")
      val d = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
      val coef = m.select(
        ((t0 * (s11 * s22 - s12 * s12) - s1 * (t1 * s22 - s12 * t2) + s2 * (t1 * s12 - s11 * t2)) / d).as("c0"),
        ((n * (t1 * s22 - s12 * t2) - t0 * (s1 * s22 - s12 * s2) + s2 * (s1 * t2 - t1 * s2)) / d).as("c1"),
        ((n * (s11 * t2 - t1 * s12) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s12 - s11 * s2)) / d).as("c2"),
        (t0 / n).as("ybar"))
      li.select(col("l_quantity").cast("long").as("x1"),
          floor(col("l_discount") * 100).cast("long").as("x2"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
        .crossJoin(broadcast(coef))
        .withColumn("r", col("y").cast("double") -
          (col("c0") + col("c1") * col("x1").cast("double")
            + col("c2") * col("x2").cast("double")))
        .withColumn("t", col("y").cast("double") - col("ybar"))
        .agg(sum(floor(col("r") * col("r")).cast("long")).as("rss_f"),
          sum(floor(col("t") * col("t")).cast("long")).as("tss_f"))
        .withColumn("r2",
          lit(1.0) - col("rss_f").cast("double") / col("tss_f").cast("double"))
        .select(col("rss_f"), col("tss_f"), col("r2"))
    }),
    // ordinal(k) reduction (solr/contrib/analytics/src/java/org/apache/
    // solr/analytics/function/reduction/OrdinalFunction.java — the k-th
    // smallest value of an expression per facet bucket): 3rd-smallest
    // quantity per return flag, duplicates counted (row 3 of the sorted
    // multiset). One window over the grouped sort.
    "q_ordinal" -> ((spark, sfDir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag")
        .orderBy(asc("q"), asc("l_orderkey"), asc("l_linenumber"))
      t(spark, sfDir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"),
          col("l_orderkey"), col("l_linenumber"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 3)
        .select(col("l_returnflag"), col("q").as("ordinal3_qty"))
        .orderBy("l_returnflag")
    }),
    // predict() model application (solr/solrj/src/java/org/apache/solr/
    // client/solrj/io/eval/PredictEvaluator.java — apply a fitted
    // regression to new observations): the q_ols normal-equation solve
    // re-fit on the EVEN-orderkey half, predictions for the first 5
    // held-out rows as c0 + c1·x1 + c2·x2. Moments are exact BIGINTs; the
    // coefficient and prediction expression trees are identical in both
    // engines, so the doubles agree bit-for-bit; floor to cents.
    "q_predict" -> ((spark, sfDir) => {
      val li = t(spark, sfDir, "lineitem")
      val m = li.filter(col("l_orderkey") % 2 === 0)
        .select(col("l_quantity").cast("long").as("x1"),
          floor(col("l_discount") * 100).cast("long").as("x2"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
        .agg(count(lit(1)).as("n0"),
          sum("x1").as("a1"), sum("x2").as("a2"),
          sum(col("x1") * col("x1")).as("a11"),
          sum(col("x1") * col("x2")).as("a12"),
          sum(col("x2") * col("x2")).as("a22"),
          sum("y").as("b0"), sum(col("x1") * col("y")).as("b1"),
          sum(col("x2") * col("y")).as("b2"))
      val n = col("n0").cast("double")
      val s1 = col("a1").cast("double"); val s2 = col("a2").cast("double")
      val s11 = col("a11").cast("double"); val s12 = col("a12").cast("double")
      val s22 = col("a22").cast("double")
      val t0 = col("b0").cast("double"); val t1 = col("b1").cast("double")
      val t2 = col("b2").cast("double")
      val d = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)
      val coef = m.select(
        ((t0 * (s11 * s22 - s12 * s12) - s1 * (t1 * s22 - s12 * t2) + s2 * (t1 * s12 - s11 * t2)) / d).as("c0"),
        ((n * (t1 * s22 - s12 * t2) - t0 * (s1 * s22 - s12 * s2) + s2 * (s1 * t2 - t1 * s2)) / d).as("c1"),
        ((n * (s11 * t2 - t1 * s12) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s12 - s11 * s2)) / d).as("c2"))
      li.filter(col("l_orderkey") % 2 === 1)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("x1"),
          floor(col("l_discount") * 100).cast("long").as("x2"))
        .orderBy("l_orderkey", "l_linenumber").limit(5)
        .crossJoin(broadcast(coef))
        .withColumn("pred_cents",
          floor(col("c0") + col("c1") * col("x1").cast("double")
            + col("c2") * col("x2").cast("double")).cast("long"))
        .select(col("l_orderkey"), col("l_linenumber"), col("pred_cents"))
        .orderBy("l_orderkey", "l_linenumber")
    }),
    // Temporal evaluator family (solr/solrj/src/java/org/apache/solr/client/
    // solrj/io/eval/TemporalEvaluatorYear.java, -Quarter, -Month, -Week,
    // -DayOfYear, -Hour): one map-only projection of calendar parts.
    "q_temporal" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .filter(col("event_id") % 1999 === 0)
        .withColumn("tst", col("ts").cast("timestamp"))
        .select(col("event_id"), year(col("tst")).as("yy"),
          quarter(col("tst")).as("qq"), month(col("tst")).as("mm"),
          weekofyear(col("tst")).as("wk"),
          dayofyear(col("tst")).as("doy"), hour(col("tst")).as("hh"))
        .orderBy("event_id")
    }),
    // termVectors + topFeatures (solr/solrj/src/java/org/apache/solr/client/
    // solrj/io/eval/TermVectorsEvaluator.java:168-174 — tf-idf cell =
    // sqrt(tf) · (ln((numDocs+1)/(df+1)) + 1); TopFeaturesEvaluator takes
    // the per-row top columns): doc×term matrix over the doc_id%50 sample,
    // top-3 features per doc. Exact integer tf/df; one shuffle each.
    "q_termvectors_tfidf" -> ((spark, sfDir) => {
      val sub = t(spark, sfDir, "documents").filter(col("doc_id") % 50 === 0)
      val tok = sub.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      val nn = sub.count()
      val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfc = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("tfidf_micro6"), asc("term"))
      tf.join(broadcast(dfc), "term")
        .withColumn("tfidf_micro6",
          floor(sqrt(col("tf").cast("double"))
            * (log(lit((nn + 1).toDouble) / (col("df") + lit(1)).cast("double"))
              + lit(1.0)) * lit(1e6)).cast("long"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("term"), col("tfidf_micro6"))
        .orderBy("doc_id", "rn")
    }),
    // Matrix reductions (solr/solrj/src/java/org/apache/solr/client/solrj/
    // io/eval/SumRowsEvaluator.java, SumColumnsEvaluator.java,
    // GrandSumEvaluator.java over a lang×source count matrix): all three
    // reductions from ONE grouped count via conditional re-aggregation.
    "q_matrix_sums" -> ((spark, sfDir) => {
      val cells = t(spark, sfDir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("c"))
      val rows = cells.groupBy(col("lang").as("label"))
        .agg(sum("c").as("total")).withColumn("kind", lit("row"))
      val cols = cells.groupBy(col("source").as("label"))
        .agg(sum("c").as("total")).withColumn("kind", lit("col"))
      val grand = cells.agg(sum("c").as("total"))
        .select(lit("all").as("label"), col("total"), lit("grand").as("kind"))
      rows.unionByName(cols).unionByName(grand)
        .select(col("kind"), col("label"), col("total"))
        .orderBy("kind", "label")
    }),
    // date-range faceting with a date-math gap (solr/core/src/java/org/
    // apache/solr/handler/component/RangeFacetProcessor.java +
    // RangeFacetRequest date ranges with gap=+7DAYS and
    // FacetParams.FacetRangeOther BEFORE/AFTER): weekly buckets over
    // [2024-01-08, 2024-01-22) plus the before/after counts — one
    // conditional-aggregate scan, map-side partials.
    "q_facet_daterange" -> ((spark, sfDir) => {
      val e = t(spark, sfDir, "events")
        .withColumn("tst", col("ts").cast("timestamp"))
      val in = e.filter(col("tst") >= lit("2024-01-08") &&
          col("tst") < lit("2024-01-22"))
        .groupBy(date_format(date_trunc("week", col("tst")), "yyyy-MM-dd")
          .as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val before = e.filter(col("tst") < lit("2024-01-08"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit("__before__").as("bucket"), col("cnt"))
      val after = e.filter(col("tst") >= lit("2024-01-22"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit("__after__").as("bucket"), col("cnt"))
      in.unionByName(before).unionByName(after).orderBy("bucket")
    }),
    // facet paging params (solr FacetParams facet.mincount / facet.offset /
    // facet.limit / facet.missing, applied by solr/core/src/java/org/apache/
    // solr/request/SimpleFacets.java to the count-sorted bucket list):
    // facet over NULLIF(lang,'en') — 'en' plays the missing-value role —
    // mincount=2, skip 1 bucket, take 3 (count desc / value asc), plus the
    // missing row appended like Solr's NamedList missing entry.
    "q_facet_params" -> ((spark, sfDir) => {
      val d = t(spark, sfDir, "documents")
        .withColumn("fv", expr("nullif(lang, 'en')"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("cnt"), asc("fv"))
      val page = d.filter(col("fv").isNotNull)
        .groupBy("fv").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") > 1 && col("pos") <= 4)
        .select(col("fv").as("val"), col("cnt"), col("pos"))
      val missing = d.filter(col("fv").isNull)
        .agg(count(lit(1)).as("cnt"))
        .select(lit("__missing__").as("val"), col("cnt"), lit(99).as("pos"))
      page.unionByName(missing).orderBy("pos", "val")
    }),
    // facet.pivot with per-bucket stats (solr/core/src/java/org/apache/solr/
    // handler/component/PivotFacetHelper.java + FieldFacetStats.java: each
    // pivot bucket carries a stats.field block): two-level pivot
    // source>lang, each bucket with count / sum / mean of n_chars. One hash
    // aggregation; the mean is a single IEEE division of exact integers.
    "q_pivot_stats" -> ((spark, sfDir) => {
      t(spark, sfDir, "documents")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("cnt"),
          sum("n_chars").as("sum_chars"),
          (sum("n_chars").cast("double") / count(lit(1))).as("mean_chars"))
        .orderBy("source", "lang")
    }),
    // date-field stats (solr/core/src/java/org/apache/solr/handler/
    // component/SortedDateStatsValues.java / StatsValuesFactory date stats:
    // min/max/mean over a date field): epoch-microsecond discipline — the
    // BIGINT sum is exact, the mean one IEEE division.
    "q_stats_date" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .select(unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("sec", expr("us DIV 1000000"))
        .agg(count(lit(1)).as("cnt"),
          min("us").as("min_us"), max("us").as("max_us"),
          (sum("sec").cast("double") / count(lit(1))).as("mean_s"))
    }),
    // DataImportHandler transformer chain (solr/contrib/dataimporthandler/
    // src/java/org/apache/solr/handler/dataimport/RegexTransformer.java +
    // TemplateTransformer.java + DateFormatTransformer.java): each event row
    // passes through regex field extraction, a ${...} template, and a date
    // reformat — all map-only vectorized projections, zero shuffles.
    "q_dih_transform" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .filter(col("event_id") % 199 === 0)
        .select(
          col("event_id"),
          regexp_extract(col("event_type"), "^([a-z]{3})", 1).as("etype3"),
          concat(lit("evt-"), col("event_type"), lit("-"),
            col("user_id").cast("string")).as("tmpl"),
          date_format(col("ts"), "yyyy-MM-dd HH").as("ts_hour"))
        .orderBy("event_id")
    }),
    // matrixMult (solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    // MatrixMultiplyEvaluator.java): C = A·B as a distributed join-aggregate —
    // A (event_type × user-bucket counts) joins B (user-bucket × event-bucket
    // counts) on the contraction dimension, then Σ A[t,u]·B[u,j] per (t,j).
    // This IS the scale shape for matmul: shuffle on the inner index only;
    // all values are exact integer counts.
    "q_matrix_mult" -> ((spark, sfDir) => {
      val ev = t(spark, sfDir, "events")
      val a = ev.groupBy(col("event_type").as("t"), (col("user_id") % 5).as("u"))
        .agg(count(lit(1)).as("av"))
      val b = ev.groupBy((col("user_id") % 5).as("u2"), (col("event_id") % 4).as("j"))
        .agg(count(lit(1)).as("bv"))
      a.join(b, col("u") === col("u2"))
        .groupBy(col("t"), col("j"))
        .agg(sum(col("av") * col("bv")).as("c"))
        .orderBy("t", "j")
    }),
    // Scalar math evaluator battery (solr/solrj/.../io/eval/
    // CeilingEvaluator.java, FloorEvaluator, RoundEvaluator,
    // TruncEvaluator, AbsoluteValueEvaluator, ModuloEvaluator,
    // PowerEvaluator, CubedRootEvaluator, SquareRootEvaluator,
    // Log10Evaluator, HyperbolicSineEvaluator): each applied to
    // xa = x/4 (exact dyadic) or x itself; irrational outputs
    // micro-floored, sinh spelled (e^xa − e^−xa)/2 on both engines.
    "q_scalar_math" -> ((spark, sfDir) => {
      t(spark, sfDir, "documents")
        .select(((col("doc_id") % 7) + 2).as("x")).distinct()
        .selectExpr("x", "(CAST(x AS DOUBLE) / 4) AS xa")
        .selectExpr("x",
          "CAST(ceil(xa) AS BIGINT) AS ceilv",
          "CAST(floor(xa) AS BIGINT) AS floorv",
          "CAST(round(xa) AS BIGINT) AS roundv",
          "CAST(x % 5 AS BIGINT) AS modv",
          "CAST(x * x * x AS BIGINT) AS pow3",
          "CAST(abs(0 - x) AS BIGINT) AS absv",
          "CAST(floor(cbrt(CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS cbrt_micro6",
          "CAST(floor(sqrt(CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS sqrt_micro6",
          "CAST(floor(log10(CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS log10_micro6",
          "CAST(floor((exp(xa) - exp(0 - xa)) / 2 * 1e6) AS BIGINT) AS sinh_micro6")
        .orderBy("x")
    }),
    // Lag-k autocorrelation — the documented Solr-math ACF idiom
    // corr(copyOfRange(x, 0, n−k), copyOfRange(x, k, n)) (solr/solrj/.../
    // io/eval/CorrelationEvaluator.java + CopyOfRangeEvaluator.java): the
    // hourly click series self-joined at offsets 1..3, Pearson over exact
    // integer moments (the q_corr expression text).
    "q_autocorr" -> ((spark, sfDir) => {
      val hourly = t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("h")
      val series = hourly.withColumn("n0", row_number().over(w).cast("long"))
        .select(col("n0"), col("cnt").as("x"))
      val lags = Seq(1, 2, 3).map { k =>
        series.as("a").join(series.as("b"), col("b.n0") === col("a.n0") + k)
          .select(col("a.x").as("x"), col("b.x").as("y"))
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .selectExpr(s"CAST($k AS BIGINT) AS lag", s"$corrExpr AS acf4")
      }
      lags.reduce(_ unionByName _).orderBy("lag")
    }),
    // polyFitDerivative (solr/solrj/.../io/eval/PolyFitDerivativeEvaluator
    // .java — the derivative of the fitted polynomial): p'(x) = c1 + 2·c2·x
    // from q_polyfit's exact-moment Cramer solve, evaluated at 3 points.
    "q_polyfit_derivative" -> ((spark, sfDir) => {
      import spark.implicits._
      val x = col("x"); val y = col("y")
      val m = t(spark, sfDir, "lineitem")
        .select(col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
        .agg(count(lit(1)).as("n0"),
          sum(x).as("s1l"), sum(x * x).as("s2l"),
          sum(x * x * x).as("s3l"), sum(x * x * x * x).as("s4l"),
          sum(y).as("t0l"), sum(x * y).as("t1l"), sum(x * x * y).as("t2l"))
      val n = col("n0").cast("double")
      val s1 = col("s1l").cast("double"); val s2 = col("s2l").cast("double")
      val s3 = col("s3l").cast("double"); val s4 = col("s4l").cast("double")
      val t0 = col("t0l").cast("double"); val t1 = col("t1l").cast("double")
      val t2 = col("t2l").cast("double")
      val d = n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) + s2 * (s1 * s3 - s2 * s2)
      val c1 = (n * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2) + s2 * (s1 * t2 - t1 * s2)) / d
      val c2 = (n * (s2 * t2 - t1 * s3) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s3 - s2 * s2)) / d
      m.select(c1.as("c1v"), c2.as("c2v"))
        .crossJoin(Seq(10L, 20L, 30L).toDF("x"))
        .select(col("x"),
          round(col("c1v") + lit(2) * col("c2v") * col("x"), 4).as("deriv4"))
        .orderBy("x")
    }),
    // getBoundarySize (solr/solrj/.../io/eval/GetBoundarySizeEvaluator
    // .java — the hull perimeter): same point cloud as q_convex_hull; each
    // edge length micro-floored BEFORE the sum, so the integer total is
    // independent of which cyclic order the two engines walk the hull in.
    "q_hull_perimeter" -> ((spark, sfDir) => {
      import spark.implicits._
      val pts = t(spark, sfDir, "events")
        .filter(col("event_type") === "signup" && col("event_id") % 127 === 0)
        .select((col("user_id") % 23).as("x"), (col("event_id") % 19).as("y"))
        .distinct().as[(Long, Long)]
      pts.groupByKey(_ => 0).mapGroups { (_, it) =>
        val verts = monotoneHull(it.toArray)
        val perim = verts.indices.map { i =>
          val a = verts(i); val b = verts((i + 1) % verts.length)
          val dx = (b._1 - a._1).toDouble; val dy = (b._2 - a._2).toDouble
          math.floor(math.sqrt(dx * dx + dy * dy) * 1e6).toLong
        }.sum
        (verts.length.toLong, perim)
      }.toDF("n_vertices", "perim_micro6")
    }),
    // minMaxScale (solr/solrj/.../io/eval/MinMaxScaleEvaluator.java —
    // rescale each vector to [0,1] from its own min/max): pure integer
    // division on the quantized components, first 4 dims of 6 vectors.
    "q_minmax_scale" -> ((spark, sfDir) => {
      t(spark, sfDir, "embeddings")
        .filter(col("vec_id") < 6)
        .selectExpr("vec_id",
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v")
        .selectExpr("vec_id",
          "array_min(v) AS lo", "array_max(v) AS hi",
          "posexplode(slice(v, 1, 4)) AS (i, xv)")
        .selectExpr("vec_id", "CAST(i AS BIGINT) AS i",
          "CAST((xv - lo) * 1000000 DIV (hi - lo) AS BIGINT) AS scaled_micro6")
        .orderBy("vec_id", "i")
    }),
    // Natural cubic spline (solr/solrj/.../io/eval/SplineEvaluator.java —
    // commons-math SplineInterpolator; natural boundary M0 = M7 = 0):
    // knots = the first 8 hourly click counts, the Thomas-algorithm solve
    // runs as the SAME expression ladder in both engines (splineSteps), so
    // every second derivative and the interpolated S(2.5) agree bit-exactly
    // before micro-flooring.
    "q_spline" -> ((spark, sfDir) => {
      val hourly = t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val w = Window.orderBy("h")
      val series = hourly
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .filter(col("n") < 8)
      val yCols = (0 to 7).map(i => sum(when(col("n") === i, col("x"))).as(s"y$i"))
      val wide = series.groupBy().agg(yCols.head, yCols.tail: _*)
      val solved = splineSteps.foldLeft(wide) { case (df, (alias, e)) =>
        df.selectExpr("*", s"$e AS $alias")
      }
      solved
        .selectExpr(
          "posexplode(array(m0, m1, m2, m3, m4, m5, m6, m7)) AS (i, m)",
          "s25")
        .selectExpr("CAST(i AS BIGINT) AS i",
          "CAST(floor(m * 1e6) AS BIGINT) AS m_micro6",
          "CAST(floor(s25 * 1e6) AS BIGINT) AS s25_micro6")
        .orderBy("i")
    }),
    // lInfNorm / normalizeSum / unitize (solr/solrj/.../io/eval/
    // LInfNormEvaluator.java, NormalizeSumEvaluator.java, UnitEvaluator
    // .java): per-vector L∞ (exact int max of abs), probability-normalized
    // first component (one division of exact ints), and unit-vector first
    // component (division by one sqrt of an exact int) — micro-floored.
    "q_norms2" -> ((spark, sfDir) => {
      t(spark, sfDir, "embeddings")
        .filter(col("vec_id") < 8)
        .selectExpr("vec_id",
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v")
        .selectExpr("vec_id",
          "CAST(array_max(transform(v, x -> abs(x))) AS BIGINT) AS linf",
          "CAST(aggregate(v, CAST(0 AS BIGINT), (a, x) -> a + abs(x)) AS BIGINT) AS l1",
          "CAST(floor(CAST(v[0] AS DOUBLE) / aggregate(v, CAST(0 AS BIGINT), (a, x) -> a + abs(x)) * 1e6) AS BIGINT) AS nsum0_micro6",
          "CAST(floor(CAST(v[0] AS DOUBLE) / sqrt(CAST(aggregate(v, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS DOUBLE)) * 1e6) AS BIGINT) AS unit0_micro6")
        .orderBy("vec_id")
    }),
    // GROUPING SETS with grouping_id (the generalized Rollup/Facet2D
    // lattice — solr/solrj/.../io/stream/HashRollupStream.java computes one
    // grouping; SQL GROUPING SETS computes several in one pass): explicit
    // sets ((priority, status), (priority), ()) + grouping_id
    // disambiguation. Spark plans ONE Expand + aggregation — no per-set
    // rescan, which is the point at 100 TB.
    "q_grouping_sets" -> ((spark, sfDir) => {
      t(spark, sfDir, "orders").createOrReplaceTempView("g_orders_gs")
      spark.sql(
        """SELECT o_orderpriority, o_orderstatus,
          |  CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
          |  count(*) AS cnt
          |FROM g_orders_gs
          |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
          |                        (o_orderpriority), ())
          |ORDER BY gid, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin)
    }),
    // Discrete percentile (solr/contrib/analytics/.../function/reduction/
    // PercentileFunction.java — the analytics module returns an ELEMENT of
    // the set, not an interpolation; quantile_disc semantics): p50/p90 of
    // integer order-price cents per priority, element at rank ceil(p·n).
    "q_percentile_disc" -> ((spark, sfDir) => {
      val w = Window.partitionBy("o_orderpriority").orderBy("cents")
      val ranked = t(spark, sfDir, "orders")
        .select(col("o_orderpriority"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("o_orderpriority")))
      // ceil(p·n) in pure integer arithmetic: ceil(a/b) = (a + b − 1) DIV b
      def pick(num: Int, den: Int, name: String) = ranked
        .filter(col("rn") === expr(s"CAST((n * $num + $den - 1) DIV $den AS BIGINT)"))
        .groupBy("o_orderpriority").agg(min("cents").as(name))
      pick(1, 2, "p50_cents")
        .join(pick(9, 10, "p90_cents"), Seq("o_orderpriority"))
        .orderBy("o_orderpriority")
    }),
    // Salted two-stage aggregation — the canonical skew-mitigation shape
    // (SURVEY §"Partitioning & shuffle": "salting for skew"; Solr's
    // ParallelStream partitions on a hash the same way): stage 1 aggregates
    // (key, salt = event_id % 16) partials so one hot key spreads over 16
    // reducers, stage 2 combines partials per key. The result must equal
    // the plain one-stage aggregation — that equality IS the oracle.
    "q_salted_agg" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .groupBy(col("event_type"), (col("event_id") % 16).as("salt"))
        .agg(count(lit(1)).as("pc"),
          sum((col("user_id") % 1000)).as("ps"))
        .groupBy("event_type")
        .agg(sum("pc").as("cnt"), sum("ps").as("ssum"))
        .orderBy("event_type")
    }),
    // Partition-pruned scan — the Iceberg partition-pruning analog the
    // north rule's 10^12-file corpus depends on: events written PARTITIONED
    // BY event_type; a single-type query must read ONE partition (the plan
    // audit asserts PartitionFilters prune at planning time, so at 100 TB
    // the scan touches 1/5 of the files before any row is read).
    "q_partition_prune" -> ((spark, sfDir) => {
      val parted = landing(sfDir, "events.parted")(p =>
        t(spark, sfDir, "events").write.partitionBy("event_type").parquet(p))
      spark.read.parquet(parted)
        .filter(col("event_type") === "purchase")
        .groupBy((col("user_id") % 50).as("ub"))
        .agg(count(lit(1)).as("cnt"),
          sum((col("event_id") % 997)).as("esum"))
        .orderBy("ub")
    }),
    // URLClassifyProcessor (solr/core/src/java/org/apache/solr/update/
    // processor/URLClassifyProcessor.java:80-180 — url_length, levels,
    // domain, canonical form): the corpus carries no URLs, so both engines
    // plant the SAME deterministic URL per doc, then classify. Map-only.
    "q_url_classify" -> ((spark, sfDir) => {
      t(spark, sfDir, "documents")
        .filter(col("doc_id") % 41 === 0)
        .selectExpr("doc_id",
          "concat('https://ex', CAST(doc_id % 7 AS STRING), '.org/a/b/page',"
            + " CAST(doc_id % 3 AS STRING), '.html') AS url")
        .selectExpr("doc_id", "url",
          "CAST(length(url) AS BIGINT) AS url_length",
          "CAST(size(split(url, '/')) - 3 AS BIGINT) AS levels",
          "regexp_extract(url, 'https://([^/]+)/', 1) AS domain",
          "element_at(split(url, '/'), -1) AS landing_page")
        .orderBy("doc_id")
    }),
    // Field-mutating processor chain (solr/core/.../update/processor/
    // TrimFieldUpdateProcessorFactory.java, TruncateFieldUpdateProcessor
    // Factory.java, FieldLengthUpdateProcessorFactory.java,
    // RemoveBlankFieldUpdateProcessorFactory.java): pad → trim → truncate
    // to 12 chars → length field; blank fields dropped from the count.
    "q_field_mutations" -> ((spark, sfDir) => {
      t(spark, sfDir, "documents")
        .filter(col("doc_id") % 53 === 0)
        .selectExpr("doc_id",
          "trim(concat('  ', source, '  ')) AS trimmed",
          "substring(text, 1, 12) AS truncated",
          "CAST(length(text) AS BIGINT) AS field_length",
          "CASE WHEN trim(lang) = '' THEN NULL ELSE lang END AS lang_nonblank")
        .selectExpr("doc_id", "trimmed", "truncated", "field_length",
          "CAST(CASE WHEN lang_nonblank IS NULL THEN 0 ELSE 1 END AS BIGINT) AS kept_fields")
        .orderBy("doc_id")
    }),
    // Bucketed co-located join (the SURVEY §"Partitioning & shuffle" scale
    // contract made oracle-visible; Spark `bucketBy` = hash-bucketed layout,
    // the Iceberg bucket-partition analog the north rule's 10^12-file corpus
    // would use): orders and lineitem both bucketed 8-ways on the join key,
    // so the SortMergeJoin runs with ZERO exchange on either side — the
    // Session8 plan audit asserts no hashpartitioning(l_orderkey/o_orderkey)
    // exchange exists. At 100 TB this is the difference between a join that
    // reshuffles 100 TB and one that reads co-located buckets in place.
    "q_bucketed_join" -> ((spark, sfDir) => {
      val key = s"bucketed#$sfDir#${System.identityHashCode(spark)}"
      bucketStaged.computeIfAbsent(key, _ => {
        // external tables under a recorded scratch dir (deleted at JVM
        // exit), never the session's warehouse dir
        val dir = graft.index.IndexBuilder.scratchDir("graft-bucketed-")
        t(spark, sfDir, "orders").write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$dir/g_orders_b")
          .saveAsTable("g_orders_b")
        t(spark, sfDir, "lineitem").write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$dir/g_lineitem_b")
          .saveAsTable("g_lineitem_b")
        java.lang.Boolean.TRUE
      })
      spark.table("g_lineitem_b")
        .join(spark.table("g_orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(expr(s"CAST(round(l_extendedprice * 100) AS BIGINT)")).as("rev_cents"))
        .orderBy("o_orderpriority")
    }),
    // Element-by-element vector arithmetic (solr/solrj/.../io/eval/
    // EBEAddEvaluator.java, EBESubtract, EBEMultiply, ScalarAdd,
    // ScalarMultiply): the first two quantized embeddings combined per
    // dimension — all exact BIGINTs, map-only after a 2-row fetch.
    "q_vector_ebe" -> ((spark, sfDir) => {
      val e = t(spark, sfDir, "embeddings")
        .filter(col("vec_id") < 2)
        .select(col("vec_id"),
          posexplode(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
            .as(Seq("i", "x")))
      val a = e.filter(col("vec_id") === 0).select(col("i"), col("x").as("a"))
      val b = e.filter(col("vec_id") === 1).select(col("i").as("i2"), col("x").as("b"))
      a.join(b, col("i") === col("i2"))
        .filter(col("i") < 16)
        .select(col("i").cast("long").as("i"), col("a"), col("b"),
          (col("a") + col("b")).as("ebe_add"),
          (col("a") - col("b")).as("ebe_sub"),
          (col("a") * col("b")).as("ebe_mul"),
          (col("a") + 10L).as("scalar_add"),
          (col("a") * 3L).as("scalar_mul"))
        .orderBy("i")
    }),
    // oscillate + getAmplitude/getAngularFrequency/getPhase (solr/solrj/
    // .../io/eval/OscillateEvaluator.java, GetAmplitudeEvaluator,
    // GetAngularFrequencyEvaluator, GetPhaseEvaluator): A·sin(ω·t + φ)
    // sampled at integer t, micro-floored like the FFT rows; the accessors
    // echo the dyadic-exact parameters.
    "q_oscillate" -> ((spark, sfDir) => {
      spark.range(32).select(col("id").as("t"))
        .selectExpr("t",
          "CAST(floor(3 * sin(0.25 * t + 0.5) * 1e6) AS BIGINT) AS osc_micro6",
          "CAST(3 AS BIGINT) AS amplitude",
          "CAST(0.25 AS DOUBLE) AS angular_freq",
          "CAST(0.5 AS DOUBLE) AS phase")
        .orderBy("t")
    }),
    // normalDistribution + density (solr/solrj/.../io/eval/
    // NormalDistributionEvaluator.java + DensityEvaluator.java — commons
    // -math NormalDistribution.density): N(50, 20) pdf at the observed
    // support points; one exp of an exact rational, one division by
    // σ·√(2π) — the same tree both engines evaluate, nano-quantized.
    "q_density" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .select((col("user_id") % 100).as("x")).distinct()
        .selectExpr("x",
          s"CAST(floor(($gaussPdfSql) * 1e9) AS BIGINT) AS pdf_nano")
        .orderBy("x")
    }),
    // ifft (solr/solrj/.../io/eval/IFFTEvaluator.java — inverse transform
    // over the forward coefficients): the q_fft spectrum (exact micro-unit
    // ints) drives Re(x_n)·32·1e6 = Σ_k (re_k·cosθ − im_k·sinθ), θ=2πkn/32,
    // per-term floor-quantized before the order-independent integer sum.
    "q_ifft" -> ((spark, sfDir) => {
      val spectrum = queries("q_fft")(spark, sfDir)
      spark.range(32).select(col("id").as("n"))
        .crossJoin(spectrum)
        .selectExpr("n",
          "CAST(floor(re_micro6 * cos(2 * pi() * (k * n) / 32) " +
            "- im_micro6 * sin(2 * pi() * (k * n) / 32)) AS BIGINT) AS tm")
        .groupBy("n").agg(sum("tm").as("recon_units"))
        .orderBy("n")
    }),
    // empiricalDistribution / enumeratedDistribution + cumulativeProbability
    // / probability (solr/solrj/.../io/eval/EmpiricalDistributionEvaluator
    // .java, EnumeratedDistributionEvaluator.java, ProbabilityEvaluator
    // .java): per-type empirical CDF at three thresholds + the pmf of one
    // support point, all INTEGER-division micro-units — one grouped agg.
    "q_empirical" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .select(col("event_type"), (col("user_id") % 100).as("v"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("tot"),
          sum(when(col("v") <= 25, 1L).otherwise(0L)).as("c25"),
          sum(when(col("v") <= 50, 1L).otherwise(0L)).as("c50"),
          sum(when(col("v") <= 75, 1L).otherwise(0L)).as("c75"),
          sum(when(col("v") === 10, 1L).otherwise(0L)).as("c10"))
        .selectExpr("event_type",
          "CAST(c25 * 1000000 DIV tot AS BIGINT) AS cdf25_micro6",
          "CAST(c50 * 1000000 DIV tot AS BIGINT) AS cdf50_micro6",
          "CAST(c75 * 1000000 DIV tot AS BIGINT) AS cdf75_micro6",
          "CAST(c10 * 1000000 DIV tot AS BIGINT) AS pmf10_micro6")
        .orderBy("event_type")
    }),
    // PriorityStream (solr/solrj/.../io/stream/PriorityStream.java:30-60 —
    // a scheduler wrapping two topics: the high-priority stream is drained
    // completely before any low-priority tuple is emitted): 'error' events
    // outrank 'view' events; first 20 tuples of the combined drain order.
    "q_priority" -> ((spark, sfDir) => {
      t(spark, sfDir, "events")
        .filter(col("event_type").isin("error", "view"))
        .select(col("event_id"), col("event_type"),
          when(col("event_type") === "error", 0).otherwise(1).as("prio"))
        .orderBy(asc("prio"), asc("event_id")).limit(20)
        .select(col("event_id"), col("event_type"))
    }),
    // convexHull / getVertices / getArea (solr/solrj/.../io/eval/
    // ConvexHullEvaluator.java, GetVerticesEvaluator.java,
    // GetAreaEvaluator.java — commons-math ConvexHull2D over a point cloud):
    // the ENGINE runs Andrew's monotone chain (strict turns, so collinear
    // boundary points are not vertices) on integer points reduced to one
    // group; the ORACLE independently derives the same vertex set by the
    // O(n⁴) rule "a vertex is a point inside no closed triangle of three
    // other points". 2·area rides along as an exact shoelace BIGINT.
    "q_convex_hull" -> ((spark, sfDir) => {
      import spark.implicits._
      val pts = t(spark, sfDir, "events")
        .filter(col("event_type") === "signup" && col("event_id") % 127 === 0)
        .select((col("user_id") % 23).as("x"), (col("event_id") % 19).as("y"))
        .distinct().as[(Long, Long)]
      val hull = pts.groupByKey(_ => 0).flatMapGroups { (_, it) =>
        val ps = it.toArray.distinct.sortBy(p => (p._1, p._2))
        def cross(o: (Long, Long), a: (Long, Long), b: (Long, Long)): Long =
          (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
        def half(seq: Seq[(Long, Long)]): Seq[(Long, Long)] = {
          val h = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          for (p <- seq) {
            while (h.length >= 2 && cross(h(h.length - 2), h(h.length - 1), p) <= 0)
              h.remove(h.length - 1)
            h += p
          }
          h.toSeq
        }
        val verts =
          if (ps.length < 3) ps.toSeq
          else half(ps.toSeq).dropRight(1) ++ half(ps.reverse.toSeq).dropRight(1)
        val area2 = verts.indices.map { i =>
          val a = verts(i); val b = verts((i + 1) % verts.length)
          a._1 * b._2 - b._1 * a._2
        }.sum.abs
        verts.iterator.map { case (x, y) => (x, y, area2) }
      }
      hull.toDF("x", "y", "area2").orderBy("x", "y")
    }),
    // primes/factorial/binomialCoefficient (solr/solrj/.../io/eval/
    // PrimesEvaluator.java:40-55 (next `size` primes via Primes.nextPrime),
    // FactorialEvaluator.java, BinomialCoefficientEvaluator.java): i-th
    // prime by trial division, i!, C(12,i) — all exact BIGINTs; the binomial
    // divides factorials with INTEGER division so no float ever appears.
    "q_primes" -> ((spark, sfDir) => {
      val primesArr = "filter(sequence(2, 200), n -> " +
        "size(filter(sequence(1, n), d -> d > 1 AND d < n AND n % d = 0)) = 0)"
      t(spark, sfDir, "documents")
        .select((col("doc_id") % 12 + 1).as("i")).distinct()
        .selectExpr("i",
          s"element_at($primesArr, CAST(i AS INT)) AS p",
          "factorial(CAST(i AS INT)) AS fact",
          "CAST(factorial(12) DIV (factorial(CAST(i AS INT)) * factorial(CAST(12 - i AS INT))) AS BIGINT) AS binom")
        .orderBy("i")
    }),
    // Array-manipulation evaluators (solr/solrj/.../io/eval/
    // LeftShiftEvaluator.java:39-52 (drop first N), ReverseEvaluator.java,
    // CopyOfRangeEvaluator.java, IndexOfEvaluator.java, ValueAtEvaluator
    // .java): per-doc token arrays through drop-2/last/slice[3..5]/position —
    // all map-only projections over the token list.
    "q_array_ops" -> ((spark, sfDir) => {
      t(spark, sfDir, "documents")
        .filter(col("doc_id") % 97 === 0)
        .selectExpr("doc_id",
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS tk")
        .selectExpr("doc_id",
          "element_at(tk, 3) AS after_lshift2",
          "element_at(reverse(tk), 1) AS last_tok",
          "array_join(slice(tk, 3, 3), ' ') AS mid_slice",
          "CAST(array_position(tk, 'table') AS BIGINT) AS pos_table")
        .orderBy("doc_id")
    }),
    // GammaDistribution integer-shape (Erlang) CDF (solr/solrj/.../io/eval/
    // GammaDistributionEvaluator.java + CumulativeProbabilityEvaluator.java;
    // commons-math GammaDistribution.cumulativeProbability — for integer
    // shape k the regularized lower incomplete gamma closes to
    // 1 − e^(−u)·Σ_{i<k} uⁱ/i!): k=3, θ=500, u = n_chars/θ a single exact
    // division; ONE shared expression text both engines evaluate.
    "q_erlang" -> ((spark, sfDir) => {
      t(spark, sfDir, "documents")
        .select(col("n_chars").as("x")).distinct()
        .selectExpr("x",
          s"CAST(floor(($erlangCdfSql) * 1e9) AS BIGINT) AS cdf_nano")
        .orderBy("x")
    }),
    // TriangularDistribution.cumulativeProbability (solr/solrj/.../io/eval/
    // TriangularDistributionEvaluator.java + CumulativeProbabilityEvaluator
    // .java; commons-math TriangularDistribution: F(x) = (x−a)²/((b−a)(c−a))
    // below the mode, 1 − (b−x)²/((b−a)(b−c)) above). a=0, c=50, b=100 over
    // x = n_chars % 101 keeps every term an exact BIGINT: nano-CDF =
    // x²·200000 | 10⁹ − (100−x)²·200000 — no floats anywhere.
    "q_triangular" -> ((spark, sfDir) => {
      t(spark, sfDir, "documents")
        .select((col("n_chars") % 101).as("x"))
        .distinct()
        .select(col("x"),
          when(col("x") <= 50, col("x") * col("x") * 200000L)
            .otherwise(lit(1000000000L) - (lit(100) - col("x")) * (lit(100) - col("x")) * 200000L)
            .as("cdf_nano"))
        .orderBy("x")
    })
  )

  /** worker id = ascii(first md5 hex char) % 4 (oracle text; the engine
    * builds the identical function chain through the Column API). */
  private val hashWorkerExpr =
    "CAST(ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) % 4 AS BIGINT)"

  /** Lag-k time differencing (Solr math timeDifferencing, reference:
    * solr/solrj/src/java/org/apache/solr/client/solrj/io/eval/
    * TimeDifferencingEvaluator.java: y_t − y_{t−lag}, the stationarity
    * transform): lag-24 (daily-seasonal) differences of the hourly click
    * series — pure integer subtraction over one window lag. */
  private def timediffQuery(spark: SparkSession, sfDir: String): DataFrame = {
      val w = Window.orderBy("hour")
      t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("x"))
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .withColumn("xp", lag("x", 24).over(w))
        .filter(col("xp").isNotNull)
        .selectExpr("n", "x - xp AS diff24")
        .orderBy("n")
    }

  /** Rolling MAD (Solr math movingMAD, reference: solr/solrj/src/java/org/
    * apache/solr/client/solrj/io/eval/MovingMADEvaluator.java: per window,
    * median of |x − median(window)|): centered 7-bucket windows over hourly
    * click cents-counts; both medians are the middle element of 7 exact
    * integers (no interpolation) so every value is engine-portable. Two
    * rank-distance self-joins on the compressed hour domain. */
  private def movingMadQuery(spark: SparkSession, sfDir: String): DataFrame = {
      val w = Window.orderBy("hour")
      val s = t(spark, sfDir, "events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("x"))
        .withColumn("n", row_number().over(w).cast("long") - 1)
        .select("n", "x")
      val tot = s.count()
      val interior = s.filter(col("n") >= 3 && col("n") <= tot - 4)
        .select(col("n").as("c"))
      val j1 = interior.join(s, abs(col("n") - col("c")) <= 3)
        .groupBy("c").agg(expr("percentile(x, 0.5)").as("med"))
      interior.join(s, abs(col("n") - col("c")) <= 3)
        .join(j1, "c")
        .groupBy("c").agg(expr("percentile(abs(x - med), 0.5)").as("mad"))
        .selectExpr("c AS n", "mad")
        .orderBy("n")
    }

  /** Akima tangent from four consecutive slopes (a, b, c, d) =
    * (m_{i−2}, m_{i−1}, m_i, m_{i+1}) — shared text, exact integer weights. */
  private def akimaT(a: String, b: String, c: String, d: String): String =
    s"(CASE WHEN abs($d - $c) + abs($b - $a) = 0 THEN CAST($b + $c AS DOUBLE) / 2 " +
      s"ELSE (CAST(abs($d - $c) AS DOUBLE) * $b + CAST(abs($b - $a) AS DOUBLE) * $c) " +
      s"/ (abs($d - $c) + abs($b - $a)) END)"

  /** paired t over exact difference sums (n, s=Σd, q=Σd²) — shared text. */
  private val pairedTExpr =
    "round((CAST(s AS DOUBLE) / n) / sqrt(((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)) / n), 4) AS t_stat"

  /** Canberra term |a−b|/(|a|+|b|) micro-quantized; 0/0 → 0. */
  private val canberraTermExpr =
    "CASE WHEN sab = 0 THEN 0 ELSE CAST(floor(CAST(d AS DOUBLE) / sab * 1e8) AS BIGINT) END"

  /** U = max(U1, n1·n2 − U1) from half-unit rank sums (sr2 = 2·sumRank_A):
    * U1_2 = sr2 − n1(n1+1) is 2·U1, all-BIGINT; one ÷2 at the end. */
  private val mannWhitneyUExpr =
    "CAST(greatest(sr2 - n1 * (n1 + 1), 2 * n1 * n2 - (sr2 - n1 * (n1 + 1))) AS DOUBLE) / 2 AS u_stat"

  /** D from the exact integer sup numerator over the pooled value domain. */
  private val ksExpr =
    "CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) AS d_stat"

  /** Exponential CDF over exact operands — shared text (mean = s/n cents). */
  private val expCdfExpr =
    "1.0 - exp(-(CAST(cents AS DOUBLE)) / (CAST(s AS DOUBLE) / n))"

  /** Pearson / sample-covariance final math over exact BIGINT sums — ONE
    * text evaluated by both engines (CorrelationEvaluator semantics). */
  /** Unrounded Pearson r over exact moments — the base of the significance
    * t-statistic (shared text keeps both engines on one IEEE sequence). */
  private val rRawExpr =
    "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
      "(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * " +
      "sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"

  private val corrExpr =
    "round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / " +
      "(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * " +
      "sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4)"
  private val covExpr =
    "round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1), 4)"

  /** One correlation-matrix cell over the pooled exact moments
    * (n, s_i, q_ij) — shared text per (i, j) so both engines run the
    * identical IEEE op sequence (CorrelationEvaluator matrix mode). */
  private def corrCellExpr(i: Int, j: Int): String =
    s"round((CAST(n AS DOUBLE) * q$i$j - CAST(s$i AS DOUBLE) * s$j) / " +
      s"(sqrt(CAST(n AS DOUBLE) * q$i$i - CAST(s$i AS DOUBLE) * s$i) * " +
      s"sqrt(CAST(n AS DOUBLE) * q$j$j - CAST(s$j AS DOUBLE) * s$j)), 4)"

  /** Spearman over centered half-unit ranks (dx = 2·rank − (n+1), exact
    * BIGINT): ρ = Σdxdy / (√Σdx²·√Σdy²) — ONE shared text. */
  private val spearmanExpr =
    "round(CAST(sdxy AS DOUBLE) / " +
      "(sqrt(CAST(sdx2 AS DOUBLE)) * sqrt(CAST(sdy2 AS DOUBLE))), 4)"

  /** Kendall tau-b over exact pair counts: (C−D)/√((n0−n1)(n0−n2)). */
  private val kendallExpr =
    "round(CAST(cmd AS DOUBLE) / " +
      "(sqrt(CAST(n0 - n1 AS DOUBLE)) * sqrt(CAST(n0 - n2 AS DOUBLE))), 4)"

  /** Welch's t over per-group exact sums (n, s=Σx, q=Σx²): t =
    * (m1−m2)/sqrt(v1/n1 + v2/n2), v from the sum-of-squares identity —
    * shared expression text so Spark and DuckDB run the identical IEEE op
    * sequence over identical BIGINT inputs. */
  private val ttestExpr =
    "round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / " +
      "sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1 + " +
      "((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2), 4)"

  /** One-way ANOVA F over three groups' exact sums (ni, si=Σx, qi=Σx²):
    * F = (SSB/(k−1)) / (SSW/(n−k)) with SSB/SSW from the sum-of-squares
    * identities — one fixed expression tree, shared text. */
  private val anovaExpr = {
    val gm = "(CAST(s1 + s2 + s3 AS DOUBLE) / (n1 + n2 + n3))"
    def dev(i: Int) =
      s"(n$i * (CAST(s$i AS DOUBLE) / n$i - $gm) * (CAST(s$i AS DOUBLE) / n$i - $gm))"
    def wit(i: Int) = s"(CAST(q$i AS DOUBLE) - CAST(s$i AS DOUBLE) * s$i / n$i)"
    s"round(((${dev(1)} + ${dev(2)} + ${dev(3)}) / (3 - 1)) / " +
      s"((${wit(1)} + ${wit(2)} + ${wit(3)}) / (n1 + n2 + n3 - 3)), 4)"
  }

  /** mean + 2.5·sd over (n, s, ss) exact sums — shared threshold text. */
  private val zThresholdExpr =
    "CAST(s AS DOUBLE) / n + 2.5 * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))"

  /** Deterministic synthetic coordinates from the customer key — integer
    * modulo then exact double arithmetic, identical in Spark and DuckDB. */
  private val latSql =
    "CAST((c_custkey * 7919) % 17000 AS DOUBLE) / 100.0 - 85.0"
  private val lonSql =
    "CAST((c_custkey * 104729) % 36000 AS DOUBLE) / 100.0 - 180.0"

  /** Fixed test polygon (lat, lon) — a convex quad over Europe-ish space. */
  private val polyVerts: Seq[(Double, Double)] =
    Seq((35.0, -12.0), (62.0, -5.0), (58.0, 24.0), (38.0, 15.0))

  /** Ray-casting point-in-polygon (LatLonPoint.newPolygonQuery; reference
    * crossing test: lucene/core/src/java/org/apache/lucene/geo/Polygon2D /
    * GeoUtils — odd number of edges crossed by the +lon ray). One SQL text
    * evaluated by BOTH engines; vertices are exact two-decimal doubles so
    * the edge arithmetic is deterministic IEEE. */
  private def pipSql(latC0: String, lonC0: String,
                     verts: Seq[(Double, Double)]): String = {
    val lat = s"($latC0)"; val lon = s"($lonC0)"
    val edges = verts.indices.map { i =>
      val (y1, x1) = verts(i)
      val (y2, x2) = verts((i + 1) % verts.size)
      s"""(CASE WHEN (CAST($y1 AS DOUBLE) > $lat) <> (CAST($y2 AS DOUBLE) > $lat)
         | AND $lon < (CAST($x2 AS DOUBLE) - CAST($x1 AS DOUBLE))
         |   * ($lat - CAST($y1 AS DOUBLE))
         |   / (CAST($y2 AS DOUBLE) - CAST($y1 AS DOUBLE)) + CAST($x1 AS DOUBLE)
         | THEN 1 ELSE 0 END)""".stripMargin.replace("\n", " ")
    }
    s"((${edges.mkString(" + ")}) % 2 = 1)"
  }

  /** Haversine in the reference's op order (DistanceUtils.distHaversineRAD:
    * h = sin²(Δy/2) + cos(y1)·cos(y2)·sin²(Δx/2);
    * d = 2·atan2(√h, √(1−h))·R) — one SQL text evaluated by BOTH engines. */
  private def havSql(latC0: String, lonC0: String, lat00: String, lon00: String): String = {
    // wrap every operand once: callers pass arbitrary sub-expressions
    val latC = s"($latC0)"; val lonC = s"($lonC0)"
    val lat0 = s"($lat00)"; val lon0 = s"($lon00)"
    // CAST keeps both engines in double arithmetic: Spark and DuckDB each
    // parse a bare `3.14...` literal as DECIMAL, whose division/multiply
    // rules differ (DuckDB even overflows at DECIMAL(18))
    val rad = "CAST(3.141592653589793 AS DOUBLE) / 180.0"
    val dy = s"(($latC - $lat0) * $rad)"
    val dx = s"(($lonC - $lon0) * $rad)"
    val y0 = s"($lat0 * $rad)"
    val y1 = s"($latC * $rad)"
    val h = s"(sin($dy * 0.5) * sin($dy * 0.5) + cos($y0) * cos($y1) * sin($dx * 0.5) * sin($dx * 0.5))"
    s"(2 * atan2(sqrt($h), sqrt(1 - $h)) * 6371.0087714)"
  }

  /** Andrew monotone chain (strict turns — collinear boundary points are
    * not vertices), shared by q_convex_hull's sibling rows. */
  private[queries] def monotoneHull(ps0: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val ps = ps0.distinct.sortBy(p => (p._1, p._2))
    def cross(o: (Long, Long), a: (Long, Long), b: (Long, Long)): Long =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    def half(seq: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val h = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (p <- seq) {
        while (h.length >= 2 && cross(h(h.length - 2), h(h.length - 1), p) <= 0)
          h.remove(h.length - 1)
        h += p
      }
      h.toSeq
    }
    if (ps.length < 3) ps.toSeq
    else half(ps.toSeq).dropRight(1) ++ half(ps.reverse.toSeq).dropRight(1)
  }

  /** Natural-cubic-spline solve (Thomas algorithm over the uniform-knot
    * tridiagonal system, 8 knots → 6 unknowns) as an (alias, expr) ladder
    * shared verbatim by both engines — every step is the same IEEE op
    * tree, so the second derivatives come out bit-identical
    * (SplineEvaluator citation at the query). Inputs: columns y0..y7. */
  private val splineSteps: Seq[(String, String)] = {
    val rs = (1 to 6).map(i =>
      s"r$i" -> s"CAST(6 * (y${i + 1} - 2 * y$i + y${i - 1}) AS DOUBLE)")
    val fwd = Seq(
      "c1" -> "(CAST(1.0 AS DOUBLE) / 4)",
      "d1" -> "(r1 / 4)") ++
      (2 to 6).flatMap(i => Seq(
        s"c$i" -> s"(CAST(1.0 AS DOUBLE) / (4 - c${i - 1}))",
        s"d$i" -> s"((r$i - d${i - 1}) / (4 - c${i - 1}))"))
    val back = Seq("m7" -> "CAST(0.0 AS DOUBLE)", "m6" -> "d6") ++
      (5 to 1 by -1).map(i => s"m$i" -> s"(d$i - c$i * m${i + 1})") ++
      Seq("m0" -> "CAST(0.0 AS DOUBLE)")
    val s25 = Seq("s25" ->
      ("(m2 * CAST(0.125 AS DOUBLE) / 6 + m3 * CAST(0.125 AS DOUBLE) / 6" +
        " + (y2 - m2 / 6) * CAST(0.5 AS DOUBLE)" +
        " + (y3 - m3 / 6) * CAST(0.5 AS DOUBLE))"))
    rs ++ fwd ++ back ++ s25
  }

  /** N(50, 20) pdf as ONE expression text shared by both engines. */
  private val gaussPdfSql: String =
    "(exp(-((x - 50) * (x - 50)) / CAST(800.0 AS DOUBLE)) / (20 * sqrt(2 * pi())))"

  /** Erlang(k=3, θ=500) CDF as ONE expression text shared by both engines:
    * u is a single IEEE division of exact integers, exp/mults mirror the
    * same tree on both sides (see GammaDistributionEvaluator citation). */
  private val erlangCdfSql: String = {
    val u = "(CAST(x AS DOUBLE) / 500)"
    s"(CAST(1.0 AS DOUBLE) - exp(-$u) * " +
      s"(CAST(1.0 AS DOUBLE) + $u + ($u * $u) / CAST(2.0 AS DOUBLE)))"
  }

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum($cents) AS BIGINT) AS sum_price_cents,
         |  sum(l_quantity) / count(*) AS avg_qty
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_facet_field" ->
      """SELECT o_orderpriority AS bucket, count(*) AS cnt FROM orders
        |GROUP BY 1 ORDER BY cnt DESC, bucket LIMIT 5""".stripMargin,
    "q_facet_exclude" ->
      """SELECT o_orderpriority AS bucket, count(*) AS cnt_excl_tag,
        |  count(*) FILTER (o_orderpriority = '1-URGENT') AS cnt_selected
        |FROM orders WHERE o_totalprice >= 100000
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_facet_range" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_facet_range_other" ->
      """SELECT bucket, cnt FROM (
        |  SELECT CASE WHEN o_totalprice < 50000 THEN 'before'
        |              WHEN o_totalprice >= 200000 THEN 'after'
        |              ELSE 'r' || CAST(CAST(floor(o_totalprice / 50000) AS BIGINT) AS VARCHAR)
        |         END AS bucket, count(*) AS cnt
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT 'between', count(*) FROM orders
        |  WHERE o_totalprice >= 50000 AND o_totalprice < 200000)
        |ORDER BY bucket""".stripMargin,
    // same normal-equation expression tree over the same exact integer sums
    "q_regress" ->
      """WITH s AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * x) AS sxx, sum(x * y) AS sxy
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x,
        |               CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem))
        |SELECT
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |        / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4) AS slope,
        |  round((CAST(sy AS DOUBLE)
        |        - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
        |          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS intercept
        |FROM s""".stripMargin,
    "q_facet_interval" ->
      """SELECT * FROM (
        |  SELECT '[0,150000)' AS ival,
        |    count(*) FILTER (o_totalprice >= 0 AND o_totalprice < 150000) AS cnt FROM orders
        |  UNION ALL
        |  SELECT '[100000,250000]',
        |    count(*) FILTER (o_totalprice >= 100000 AND o_totalprice <= 250000) FROM orders
        |  UNION ALL
        |  SELECT '(200000,*]',
        |    count(*) FILTER (o_totalprice > 200000) FROM orders
        |) ORDER BY ival""".stripMargin,
    "q_facet_query" ->
      """SELECT
        |  CAST(sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f
        |FROM orders""".stripMargin,
    "q_stats" ->
      """SELECT p_brand, min(p_size) AS min_size, max(p_size) AS max_size,
        |  count(*) AS cnt, count(DISTINCT p_type) AS n_types
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_percentile" ->
      """SELECT quantile_cont(l_quantity, 0.5) AS p50, quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem""".stripMargin,
    // GK contract flags asserted by the oracle; exact percentiles pinned
    "q_approx_percentile" ->
      """SELECT count(*) AS n,
        |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50_exact,
        |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) AS p90_exact,
        |  CAST(1 AS INT) AS p50_within, CAST(1 AS INT) AS p90_within
        |FROM lineitem""".stripMargin,
    "q_facet_prefix" ->
      """SELECT word AS bucket, count(*) AS cnt
        |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |WHERE word LIKE 'b%'
        |GROUP BY 1 ORDER BY cnt DESC, bucket LIMIT 10""".stripMargin,
    "q_facet_numbuckets" ->
      """SELECT CAST(count(DISTINCT floor(o_totalprice / 10000)) AS BIGINT) AS num_buckets,
        |  count(*) AS all_cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS all_sum_cents
        |FROM orders""".stripMargin,
    "q_mad" ->
      """WITH m AS (SELECT quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS med FROM lineitem)
        |SELECT max(m.med) AS med,
        |  quantile_cont(abs(CAST(l_quantity AS DOUBLE) - m.med), 0.5) AS mad
        |FROM lineitem CROSS JOIN m""".stripMargin,
    "q_unique" ->
      """SELECT count(DISTINCT l_suppkey) AS n_supp, count(DISTINCT l_partkey) AS n_part,
        |  count(*) AS n FROM lineitem""".stripMargin,
    "q_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_star" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin,
    "q_join_leftouter" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |  count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_no_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_anti" ->
      """SELECT c_nationkey, count(*) AS cnt FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey AND event_type = 'purchase')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q_join_semi" ->
      """SELECT n_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
        |ORDER BY n_name""".stripMargin,
    "q_rollup" ->
      """SELECT r_name, n_name, count(*) AS cnt
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // 0.25e0 float literals force DOUBLE arithmetic (a bare 0.25 is a
    // DuckDB DECIMAL and would change the output schema)
    "q_convolve" ->
      """SELECT hour,
        |  lag(cnt) OVER w * 0.25e0 + cnt * 0.5e0 + lead(cnt) OVER w * 0.25e0 AS smooth
        |FROM (SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt
        |      FROM events GROUP BY 1)
        |WINDOW w AS (ORDER BY hour)
        |QUALIFY smooth IS NOT NULL
        |ORDER BY hour""".stripMargin,
    // list_reduce starts from the first element, exactly like the engine's
    // aggregate(tail, head, ·) fold; 0.5e0 keeps the math in DOUBLE
    "q_ewma" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hour,
        |                 CAST(count(*) AS DOUBLE) AS cnt
        |          FROM events GROUP BY 1),
        |arr AS (SELECT list(cnt ORDER BY hour) AS xs FROM h)
        |SELECT CAST(len(xs) AS BIGINT) AS n,
        |       list_reduce(xs, (s, x) -> s * 0.5e0 + x * 0.5e0) AS ewma
        |FROM arr""".stripMargin,
    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "q_expand" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS head_rn
        |  FROM orders WHERE o_custkey <= 50),
        |heads AS (
        |  SELECT o_custkey, o_orderkey, 'collapsed' AS kind, CAST(0 AS BIGINT) AS rnk
        |  FROM o WHERE head_rn = 1),
        |exp AS (
        |  SELECT o_custkey, o_orderkey, 'expanded' AS kind, rnk FROM (
        |    SELECT o_custkey, o_orderkey,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rnk
        |    FROM o WHERE head_rn > 1)
        |  WHERE rnk <= 2)
        |SELECT * FROM (SELECT * FROM heads UNION ALL SELECT * FROM exp)
        |ORDER BY o_custkey, kind, rnk, o_orderkey""".stripMargin,
    "q_facet_nested" ->
      """WITH lc AS (SELECT lang, count(*) AS lang_cnt FROM documents GROUP BY lang),
        |top2 AS (SELECT lang, lang_cnt FROM lc ORDER BY lang_cnt DESC, lang LIMIT 2),
        |sc AS (SELECT d.lang, d.source, count(*) AS src_cnt
        |       FROM documents d JOIN top2 USING (lang) GROUP BY d.lang, d.source),
        |rk AS (SELECT lang, source, src_cnt,
        |         row_number() OVER (PARTITION BY lang ORDER BY src_cnt DESC, source) AS rnk
        |       FROM sc)
        |SELECT t.lang, t.lang_cnt, rk.rnk, rk.source, rk.src_cnt
        |FROM rk JOIN top2 t USING (lang) WHERE rnk <= 2
        |ORDER BY t.lang_cnt DESC, t.lang, rk.rnk""".stripMargin,
    "q_jdbc" ->
      """SELECT lang, count(*) AS cnt, CAST(sum(length(text)) AS BIGINT) AS sum_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_timeseries" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    // full hour axis from the stream bounds; empty buckets -> 0
    "q_timeseries_gapfill" ->
      """WITH b AS (
        |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        |  FROM events
        |), h AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
        |), c AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT h.hour AS hour, COALESCE(c.cnt, 0) AS cnt
        |FROM h LEFT JOIN c ON h.hour = c.hour ORDER BY hour""".stripMargin,
    "q_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q_stream_enrich" ->
      """SELECT c.c_mktsegment AS segment, count(*) AS cnt,
        |  CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    // batch recomputation of the watermarked stream-stream interval join:
    // purchases within 1 hour after a same-user click
    "q_stream_join" ->
      """SELECT c.user_id AS user_id, count(*) AS n_conv
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |GROUP BY c.user_id ORDER BY n_conv DESC, user_id LIMIT 20""".stripMargin,
    "q_stream_dedup" ->
      """SELECT count(DISTINCT md5(text)) AS n_unique FROM documents""",
    // gaps-and-islands: a session opens when the previous event of the same
    // user is more than 30 minutes (in exact microseconds) in the past
    "q_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
        |  SELECT user_id,
        |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts,
        |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |        FROM events))
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // as-of semantics stated directly: latest prior click, ties broken by
    // max click id — the engine's union+window carry produces exactly this
    "q_asof" ->
      """SELECT p.event_id, (
        |  SELECT c.event_id FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |    AND c.ts <= p.ts
        |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS asof_click
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,
    // range join stated directly as an inequality join (DuckDB IEJoin)
    "q_range_join" ->
      """SELECT o.o_orderkey, count(l.l_shipdate) AS n_shipped
        |FROM orders o LEFT JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 3 DAY
        |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin,
    "q_explode" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 10""".stripMargin,
    "q_having" ->
      """SELECT c_nationkey, count(*) AS cnt FROM customer
        |GROUP BY c_nationkey HAVING count(*) > 60 ORDER BY c_nationkey""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_pivot" ->
      """SELECT lang, source, count(*) AS cnt FROM documents
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_stddev" ->
      """SELECT l_returnflag, round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  CAST(sum(l_quantity * l_quantity) AS BIGINT) AS sumsq_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Commons-Math sample skewness / excess kurtosis from exact integer raw
    // moments; the double expression tree mirrors the engine's exactly
    "q_skewness" ->
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(l_quantity) AS BIGINT) AS s1l,
        |    CAST(sum(l_quantity * l_quantity) AS BIGINT) AS s2l,
        |    CAST(sum(l_quantity * l_quantity * l_quantity) AS BIGINT) AS s3l,
        |    CAST(sum(l_quantity * l_quantity * l_quantity * l_quantity) AS BIGINT) AS s4l
        |  FROM lineitem GROUP BY l_returnflag
        |), d AS (
        |  SELECT l_returnflag, CAST(n0 AS DOUBLE) AS n,
        |    CAST(s1l AS DOUBLE) AS s1, CAST(s2l AS DOUBLE) AS s2,
        |    CAST(s3l AS DOUBLE) AS s3, CAST(s4l AS DOUBLE) AS s4,
        |    CAST(s1l AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean FROM m
        |), c AS (
        |  SELECT l_returnflag, n,
        |    (s2 - mean * s1) / (n - 1.0) AS v,
        |    s3 - (3.0 * mean) * s2 + ((2.0 * mean) * mean) * s1 AS c3,
        |    s4 - (4.0 * mean) * s3 + ((6.0 * mean) * mean) * s2
        |      - (((3.0 * mean) * mean) * mean) * s1 AS c4
        |  FROM d
        |)
        |SELECT l_returnflag,
        |  round((n / ((n - 1.0) * (n - 2.0))) * c3 / (v * sqrt(v)), 4) AS skewness,
        |  round((n * (n + 1.0) / (((n - 1.0) * (n - 2.0)) * (n - 3.0))) * c4 / (v * v)
        |        - (3.0 * (n - 1.0)) * (n - 1.0) / ((n - 2.0) * (n - 3.0)), 4) AS kurtosis
        |FROM c ORDER BY l_returnflag""".stripMargin,
    // degree-2 least squares by Cramer over exact integer sums; identical
    // double expression tree as the engine
    "q_polyfit" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS s1,
        |    CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS s2,
        |    CAST(CAST(sum(x * x * x) AS BIGINT) AS DOUBLE) AS s3,
        |    CAST(CAST(sum(x * x * x * x) AS BIGINT) AS DOUBLE) AS s4,
        |    CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS t0,
        |    CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS t1,
        |    CAST(CAST(sum(x * x * y) AS BIGINT) AS DOUBLE) AS t2
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x,
        |               CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |        FROM lineitem)
        |), d AS (
        |  SELECT *, n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
        |         + s2 * (s1 * s3 - s2 * s2) AS det FROM m
        |)
        |SELECT
        |  round((t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2) + s2 * (t1 * s3 - s2 * t2)) / det, 4) AS c0,
        |  round((n * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2) + s2 * (s1 * t2 - t1 * s2)) / det, 4) AS c1,
        |  round((n * (s2 * t2 - t1 * s3) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s3 - s2 * s2)) / det, 4) AS c2
        |FROM d""".stripMargin,
    "q_hll" ->
      """SELECT count(DISTINCT l_partkey) AS n_exact,
        |  CAST(CASE WHEN abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey)) * 10
        |            <= count(DISTINCT l_partkey) THEN 1 ELSE 0 END AS INT) AS hll_within_10pct
        |FROM lineitem""".stripMargin,
    "q_merge" ->
      """SELECT event_id, event_type FROM (
        |  SELECT event_id, ts, event_type FROM events
        |  WHERE event_type IN ('click', 'purchase')
        |  ORDER BY ts, event_id LIMIT 100
        |)""".stripMargin,
    "q_fetch" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, c_name
        |FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_heatmap" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_bucket,
        |  o_orderpriority AS prio, count(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY price_bucket, prio""".stripMargin,
    "q_json" ->
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_csv" ->
      """SELECT n_regionkey, count(*) AS cnt, CAST(sum(n_nationkey) AS BIGINT) AS sum_key
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q_sample" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
        |ORDER BY o_orderkey""".stripMargin,
    "q_chisq" ->
      """WITH obs AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS rt FROM obs GROUP BY lang),
        |ct AS (SELECT source, sum(o) AS ct FROM obs GROUP BY source),
        |tot AS (SELECT sum(o) AS n, count(DISTINCT lang) AS nl,
        |               count(DISTINCT source) AS ns FROM obs)
        |SELECT (nl - 1) * (ns - 1) AS dof,
        |  CAST(sum(CAST(floor(CAST((o * n - rt.rt * ct.ct) * (o * n - rt.rt * ct.ct) AS DOUBLE)
        |       / (CAST(rt.rt AS DOUBLE) * ct.ct * n) * 1000000.0) AS BIGINT)) AS BIGINT) AS chi2_micro
        |FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot
        |GROUP BY 1""".stripMargin,
    "q_sql" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price
        |FROM orders
        |WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority
        |HAVING count(*) > 10
        |ORDER BY o_orderpriority""".stripMargin,
    "q_facet_sampled" ->
      """SELECT o_orderpriority, count(*) * 16 AS est_cnt, count(*) AS sampled
        |FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '7'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "q_geo_bbox" ->
      s"""SELECT c_custkey, $latSql AS lat, $lonSql AS lon
         |FROM customer
         |WHERE $latSql BETWEEN 40.0 AND 60.0 AND $lonSql BETWEEN -10.0 AND 20.0
         |ORDER BY c_custkey""".stripMargin,
    "q_geo_polygon" ->
      s"""SELECT c_custkey, lat, lon FROM (
         |  SELECT c_custkey, $latSql AS lat, $lonSql AS lon FROM customer)
         |WHERE ${pipSql("lat", "lon", polyVerts)}
         |ORDER BY c_custkey""".stripMargin,
    "q_geodist" ->
      s"""SELECT c_custkey,
         |  floor(${havSql(latSql, lonSql, "48.85", "2.35")} * 100.0 + 0.5) / CAST(100.0 AS DOUBLE) AS dist_km
         |FROM customer
         |ORDER BY dist_km, c_custkey LIMIT 10""".stripMargin,
    "q_group_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_corr" ->
      s"""SELECT $corrExpr AS corr_qty_price, $covExpr AS cov_qty_price FROM (
         |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
         |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x,
         |               CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem))""".stripMargin,
    "q_bbox_overlap" ->
      """WITH b AS (SELECT c_custkey,
        |    c_custkey % 97 AS minx, (c_custkey * 13) % 89 AS miny,
        |    5 + c_custkey % 37 AS w, 5 + (c_custkey * 3) % 31 AS h
        |  FROM customer),
        |o AS (SELECT c_custkey,
        |    greatest(0, least(minx + w, 70) - greatest(minx, 20)) *
        |      greatest(0, least(miny + h, 60) - greatest(miny, 10)) AS i,
        |    w * h AS ad
        |  FROM b)
        |SELECT c_custkey,
        |  round(0.25 * (CAST(i AS DOUBLE) / 2500.0)
        |    + 0.75 * (CAST(i AS DOUBLE) / CAST(ad AS DOUBLE)), 4) AS score
        |FROM o WHERE i > 0
        |ORDER BY score DESC, c_custkey LIMIT 10""".stripMargin,
    "q_subquery" ->
      """WITH p AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS ocents
        |  FROM orders ORDER BY ocents DESC, o_orderkey LIMIT 5),
        |c AS (SELECT l_orderkey AS o_orderkey,
        |    CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS lcents
        |  FROM lineitem)
        |SELECT o_orderkey, rn, l_linenumber, lcents FROM (
        |  SELECT c.o_orderkey, c.l_linenumber, c.lcents,
        |    row_number() OVER (PARTITION BY c.o_orderkey
        |      ORDER BY c.lcents DESC, c.l_linenumber) AS rn
        |  FROM c JOIN p USING (o_orderkey))
        |WHERE rn <= 3 ORDER BY o_orderkey, rn""".stripMargin,
    "q_spearman" ->
      s"""WITH rows_ AS (SELECT CAST(l_quantity AS BIGINT) AS x,
         |    CAST(round(l_extendedprice) AS BIGINT) AS y FROM lineitem),
         |  rx AS (SELECT x, 2 * coalesce(sum(c) OVER (ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS rx2
         |    FROM (SELECT x, count(*) AS c FROM rows_ GROUP BY x)),
         |  ry AS (SELECT y, 2 * coalesce(sum(c) OVER (ORDER BY y
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS ry2
         |    FROM (SELECT y, count(*) AS c FROM rows_ GROUP BY y)),
         |  np AS (SELECT count(*) + 1 AS np1 FROM rows_),
         |  d AS (SELECT rx2 - np1 AS dx, ry2 - np1 AS dy
         |    FROM rows_ JOIN rx USING (x) JOIN ry USING (y), np)
         |SELECT $spearmanExpr AS spearman FROM (
         |  SELECT sum(dx * dy) AS sdxy, sum(dx * dx) AS sdx2,
         |    sum(dy * dy) AS sdy2 FROM d)""".stripMargin,
    "q_kendall" ->
      s"""WITH s AS (SELECT hour(ts) AS h, count(*) AS x,
         |    sum(CAST(floor(value * 100) AS BIGINT)) AS y
         |  FROM events WHERE event_type = 'purchase' GROUP BY h),
         |  p AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
         |    FROM s a JOIN s b ON a.h < b.h)
         |SELECT CAST(cmd AS BIGINT) AS cmd, $kendallExpr AS tau_b FROM (
         |  SELECT sum(CASE WHEN (x1 - x2) * (y1 - y2) > 0 THEN 1
         |      WHEN (x1 - x2) * (y1 - y2) < 0 THEN -1 ELSE 0 END) AS cmd,
         |    count(*) AS n0,
         |    sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS n1,
         |    sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS n2 FROM p)""".stripMargin,
    "q_geo_nearest" ->
      s"""SELECT c_custkey,
         |  floor(${havSql(latSql, lonSql, "48.85", "2.35")} * 100.0 + 0.5) / CAST(100.0 AS DOUBLE) AS dist_km
         |FROM customer
         |ORDER BY dist_km, c_custkey LIMIT 10""".stripMargin,
    "q_geo_radius" ->
      s"""SELECT c_custkey,
         |  floor(${havSql(latSql, lonSql, "48.85", "2.35")} * 100.0 + 0.5) / CAST(100.0 AS DOUBLE) AS dist_km
         |FROM customer
         |WHERE floor(${havSql(latSql, lonSql, "48.85", "2.35")} * 100.0 + 0.5) / CAST(100.0 AS DOUBLE) <= 1500.0
         |ORDER BY c_custkey""".stripMargin,
    "q_ttest" ->
      s"""SELECT n1, n2, $ttestExpr AS t_stat FROM
         |  (SELECT count(*) AS n1, sum(x) AS s1, sum(x * x) AS q1 FROM
         |    (SELECT CAST(l_quantity AS BIGINT) AS x FROM lineitem WHERE l_returnflag = 'R')),
         |  (SELECT count(*) AS n2, sum(x) AS s2, sum(x * x) AS q2 FROM
         |    (SELECT CAST(l_quantity AS BIGINT) AS x FROM lineitem WHERE l_returnflag = 'A'))""".stripMargin,
    "q_anova" ->
      s"""SELECT n1, n2, n3, $anovaExpr AS f_stat FROM
         |  (SELECT count(*) AS n1, sum(x) AS s1, sum(x * x) AS q1 FROM
         |    (SELECT CAST(l_quantity AS BIGINT) AS x FROM lineitem WHERE l_returnflag = 'R')),
         |  (SELECT count(*) AS n2, sum(x) AS s2, sum(x * x) AS q2 FROM
         |    (SELECT CAST(l_quantity AS BIGINT) AS x FROM lineitem WHERE l_returnflag = 'A')),
         |  (SELECT count(*) AS n3, sum(x) AS s3, sum(x * x) AS q3 FROM
         |    (SELECT CAST(l_quantity AS BIGINT) AS x FROM lineitem WHERE l_returnflag = 'N'))""".stripMargin,
    "q_hist" ->
      """SELECT CAST(floor(CAST((x - minx) * 10 AS DOUBLE)
        |                  / CAST(maxx - minx + 1 AS DOUBLE)) AS BIGINT) AS bin,
        |       count(*) AS cnt
        |FROM (SELECT CAST(l_quantity AS BIGINT) AS x FROM lineitem),
        |     (SELECT min(CAST(l_quantity AS BIGINT)) AS minx,
        |             max(CAST(l_quantity AS BIGINT)) AS maxx FROM lineitem)
        |GROUP BY bin ORDER BY bin""".stripMargin,
    "q_moving_avg" ->
      """SELECT day, cnt,
        |  round(CAST(sum(cnt) OVER w AS DOUBLE) / count(*) OVER w, 4) AS ma7
        |FROM (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS cnt
        |      FROM events GROUP BY 1)
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "q_moving_median" ->
      """SELECT day, cnt, quantile_cont(cnt, 0.5) OVER w AS mm7
        |FROM (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS cnt
        |      FROM events GROUP BY 1)
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "q_zscore" ->
      s"""SELECT event_id, cents FROM
         |  (SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
         |  (SELECT count(*) AS n, sum(cents) AS s, sum(cents * cents) AS ss
         |   FROM (SELECT CAST(floor(value * 100) AS BIGINT) AS cents FROM events))
         |WHERE CAST(cents AS DOUBLE) > $zThresholdExpr
         |ORDER BY event_id""".stripMargin,
    "q_mannwhitney" ->
      s"""WITH ev AS (
         |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')),
         |byval AS (
         |  SELECT cents, count(*) AS c,
         |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca
         |  FROM ev GROUP BY cents),
         |ranked AS (
         |  SELECT ca, c,
         |    2 * coalesce(sum(c) OVER (ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      + c + 1 AS rank2
         |  FROM byval),
         |agg AS (
         |  SELECT sum(ca) AS n1, sum(c - ca) AS n2, sum(ca * rank2) AS sr2
         |  FROM ranked)
         |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         |  $mannWhitneyUExpr FROM agg""".stripMargin,
    "q_ks" ->
      s"""WITH ev AS (
         |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')),
         |byval AS (
         |  SELECT cents,
         |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
         |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
         |  FROM ev GROUP BY cents),
         |cum AS (
         |  SELECT
         |    sum(a) OVER (ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumA,
         |    sum(b) OVER (ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumB
         |  FROM byval),
         |tot AS (SELECT sum(a) AS n1, sum(b) AS n2 FROM byval),
         |agg AS (
         |  SELECT n1, n2, max(abs(cumA * n2 - cumB * n1)) AS num
         |  FROM cum, tot GROUP BY n1, n2)
         |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         |  CAST(num AS BIGINT) AS num, $ksExpr FROM agg""".stripMargin,
    "q_outliers" ->
      s"""WITH ev AS (
         |  SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
         |m AS (SELECT count(*) AS n, sum(cents) AS s FROM ev),
         |probs AS (
         |  SELECT event_id, cents, $expCdfExpr AS cum_prob FROM ev, m)
         |SELECT event_id, cents, round(cum_prob, 4) AS cum_prob_r
         |FROM probs
         |WHERE cum_prob < 0.01 OR cum_prob > 0.99
         |ORDER BY event_id""".stripMargin,
    "q_paired_ttest" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, CAST(floor(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type IN ('click', 'view')),
         |bu AS (
         |  SELECT user_id,
         |    sum(CASE WHEN event_type = 'click' THEN cents ELSE 0 END) AS xc,
         |    sum(CASE WHEN event_type = 'view' THEN cents ELSE 0 END) AS xv,
         |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hc,
         |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv
         |  FROM ev GROUP BY user_id),
         |d AS (SELECT xc - xv AS d FROM bu WHERE hc = 1 AND hv = 1),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS s,
         |               CAST(sum(d * d) AS BIGINT) AS q FROM d)
         |SELECT n, $pairedTExpr FROM agg""".stripMargin,
    "q_emd" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY day),
        |pre AS (
        |  SELECT sum(a - b) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
        |  FROM daily)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(abs(pre)) AS BIGINT) AS emd FROM pre""".stripMargin,
    "q_distances" ->
      s"""WITH e AS (
         |  SELECT vec_id, i - 1 AS pos,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS v
         |  FROM embeddings, (SELECT unnest(generate_series(1, 4096)) AS i) gs
         |  WHERE vec_id <= 1 AND i <= len(embedding)),
         |z AS (
         |  SELECT abs(a.v - b.v) AS d, abs(a.v) + abs(b.v) AS sab
         |  FROM (SELECT pos, v FROM e WHERE vec_id = 0) a
         |  JOIN (SELECT pos, v FROM e WHERE vec_id = 1) b USING (pos)),
         |agg AS (
         |  SELECT CAST(sum(d) AS BIGINT) AS manhattan, max(d) AS chebyshev,
         |    CAST(sum(d * d) AS BIGINT) AS eu2,
         |    CAST(sum($canberraTermExpr) AS BIGINT) AS canberra_micro8
         |  FROM z)
         |SELECT manhattan, chebyshev,
         |  round(sqrt(CAST(eu2 AS DOUBLE)), 4) AS euclidean_r, canberra_micro8
         |FROM agg""".stripMargin,
    "q_fft" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY h),
        |series AS (
        |  SELECT n, x FROM (
        |    SELECT row_number() OVER (ORDER BY h) - 1 AS n, x FROM hourly)
        |  WHERE n < 32),
        |ks AS (SELECT unnest(generate_series(0, 31)) AS k)
        |SELECT k,
        |  CAST(sum(CAST(floor(x * cos(2 * pi() * (k * n) / 32) * 1e6) AS BIGINT)) AS BIGINT) AS re_micro6,
        |  CAST(sum(CAST(floor(-x * sin(2 * pi() * (k * n) / 32) * 1e6) AS BIGINT)) AS BIGINT) AS im_micro6
        |FROM ks, series GROUP BY k ORDER BY k""".stripMargin,
    "q_poisson" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS k
        |  FROM events WHERE event_type = 'click' GROUP BY day),
        |m AS (SELECT sum(k) AS s, count(*) AS n FROM daily),
        |c AS (
        |  SELECT day, k,
        |    list_reduce(
        |      list_concat(
        |        [[exp(-(CAST(s AS DOUBLE) / n)), exp(-(CAST(s AS DOUBLE) / n))]],
        |        list_transform(generate_series(1, k), i -> [CAST(i AS DOUBLE), 0])),
        |      (acc, x) -> [acc[1] * (CAST(s AS DOUBLE) / n) / x[1],
        |                   acc[2] + acc[1] * (CAST(s AS DOUBLE) / n) / x[1]])[2] AS cdf
        |  FROM daily, m)
        |SELECT day, k, round(cdf, 4) AS cdf_r FROM c ORDER BY day""".stripMargin,
    "q_cov" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    count(*) FILTER (event_type = 'click') AS x,
        |    count(*) FILTER (event_type = 'view') AS y
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY day)
        |SELECT count(*) AS n,
        |  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
        |    / (count(*) * (count(*) - 1)) AS cov
        |FROM daily""".stripMargin,
    "q_derivative" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY h),
        |series AS (
        |  SELECT n, x FROM (
        |    SELECT row_number() OVER (ORDER BY h) - 1 AS n, x FROM hourly)
        |  WHERE n < 32)
        |SELECT n, dy FROM (
        |  SELECT n, lead(x) OVER (ORDER BY n) - x AS dy FROM series)
        |WHERE dy IS NOT NULL ORDER BY n""".stripMargin,
    "q_integrate" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY h),
        |series AS (
        |  SELECT n, x FROM (
        |    SELECT row_number() OVER (ORDER BY h) - 1 AS n, x FROM hourly)
        |  WHERE n < 32),
        |mx AS (SELECT max(n) AS mx FROM series)
        |SELECT max(mx) AS m,
        |  CAST(2 * sum(x) - sum(CASE WHEN n = 0 THEN x ELSE 0 END)
        |       - sum(CASE WHEN n = mx THEN x ELSE 0 END) AS DOUBLE) / 2 AS integral
        |FROM series, mx""".stripMargin,
    "q_binomial" ->
      """WITH c AS (
        |  SELECT count(*) FILTER (event_type = 'click') AS c,
        |         count(*) FILTER (event_type = 'view') AS v FROM events),
        |p AS (SELECT CAST(c AS DOUBLE) / (c + v) AS p FROM c),
        |t AS (SELECT p, list_reduce(
        |        list_concat([CAST(1.0 AS DOUBLE)],
        |          list_transform(generate_series(1, 16), i -> CAST(0.0 AS DOUBLE))),
        |        (acc, x) -> acc * (1.0 - p)) AS t0 FROM p)
        |SELECT round(p, 4) AS p_r,
        |  round(list_reduce(
        |    list_concat([[t0, t0]],
        |      list_transform(generate_series(1, 5), i -> [CAST(i AS DOUBLE), CAST(0.0 AS DOUBLE)])),
        |    (acc, x) -> [acc[1] * (17 - x[1]) / x[1] * (p / (1.0 - p)),
        |                 acc[2] + acc[1] * (17 - x[1]) / x[1] * (p / (1.0 - p))])[2], 4) AS cdf5
        |FROM t""".stripMargin,
    "q_gtest" ->
      """WITH obs AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, sum(o) AS rt FROM obs GROUP BY lang),
        |ct AS (SELECT source, sum(o) AS ct FROM obs GROUP BY source),
        |tot AS (SELECT sum(o) AS n, count(DISTINCT lang) AS nl,
        |               count(DISTINCT source) AS ns FROM obs)
        |SELECT (nl - 1) * (ns - 1) AS dof,
        |  CAST(sum(CAST(floor(o * ln(CAST(o AS DOUBLE) * n / (CAST(rt.rt AS DOUBLE) * ct.ct))
        |       * 1000000.0) AS BIGINT)) * 2 AS BIGINT) AS g_micro
        |FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot
        |GROUP BY 1""".stripMargin,
    "q_minmax" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY hour),
        |m AS (SELECT min(x) AS mn, max(x) AS mx FROM hourly)
        |SELECT hour, x, CAST(x - mn AS DOUBLE) / (mx - mn) AS scaled
        |FROM hourly, m ORDER BY hour""".stripMargin,
    "q_finddelay" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY hour),
        |ranked AS (
        |  SELECT row_number() OVER (ORDER BY hour) - 1 AS n, x, y FROM hourly),
        |series AS (SELECT n, x, y FROM ranked WHERE n < 24),
        |conv AS (
        |  SELECT a.n + (24 - 1 - b.n) AS idx, sum(a.x * b.y) AS c
        |  FROM series a, series b GROUP BY idx)
        |SELECT CAST(idx + 1 - 24 AS BIGINT) AS delay, CAST(abs(c) AS BIGINT) AS max_abs
        |FROM conv ORDER BY abs(c) DESC, idx ASC LIMIT 1""".stripMargin,
    "q_tsv" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region ORDER BY r_regionkey""".stripMargin,
    "q_lerp" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY hour),
        |s AS (
        |  SELECT row_number() OVER (ORDER BY hour) - 1 AS n, x,
        |    lead(x, 1) OVER (ORDER BY hour) AS xn
        |  FROM hourly)
        |SELECT n, CAST(x + xn AS DOUBLE) / 2 AS mid
        |FROM s WHERE xn IS NOT NULL ORDER BY n""".stripMargin,
    "q_ols" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(CAST(sum(x1) AS BIGINT) AS DOUBLE) AS s1,
        |    CAST(CAST(sum(x2) AS BIGINT) AS DOUBLE) AS s2,
        |    CAST(CAST(sum(x1 * x1) AS BIGINT) AS DOUBLE) AS s11,
        |    CAST(CAST(sum(x1 * x2) AS BIGINT) AS DOUBLE) AS s12,
        |    CAST(CAST(sum(x2 * x2) AS BIGINT) AS DOUBLE) AS s22,
        |    CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS t0,
        |    CAST(CAST(sum(x1 * y) AS BIGINT) AS DOUBLE) AS t1,
        |    CAST(CAST(sum(x2 * y) AS BIGINT) AS DOUBLE) AS t2
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x1,
        |               CAST(floor(l_discount * 100) AS BIGINT) AS x2,
        |               CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |        FROM lineitem)
        |), d AS (
        |  SELECT *, n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |         + s2 * (s1 * s12 - s11 * s2) AS det FROM m
        |)
        |SELECT
        |  round((t0 * (s11 * s22 - s12 * s12) - s1 * (t1 * s22 - s12 * t2) + s2 * (t1 * s12 - s11 * t2)) / det, 4) AS c0,
        |  round((n * (t1 * s22 - s12 * t2) - t0 * (s1 * s22 - s12 * s2) + s2 * (s1 * t2 - t1 * s2)) / det, 4) AS c1,
        |  round((n * (s11 * t2 - t1 * s12) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s12 - s11 * s2)) / det, 4) AS c2
        |FROM d""".stripMargin,
    "q_akima" -> {
      def tkm(a: String, b: String, c: String, d: String): String =
        s"(CASE WHEN abs($d - $c) + abs($b - $a) = 0 THEN CAST($b + $c AS DOUBLE) / 2 " +
          s"ELSE (CAST(abs($d - $c) AS DOUBLE) * $b + CAST(abs($b - $a) AS DOUBLE) * $c) " +
          s"/ (abs($d - $c) + abs($b - $a)) END)"
      s"""WITH hourly AS (
         |  SELECT date_trunc('hour', ts) AS hour, count(*) AS x
         |  FROM events WHERE event_type = 'click' GROUP BY hour),
         |s AS (
         |  SELECT row_number() OVER (ORDER BY hour) - 1 AS n, x,
         |    lead(x, 1) OVER (ORDER BY hour) AS xn
         |  FROM hourly),
         |sl AS (
         |  SELECT n, x, xn, xn - x AS m,
         |    lag(xn - x, 2) OVER (ORDER BY n) AS mm2,
         |    lag(xn - x, 1) OVER (ORDER BY n) AS mm1,
         |    lead(xn - x, 1) OVER (ORDER BY n) AS mp1,
         |    lead(xn - x, 2) OVER (ORDER BY n) AS mp2
         |  FROM s)
         |SELECT n,
         |  round(0.5 * x + 0.125 * ${tkm("mm2", "mm1", "m", "mp1")} +
         |        0.5 * xn - 0.125 * ${tkm("mm1", "m", "mp1", "mp2")}, 4) AS mid_r
         |FROM sl WHERE mm2 IS NOT NULL AND mp2 IS NOT NULL
         |ORDER BY n""".stripMargin
    },
    "q_timediff" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY hour),
        |s AS (
        |  SELECT row_number() OVER (ORDER BY hour) - 1 AS n, x,
        |    lag(x, 24) OVER (ORDER BY hour) AS xp
        |  FROM hourly)
        |SELECT n, x - xp AS diff24 FROM s WHERE xp IS NOT NULL ORDER BY n""".stripMargin,
    "q_moving_mad" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, count(*) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY hour),
        |s AS (SELECT row_number() OVER (ORDER BY hour) - 1 AS n, x FROM hourly),
        |tot AS (SELECT count(*) AS c FROM s),
        |interior AS (SELECT n AS c FROM s, tot WHERE n >= 3 AND n <= tot.c - 4),
        |j1 AS (
        |  SELECT i.c, quantile_cont(s.x, 0.5) AS med
        |  FROM interior i JOIN s ON abs(s.n - i.c) <= 3 GROUP BY i.c)
        |SELECT i.c AS n, quantile_cont(abs(s.x - j1.med), 0.5) AS mad
        |FROM interior i JOIN s ON abs(s.n - i.c) <= 3 JOIN j1 ON j1.c = i.c
        |GROUP BY i.c ORDER BY n""".stripMargin,
    "q_hash_partition" ->
      s"""SELECT $hashWorkerExpr AS worker, count(*) AS cnt
         |FROM orders GROUP BY worker ORDER BY worker""".stripMargin,
    "q_corr_matrix" ->
      s"""WITH m AS (
         |  SELECT count(*) AS n,
         |    sum(x1) AS s1, sum(x2) AS s2, sum(x3) AS s3,
         |    sum(x1 * x1) AS q11, sum(x2 * x2) AS q22, sum(x3 * x3) AS q33,
         |    sum(x1 * x2) AS q12, sum(x1 * x3) AS q13, sum(x2 * x3) AS q23
         |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x1,
         |               CAST(round(l_extendedprice) AS BIGINT) AS x2,
         |               CAST(round(l_discount * 100) AS BIGINT) AS x3
         |        FROM lineitem))
         |SELECT pair, corr FROM (
         |  SELECT 'x1:x2' AS pair, ${corrCellExpr(1, 2)} AS corr FROM m
         |  UNION ALL
         |  SELECT 'x1:x3' AS pair, ${corrCellExpr(1, 3)} AS corr FROM m
         |  UNION ALL
         |  SELECT 'x2:x3' AS pair, ${corrCellExpr(2, 3)} AS corr FROM m)
         |ORDER BY pair""".stripMargin,
    "q_normalize" ->
      """SELECT lang, CAST(cnt AS DOUBLE) / tot AS share FROM
        |  (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |  (SELECT count(*) AS tot FROM documents)
        |ORDER BY lang""".stripMargin,
    "q_rank" ->
      """WITH byval AS (
        |  SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
        |    count(*) AS c
        |  FROM events WHERE event_type = 'purchase' GROUP BY cents)
        |SELECT cents, c,
        |  CAST(2 * cum + c + 1 AS DOUBLE) / 2.0 AS avg_rank
        |FROM (
        |  SELECT cents, c, coalesce(sum(c) OVER (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM byval)
        |ORDER BY cents LIMIT 20""".stripMargin,
    "q_vector_norms" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id < 5)
        |SELECT vec_id,
        |  CAST(list_sum(list_transform(v, x -> abs(x))) AS BIGINT) AS l1,
        |  CAST(list_aggregate(list_transform(v, x -> abs(x)), 'max') AS BIGINT) AS linf,
        |  round(sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE)), 4) AS l2
        |FROM e ORDER BY vec_id""".stripMargin,
    "q_datemath" ->
      """WITH a AS (SELECT TIMESTAMP '2024-03-15 13:45:30' AS t)
        |SELECT expr, CAST(epoch(v) AS BIGINT) AS epoch_s FROM (
        |  SELECT 'NOW/DAY' AS expr, date_trunc('day', t) AS v FROM a
        |  UNION ALL SELECT 'NOW/HOUR+30MINUTES',
        |    date_trunc('hour', t) + INTERVAL 30 MINUTE FROM a
        |  UNION ALL SELECT 'NOW+6MONTHS+3DAYS/DAY',
        |    date_trunc('day', t + INTERVAL 6 MONTH + INTERVAL 3 DAY) FROM a
        |  UNION ALL SELECT 'NOW-1YEAR/MONTH',
        |    date_trunc('month', t - INTERVAL 1 YEAR) FROM a
        |  UNION ALL SELECT 'NOW+90DAYS', t + INTERVAL 90 DAY FROM a
        |  UNION ALL SELECT 'NOW/YEAR', date_trunc('year', t) FROM a
        |) ORDER BY expr""".stripMargin,
    "q_describe" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n0,
        |    min(CAST(l_quantity AS BIGINT)) AS min_x,
        |    max(CAST(l_quantity AS BIGINT)) AS max_x,
        |    CAST(sum(l_quantity) AS BIGINT) AS s1l,
        |    CAST(sum(l_quantity * l_quantity) AS BIGINT) AS s2l,
        |    CAST(sum(l_quantity * l_quantity * l_quantity) AS BIGINT) AS s3l,
        |    CAST(sum(l_quantity * l_quantity * l_quantity * l_quantity) AS BIGINT) AS s4l,
        |    CAST(sum(floor(ln(CAST(l_quantity AS DOUBLE)) * 1e6)) AS BIGINT) AS lnq
        |  FROM lineitem
        |), d AS (
        |  SELECT *, CAST(n0 AS DOUBLE) AS n,
        |    CAST(s1l AS DOUBLE) AS s1, CAST(s2l AS DOUBLE) AS s2,
        |    CAST(s3l AS DOUBLE) AS s3, CAST(s4l AS DOUBLE) AS s4,
        |    CAST(s1l AS DOUBLE) / CAST(n0 AS DOUBLE) AS mean FROM m
        |), c AS (
        |  SELECT *, s2 - mean * s1 AS c2,
        |    s3 - (3.0 * mean) * s2 + ((2.0 * mean) * mean) * s1 AS c3,
        |    s4 - (4.0 * mean) * s3 + ((6.0 * mean) * mean) * s2
        |       - (((3.0 * mean) * mean) * mean) * s1 AS c4
        |  FROM d
        |), v AS (SELECT *, c2 / (n - 1.0) AS vr FROM c)
        |SELECT n0 AS n, min_x, max_x, s1l AS sum_x, s2l AS sumsq_x,
        |  mean AS mean_x,
        |  round(vr, 4) AS var_samp_x, round(c2 / n, 4) AS var_pop_x,
        |  round(sqrt(vr), 4) AS stdev_x,
        |  round(exp((CAST(lnq AS DOUBLE) / 1e6) / n), 4) AS geo_mean_x,
        |  round((n / ((n - 1.0) * (n - 2.0))) * c3 / (vr * sqrt(vr)), 4) AS skewness_x,
        |  round((n * (n + 1.0) / (((n - 1.0) * (n - 2.0)) * (n - 3.0))) * c4 / (vr * vr)
        |    - (3.0 * (n - 1.0)) * (n - 1.0) / ((n - 2.0) * (n - 3.0)), 4) AS kurtosis_x
        |FROM v""".stripMargin,
    "q_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, x AS mode_x, cnt FROM (
        |  SELECT *, max(cnt) OVER (PARTITION BY l_returnflag) AS mx FROM c)
        |WHERE cnt = mx ORDER BY l_returnflag, mode_x""".stripMargin,
    "q_freq_table" ->
      """WITH c AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS value, count(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT value, CAST(cnt AS BIGINT) AS cnt, CAST(cum_freq AS BIGINT) AS cum_freq,
        |  CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS pct,
        |  CAST(cum_freq AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_pct
        |FROM (
        |  SELECT value, cnt,
        |    sum(cnt) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_freq,
        |    sum(cnt) OVER () AS tot
        |  FROM c)
        |ORDER BY value""".stripMargin,
    "q_mean_diff" ->
      """WITH days AS (
        |  SELECT date_trunc('day', ts) AS d,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS b
        |  FROM events GROUP BY d)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(a - b) AS BIGINT) AS diff_sum,
        |  CAST(sum(a - b) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_diff
        |FROM days""".stripMargin,
    "q_markov" ->
      """WITH pairs AS (
        |  SELECT s, t FROM (
        |    SELECT event_type AS s,
        |      lead(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS t
        |    FROM events)
        |  WHERE t IS NOT NULL),
        |cnt AS (SELECT s, t, count(*) AS c FROM pairs GROUP BY s, t),
        |p AS (
        |  SELECT s, t,
        |    CAST(c AS DOUBLE) / CAST(sum(c) OVER (PARTITION BY s) AS DOUBLE) AS p
        |  FROM cnt),
        |step2 AS (
        |  SELECT b.t AS state,
        |    CAST(sum(CAST(floor(a.p * b.p * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
        |      AS p_two_step
        |  FROM p a JOIN p b ON a.t = b.s
        |  WHERE a.s = 'click' GROUP BY b.t)
        |SELECT p.t AS state, p.p AS p_one_step, step2.p_two_step
        |FROM p JOIN step2 ON p.t = step2.state
        |WHERE p.s = 'click' ORDER BY state""".stripMargin,
    "q_geometric" ->
      """WITH base AS (
        |  SELECT 1.0 - CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS q
        |  FROM events)
        |SELECT k, cdf FROM base, (VALUES (0), (1), (2), (3), (4), (5)) ks(k),
        |LATERAL (SELECT CASE k
        |  WHEN 0 THEN 1.0 - q
        |  WHEN 1 THEN 1.0 - q*q
        |  WHEN 2 THEN 1.0 - q*q*q
        |  WHEN 3 THEN 1.0 - q*q*q*q
        |  WHEN 4 THEN 1.0 - q*q*q*q*q
        |  ELSE 1.0 - q*q*q*q*q*q END AS cdf) x
        |ORDER BY k""".stripMargin,
    "q_loess" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY h),
        |series AS (
        |  SELECT n, x FROM (
        |    SELECT row_number() OVER (ORDER BY h) - 1 AS n, x FROM hourly)
        |  WHERE n < 32),
        |pairs AS (
        |  SELECT a.n AS i, b.n - a.n AS xr, b.x AS yj,
        |    abs(b.n - a.n) AS d,
        |    greatest(a.n - greatest(0, least(a.n - 3, 25)),
        |             greatest(0, least(a.n - 3, 25)) + 6 - a.n) AS dmax
        |  FROM series a JOIN series b
        |    ON b.n BETWEEN greatest(0, least(a.n - 3, 25))
        |           AND greatest(0, least(a.n - 3, 25)) + 6),
        |wts AS (
        |  SELECT i, xr, yj,
        |    CAST(floor((1.0 - u3) * (1.0 - u3) * (1.0 - u3) * 1e4) AS BIGINT) AS wq
        |  FROM (SELECT i, xr, yj,
        |          CAST(d * d * d AS DOUBLE) / CAST(dmax * dmax * dmax AS DOUBLE) AS u3
        |        FROM pairs)),
        |mom AS (
        |  SELECT i, sum(wq) AS sw, sum(wq * xr) AS sx, sum(wq * yj) AS sy,
        |    sum(wq * xr * xr) AS sxx, sum(wq * xr * yj) AS sxy
        |  FROM wts GROUP BY i)
        |SELECT i AS n,
        |  CAST(sxx * sy - sx * sxy AS DOUBLE) / CAST(sw * sxx - sx * sx AS DOUBLE) AS loess
        |FROM mom ORDER BY n""".stripMargin,
    "q_analytics_expr" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
        |    / count(*) AS mean_cents,
        |  CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    - min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS spread_cents,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS uniq_supp,
        |  CASE WHEN count(*) > 1000 THEN 'big' ELSE 'small' END AS size_label
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_currency" ->
      """WITH rates(from_cur, to_cur, rate_micro) AS (
        |  VALUES ('USD', 'EUR', 882000), ('EUR', 'USD', 1120000))
        |SELECT o_orderkey, usd_cents, usd_cents * rate_micro AS eur_micros
        |FROM (SELECT o_orderkey,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS usd_cents
        |      FROM orders),
        |  (SELECT rate_micro FROM rates
        |   WHERE from_cur = 'USD' AND to_cur = 'EUR')
        |WHERE usd_cents * rate_micro >= 8800000000000
        |  AND usd_cents * rate_micro < 8900000000000
        |ORDER BY o_orderkey""".stripMargin,
    "q_sql_join" ->
      """SELECT c.c_mktsegment AS seg, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY seg""".stripMargin,
    "q_facet2d" ->
      """WITH tl AS (
        |  SELECT lang FROM (SELECT lang, count(*) AS c FROM documents GROUP BY lang)
        |  ORDER BY c DESC, lang LIMIT 3),
        |ts2 AS (
        |  SELECT source FROM (SELECT source, count(*) AS c FROM documents GROUP BY source)
        |  ORDER BY c DESC, source LIMIT 2)
        |SELECT d.lang, d.source, count(*) AS cnt
        |FROM documents d JOIN tl ON d.lang = tl.lang
        |JOIN ts2 ON d.source = ts2.source
        |GROUP BY d.lang, d.source ORDER BY d.lang, d.source""".stripMargin,
    "q_stream_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) // 1000000 AS es, event_type FROM events),
        |w AS (
        |  SELECT (es // 21600) * 21600 AS w1, event_type FROM e
        |  UNION ALL
        |  SELECT (es // 21600) * 21600 - 21600, event_type FROM e)
        |SELECT strftime(make_timestamp(w1 * 1000000), '%Y-%m-%d %H') AS wstart,
        |  event_type, count(*) AS cnt
        |FROM w GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
    "q_corr_significance" ->
      s"""SELECT CAST(floor(($rRawExpr) * 1e8) AS BIGINT) AS r_micro8,
         |  CAST(floor((($rRawExpr) * sqrt((CAST(n AS DOUBLE) - 2.0)
         |    / (1.0 - ($rRawExpr) * ($rRawExpr)))) * 1e6) AS BIGINT) AS t_micro6
         |FROM (
         |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
         |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x,
         |               CAST(round(l_extendedprice) AS BIGINT) AS y
         |        FROM lineitem))""".stripMargin,
    "q_weibull" ->
      """WITH m AS (
        |  SELECT CAST(sum(x * x) AS DOUBLE) / count(*) AS lsq
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x FROM lineitem)),
        |xs AS (SELECT unnest(generate_series(1, 5)) * 10 AS x0)
        |SELECT x0,
        |  CAST(floor((1.0 - exp(-(CAST(x0 * x0 AS DOUBLE) / lsq))) * 1e8)
        |    AS BIGINT) AS cdf_micro8
        |FROM xs, m ORDER BY x0""".stripMargin,
    "q_barycenter" -> {
      s"""WITH pts AS (
         |  SELECT c_custkey,
         |    (c_custkey * 7919) % 17000 - 8500 AS latc,
         |    (c_custkey * 104729) % 36000 - 18000 AS lonc
         |  FROM customer),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(CAST(sum(latc) AS BIGINT) AS DOUBLE) / count(*)
         |    / CAST(100.0 AS DOUBLE) AS clat,
         |  CAST(CAST(sum(lonc) AS BIGINT) AS DOUBLE) / count(*)
         |    / CAST(100.0 AS DOUBLE) AS clon
         |  FROM pts)
         |SELECT n, clat, clon, CAST(max(d) AS BIGINT) AS max_dist_centikm
         |FROM (
         |  SELECT c.n, c.clat, c.clon,
         |    floor(${havSql("p.lat", "p.lon", "c.clat", "c.clon")} * 100.0 + 0.5) AS d
         |  FROM (SELECT $latSql AS lat, $lonSql AS lon FROM customer) p, c)
         |GROUP BY n, clat, clon""".stripMargin
    },
    "q_poly_area" ->
      """WITH pts AS (
        |  SELECT (c_custkey * 7919) % 17000 - 8500 AS x,
        |    (c_custkey * 104729) % 36000 - 18000 AS y,
        |    row_number() OVER (ORDER BY c_custkey) AS i
        |  FROM (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 5)),
        |nxt AS (SELECT i AS j, x AS xn, y AS yn FROM pts)
        |SELECT CAST(abs(sum(x * yn - xn * y)) AS BIGINT) AS twice_area
        |FROM pts JOIN nxt ON (i % 5) + 1 = j""".stripMargin,
    "q_residuals" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(CAST(sum(x1) AS BIGINT) AS DOUBLE) AS s1,
        |    CAST(CAST(sum(x2) AS BIGINT) AS DOUBLE) AS s2,
        |    CAST(CAST(sum(x1 * x1) AS BIGINT) AS DOUBLE) AS s11,
        |    CAST(CAST(sum(x1 * x2) AS BIGINT) AS DOUBLE) AS s12,
        |    CAST(CAST(sum(x2 * x2) AS BIGINT) AS DOUBLE) AS s22,
        |    CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS t0,
        |    CAST(CAST(sum(x1 * y) AS BIGINT) AS DOUBLE) AS t1,
        |    CAST(CAST(sum(x2 * y) AS BIGINT) AS DOUBLE) AS t2
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x1,
        |               CAST(floor(l_discount * 100) AS BIGINT) AS x2,
        |               CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |        FROM lineitem)
        |), d AS (
        |  SELECT *, n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |         + s2 * (s1 * s12 - s11 * s2) AS det FROM m
        |), coef AS (
        |  SELECT
        |    (t0 * (s11 * s22 - s12 * s12) - s1 * (t1 * s22 - s12 * t2) + s2 * (t1 * s12 - s11 * t2)) / det AS c0,
        |    (n * (t1 * s22 - s12 * t2) - t0 * (s1 * s22 - s12 * s2) + s2 * (s1 * t2 - t1 * s2)) / det AS c1,
        |    (n * (s11 * t2 - t1 * s12) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s12 - s11 * s2)) / det AS c2,
        |    t0 / n AS ybar
        |  FROM d
        |), res AS (
        |  SELECT
        |    CAST(y AS DOUBLE)
        |      - (c0 + c1 * CAST(x1 AS DOUBLE) + c2 * CAST(x2 AS DOUBLE)) AS r,
        |    CAST(y AS DOUBLE) - ybar AS t
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x1,
        |               CAST(floor(l_discount * 100) AS BIGINT) AS x2,
        |               CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |        FROM lineitem), coef)
        |SELECT rss_f, tss_f,
        |  CAST(1.0 AS DOUBLE) - CAST(rss_f AS DOUBLE) / CAST(tss_f AS DOUBLE) AS r2
        |FROM (SELECT CAST(sum(CAST(floor(r * r) AS BIGINT)) AS BIGINT) AS rss_f,
        |             CAST(sum(CAST(floor(t * t) AS BIGINT)) AS BIGINT) AS tss_f
        |      FROM res)""".stripMargin,
    "q_ordinal" ->
      """SELECT l_returnflag, ordinal3_qty FROM (
        |  SELECT l_returnflag, q AS ordinal3_qty,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY q, l_orderkey, l_linenumber) AS rn
        |  FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
        |          l_orderkey, l_linenumber FROM lineitem))
        |WHERE rn = 3 ORDER BY l_returnflag""".stripMargin,
    "q_predict" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(CAST(sum(x1) AS BIGINT) AS DOUBLE) AS s1,
        |    CAST(CAST(sum(x2) AS BIGINT) AS DOUBLE) AS s2,
        |    CAST(CAST(sum(x1 * x1) AS BIGINT) AS DOUBLE) AS s11,
        |    CAST(CAST(sum(x1 * x2) AS BIGINT) AS DOUBLE) AS s12,
        |    CAST(CAST(sum(x2 * x2) AS BIGINT) AS DOUBLE) AS s22,
        |    CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS t0,
        |    CAST(CAST(sum(x1 * y) AS BIGINT) AS DOUBLE) AS t1,
        |    CAST(CAST(sum(x2 * y) AS BIGINT) AS DOUBLE) AS t2
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x1,
        |               CAST(floor(l_discount * 100) AS BIGINT) AS x2,
        |               CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |        FROM lineitem WHERE l_orderkey % 2 = 0)
        |), d AS (
        |  SELECT *, n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |         + s2 * (s1 * s12 - s11 * s2) AS det FROM m
        |), coef AS (
        |  SELECT
        |    (t0 * (s11 * s22 - s12 * s12) - s1 * (t1 * s22 - s12 * t2) + s2 * (t1 * s12 - s11 * t2)) / det AS c0,
        |    (n * (t1 * s22 - s12 * t2) - t0 * (s1 * s22 - s12 * s2) + s2 * (s1 * t2 - t1 * s2)) / det AS c1,
        |    (n * (s11 * t2 - t1 * s12) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s12 - s11 * s2)) / det AS c2
        |  FROM d
        |), test AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(floor(l_discount * 100) AS BIGINT) AS x2
        |  FROM lineitem WHERE l_orderkey % 2 = 1
        |  ORDER BY l_orderkey, l_linenumber LIMIT 5)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(c0 + c1 * CAST(x1 AS DOUBLE) + c2 * CAST(x2 AS DOUBLE))
        |    AS BIGINT) AS pred_cents
        |FROM test, coef ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_temporal" ->
      """SELECT event_id, year(ts) AS yy, quarter(ts) AS qq, month(ts) AS mm,
        |  weekofyear(ts) AS wk, dayofyear(ts) AS doy, hour(ts) AS hh
        |FROM events WHERE event_id % 1999 = 0 ORDER BY event_id""".stripMargin,
    "q_termvectors_tfidf" ->
      """WITH sub AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS tk
        |  FROM documents WHERE doc_id % 50 = 0),
        |n AS (SELECT count(*) AS n FROM sub),
        |tok AS (SELECT doc_id, unnest(tk) AS term FROM sub),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(floor(sqrt(CAST(tf.tf AS DOUBLE))
        |      * (ln(CAST(n.n + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE))
        |        + CAST(1.0 AS DOUBLE)) * 1e6) AS BIGINT) AS tfidf_micro6
        |  FROM tf JOIN df ON tf.term = df.term, n),
        |r AS (SELECT doc_id, term, tfidf_micro6,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf_micro6 DESC, term) AS rn FROM sc)
        |SELECT doc_id, rn, term, tfidf_micro6 FROM r WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,
    "q_matrix_sums" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source)
        |SELECT kind, label, total FROM (
        |  SELECT 'row' AS kind, lang AS label, CAST(sum(c) AS BIGINT) AS total
        |  FROM cells GROUP BY lang
        |  UNION ALL
        |  SELECT 'col', source, CAST(sum(c) AS BIGINT) FROM cells GROUP BY source
        |  UNION ALL
        |  SELECT 'grand', 'all', CAST(sum(c) AS BIGINT) FROM cells)
        |ORDER BY kind, label""".stripMargin,
    "q_facet_daterange" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS bucket,
        |  count(*) AS cnt
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-22'
        |GROUP BY bucket
        |UNION ALL
        |SELECT '__before__', count(*) FROM events
        |WHERE ts < TIMESTAMP '2024-01-08'
        |UNION ALL
        |SELECT '__after__', count(*) FROM events
        |WHERE ts >= TIMESTAMP '2024-01-22'
        |ORDER BY bucket""".stripMargin,
    "q_facet_params" ->
      """WITH d AS (SELECT nullif(lang, 'en') AS fv FROM documents),
        |b AS (SELECT fv, count(*) AS cnt FROM d WHERE fv IS NOT NULL
        |      GROUP BY fv HAVING count(*) >= 2),
        |p AS (SELECT fv AS val, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, fv) AS pos FROM b)
        |SELECT val, cnt, pos FROM p WHERE pos > 1 AND pos <= 4
        |UNION ALL
        |SELECT '__missing__', count(*), 99 FROM d WHERE fv IS NULL
        |ORDER BY pos, val""".stripMargin,
    "q_pivot_stats" ->
      """SELECT source, lang, count(*) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "q_stats_date" ->
      """SELECT count(*) AS cnt,
        |  min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us,
        |  CAST(sum(epoch_us(ts) // 1000000) AS DOUBLE) / count(*) AS mean_s
        |FROM events""".stripMargin,
    "q_dih_transform" ->
      """SELECT event_id,
        |  regexp_extract(event_type, '^([a-z]{3})', 1) AS etype3,
        |  'evt-' || event_type || '-' || CAST(user_id AS VARCHAR) AS tmpl,
        |  strftime(ts, '%Y-%m-%d %H') AS ts_hour
        |FROM events WHERE event_id % 199 = 0 ORDER BY event_id""".stripMargin,
    // the same battery over the same dyadic inputs
    "q_scalar_math" ->
      """SELECT x,
        |  CAST(ceil(xa) AS BIGINT) AS ceilv,
        |  CAST(floor(xa) AS BIGINT) AS floorv,
        |  CAST(round(xa) AS BIGINT) AS roundv,
        |  CAST(x % 5 AS BIGINT) AS modv,
        |  CAST(x * x * x AS BIGINT) AS pow3,
        |  CAST(abs(0 - x) AS BIGINT) AS absv,
        |  CAST(floor(cbrt(CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS cbrt_micro6,
        |  CAST(floor(sqrt(CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS sqrt_micro6,
        |  CAST(floor(log10(CAST(x AS DOUBLE)) * 1e6) AS BIGINT) AS log10_micro6,
        |  CAST(floor((exp(xa) - exp(0 - xa)) / 2 * 1e6) AS BIGINT) AS sinh_micro6
        |FROM (SELECT x, CAST(x AS DOUBLE) / 4 AS xa
        |      FROM (SELECT DISTINCT doc_id % 7 + 2 AS x FROM documents))
        |ORDER BY x""".stripMargin,
    // the same per-lag exact moments through the same Pearson text
    "q_autocorr" ->
      s"""WITH hourly AS (
         |  SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
         |  FROM events WHERE event_type = 'click' GROUP BY h),
         |series AS (
         |  SELECT row_number() OVER (ORDER BY h) AS n0, cnt AS x FROM hourly),
         |l(k) AS (VALUES (1), (2), (3)),
         |m AS (
         |  SELECT l.k, count(*) AS n, sum(a.x) AS sx, sum(b.x) AS sy,
         |    sum(a.x * a.x) AS sxx, sum(b.x * b.x) AS syy,
         |    sum(a.x * b.x) AS sxy
         |  FROM l, series a, series b WHERE b.n0 = a.n0 + l.k
         |  GROUP BY l.k)
         |SELECT CAST(k AS BIGINT) AS lag, $corrExpr AS acf4
         |FROM m ORDER BY lag""".stripMargin,
    // derivative at 3 points from the same Cramer c1/c2 expressions
    "q_polyfit_derivative" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS s1,
        |    CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS s2,
        |    CAST(CAST(sum(x * x * x) AS BIGINT) AS DOUBLE) AS s3,
        |    CAST(CAST(sum(x * x * x * x) AS BIGINT) AS DOUBLE) AS s4,
        |    CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS t0,
        |    CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS t1,
        |    CAST(CAST(sum(x * x * y) AS BIGINT) AS DOUBLE) AS t2
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS x,
        |               CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |        FROM lineitem)
        |), d AS (
        |  SELECT *, n * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
        |         + s2 * (s1 * s3 - s2 * s2) AS det FROM m
        |), c AS (
        |  SELECT
        |    (n * (t1 * s4 - s3 * t2) - t0 * (s1 * s4 - s3 * s2) + s2 * (s1 * t2 - t1 * s2)) / det AS c1v,
        |    (n * (s2 * t2 - t1 * s3) - s1 * (s1 * t2 - t1 * s2) + t0 * (s1 * s3 - s2 * s2)) / det AS c2v
        |  FROM d)
        |SELECT CAST(t.x AS BIGINT) AS x,
        |  round(c1v + 2 * c2v * t.x, 4) AS deriv4
        |FROM c, (VALUES (10), (20), (30)) t(x) ORDER BY x""".stripMargin,
    // hull perimeter: triangle-rule vertex set, angle-ordered edges,
    // per-edge micro-floor before the order-independent integer sum
    "q_hull_perimeter" ->
      """WITH pts AS (
        |  SELECT DISTINCT user_id % 23 AS x, event_id % 19 AS y FROM events
        |  WHERE event_type = 'signup' AND event_id % 127 = 0),
        |hull AS (
        |  SELECT x, y FROM pts p WHERE NOT EXISTS (
        |    SELECT 1 FROM pts a, pts b, pts c
        |    WHERE (a.x <> p.x OR a.y <> p.y) AND (b.x <> p.x OR b.y <> p.y)
        |      AND (c.x <> p.x OR c.y <> p.y)
        |      AND ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x)) <> 0
        |      AND (((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) >= 0
        |        AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) >= 0
        |        AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) >= 0)
        |       OR ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) <= 0
        |        AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) <= 0
        |        AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) <= 0)))),
        |cent AS (SELECT CAST(sum(x) AS DOUBLE) / count(*) AS cx,
        |                CAST(sum(y) AS DOUBLE) / count(*) AS cy FROM hull),
        |ord AS (SELECT x, y,
        |  row_number() OVER (ORDER BY atan2(y - cy, x - cx)) AS rn,
        |  count(*) OVER () AS m FROM hull, cent)
        |SELECT CAST((SELECT count(*) FROM hull) AS BIGINT) AS n_vertices,
        |  CAST(sum(CAST(floor(sqrt(
        |    CAST((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS DOUBLE))
        |    * 1e6) AS BIGINT)) AS BIGINT) AS perim_micro6
        |FROM ord a JOIN ord b ON b.rn = a.rn % a.m + 1""".stripMargin,
    // per-vector integer min-max rescale, first 4 dims
    "q_minmax_scale" ->
      """SELECT vec_id, CAST(j - 1 AS BIGINT) AS i,
        |  CAST((v[j] - list_min(v)) * 1000000 // (list_max(v) - list_min(v)) AS BIGINT) AS scaled_micro6
        |FROM (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id < 6),
        |  (SELECT unnest(generate_series(1, 4)) AS j)
        |ORDER BY vec_id, i""".stripMargin,
    // same Thomas ladder as a CTE chain
    "q_spline" -> {
      val ctes = splineSteps.zipWithIndex.map { case ((alias, e), i) =>
        val prev = if (i == 0) "wide" else s"s$i"
        s"s${i + 1} AS (SELECT *, $e AS $alias FROM $prev)"
      }
      s"""WITH hourly AS (
         |  SELECT date_trunc('hour', ts) AS h, count(*) AS x
         |  FROM events WHERE event_type = 'click' GROUP BY h),
         |series AS (
         |  SELECT n, x FROM (
         |    SELECT row_number() OVER (ORDER BY h) - 1 AS n, x FROM hourly)
         |  WHERE n < 8),
         |wide AS (SELECT
         |  ${(0 to 7).map(i => s"(SELECT x FROM series WHERE n = $i) AS y$i").mkString(",\n         |  ")}),
         |${ctes.mkString(",\n")}
         |SELECT CAST(i AS BIGINT) AS i,
         |  CAST(floor(m * 1e6) AS BIGINT) AS m_micro6,
         |  CAST(floor(s25 * 1e6) AS BIGINT) AS s25_micro6
         |FROM (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i,
         |        unnest([m0, m1, m2, m3, m4, m5, m6, m7]) AS m, s25
         |      FROM s${splineSteps.size})
         |ORDER BY i""".stripMargin
    },
    // same micro-floored norm family (DuckDB lists are 1-based)
    "q_norms2" ->
      """SELECT vec_id,
        |  CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT) AS linf,
        |  CAST(list_sum(list_transform(v, x -> abs(x))) AS BIGINT) AS l1,
        |  CAST(floor(CAST(v[1] AS DOUBLE)
        |    / list_sum(list_transform(v, x -> abs(x))) * 1e6) AS BIGINT) AS nsum0_micro6,
        |  CAST(floor(CAST(v[1] AS DOUBLE)
        |    / sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE)) * 1e6) AS BIGINT) AS unit0_micro6
        |FROM (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id < 8)
        |ORDER BY vec_id""".stripMargin,
    // the same lattice via DuckDB GROUPING SETS
    "q_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
        |  count(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |                        (o_orderpriority), ())
        |ORDER BY gid, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,
    // element at the same pure-integer ceil rank
    "q_percentile_disc" ->
      """WITH r AS (
        |  SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT a.o_orderpriority, a.p50_cents, b.p90_cents FROM
        |  (SELECT o_orderpriority, min(cents) AS p50_cents FROM r
        |   WHERE rn = (n * 1 + 2 - 1) // 2 GROUP BY 1) a
        |  JOIN
        |  (SELECT o_orderpriority, min(cents) AS p90_cents FROM r
        |   WHERE rn = (n * 9 + 10 - 1) // 10 GROUP BY 1) b
        |  USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    // the plain one-stage aggregation the salted plan must equal
    "q_salted_agg" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(user_id % 1000) AS BIGINT) AS ssum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the same single-type aggregate off the unpartitioned table
    "q_partition_prune" ->
      """SELECT user_id % 50 AS ub, count(*) AS cnt,
        |  CAST(sum(event_id % 997) AS BIGINT) AS esum
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY ub ORDER BY ub""".stripMargin,
    // same planted URL classified with the same rules
    "q_url_classify" ->
      """SELECT doc_id, url, CAST(length(url) AS BIGINT) AS url_length,
        |  CAST(len(string_split(url, '/')) - 3 AS BIGINT) AS levels,
        |  regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
        |  string_split(url, '/')[-1] AS landing_page
        |FROM (
        |  SELECT doc_id, 'https://ex' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.org/a/b/page' || CAST(doc_id % 3 AS VARCHAR) || '.html' AS url
        |  FROM documents WHERE doc_id % 41 = 0)
        |ORDER BY doc_id""".stripMargin,
    // trim/truncate/length/remove-blank chain
    "q_field_mutations" ->
      """SELECT doc_id,
        |  trim('  ' || source || '  ') AS trimmed,
        |  substr(text, 1, 12) AS truncated,
        |  CAST(length(text) AS BIGINT) AS field_length,
        |  CAST(CASE WHEN trim(lang) = '' THEN 0 ELSE 1 END AS BIGINT) AS kept_fields
        |FROM documents WHERE doc_id % 53 = 0
        |ORDER BY doc_id""".stripMargin,
    // same join + agg over the plain (non-bucketed) tables
    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // element-wise arithmetic on the same quantized vectors
    "q_vector_ebe" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id < 2),
        |idx AS (SELECT unnest(generate_series(1, 16)) AS j)
        |SELECT CAST(j - 1 AS BIGINT) AS i,
        |  a.v[j] AS a, b.v[j] AS b,
        |  a.v[j] + b.v[j] AS ebe_add,
        |  a.v[j] - b.v[j] AS ebe_sub,
        |  a.v[j] * b.v[j] AS ebe_mul,
        |  a.v[j] + 10 AS scalar_add,
        |  a.v[j] * 3 AS scalar_mul
        |FROM idx, (SELECT v FROM e WHERE vec_id = 0) a,
        |          (SELECT v FROM e WHERE vec_id = 1) b
        |ORDER BY i""".stripMargin,
    // the same sampled sinusoid and echoed parameters
    "q_oscillate" ->
      """SELECT t, CAST(floor(3 * sin(0.25 * t + 0.5) * 1e6) AS BIGINT) AS osc_micro6,
        |  CAST(3 AS BIGINT) AS amplitude,
        |  CAST(0.25 AS DOUBLE) AS angular_freq,
        |  CAST(0.5 AS DOUBLE) AS phase
        |FROM (SELECT unnest(generate_series(0, 31)) AS t)
        |ORDER BY t""".stripMargin,
    // N(50,20) pdf over the same support, same expression text
    "q_density" ->
      s"""SELECT x, CAST(floor(($gaussPdfSql) * 1e9) AS BIGINT) AS pdf_nano
         |FROM (SELECT DISTINCT user_id % 100 AS x FROM events)
         |ORDER BY x""".stripMargin,
    // inverse transform over the same exact-int spectrum
    "q_ifft" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS x
        |  FROM events WHERE event_type = 'click' GROUP BY h),
        |series AS (
        |  SELECT n, x FROM (
        |    SELECT row_number() OVER (ORDER BY h) - 1 AS n, x FROM hourly)
        |  WHERE n < 32),
        |ks AS (SELECT unnest(generate_series(0, 31)) AS k),
        |spec AS (
        |  SELECT k,
        |    CAST(sum(CAST(floor(x * cos(2 * pi() * (k * n) / 32) * 1e6) AS BIGINT)) AS BIGINT) AS re_micro6,
        |    CAST(sum(CAST(floor(-x * sin(2 * pi() * (k * n) / 32) * 1e6) AS BIGINT)) AS BIGINT) AS im_micro6
        |  FROM ks, series GROUP BY k),
        |ns AS (SELECT unnest(generate_series(0, 31)) AS n)
        |SELECT n,
        |  CAST(sum(CAST(floor(re_micro6 * cos(2 * pi() * (k * n) / 32)
        |    - im_micro6 * sin(2 * pi() * (k * n) / 32)) AS BIGINT)) AS BIGINT) AS recon_units
        |FROM ns, spec GROUP BY n ORDER BY n""".stripMargin,
    // per-type CDF/pmf in integer-division micro-units
    "q_empirical" ->
      """SELECT event_type,
        |  CAST(c25 * 1000000 // tot AS BIGINT) AS cdf25_micro6,
        |  CAST(c50 * 1000000 // tot AS BIGINT) AS cdf50_micro6,
        |  CAST(c75 * 1000000 // tot AS BIGINT) AS cdf75_micro6,
        |  CAST(c10 * 1000000 // tot AS BIGINT) AS pmf10_micro6
        |FROM (
        |  SELECT event_type, count(*) AS tot,
        |    sum(CASE WHEN v <= 25 THEN 1 ELSE 0 END) AS c25,
        |    sum(CASE WHEN v <= 50 THEN 1 ELSE 0 END) AS c50,
        |    sum(CASE WHEN v <= 75 THEN 1 ELSE 0 END) AS c75,
        |    sum(CASE WHEN v = 10 THEN 1 ELSE 0 END) AS c10
        |  FROM (SELECT event_type, user_id % 100 AS v FROM events)
        |  GROUP BY event_type)
        |ORDER BY event_type""".stripMargin,
    // high-priority topic drained fully before the low one
    "q_priority" ->
      """SELECT event_id, event_type FROM events
        |WHERE event_type IN ('error', 'view')
        |ORDER BY (CASE WHEN event_type = 'error' THEN 0 ELSE 1 END), event_id
        |LIMIT 20""".stripMargin,
    // vertex = inside no closed non-degenerate triangle of three other
    // points; area via shoelace over the angle-ordered hull (atan2 is used
    // only to SORT — every output value stays an exact BIGINT)
    "q_convex_hull" ->
      """WITH pts AS (
        |  SELECT DISTINCT user_id % 23 AS x, event_id % 19 AS y FROM events
        |  WHERE event_type = 'signup' AND event_id % 127 = 0),
        |hull AS (
        |  SELECT x, y FROM pts p WHERE NOT EXISTS (
        |    SELECT 1 FROM pts a, pts b, pts c
        |    WHERE (a.x <> p.x OR a.y <> p.y) AND (b.x <> p.x OR b.y <> p.y)
        |      AND (c.x <> p.x OR c.y <> p.y)
        |      AND ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x)) <> 0
        |      AND (((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) >= 0
        |        AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) >= 0
        |        AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) >= 0)
        |       OR ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) <= 0
        |        AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) <= 0
        |        AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) <= 0)))),
        |cent AS (SELECT CAST(sum(x) AS DOUBLE) / count(*) AS cx,
        |                CAST(sum(y) AS DOUBLE) / count(*) AS cy FROM hull),
        |ord AS (SELECT x, y,
        |  row_number() OVER (ORDER BY atan2(y - cy, x - cx)) AS rn,
        |  count(*) OVER () AS m FROM hull, cent),
        |ar AS (SELECT abs(sum(a.x * b.y - b.x * a.y)) AS area2
        |       FROM ord a JOIN ord b ON b.rn = a.rn % a.m + 1)
        |SELECT h.x, h.y, CAST(ar.area2 AS BIGINT) AS area2 FROM hull h, ar
        |ORDER BY h.x, h.y""".stripMargin,
    // i-th prime by the same trial-division rule, i!, C(12,i) integer-div
    "q_primes" ->
      """WITH idx AS (SELECT DISTINCT doc_id % 12 + 1 AS i FROM documents),
        |pr AS (SELECT list_filter(generate_series(2, 200), n ->
        |  len(list_filter(generate_series(1, n), d -> d > 1 AND d < n AND n % d = 0)) = 0) AS ps)
        |SELECT i, ps[CAST(i AS INT)] AS p,
        |  CAST(factorial(CAST(i AS INT)) AS BIGINT) AS fact,
        |  CAST(factorial(12) // (factorial(CAST(i AS INT)) * factorial(CAST(12 - i AS INT))) AS BIGINT) AS binom
        |FROM idx, pr ORDER BY i""".stripMargin,
    // drop-2 head / last / slice / position over the same token lists
    "q_array_ops" ->
      s"""SELECT doc_id, tk[3] AS after_lshift2,
         |  list_reverse(tk)[1] AS last_tok,
         |  array_to_string(list_slice(tk, 3, 5), ' ') AS mid_slice,
         |  CAST(coalesce(list_position(tk, 'table'), 0) AS BIGINT) AS pos_table
         |FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
         |      FROM documents WHERE doc_id % 97 = 0)
         |ORDER BY doc_id""".stripMargin,
    // Erlang k=3 CDF, the same shared expression text
    "q_erlang" ->
      s"""SELECT x, CAST(floor(($erlangCdfSql) * 1e9) AS BIGINT) AS cdf_nano
         |FROM (SELECT DISTINCT n_chars AS x FROM documents)
         |ORDER BY x""".stripMargin,
    // C = A·B joined on the contraction dimension, exact integer counts
    "q_matrix_mult" ->
      """WITH a AS (
        |  SELECT event_type AS t, user_id % 5 AS u, count(*) AS av
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id % 5 AS u, event_id % 4 AS j, count(*) AS bv
        |  FROM events GROUP BY 1, 2)
        |SELECT a.t, b.j, CAST(sum(a.av * b.bv) AS BIGINT) AS c
        |FROM a JOIN b ON a.u = b.u
        |GROUP BY a.t, b.j ORDER BY a.t, b.j""".stripMargin,
    // piecewise-quadratic triangular CDF in exact nano-units
    "q_triangular" ->
      """SELECT x, CAST(CASE WHEN x <= 50 THEN x * x * 200000
        |  ELSE 1000000000 - (100 - x) * (100 - x) * 200000 END AS BIGINT) AS cdf_nano
        |FROM (SELECT DISTINCT n_chars % 101 AS x FROM documents)
        |ORDER BY x""".stripMargin
  )
}
