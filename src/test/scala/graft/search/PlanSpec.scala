package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.index._

/** Physical-plan audits: the properties that make the engine hold at scale
  * must be visible in the executed plan, not assumed — term predicates
  * reach the parquet scan (the dictionary seek), projection pruning reaches
  * ReadSchema, dimension joins broadcast. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val index = IndexBuilder.build(
    spark.createDataset(CodeCorpus.files(300))(
      org.apache.spark.sql.Encoders.product[CodeFile]),
    IndexConfig(numPartitions = 2))

  /** The executed plan of a term-dictionary scan under `pred`. */
  private def dictScanPlan(pred: org.apache.spark.sql.Column): String =
    index.termStats.filter(pred).queryExecution.executedPlan.toString

  /** The pre-filter every multi-term dictionary expansion scans under. */
  private def expansionPlan(mt: MultiTermQ): String = dictScanPlan(Query.scanPrefilter(mt))

  test("exact term lookup pushes an In/EqualTo filter to the parquet scan") {
    // the exact-term statistics lookup of GraftSearcher.commonTermsQuery
    val plan = dictScanPlan(org.apache.spark.sql.functions.col("term").isin("indexwriter"))
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("In(term") || plan.contains("EqualTo(term"),
      plan.take(2000))
  }

  test("prefix queries push StringStartsWith (row-group min/max pruning)") {
    val plan = expansionPlan(PrefixQ("merge"))
    assert(plan.contains("StringStartsWith(term,merge"), plan.take(2000))
  }

  test("wildcard with a literal prefix pushes that prefix") {
    val plan = expansionPlan(WildcardQ("merge*cy"))
    assert(plan.contains("StringStartsWith(term,merge"), plan.take(2000))
  }

  test("term ranges push bound filters") {
    val plan = expansionPlan(TermRangeQ("if", "import", true, true))
    assert(plan.contains("GreaterThanOrEqual(term,if"), plan.take(2000))
    assert(plan.contains("LessThanOrEqual(term,import"), plan.take(2000))
    // a bound at or above U+D800 orders differently in Spark (code points)
    // and in `matches` (UTF-16): it is left to `matches`
    val astral = expansionPlan(TermRangeQ("if", "\uFF41", true, true))
    assert(astral.contains("GreaterThanOrEqual(term,if"), astral.take(2000))
    assert(!astral.contains("LessThanOrEqual(term"), astral.take(2000))
  }

  test("pruned and unpruned block scans produce identical search results") {
    val searcher = new GraftSearcher(index)
    // the pruned path is exercised by search itself; cross-check a term
    // query against the phrase-shaped query that forces the full payload
    val t = searcher.matchesDS(TermQ("indexwriter")).collect().toSet
    val viaBool = searcher.matchesDS(
      BoolQ(must = Seq(TermQ("indexwriter"), MatchAllQ))).collect().toSet
    assert(t == viaBool)
    assert(t.nonEmpty)
  }

  test("star join broadcasts every dimension side") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.RelationalQueries.queries("q_join_star")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("decontamination joins the benchmark shingle set by broadcast") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.TrainingDataQueries.queries("td_decontaminate")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the corpus side must NOT shuffle on the shingle key — the benchmark
    // side broadcasts into a map-side hash join
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("scored join broadcasts the per-value score table to the to-side") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.FulltextQueries.queries("ft_join_scored")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("child block join broadcasts the top-parent table onto the children") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.FulltextQueries.queries("ft_block_join_child")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the 3-row parent-score table must broadcast; the child table never
    // shuffles on the parent key
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("sq8 quantized top-k is a scan + project + TakeOrdered, no shuffle agg") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.TrainingDataQueries.queries("td_knn_sq8")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // scoring is map-only: the only wide operation is the final top-k merge
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("gap-filled timeseries broadcasts the counts into the hour axis") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.RelationalQueries.queries("q_timeseries_gapfill")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("as-of join is one keyed window sweep, not a per-row lookup join") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.RelationalQueries.queries("q_asof")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the carry is a running window over the unioned stream: no join node
    // of any kind, and no nested-loop fallback
    assert(plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("range join buckets into an equi-join, never a nested-loop product") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.RelationalQueries.queries("q_range_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the inequality predicate must ride an equi-join on the day bucket —
    // a BroadcastNestedLoopJoin/CartesianProduct here is the O(n·m) cliff
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(3000))
  }

  test("dbscan candidate generation is a banded equi-join, never all-pairs") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.TrainingDataQueries.queries("td_dbscan")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the eps-neighbor pairs must come from the pivot-band equi-join —
    // a nested-loop/cartesian here is the O(n²) cliff at corpus scale
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q1 scan prunes lineitem columns to the aggregated subset") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.queries.RelationalQueries.queries("q1_agg")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the shipdate filter must be pushed and unneeded columns dropped
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"))
    assert(!plan.contains("l_comment"), "scan reads columns the query never touches")
  }
}
