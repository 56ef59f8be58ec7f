package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The token-count prefilters in front of td_length_buckets,
  * td_quality_gopher and td_quality_gopher2 must keep exactly the docs whose
  * tokenization `regexp_extract_all(lower(text), '[a-z0-9]+', 0)` has at
  * least one (resp. two) tokens. Lowercasing can turn a non-ASCII char into
  * an ASCII letter (U+212A KELVIN SIGN -> 'k', U+0130 -> 'i' + U+0307), so a
  * predicate over the raw text both drops docs that tokenize non-empty and
  * keeps docs whose runs merge into one token. */
class TokenPrefilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val texts = Seq(
    "\u212A", // KELVIN SIGN lowercases to one token 'k'
    "a \u212A", // two tokens: 'a', 'k'
    "a\u212Ab", // raw text shows two runs, lowercased it is the one token 'akb'
    "\u0130", // lowercases to 'i' + U+0307: one token 'i'
    "\u0130 b", // two tokens: 'i', 'b'
    "\u00e9\u00e8", // accents only: no token
    "the cat and the hat of a mat", // plain ASCII
    "x")

  private lazy val sfDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-prefilter-").toString
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** doc_id -> token count, from the tokenizer the queries and oracles share. */
  private lazy val tokens: Map[Long, Int] = texts.zipWithIndex.map { case (t, i) =>
    i.toLong -> "[a-z0-9]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT)).size
  }.toMap

  private def run(name: String) = TrainingDataQueries.queries(name)(spark, sfDir)

  test("the fixture's lowercasing is the engine's") {
    val engine = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(engine == tokens)
    assert(tokens.values.toSeq.sorted == Seq(0, 1, 1, 1, 1, 2, 2, 8))
  }

  test("td_length_buckets counts every doc with at least one token") {
    val rows = run("td_length_buckets").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == tokens.values.count(_ >= 1))
    assert(rows.map(_.getAs[Long]("sum_tok")).sum == tokens.values.sum)
  }

  test("td_quality_gopher keeps exactly the docs with at least two tokens") {
    val rows = run("td_quality_gopher").collect()
    assert(rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_toks")).toMap ==
      tokens.filter(_._2 >= 2).map { case (d, n) => d -> n.toLong })
  }

  test("td_quality_gopher2 keeps exactly the docs with at least one token") {
    val rows = run("td_quality_gopher2").collect()
    assert(rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_toks")).toMap ==
      tokens.filter(_._2 >= 1).map { case (d, n) => d -> n.toLong })
  }
}
