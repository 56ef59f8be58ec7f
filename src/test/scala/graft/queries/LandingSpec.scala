package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.index.IndexBuilder
import java.nio.file.{Files, Paths}

/** The source-format queries (q_csv, q_json, q_tsv, q_jdbc,
  * q_partition_prune) stage their landing-zone copies once per JVM in a
  * recorded scratch dir, never at a fixed path a later run could reuse;
  * q_bucketed_join's bucketed tables live in one too, never in the
  * session's warehouse dir. */
class LandingSpec extends AnyFunSuite {

  test("a landing copy is staged once, in a recorded scratch dir") {
    var staged = 0
    def land() = RelationalQueries.landing("/sf-landing-probe", "t.csv") { p =>
      staged += 1
      Files.createDirectories(Paths.get(p))
    }
    val path = land()
    val dir = Paths.get(path).getParent.toString
    assert(Paths.get(path).getFileName.toString == "t.csv")
    assert(IndexBuilder.stagedDirs.contains(dir))
    assert(Files.isDirectory(Paths.get(path)))
    assert(land() == path)
    assert(staged == 1)
    IndexBuilder.deleteStaged(Seq(dir))
  }

  test("q_bucketed_join's tables live in a recorded scratch dir, not the warehouse") {
    val spark = graft.TestSpark.spark
    RelationalQueries.queries("q_bucketed_join")(spark, "/root/testdata/sf0.001").collect()
    for (tbl <- Seq("g_orders_b", "g_lineitem_b")) {
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
        .filter("col_name = 'Location'").collect().head.getString(1)
      val path = Paths.get(loc.stripPrefix("file:"))
      assert(path.getFileName.toString == tbl)
      assert(IndexBuilder.stagedDirs.contains(path.getParent.toString), loc)
      val warehouse = Paths.get(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      assert(!Files.exists(warehouse.resolve(tbl)), s"$tbl under $warehouse")
    }
  }
}
