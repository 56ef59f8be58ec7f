package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.index.IndexBuilder
import java.nio.file.{Files, Paths}

/** The source-format queries (q_csv, q_json, q_tsv, q_jdbc,
  * q_partition_prune) stage their landing-zone copies once per JVM in a
  * recorded scratch dir, never at a fixed path a later run could reuse. */
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
}
