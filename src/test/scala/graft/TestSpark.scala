package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // the default database's dir: a recorded scratch dir the JVM deletes
      // at exit, never `spark-warehouse/` under the working directory
      .config("spark.sql.warehouse.dir", graft.index.IndexBuilder.scratchDir("graft-warehouse-"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
