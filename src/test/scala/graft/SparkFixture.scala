package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Spark startup dominates
  * test wall time otherwise). */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // plan assertions read scan locations, which Spark cuts at 100
      // characters by default: keep them whole whatever the temp path
      .config("spark.sql.maxMetadataStringLength", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
