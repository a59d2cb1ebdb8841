package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `op`, consume a frame it returns the way a query would, and
    * count the RDDs it persisted that are still persisted afterwards
    * (result frames included — callers pass the bound they expect for
    * those). A call expected to throw runs inside an `intercept` in
    * `op`, so the count covers its error path too. Counting the ids that
    * are new since the call, not the size of the session-wide map, keeps
    * the figure independent of what earlier suites left behind and of
    * when the ContextCleaner removes it. */
  def rddDelta(op: => Any): Long = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    op match {
      case ds: Dataset[_] => ds.count()
      case _ => ()
    }
    (spark.sparkContext.getPersistentRDDs.keySet -- before).size.toLong
  }
}
