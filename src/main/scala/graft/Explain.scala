package graft

/** Plan-inspection tool: dump the optimized/physical plan of any
  * registered query (pushdown, broadcast direction, exchange count —
  * the things PlanQualitySpec asserts, readable by a human).
  *
  * Usage: runMain graft.Explain [queryName ...] [sfDir]
  * With no args, dumps a representative trio.
  *
  * The session is [[Session.start]]'s, so the captured plan is the one
  * the bench actually runs.
  * SPARK_GRAFT_EXPLAIN_MODE=simple|formatted (default formatted).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session.start()
    spark.sparkContext.setLogLevel("ERROR")
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "formatted") match {
      case "simple" => org.apache.spark.sql.execution.SimpleMode
      case _ => org.apache.spark.sql.execution.FormattedMode
    }
    val (names, sf) = {
      val (qs, dirs) = args.partition(a => !a.startsWith("/"))
      (if (qs.nonEmpty) qs.toSeq
       else Seq("q02_filtered_scan", "q05_join_dims", "q31_similarity_join"),
        dirs.headOption.getOrElse("/root/testdata/sf0.01"))
    }
    for (n <- names) {
      println(s"==== $n")
      SparkEntry.queries.get(n) match {
        case Some(q) =>
          println(q(spark, sf).queryExecution.explainString(mode))
        case None => println(s"unknown query: $n (see SparkEntry.queries)")
      }
    }
    spark.stop()
  }
}
