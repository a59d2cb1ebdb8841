package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` resolves a table's parquet schema once per file: a repeat
  * load launches no schema-inference job, and a file rewritten at the same
  * path (or read under different parquet settings) is inferred again. */
class TablesSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Spark jobs started by `body` on this thread, counted after the
    * listener bus has delivered every event. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"TablesSchemaSpec-${System.nanoTime}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "Tables.load")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Writes `cols` (SQL expressions over `id`) as ONE parquet file at
    * `dir/name.parquet`, replacing what is there — the single-file layout
    * of the base tables. */
  private def writeTable(dir: Path, name: String, cols: String*): Unit = {
    val tmp = Files.createTempDirectory("tables_schema_w")
    spark.range(4).selectExpr(cols: _*).coalesce(1)
      .write.mode("overwrite").parquet(tmp.resolve("t").toString)
    val part = Files.list(tmp.resolve("t")).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a repeated Tables.load launches no Spark job") {
    val dir = Files.createTempDirectory("tables_schema")
    writeTable(dir, "t", "id", "id * 2 AS v")
    Tables.load(spark, dir.toString, "t")
    assert(jobsDuring(Tables.load(spark, dir.toString, "t")) === 0)
  }

  test("a table rewritten at the same path is inferred again") {
    val dir = Files.createTempDirectory("tables_schema")
    writeTable(dir, "t", "id")
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq === Seq("id"))
    writeTable(dir, "t", "id", "id + 10 AS extra")
    val df = Tables.load(spark, dir.toString, "t")
    assert(df.columns.toSeq === Seq("id", "extra"))
    assert(df.orderBy("id").collect().map(_.getLong(1)).toSeq ===
      Seq(10L, 11L, 12L, 13L))
  }

  test("changed parquet read settings infer again, never reuse a schema") {
    // a directory table whose two files carry different columns: only
    // schema merging sees both
    val dir = Files.createTempDirectory("tables_schema")
    val t = dir.resolve("t.parquet")
    Files.createDirectory(t)
    writeTable(t, "part-a", "id", "id AS a")
    writeTable(t, "part-b", "id", "id AS b")
    val key = "spark.sql.parquet.mergeSchema"
    def columns = Tables.load(spark, dir.toString, "t").columns.toSet
    assert(columns.size === 2)
    spark.conf.set(key, "true")
    try assert(columns === Set("id", "a", "b"))
    finally spark.conf.unset(key)
    assert(columns.size === 2)
  }
}
