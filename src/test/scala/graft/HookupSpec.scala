package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.JdbcUpsertSink
import graft.sources.Sources
import graft.streaming.{HistoryPipeline, Hookup}

/** Streaming hookups run each epoch on the session that wired them, so a
  * restarted query reuses the generated classes an earlier query
  * compiled instead of compiling them again on a fresh query clone. */
class HookupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ev(id: String, t: String): String =
    s"""{"titleUrl":"https://www.youtube.com/watch?v=$id","time":"$t"}"""

  test("a restarted AvailableNow query compiles no generated class again") {
    val owner = spark // the session the hookup below runs its epochs on
    val watch = Files.createTempDirectory("hookup_watch")
    val ckpt = Files.createTempDirectory("hookup_ckpt").toString
    val url = "jdbc:derby:memory:hookup_codegen;create=true"
    val sink = JdbcUpsertSink(url, "history", Seq("video", "watched"))
    sink.execDdl("""CREATE TABLE history (
      video VARCHAR(16) NOT NULL, watched TIMESTAMP NOT NULL,
      PRIMARY KEY (video, watched))""")
    val merge = sink.foreachBatchStagedMerge()
    def drop(name: String, events: String*): Unit = {
      Files.write(watch.resolve(name), events.mkString("\n").getBytes("UTF-8"))
      HistoryPipeline.stream(Sources.takeoutHistoryStream(spark,
          watch.toString))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(merge)
        .start()
        .awaitTermination()
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    drop("drop1.json",
      ev("dQw4w9WgXcQ", "2024-03-20T10:00:00Z"),
      ev("dQw4w9WgXcQ", "2024-03-20T10:00:00Z"),
      ev("aaaaaaaaaaa", "2024-03-01T10:00:00Z"),
      """{"time":"2024-03-01T11:00:00Z"}""")
    val before = compiles
    drop("drop2.json",
      ev("bbbbbbbbbbb", "2024-03-02T09:00:00Z"),
      ev("aaaaaaaaaaa", "2024-03-01T10:00:00Z"),
      ev("ccccccccccc", "2024-03-03T09:00:00Z"),
      """{"time":"2024-03-03T11:00:00Z"}""")
    val recompiled = compiles - before
    assert(recompiled === 0,
      s"the second drain compiled $recompiled generated classes")

    val stored = owner.read.format("jdbc").option("url", url)
      .option("dbtable", "history").load()
    val want = HistoryPipeline.batch(
      spark.read.schema(Schemas.takeoutHistory).json(watch.toString))
    assert(stored.collect().toSet === want.collect().toSet)
    assert(stored.count() === 4)
  }

  test("a hookup passes its owner's frames through and re-roots others") {
    import spark.implicits._
    var seen: DataFrame = null
    val hook = Hookup(spark)((b, _) => seen = b)

    val own = Seq(1, 2, 3).toDF("x").filter($"x" > 1)
    hook(own, 0L)
    assert(seen eq own)

    val other = spark.newSession()
    val foreign = other.range(3).toDF("x")
    hook(foreign, 1L)
    assert(seen.sparkSession eq spark)
    assert(seen.queryExecution.analyzed ===
      foreign.queryExecution.analyzed)
    assert(seen.as[Long].collect().toSeq === Seq(0L, 1L, 2L))
  }

  test("Hookup.onActive owns the session active when it is built") {
    var seen: DataFrame = null
    val hook = Hookup.onActive((b, _) => seen = b)
    val foreign = spark.newSession().range(2).toDF()
    hook(foreign, 0L)
    assert(seen.sparkSession eq spark)

    // built with no session around, it leaves each epoch where it is
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val unowned =
      try Hookup.onActive((b, _) => seen = b)
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    unowned(foreign, 1L)
    assert(seen eq foreign)
  }
}
