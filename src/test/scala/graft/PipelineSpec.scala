package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.{LostRetry, PlaylistIngest}
import graft.sources.Retry
import graft.streaming.Progress

/** E2 playlist ingest (CSV branch), S7/S8 source resilience, A4 ETA,
  * lost-retry job. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("E2 CSV branch: stem→header (F11) + ordered membership (S5)") {
    val csv = Files.createTempFile("playlist", ".csv")
    Files.writeString(csv,
      """Video ID,Time Created
        |dQw4w9WgXcQ ,2024-01-02T10:00:00Z
        |aaaaaaaaaaa,2024-01-01T09:00:00Z
        |bad id,2024-01-01T09:30:00Z
        |""".stripMargin)
    // cache: Spark disallows filtering ONLY the internal corrupt-record
    // column straight off raw files (SPARK-21610)
    val rows = PlaylistIngest.readCsv(spark, csv.toString).cache()
    // S5: explicit StructType, not inference — typed columns present
    assert(rows.schema.fieldNames.toSeq ===
      Seq("Video ID", "Time Created", "_corrupt_record"))
    assert(rows.where(col("_corrupt_record").isNotNull).count() === 0)
    val header = PlaylistIngest.playlistFromCsv(spark, "My Mix videos")
      .collect()(0)
    assert(header.getAs[String]("playlist_id") === "PLLOCAL_My_Mix")
    assert(header.getAs[String]("title") === "My Mix")
    val members = PlaylistIngest.membership(rows, "PLLOCAL_My_Mix")
      .orderBy("pl").collect()
    assert(members.length === 2) // invalid id filtered (F1)
    // playlist order follows the added timestamp (earlier first)
    assert(members(0).getAs[String]("video") === "aaaaaaaaaaa")
    assert(members(0).getAs[Long]("pl") === 1L)
    assert(members(1).getAs[String]("video") === "dQw4w9WgXcQ") // scrubbed
  }

  test("S4/S6 document sources: multiLine Takeout JSON + yt-dlp JSONL") {
    val json = Files.createTempFile("takeout", ".json")
    Files.writeString(json,
      """[
        |  {"titleUrl": "https://www.youtube.com/watch?v=dQw4w9WgXcQ",
        |   "time": "2024-01-01T10:00:00Z"},
        |  {"time": "2024-01-01T11:00:00Z"}
        |]""".stripMargin)
    val hist = graft.sources.Sources.takeoutHistoryJson(spark, json.toString)
    assert(hist.count() === 2)
    assert(hist.schema.fieldNames.toSeq === Seq("titleUrl", "time"))
    val jsonl = Files.createTempFile("ytdlp", ".jsonl")
    Files.writeString(jsonl,
      """{"id":"vid00000001","fulltitle":"T1","tags":["a"],"comments":[]}""" + "\n")
    val info = graft.sources.Sources.ytdlpJsonl(spark, jsonl.toString)
    assert(info.count() === 1)
    assert(info.schema === Schemas.ytdlpInfo)
  }

  test("§2.10 config gates from spark conf") {
    spark.conf.set("spark.graft.thumbnails", "false")
    try {
      val c = Config.fromSpark(spark)
      assert(!c.thumbnails && c.comments)
    } finally spark.conf.unset("spark.graft.thumbnails")
  }

  test("S7 withRetry: succeeds on 3rd attempt, None when exhausted") {
    val n = new AtomicInteger(0)
    val r = Retry.withRetry(attempts = 3, backoffMs = 0, sleep = _ => ())(() => {
      if (n.incrementAndGet() < 3) throw new RuntimeException("down")
      "recovered"
    })
    assert(r === Some("recovered"))
    assert(n.get === 3)
    val r2 = Retry.withRetry(attempts = 2, backoffMs = 0, sleep = _ => ())(
      () => throw new RuntimeException("always down"))
    assert(r2 === None)
  }

  test("S8 withTimeout: fallback on slow call, value on fast call") {
    assert(Retry.withTimeout(50, "fallback")(() => {
      Thread.sleep(5000); "late"
    }) === "fallback")
    assert(Retry.withTimeout(1000, "fallback")(() => "fast") === "fast")
  }

  test("A4 ETA extrapolation (utils.py:41-43)") {
    assert(math.abs(Progress.etaSeconds(10.0, 5L, 10L) - 10.0) < 1e-9)
    assert(math.abs(Progress.etaSeconds(30.0, 3L, 4L) - 10.0) < 1e-9)
  }

  test("Progress.Listener keeps each batch's duration by phase") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.graftbridge.ListenerBus
    import scala.jdk.CollectionConverters._
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val listener = new Progress.Listener
    spark.streams.addListener(listener)
    val mem = MemoryStream[Int]
    val q = mem.toDF().writeStream.format("noop").start()
    try {
      mem.addData(1, 2, 3)
      q.processAllAvailable()
    } finally {
      q.stop()
      ListenerBus.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    val fed = listener.batches.asScala.filter(_.numInputRows == 3L)
    assert(fed.size === 1, listener.batches.asScala.mkString("\n"))
    val phases = fed.head.durationMs
    assert(phases.get("addBatch").exists(_ >= 0L), phases)
    assert(phases.keySet.contains("triggerExecution"), phases)
  }

  test("lost-retry job: recovers and marks availability (S7, cmds/archive.py:355-366)") {
    import spark.implicits._
    implicit val s = spark
    val videos = Seq(
      ("v1", "t1", "public"), ("v2", null.asInstanceOf[String], "lost"),
      ("v3", null.asInstanceOf[String], "lost")
    ).toDF("video_id", "title", "availability")
    // v2 recoverable, v3 not
    val out = LostRetry.run(videos,
      id => if (id == "v2") Some("recovered title") else None, attempts = 2)
    val m = out.collect().map(r => r.getString(0) ->
      ((r.getAs[String]("availability"), r.getAs[String]("title")))).toMap
    assert(m("v1") === (("public", "t1")))
    assert(m("v2") === (("recovered", "recovered title")))
    assert(m("v3") === (("lost", null)))
  }

  test("schema drift: mergeSchema reads old+new shards together; " +
      "allowMissingColumns unions heterogeneous batches") {
    import spark.implicits._
    // a corpus written over months gains columns; old shards must stay
    // readable next to new ones without a rewrite
    val dir = Files.createTempDirectory("graft_drift").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/old")
    Seq((2L, "b", 9L)).toDF("id", "v", "extra").write.parquet(s"$dir/new")
    val merged = spark.read.option("mergeSchema", true)
      .parquet(s"$dir/old", s"$dir/new")
    assert(merged.columns.sorted === Array("extra", "id", "v"))
    assert(merged.count() === 2)
    assert(merged.filter(col("extra").isNull).count() === 1) // backfilled
    // DataFrame-level twin for in-flight heterogeneous micro-batches
    val u = Seq((1L, "a")).toDF("id", "v")
      .unionByName(Seq((2L, "b", 9L)).toDF("id", "v", "extra"),
        allowMissingColumns = true)
    assert(u.columns.length === 3 && u.count() === 2)
  }
}
