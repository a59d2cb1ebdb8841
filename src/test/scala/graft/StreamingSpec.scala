package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{EventStream, HistoryPipeline}
import graft.operators.{Generation, Stage}

/** SURVEY §2.9 — streaming semantics: watch-history dedup at the keyed
  * sink, windowed aggregation, custom stateful totals; MemoryStream
  * driven, processAllAvailable for deterministic assertions. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("E3 history batch: extract+validate+dedup (cmds/archive.py:317-352)") {
    import spark.implicits._
    val raw = Seq(
      ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "2024-01-01T10:00:00Z"),
      ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "2024-01-01T10:00:00Z"), // dup
      ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "2024-01-01T11:00:00Z"), // same vid, later
      ("https://www.youtube.com/watch?v=bad", "2024-01-01T10:00:00Z"),         // invalid id
      (null.asInstanceOf[String], "2024-01-01T10:00:00Z")                      // unavailable
    ).toDF("titleUrl", "time")
    assert(HistoryPipeline.batch(raw).count() === 2)
    val counts = HistoryPipeline.unavailableCount(raw).collect()(0)
    assert(counts.getAs[Long]("n_unavailable") === 1L)
    assert(counts.getAs[Long]("n_total") === 5L)
  }

  test("E3 history stream: keyed MERGE absorbs a cross-epoch duplicate") {
    import spark.implicits._
    import graft.sinks.JdbcUpsertSink
    implicit val sq = spark.sqlContext
    val sink = JdbcUpsertSink("jdbc:derby:memory:hist_mem;create=true",
      "history", Seq("video", "watched"))
    sink.execDdl("""CREATE TABLE history (
      video VARCHAR(16) NOT NULL, watched TIMESTAMP NOT NULL,
      PRIMARY KEY (video, watched))""")
    val mem = MemoryStream[(String, String)]
    val raw = mem.toDF().toDF("titleUrl", "time")
    val q = HistoryPipeline.stream(raw).writeStream.outputMode("append")
      .foreachBatch(sink.foreachBatchStagedMerge()).start()
    try {
      mem.addData(
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "2024-01-01T10:00:00Z"),
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "2024-01-01T10:00:00Z"))
      q.processAllAvailable()
      // duplicate arriving in a later micro-batch matches the stored key
      mem.addData(
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "2024-01-01T10:00:00Z"),
        ("https://www.youtube.com/watch?v=aaaaaaaaaaa", "2024-01-01T10:05:00Z"))
      q.processAllAvailable()
      assert(sink.queryCount() === 2)
    } finally q.stop()
  }

  test("E3 end-to-end: JSONL files -> staged MERGE, exactly-once across restart") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.sinks.JdbcUpsertSink
    import graft.sources.Sources

    val dir = Files.createTempDirectory("hist_src").toString
    val ckpt = Files.createTempDirectory("hist_ckpt").toString
    val sink = JdbcUpsertSink("jdbc:derby:memory:e2e_hist;create=true",
      "history", Seq("video", "watched"))
    sink.execDdl("""CREATE TABLE history (
      video VARCHAR(16) NOT NULL, watched TIMESTAMP NOT NULL,
      PRIMARY KEY (video, watched))""")

    def writeJsonl(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(dir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      // AvailableNow: drain everything currently in the directory, then
      // terminate — the production shape for periodic file-drop ingest
      val q = HistoryPipeline.stream(Sources.takeoutHistoryStream(spark, dir))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.foreachBatchStagedMerge())
        .start()
      q.awaitTermination()
    }

    def ev(id: String, t: String): String =
      s"""{"titleUrl":"https://www.youtube.com/watch?v=$id","time":"$t"}"""
    writeJsonl("batch1.json", Seq(
      ev("dQw4w9WgXcQ", "2024-01-02T10:00:00Z"),
      ev("dQw4w9WgXcQ", "2024-01-02T10:00:00Z"), // in-batch duplicate
      ev("aaaaaaaaaaa", "2024-01-02T11:00:00Z")))
    runOnce()
    assert(sink.queryCount() === 2)

    // second epoch after a full query restart from the same checkpoint:
    // a replayed duplicate (absorbed by the keyed MERGE), a late event
    // and a fresh one
    writeJsonl("batch2.json", Seq(
      ev("dQw4w9WgXcQ", "2024-01-02T10:00:00Z"), // replay of batch 1
      ev("aaaaaaaaaaa", "2024-01-01T09:00:00Z"), // late
      ev("bbbbbbbbbbb", "2024-01-02T12:00:00Z")))
    runOnce()
    assert(sink.queryCount() === 4)
    // per-key: the replayed pair exists exactly once
    assert(sink.queryCount("video = 'dQw4w9WgXcQ'") === 1)
  }

  test("E3 out-of-order export: an event 7+ days older than the last file is kept") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.sinks.JdbcUpsertSink
    import graft.sources.Sources

    val dir = Files.createTempDirectory("hist_ooo").toString
    val ckpt = Files.createTempDirectory("hist_ooo_ckpt").toString
    val url = "jdbc:derby:memory:ooo_hist;create=true"
    val sink = JdbcUpsertSink(url, "history", Seq("video", "watched"))
    sink.execDdl("""CREATE TABLE history (
      video VARCHAR(16) NOT NULL, watched TIMESTAMP NOT NULL,
      PRIMARY KEY (video, watched))""")
    def ev(id: String, t: String): String =
      s"""{"titleUrl":"https://www.youtube.com/watch?v=$id","time":"$t"}"""
    def drop(name: String, lines: String*): Unit = {
      Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
      HistoryPipeline.stream(Sources.takeoutHistoryStream(spark, dir))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.foreachBatchStagedMerge())
        .start()
        .awaitTermination()
    }
    drop("export1.json",
      ev("dQw4w9WgXcQ", "2024-03-20T10:00:00Z"),
      ev("aaaaaaaaaaa", "2024-03-01T10:00:00Z"))
    // an older export arrives second: its new event is 19 days older than
    // the newest event already stored
    drop("export2.json",
      ev("bbbbbbbbbbb", "2024-03-01T09:00:00Z"),
      ev("aaaaaaaaaaa", "2024-03-01T10:00:00Z"))
    val stored = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "history").load()
    val want = HistoryPipeline.batch(
      spark.read.schema(Schemas.takeoutHistory).json(dir))
    assert(stored.collect().toSet === want.collect().toSet)
    assert(stored.count() === 3)
  }

  test("streaming CDC loop: q95's changelog through a file stream + " +
      "foreachBatchCdc with a mid-stream checkpoint restart " +
      "reconstructs the NEW snapshot exactly") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.sinks.JdbcUpsertSink
    import spark.implicits._

    // the exact q95 fixture: OLD snapshot, NEW snapshot, derived changelog
    val sf = "/root/testdata/sf0.001"
    val o = Tables.orders(spark, sf)
      .select($"o_orderkey".as("k"),
        round($"o_totalprice" * 100, 0).cast("long").as("p100"))
    val prev = o.filter($"k" % 97 =!= 0).select($"k", $"p100".as("p"))
    val curr = o.filter($"k" % 89 =!= 0)
      .select($"k", when($"k" % 13 === 0, $"p100" + 100L)
        .otherwise($"p100").as("p"))
    val changelog = prev.select($"k", $"p".as("p_old"))
      .join(curr.select($"k", $"p".as("p_new")), Seq("k"), "full_outer")
      .withColumn("op",
        when($"p_new".isNull, "D")
          .when($"p_old".isNull || $"p_old" =!= $"p_new", "U"))
      .filter($"op".isNotNull)
      .select($"k", $"op", $"p_new".as("p"))
      .orderBy($"k").collect()
    assert(changelog.length > 10, "fixture degenerate: changelog too small")

    val sink = JdbcUpsertSink("jdbc:derby:memory:cdc_apply;create=true",
      "snapshot", Seq("k"))
    sink.execDdl("CREATE TABLE snapshot (k BIGINT PRIMARY KEY, p BIGINT)")
    sink.append(prev) // seed with the OLD snapshot

    val dir = Files.createTempDirectory("cdc_src").toString
    val ckpt = Files.createTempDirectory("cdc_ckpt").toString
    def jline(r: org.apache.spark.sql.Row): String =
      if (r.getString(1) == "D") s"""{"k":${r.getLong(0)},"op":"D"}"""
      else s"""{"k":${r.getLong(0)},"op":"U","p":${r.getLong(2)}}"""
    def writeJsonl(name: String,
        rows: Seq[org.apache.spark.sql.Row]): Unit =
      Files.write(Paths.get(dir, name),
        rows.map(jline).mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val q = spark.readStream.schema("k LONG, op STRING, p LONG")
        .json(dir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(sink.foreachBatchCdc("op"))
        .start()
      q.awaitTermination()
    }

    // first half of the changelog, then a FULL query restart from the
    // same checkpoint; the second file re-delivers the tail of the first
    // (CDC at-least-once) — deletes of absent keys no-op, upserts
    // re-match, so the restart + replay must not corrupt the snapshot
    val (half1, half2) = changelog.toSeq.splitAt(changelog.length / 2)
    writeJsonl("epoch1.json", half1)
    runOnce()
    writeJsonl("epoch2.json", half2 ++ half1.takeRight(3))
    runOnce()

    val c = java.sql.DriverManager.getConnection(
      "jdbc:derby:memory:cdc_apply")
    val got = try {
      val rs = c.createStatement().executeQuery("SELECT k, p FROM snapshot")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getLong(2))).toVector.sorted
    } finally c.close()
    val want = curr.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toVector.sorted
    assert(got === want) // the batch q95 contract, closed over streaming
  }

  test("incremental corpus dedup sketch: per-epoch minhash-union MERGEs " +
      "into Derby by element-wise min — no old docs revisited") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val sink = graft.sinks.JdbcUpsertSink(
      "jdbc:derby:memory:inc_sig;create=true", "corpus_sig", Seq("source"))
    sink.execDdl("""CREATE TABLE corpus_sig (
      source VARCHAR(10) PRIMARY KEY,
      s0 BIGINT, s1 BIGINT, s2 BIGINT, s3 BIGINT)""")
    val minFold = (0 until 4).map(i =>
      s"s$i" -> s"CASE WHEN s.s$i < t.s$i THEN s.s$i ELSE t.s$i END").toMap

    val mem = MemoryStream[(String, String)]
    val q = mem.toDF().toDF("source", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val sigs = batch
          .select(col("source"), expr("graft_minhash(text, 2, 4)").as("sig"))
          .filter(col("sig").isNotNull)
          .groupBy(col("source"))
          .agg(expr("graft_minhash_union(sig)").as("u"))
          .select(col("source") +: (0 until 4).map(i =>
            element_at(col("u"), i + 1).as(s"s$i")): _*)
        sink.upsertStagedMerge(sigs, setExprs = minFold)
      }
      .start()
    try {
      mem.addData(("web", "aa bb cc dd"), ("web", "ee ff gg"),
        ("books", "hh ii jj"))
      q.processAllAvailable()
      val afterEpoch1 = sink.queryCount("source = 'web'")
      assert(afterEpoch1 === 1)
      mem.addData(("web", "kk ll mm nn"))
      q.processAllAvailable()
      // the stored signature must equal the from-scratch union over ALL
      // docs, though epoch 2 only saw the new one
      val expected = spark
        .createDataset(Seq(("web", "aa bb cc dd"), ("web", "ee ff gg"),
          ("web", "kk ll mm nn")))
        .toDF("source", "text")
        .selectExpr("graft_minhash_union(graft_minhash(text, 2, 4)) AS u")
        .collect()(0).getSeq[Long](0)
      for (i <- 0 until 4)
        assert(sink.queryCount(s"source = 'web' AND s$i = ${expected(i)}") === 1,
          s"component s$i diverged from the from-scratch union")
    } finally q.stop()
  }

  test("tumbling window agg over MemoryStream with watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.tumbling(events, "10 minutes", "30 minutes")
      .writeStream.format("memory").queryName("tumb_out")
      .outputMode("update").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      mem.addData(
        (ts("2024-01-01 00:01:00"), 1L, "click", 1.0),
        (ts("2024-01-01 00:05:00"), 2L, "click", 2.0),
        (ts("2024-01-01 00:11:00"), 1L, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("tumb_out")
        .select("window_start", "event_type", "n").collect()
      val m = rows.map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(m(("2024-01-01 00:00:00.0", "click")) === 2L)
      assert(m(("2024-01-01 00:10:00.0", "view")) === 1L)
    } finally q.stop()
  }

  test("flatMapGroupsWithState running totals across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val ss = spark
    val mem = MemoryStream[(Long, Double)]
    val out = EventStream.statefulTotals(mem.toDS())
    val q = out.writeStream.format("memory").queryName("state_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, 1.0), (1L, 2.0), (2L, 5.0))
      q.processAllAvailable()
      mem.addData((1L, 3.0))
      q.processAllAvailable()
      val last = spark.table("state_out")
        .groupBy("user_id").agg(max("n_events").as("n"), max("sum_value").as("s"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(last(1L) === ((3L, 6.0)))
      assert(last(2L) === ((1L, 5.0)))
    } finally q.stop()
  }

  test("mapGroupsWithState: one row per key per trigger, max event-time wins") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val ss = spark
    // (user_id, event_ts_micros, value) — "latest" = max ts, NOT batch
    // arrival order: user 1's second batch row carries an OLDER ts and
    // must not displace the ts=20 value from the first batch.
    val mem = MemoryStream[(Long, Long, Double)]
    val q = EventStream.latestPerUser(mem.toDS()).writeStream
      .format("memory").queryName("latest_out").outputMode("update").start()
    try {
      mem.addData((1L, 10L, 1.0), (1L, 20L, 9.0), (2L, 5L, 5.0))
      q.processAllAvailable()
      mem.addData((1L, 15L, 4.0)) // late event: older than ts=20
      q.processAllAvailable()
      val last = spark.table("latest_out").groupBy("user_id")
        .agg(max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last === Map(1L -> 3L, 2L -> 1L))
      // user 1's latest value stays 9.0 (ts=20 beats the late ts=15 row)
      val u1 = spark.table("latest_out")
        .filter($"user_id" === 1L && $"n_events" === 3L)
        .collect()(0)
      assert(u1.getAs[Double]("latest_value") === 9.0)
      assert(u1.getAs[Long]("latest_ts") === 20L)
    } finally q.stop()
  }

  test("streaming funnel ≡ batch funnel (q77) on the real events fixture, " +
      "fed across event-time-ordered micro-batches with in-batch disorder") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val ss = spark
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"event_type", $"ts")
    // batch truth: per-user stage times + stage counts (q77's exact form)
    val batchTimes = EventStream.funnelUserTimes(ev)
      .select($"user_id",
        unix_micros($"t1").as("t1"), unix_micros($"t2").as("t2"),
        unix_micros($"t3").as("t3"))
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3))))).toMap
    val batchStages = EventStream.funnelStages(ev)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the same 1000 events as (user, micros, type): split at the event-time
    // median into two batches (the ordered-boundary contract), then
    // deterministically scramble WITHIN each batch — in-batch disorder is
    // what the sorted replay must absorb
    val tuples = ev.select($"user_id", unix_micros($"ts"), $"event_type")
      .as[(Long, Long, String)].collect().sortBy(_._2)
    val (first, second) = tuples.splitAt(tuples.length / 2)
    val rnd = new scala.util.Random(42)
    val mem = MemoryStream[(Long, Long, String)]
    val q = EventStream.funnelStateful(mem.toDS()).writeStream
      .format("memory").queryName("funnel_out").outputMode("append").start()
    try {
      mem.addData(rnd.shuffle(first.toSeq): _*)
      q.processAllAvailable()
      mem.addData(rnd.shuffle(second.toSeq): _*)
      q.processAllAvailable()
      // stage fields are monotone → final state per user = max over rows
      val streamed = spark.table("funnel_out")
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
          Option(r.get(3))))).toMap
      // per-user equality (stronger than count equality)
      val reached = streamed.filter(_._2._1.isDefined)
      assert(reached === batchTimes)
      // and the derived stage counts equal q77's output exactly
      val counts = Map(
        "1_view" -> reached.count(_._2._1.isDefined).toLong,
        "2_click" -> reached.count(_._2._2.isDefined).toLong,
        "3_purchase" -> reached.count(_._2._3.isDefined).toLong)
      assert(counts === batchStages)
      // 1000 events over 15 users: every user converts at this SF — the
      // monotone-funnel invariant is the meaningful sanity bound
      assert(counts("1_view") >= counts("2_click") &&
        counts("2_click") >= counts("3_purchase"))
      assert(counts("1_view") === 15L)
    } finally q.stop()
  }

  test("streaming funnel contract: an event arriving in a LATER batch " +
      "with an EARLIER timestamp cannot reopen a decided stage") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val ss = spark
    val mem = MemoryStream[(Long, Long, String)]
    val q = EventStream.funnelStateful(mem.toDS()).writeStream
      .format("memory").queryName("funnel_late").outputMode("append").start()
    try {
      // b1: the user's click arrives first (no view yet) → no t2
      mem.addData((1L, 2000L, "click"))
      q.processAllAvailable()
      // b2: the view that PRECEDES the click in event time arrives late.
      // Batch semantics would now say t2 = 2000 (click after first view);
      // the bounded-state stream already discarded that click — the
      // documented price of not buffering every event forever. t1 is set,
      // t2 stays empty.
      mem.addData((1L, 1000L, "view"))
      q.processAllAvailable()
      val last = spark.table("funnel_late")
        .groupBy("user_id").agg(max("t1").as("t1"), max("t2").as("t2"))
        .collect()(0)
      assert(Option(last.get(1)) === Some(1000L)) // t1 from the late view
      assert(Option(last.get(2)) === None)        // click NOT resurrected
      // a NEW click after the view still progresses the funnel
      mem.addData((1L, 3000L, "click"))
      q.processAllAvailable()
      val t2 = spark.table("funnel_late")
        .agg(max("t2")).collect()(0)
      assert(Option(t2.get(0)) === Some(3000L))
    } finally q.stop()
  }

  test("firstSightDedup: duplicates suppressed within the TTL, state " +
      "EVICTED once the watermark passes first-sight + TTL, key re-emits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val ss = spark
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    // TTL = 30 min of EVENT time; watermark delay 0 for determinism
    val out = EventStream.firstSightDedup(
      mem.toDF().toDF("key", "ts"), "key", "ts",
      watermark = "0 seconds", ttlMs = 30 * 60 * 1000L)
    val q = out.writeStream.format("memory").queryName("fsd_out")
      .outputMode("append").start()
    try {
      // b1: first sights emit; in-batch duplicate suppressed
      mem.addData(("a", ts("2024-01-01 10:00:00")),
        ("b", ts("2024-01-01 10:00:00")), ("a", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // b2: cross-batch duplicate within TTL suppressed; watermark → 11:00
      mem.addData(("a", ts("2024-01-01 10:02:00")),
        ("adv", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      // b3: no data for "a"; watermark (11:00) has passed a's timeout
      // (10:30) → the trigger evicts its state
      mem.addData(("adv2", ts("2024-01-01 11:10:00")))
      q.processAllAvailable()
      // b4: "a" after eviction is a fresh first sight → re-emitted
      mem.addData(("a", ts("2024-01-01 11:20:00")))
      q.processAllAvailable()
      val got = spark.table("fsd_out").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString)).toSet
      assert(got === Set(
        ("a", "2024-01-01 10:00:00.0"),
        ("b", "2024-01-01 10:00:00.0"),
        ("adv", "2024-01-01 11:00:00.0"),
        ("adv2", "2024-01-01 11:10:00.0"),
        ("a", "2024-01-01 11:20:00.0")))
    } finally q.stop()
  }

  test("batch/stream parity: session windows on testdata events") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val sess = EventStream.session(ev)
    assert(sess.count() > 0)
  }

  test("stream-stream interval join pairs in-window events across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]
    val j = EventStream.intervalJoin(
      clicks.toDF().toDF("ts", "user_id"),
      buys.toDF().toDF("ts", "user_id"), window = "1 hour")
    val q = j.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      clicks.addData((ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:00:00"), 2L))
      q.processAllAvailable()
      // purchase arrives in a LATER batch: still joins (state buffering)
      buys.addData((ts("2024-01-01 10:30:00"), 1L), // in window for u1
        (ts("2024-01-01 11:30:00"), 2L))            // outside u2's window
      q.processAllAvailable()
      val rows = spark.table("ij_out")
        .select("user_id").as[Long].collect()
      assert(rows.toSeq === Seq(1L))
    } finally q.stop()
  }

  test("intervalJoin batch twin equals the q64 range-join semantics") {
    import spark.implicits._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = ev.filter($"event_type" === "click").select($"ts", $"user_id")
    val buys = ev.filter($"event_type" === "purchase").select($"ts", $"user_id")
    val viaInterval = EventStream.intervalJoin(clicks, buys).count()
    val viaBuckets = graft.operators.Temporal.rangeJoin(
      clicks.select($"user_id", unix_micros($"ts").as("c_us")),
      buys.select($"user_id", unix_micros($"ts").as("p_us")),
      "user_id", "c_us", "p_us", 0L, 3600L * 1000 * 1000).count()
    assert(viaInterval === viaBuckets && viaInterval > 0)
  }

  test("streaming near-dup gate ≡ batch gate (q109) on the documents " +
      "fixture: disordered micro-batches, checkpoint restart, " +
      "re-delivered tail") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val ss = spark

    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text",
        to_timestamp($"doc_id" + lit(1700000000L)).as("ts"))
    // batch truth: the q109 gate over the same (ts, id) arrival order
    val batchAdmitted = Stage("q109") { implicit st =>
      graft.operators.Dedup.nearDupGateBatch(docs, "doc_id", "text", "ts")
        .select($"id").as[Long].collect().toSet
    }

    // two event-time-ordered epochs, deterministically scrambled WITHIN
    // each (in-batch disorder is what the per-batch (ts, id) argmin must
    // absorb); epoch 2 re-delivers epoch 1's tail (at-least-once)
    val rows = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val (ep1, ep2) = rows.splitAt(rows.length / 2)
    val rnd = new scala.util.Random(7)
    def jline(r: (Long, String)): String = {
      val esc = r._2.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\t", "\\t")
      s"""{"doc_id":${r._1},"text":"$esc"}"""
    }
    val dir = Files.createTempDirectory("ndg_src").toString
    val ckpt = Files.createTempDirectory("ndg_ckpt").toString
    val admitted = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    def runOnce(): Unit = {
      val in = spark.readStream.schema("doc_id LONG, text STRING")
        .json(dir)
        .withColumn("ts", to_timestamp($"doc_id" + lit(1700000000L)))
      val claims = EventStream.bandFirstSight(in, "doc_id", "text", "ts",
        watermark = "0 seconds", ttlMs = 10L * 24 * 3600 * 1000)
      val q = claims.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          EventStream.admittedClaims(batch).select($"id").as[Long]
            .collect().foreach(id => admitted.put(id, id))
        }
        .start()
      q.awaitTermination()
    }
    Files.write(Paths.get(dir, "epoch1.json"),
      rnd.shuffle(ep1.toSeq).map(jline).mkString("\n").getBytes("UTF-8"))
    runOnce() // full stop: state lives only in the checkpoint now
    Files.write(Paths.get(dir, "epoch2.json"),
      (rnd.shuffle(ep2.toSeq) ++ ep1.takeRight(5)).map(jline)
        .mkString("\n").getBytes("UTF-8"))
    runOnce() // restart: restored claim state must suppress re-delivery
    val streamedAdmitted =
      admitted.keySet().toArray.map(_.asInstanceOf[Long]).toSet
    assert(streamedAdmitted === batchAdmitted)
  }

  test("streaming crawl ingest: raw HTML → extractText in-stream → " +
      "near-dup gate; admitted set equals the batch twin, boilerplate " +
      "pages never reach the gate") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val ss = spark
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def page(body: String) =
      "<html><body><div><a href=\"/\">home</a> | <a href=\"/a\">about" +
        "</a> | <a href=\"/c\">contact</a></div><p>" + body + "</p>" +
        "<div><a href=\"/t\">terms and conditions link</a></div>" +
        "</body></html>"
    // boilerplate-only template: everything dies in the line gate
    val template = "<html><body><div><a href=\"/\">home</a> | " +
      "<a href=\"/a\">about</a> | <a href=\"/c\">contact</a></div>" +
      "<p>ok</p></body></html>"
    val rows = Seq(
      (1L, page("the quick brown fox jumps over the lazy dog"),
        ts("2024-01-01 10:00:00")),
      (2L, page("the quick brown fox jumps over the lazy dog"),
        ts("2024-01-01 10:01:00")), // same body → near-dup, rejected
      (3L, template, ts("2024-01-01 10:02:00")),
      (4L, page("completely different content about spark shuffles"),
        ts("2024-01-01 10:03:00")),
      (5L, template, ts("2024-01-01 10:04:00")))
    def extractNonEmpty(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Curation.extractText(df, "doc_id", "html",
          keepCols = Seq("ts"))
        .filter(length(col("clean_text")) > 0)
    // batch twin: same extraction, same gate semantics
    val batchAdmitted = Stage("gate") { implicit st =>
      graft.operators.Dedup.nearDupGateBatch(
          extractNonEmpty(rows.toDF("doc_id", "html", "ts")),
          "doc_id", "clean_text", "ts")
        .select($"id").as[Long].collect().toSet
    }
    assert(batchAdmitted === Set(1L, 4L))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val claims = EventStream.bandFirstSight(
      extractNonEmpty(mem.toDF().toDF("doc_id", "html", "ts")),
      "doc_id", "clean_text", "ts",
      watermark = "0 seconds", ttlMs = 24 * 3600 * 1000L)
    val q = claims.writeStream.format("memory").queryName("crawl_gate")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(3))
      q.processAllAvailable()
      mem.addData(rows.drop(3))
      q.processAllAvailable()
      val streamed = EventStream.admittedClaims(
          spark.table("crawl_gate"))
        .select($"id").as[Long].collect().toSet
      assert(streamed === batchAdmitted)
      // the templates were cut by extraction, not by band collision:
      // no claim row carries their ids at all
      val claimIds = spark.table("crawl_gate").select($"id").as[Long]
        .collect().toSet
      assert(!claimIds.contains(3L) && !claimIds.contains(5L), claimIds)
    } finally q.stop()
  }

  test("streaming near-dup gate: exact dup rejected within TTL, " +
      "re-admitted after watermark-driven eviction") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    implicit val ss = spark
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val claims = EventStream.bandFirstSight(
      mem.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      watermark = "0 seconds", ttlMs = 30 * 60 * 1000L)
    val q = claims.writeStream.format("memory").queryName("ndg_ttl")
      .outputMode("append").start()
    def admittedIds(): Set[Long] =
      EventStream.admittedClaims(spark.table("ndg_ttl"))
        .select($"id").as[Long].collect().toSet
    try {
      // b1: doc 1 admitted; doc 2 = EXACT text → all 4 bands held → out
      mem.addData((1L, "alpha beta gamma delta", ts("2024-01-01 10:00:00")),
        (2L, "alpha beta gamma delta", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      assert(admittedIds() === Set(1L))
      // b2: unrelated doc admitted alongside; watermark → 11:00
      mem.addData((3L, "the quick brown fox jumps over the lazy dog",
        ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      assert(admittedIds() === Set(1L, 3L))
      // b3: advance watermark past doc 1's TTL (10:30) → state evicted
      mem.addData((4L, "completely different words here entirely",
        ts("2024-01-01 11:10:00")))
      q.processAllAvailable()
      // b4: the same text AFTER eviction is a fresh first sight again
      mem.addData((5L, "alpha beta gamma delta", ts("2024-01-01 11:20:00")))
      q.processAllAvailable()
      assert(admittedIds().contains(5L))
    } finally q.stop()
  }

  test("streaming text-index ingest: foreachBatchMerge folds doc batches " +
      "into the versioned index across a full query restart, replays are " +
      "no-ops, and the final index serves BM25 identically to a " +
      "from-scratch build over every delivered doc") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.operators.TextIndex
    import spark.implicits._

    val srcDir = Files.createTempDirectory("tix_src").toString
    val ckpt = Files.createTempDirectory("tix_ckpt").toString
    val idxDir = Files.createTempDirectory("tix_idx").toString
    val seed = Seq((1L, "spark merge window base corpus text"))
      .toDF("doc_id", "text")
    TextIndex.build(seed, "doc_id", "text", idxDir)

    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, e: Long) =>
          TextIndex.mergeBatch(spark, b, "doc_id", "text", idxDir, e))
        .start()
      q.awaitTermination()
    }
    def doc(id: Long, text: String): String =
      s"""{"doc_id":$id,"text":"$text"}"""

    Files.write(Paths.get(srcDir, "b1.json"), Seq(
      doc(10L, "spark spark dup stream one"),
      doc(11L, "window merge dup other words here")
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()
    // full restart with a second file: new epoch, merged on top
    Files.write(Paths.get(srcDir, "b2.json"), Seq(
      doc(20L, "spark window fresh tail batch")
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()

    // replaying a committed epoch must not touch state: pointer unchanged
    val before = Generation.current(idxDir)
    TextIndex.mergeBatch(spark,
      Seq((99L, "would double count spark")).toDF("doc_id", "text"),
      "doc_id", "text", idxDir, epoch = before._2)
    assert(Generation.current(idxDir) === before,
      "replayed epoch must be a no-op")

    val terms = Seq("spark", "dup", "window", "merge")
    val served = TextIndex.serveBm25(spark, idxDir, "doc_id", terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val scratch = graft.operators.Curation.bm25TopK(
        seed.unionByName(Seq(
          (10L, "spark spark dup stream one"),
          (11L, "window merge dup other words here"),
          (20L, "spark window fresh tail batch")).toDF("doc_id", "text")),
        "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(served === scratch,
      s"streamed index diverged: ${served.mkString(",")} vs ${scratch.mkString(",")}")
  }

  test("stored-index streaming ingest: foreachBatchIngest gates each " +
      "epoch against the durable index and appends admitted keys — " +
      "cross-epoch twins rejected without TTL state") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.operators.{Dedup, DedupIndex}
    import spark.implicits._

    val srcDir = Files.createTempDirectory("ing_src").toString
    val ckpt = Files.createTempDirectory("ing_ckpt").toString
    val idxDir = Files.createTempDirectory("ing_idx").toString
    val archive = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    DedupIndex.build(archive, "doc_id", "text", 3, 8, 4, idxDir)

    val committed = scala.collection.mutable.ArrayBuffer[Long]()
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(DedupIndex.foreachBatchIngest(spark, idxDir,
          "doc_id", "text") { adm =>
          committed ++= adm.select("doc_id").as[Long].collect()
        })
        .start()
      q.awaitTermination()
    }
    def doc(id: Long, text: String): String =
      s"""{"doc_id":$id,"text":"$text"}"""

    Files.write(Paths.get(srcDir, "b1.json"), Seq(
      doc(10L, "the quick brown fox jumps over the lazy dog again and again"),
      doc(11L, "fresh material nothing in the archive has ever mentioned yet"),
      doc(12L, "fresh material nothing in the archive has ever mentioned yet")
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()
    assert(committed.toSet === Set(11L),
      "archive twin and in-epoch exact twin must both drop")

    // epoch 2, after full query restart: a near-twin of the doc ADMITTED
    // in epoch 1 — only the appended index can reject it (no TTL state
    // survives the restart); plus a genuinely new doc
    Files.write(Paths.get(srcDir, "b2.json"), Seq(
      doc(20L, "fresh material nothing in the archive has ever mentioned now"),
      doc(21L, "a third topic entirely with its own distinct vocabulary here")
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()
    assert(committed.toSet === Set(11L, 21L),
      s"near-twin of an admitted doc must drop across epochs: $committed")

    // the durable index now equals one built from archive + admissions:
    // a batch gate over it rejects twins of everything committed so far
    val probe = Seq(
      (30L, "a third topic entirely with its own distinct vocabulary here"))
      .toDF("doc_id", "text")
    val g = DedupIndex.gate(spark, idxDir, probe, "doc_id", "text")
    assert(g.count() === 0L)
  }

  test("durable heavy-hitter state: epochs fold into the versioned " +
      "sketch; a replayed epoch does not double-count; exact-regime " +
      "state equals the batch-mode counts") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.streaming.SketchState
    import spark.implicits._

    val srcDir = Files.createTempDirectory("hh_src").toString
    val ckpt = Files.createTempDirectory("hh_ckpt").toString
    val stDir = Files.createTempDirectory("hh_state").toString
    val epochs = Seq(
      Seq.fill(5)("alpha") ++ Seq.fill(2)("beta"),
      Seq.fill(3)("beta") ++ Seq("gamma"),
      Seq.fill(4)("alpha") ++ Seq("delta"))
    val hook = SketchState.foreachBatchHeavyHitters(spark, stDir,
      "token", capacity = 16)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("token", StringType))))
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(hook)
        .start()
      q.awaitTermination()
    }
    epochs.zipWithIndex.foreach { case (toks, i) =>
      Files.write(java.nio.file.Paths.get(srcDir, s"b$i.json"),
        toks.map(t => s"""{"token":"$t"}""").mkString("\n").getBytes("UTF-8"))
      runOnce() // full stop/start between epochs: state must be durable
    }
    def state(): Map[String, Long] =
      SketchState.readState(spark, stDir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = epochs.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    assert(state() === truth, "exact regime must equal batch-mode counts")

    // replay: re-run the LAST epoch with its original batchId (the one
    // re-delivery Structured Streaming can make) — versioned derivation
    // must overwrite v2 from v1, not double-merge
    val lastId = SketchState.latestVersion(spark, stDir)
    hook(epochs.last.toDF("token"), lastId)
    assert(state() === truth, "replayed epoch must not double-count")
  }

  test("streaming model-quality monitor: per-epoch calibration folds " +
      "across restarts ≡ batch fixed-band calibration of the union; a " +
      "replayed epoch does not double-count") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.streaming.SketchState
    import spark.implicits._

    val srcDir = Files.createTempDirectory("cal_src").toString
    val ckpt = Files.createTempDirectory("cal_ckpt").toString
    val stDir = Files.createTempDirectory("cal_state").toString
    // (conf ppm, label): epoch 1 well-calibrated, epoch 2 overconfident
    // (high conf, negatives), epoch 3 a mix with band-edge values
    val epochs = Seq(
      Seq((950000L, true), (940000L, true), (50000L, false),
        (150000L, false), (550000L, true), (450000L, false)),
      Seq((990000L, false), (910000L, false), (880000L, false),
        (860000L, true)),
      Seq((1000000L, true), (0L, false), (999999L, true),
        (100000L, false), (500000L, true)))
    val hook = SketchState.foreachBatchCalibration(spark, stDir,
      "conf", "y", buckets = 10)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("conf", LongType),
          StructField("y", BooleanType))))
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(hook)
        .start()
      q.awaitTermination()
    }
    def report(): Seq[(Int, Long, Long, Long, Long, Long, Long)] =
      SketchState.calibrationReport(spark, stDir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1).toSeq
    def batchTwin(upTo: Int): Seq[(Int, Long, Long, Long, Long, Long, Long)] =
      graft.operators.Analytics.calibrationFixedBands(
          epochs.take(upTo).flatten.toDF("conf", "y"), "conf", "y", 10)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).sortBy(_._1).toSeq
    epochs.zipWithIndex.foreach { case (rows, i) =>
      Files.write(java.nio.file.Paths.get(srcDir, s"b$i.json"),
        rows.map { case (c, y) => s"""{"conf":$c,"y":$y}""" }
          .mkString("\n").getBytes("UTF-8"))
      runOnce() // full stop/start between epochs: state must be durable
      // "current ECE at any epoch": the stored fold must equal the
      // batch twin over everything ingested so far
      assert(report() === batchTwin(i + 1), s"diverged after epoch $i")
    }
    // epoch 2's overconfident slab must be visible as a high-band gap
    val topBand = report().filter(_._1 >= 8)
    assert(topBand.nonEmpty &&
      topBand.map(_._6).max >= 300000L,
      s"overconfidence not surfaced in the top bands: ${report()}")
    // replay: re-run the LAST epoch with its original batchId — the
    // versioned derivation must overwrite, not double-merge
    val lastId = SketchState.latestVersion(spark, stDir)
    hook(epochs.last.toDF("conf", "y"), lastId)
    assert(report() === batchTwin(3), "replayed epoch double-counted")
  }

  test("durable KMV distinct state: epochs fold into the versioned " +
      "sketch across restarts; re-delivered keys and a replayed epoch " +
      "change nothing; state equals the batch-mode sketch of the union") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.streaming.SketchState
    import spark.implicits._

    val srcDir = Files.createTempDirectory("kmv_src").toString
    val ckpt = Files.createTempDirectory("kmv_ckpt").toString
    val stDir = Files.createTempDirectory("kmv_state").toString
    val k = 8
    // 3 epochs, 20 users total with heavy cross-epoch overlap — the
    // sketch must behave as a pure function of the union
    val epochs = Seq(
      (1 to 10).map(i => s"user$i"),
      (5 to 15).map(i => s"user$i"),
      (1 to 20).map(i => s"user$i") ++ Seq("user3", "user7"))
    val hashExpr = org.apache.spark.sql.functions.expr(
      "cast(conv(substring(md5(u), 1, 15), 16, 10) as bigint)")
    val hook = SketchState.foreachBatchKmv(spark, stDir, "hv", k)
    val hookOnU: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (df, id) => hook(df.select(hashExpr.as("hv")), id)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("u", StringType))))
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(hookOnU)
        .start()
      q.awaitTermination()
    }
    epochs.zipWithIndex.foreach { case (us, i) =>
      Files.write(java.nio.file.Paths.get(srcDir, s"b$i.json"),
        us.map(u => s"""{"u":"$u"}""").mkString("\n").getBytes("UTF-8"))
      runOnce() // full stop/start between epochs: state must be durable
    }
    def state(): Seq[Long] =
      SketchState.readKmvState(spark, stDir).collect()
        .map(_.getLong(0)).toSeq.sorted
    // batch-mode reference: the sketch of the union of all epochs
    val all = epochs.flatten.distinct.toDF("u").select(hashExpr.as("hv"))
    val kmv = org.apache.spark.sql.functions.udaf(
      graft.functions.KmvSketchAggregator(k))
    val ref = all.agg(kmv($"hv").as("sk")).collect()(0)
      .getSeq[Long](0).sorted
    assert(state() === ref,
      "streamed state must equal the batch sketch of the union")
    // replay the LAST epoch with its original batchId: versioned
    // derivation overwrites v2 from v1 — set semantics make it a no-op
    val lastId = SketchState.latestVersion(spark, stDir)
    hookOnU(epochs.last.toDF("u"), lastId)
    assert(state() === ref, "replayed epoch must not change the sketch")
  }

  test("durable KMV SAMPLE state: streamed percentile monitor equals " +
      "the batch sample of the union across restarts and a replayed epoch") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.streaming.SketchState
    import spark.implicits._

    val srcDir = Files.createTempDirectory("kmvs_src").toString
    val ckpt = Files.createTempDirectory("kmvs_ckpt").toString
    val stDir = Files.createTempDirectory("kmvs_state").toString
    val k = 8
    // 3 epochs of (id, latency) observations with cross-epoch overlap
    val epochs = Seq(
      (1 to 12).map(i => (s"r$i", i * 10L)),
      (6 to 18).map(i => (s"r$i", i * 10L)),
      (1 to 25).map(i => (s"r$i", i * 10L)))
    val hashExpr = org.apache.spark.sql.functions.expr(
      "cast(conv(substring(md5(id), 1, 15), 16, 10) as bigint)")
    val hook = SketchState.foreachBatchKmvSample(spark, stDir, "hv", "v", k)
    val hookOn: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (df, bid) => hook(df.select(hashExpr.as("hv"), $"v"), bid)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("id", StringType),
          StructField("v", LongType))))
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(hookOn)
        .start()
      q.awaitTermination()
    }
    epochs.zipWithIndex.foreach { case (rows, i) =>
      Files.write(java.nio.file.Paths.get(srcDir, s"b$i.json"),
        rows.map { case (id, v) => s"""{"id":"$id","v":$v}""" }
          .mkString("\n").getBytes("UTF-8"))
      runOnce() // full stop/start between epochs
    }
    def state(): Seq[(Long, Long)] =
      SketchState.readKmvSampleState(spark, stDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // batch reference: the sample aggregator over the UNION of pairs
    val agg = org.apache.spark.sql.functions.udaf(
      graft.functions.KmvSampleAggregator(k))
    val all = epochs.flatten.distinct.toDF("id", "v")
      .select(hashExpr.as("hv"), $"v")
    val ref = all.agg(agg($"hv", $"v").as("sk")).collect()(0)
      .getSeq[Long](0).grouped(2).map(a => (a(0), a(1))).toSeq.sorted
    assert(state() === ref,
      "streamed sample must equal the batch sample of the union")
    // a percentile is derivable from the stored 2k longs at any epoch
    val vals = state().map(_._2).sorted
    val p50 = vals(((50 * (vals.size - 1)) / 100))
    assert(vals.contains(p50))
    // replayed last epoch: set semantics make it a no-op
    val lastId = SketchState.latestVersion(spark, stDir)
    hookOn(epochs.last.toDF("id", "v"), lastId)
    assert(state() === ref, "replayed epoch must not change the sample")
  }

  test("streaming matview maintenance: CDC epochs (inserts + retractions) " +
      "fold into the stored aggregate across a restart; a replayed epoch " +
      "is a no-op; final state equals a from-scratch build on the net rows") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.operators.AggView
    import spark.implicits._

    val srcDir = Files.createTempDirectory("mv_src").toString
    val ckpt = Files.createTempDirectory("mv_ckpt").toString
    val mvDir = Files.createTempDirectory("mv_state").toString
    val base = Seq(("a", 100L), ("a", 50L), ("b", 10L)).toDF("k", "v")
    AggView.build(base, Seq("k"), col("v"), mvDir)

    val schema = StructType(Seq(StructField("k", StringType),
      StructField("v", LongType), StructField("op", StringType)))
    val hook: (DataFrame, Long) => Unit = (b, e) =>
      AggView.mergeCdc(spark, b, Seq("k"), col("v"), "op", mvDir, e)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(hook)
        .start()
      q.awaitTermination()
    }
    def row(k: String, v: Long, op: String): String =
      s"""{"k":"$k","v":$v,"op":"$op"}"""

    Files.write(Paths.get(srcDir, "b1.json"), Seq(
      row("a", 7L, "I"), row("b", 10L, "D"), row("c", 3L, "I")
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()
    // full restart, second epoch: retract one of a's base rows, more churn
    Files.write(Paths.get(srcDir, "b2.json"), Seq(
      row("a", 50L, "D"), row("c", 4L, "I")
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()

    def state(): Map[String, (Long, Long)] =
      AggView.serve(spark, mvDir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // net rows: a = {100, 7}, b = {}, c = {3, 4}
    val truth = Map("a" -> ((2L, 107L)), "c" -> ((2L, 7L)))
    assert(state() === truth, s"state after two epochs: ${state()}")

    // replay the committed last epoch verbatim — the fence must no-op
    val (genBefore, lastEpoch) = Generation.current(mvDir)
    hook(Seq(("a", 50L, "D"), ("c", 4L, "I")).toDF("k", "v", "op"),
      lastEpoch)
    assert(Generation.current(mvDir) === ((genBefore, lastEpoch)),
      "replayed epoch must not advance the generation")
    assert(state() === truth, "replayed epoch must not change state")
  }

  test("streaming gap monitor ≡ batch q246 metrics on the real events " +
      "fixture, gaps bridged across the batch boundary") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    implicit val sq = spark.sqlContext
    implicit val ss = spark
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .filter($"user_id".isNotNull)
      .select($"user_id", unix_micros($"ts").as("t"), $"event_id")
    // batch truth with the SAME capped distinct count the monitor keeps
    val w = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
    val truth = ev.withColumn("prev", lag($"t", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"user_id", ($"t" - $"prev").as("g"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        least(countDistinct($"g"), lit(64L)).as("nd"),
        min($"g").as("mn"), sum($"g").as("sm"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4) / r.getLong(1),
        1000000L * r.getLong(2) / r.getLong(1))))
      .toMap
    val rows = ev.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val median = rows.map(_._2).sorted.apply(rows.length / 2)
    // event-time-ordered batch boundary, deterministic in-batch scramble
    val b1 = rows.filter(_._2 < median)
      .sortBy(r => (r._3 * 2654435761L) % 1000003)
    val b2 = rows.filter(_._2 >= median)
      .sortBy(r => (r._3 * 2654435761L) % 1000003)
    val mem = MemoryStream[(Long, Long, Long)]
    val q = EventStream.gapMonitor(mem.toDS()).writeStream
      .format("memory").queryName("gap_out").outputMode("update").start()
    try {
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
      // latest row per user = final state (n_gaps is monotone)
      val got = spark.table("gap_out")
        .withColumn("_rn", row_number().over(
          Window.partitionBy($"user_id").orderBy($"n_gaps".desc)))
        .filter($"_rn" === 1 && $"n_gaps" > 0)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
      assert(got.keySet === truth.keySet)
      val bad = truth.keys.filter(k => got(k) != truth(k))
      assert(bad.isEmpty,
        bad.take(3).map(k => s"$k: got ${got(k)} want ${truth(k)}"))
    } finally q.stop()
  }

  test("streaming rec-model ingest: foreachBatchMerge folds disjoint-user " +
      "interaction batches into the versioned model across a restart, " +
      "replays are no-ops, and serving equals a from-scratch build") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.operators.RecModel
    import spark.implicits._

    val srcDir = Files.createTempDirectory("rec_src").toString
    val ckpt = Files.createTempDirectory("rec_ckpt").toString
    val modDir = Files.createTempDirectory("rec_mod").toString
    val seed = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L))
      .toDF("user_id", "item")
    RecModel.build(seed, "user_id", "item", 10, 1L, modDir)

    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("item", LongType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, e: Long) => RecModel.mergeBatch(spark,
          b, "user_id", "item", 10, 1L, modDir, e))
        .start()
      q.awaitTermination()
    }
    def row(u: Long, i: Long): String = s"""{"user_id":$u,"item":$i}"""

    Files.write(Paths.get(srcDir, "b1.json"), Seq(
      row(3L, 1L), row(3L, 2L), row(4L, 2L), row(4L, 3L)
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()
    // full restart with a second file: new epoch, merged on top
    Files.write(Paths.get(srcDir, "b2.json"), Seq(
      row(5L, 1L), row(5L, 3L)
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()

    // replaying a committed epoch must not touch state
    val before = Generation.current(modDir)
    RecModel.mergeBatch(spark, Seq((9L, 1L)).toDF("user_id", "item"),
      "user_id", "item", 10, 1L, modDir, epoch = before._2)
    assert(Generation.current(modDir) === before,
      "replayed epoch must be a no-op")

    val all = seed.unionByName(Seq((3L, 1L), (3L, 2L), (4L, 2L),
      (4L, 3L), (5L, 1L), (5L, 3L)).toDF("user_id", "item"))
    val scratchDir = Files.createTempDirectory("rec_scratch").toString
    RecModel.build(all, "user_id", "item", 10, 1L, scratchDir)
    def dump(dir: String) = RecModel.serveTopK(spark, dir, "user_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(identity).toSeq
    assert(dump(modDir) === dump(scratchDir),
      "streamed merges must equal the from-scratch model")
  }

  test("streaming line-index ingest: foreachBatchMerge folds " +
      "doc-disjoint crawl batches into the stored frequency table " +
      "across a restart; replays are no-ops; the folded table equals " +
      "a from-scratch build and serves the same verdicts") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.operators.LineIndex
    import spark.implicits._

    val srcDir = Files.createTempDirectory("li_src").toString
    val ckpt = Files.createTempDirectory("li_ckpt").toString
    val idxDir = Files.createTempDirectory("li_idx").toString
    val seed = Seq((1L, "alpha\nboiler"), (2L, "beta\nboiler"))
      .toDF("doc_id", "text")
    LineIndex.build(seed, "doc_id", "text", idxDir)

    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, e: Long) =>
          LineIndex.mergeBatch(spark, b, "doc_id", "text", idxDir, e))
        .start()
      q.awaitTermination()
    }
    def row(id: Long, t: String): String =
      s"""{"doc_id":$id,"text":"$t"}"""

    Files.write(Paths.get(srcDir, "b1.json"), Seq(
      row(3L, "gamma\\nboiler"), row(4L, "delta\\nboiler")
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()
    // full restart with a second file: new epoch folds on top
    Files.write(Paths.get(srcDir, "b2.json"), Seq(
      row(5L, "epsilon\\nboiler")
    ).mkString("\n").getBytes("UTF-8"))
    runOnce()

    // replaying a committed epoch must not touch state
    val genBefore = graft.operators.Generation.current(idxDir)
    LineIndex.mergeBatch(spark, Seq((9L, "zeta")).toDF("doc_id", "text"),
      "doc_id", "text", idxDir, epoch = genBefore._2)
    assert(graft.operators.Generation.current(idxDir) === genBefore,
      "replayed epoch must be a no-op")

    val allDocs = seed.unionByName(Seq((3L, "gamma\nboiler"),
      (4L, "delta\nboiler"), (5L, "epsilon\nboiler"))
      .toDF("doc_id", "text"))
    val scratch = Files.createTempDirectory("li_scratch").toString
    LineIndex.build(allDocs, "doc_id", "text", scratch)
    def freq(dir: String) = LineIndex.storedFreq(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(freq(idxDir) === freq(scratch),
      "streamed folds must equal the from-scratch table")
    // and the served verdict reflects the streamed state: boiler is in
    // 5 docs, so with maxDocs = 4 a fresh probe keeps only its own line
    val got = LineIndex.serve(spark,
        Seq((10L, "fresh\nboiler")).toDF("doc_id", "text"),
        "doc_id", "text", idxDir, maxDocs = 4L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq === Seq((10L, "fresh", 1L, 1L)))
  }

  test("streaming stats-index ingest: foreachBatchMerge folds " +
      "row-disjoint batches into the stored ANALYZE sketch across a " +
      "restart; replays are no-ops; folded cells equal a from-scratch " +
      "build cell-for-cell and serve the same estimates") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.operators.StatsIndex
    import spark.implicits._

    val srcDir = Files.createTempDirectory("si_src").toString
    val ckpt = Files.createTempDirectory("si_ckpt").toString
    val idxDir = Files.createTempDirectory("si_idx").toString
    val seed = Seq(1L, 1L, 2L, 3L).toDF("user_id")
    StatsIndex.build(seed, "user_id", idxDir, 4, 64)

    val schema = StructType(Seq(StructField("user_id", LongType)))
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, e: Long) => StatsIndex.mergeBatch(
          spark, b, "user_id", idxDir, 4, 64, e))
        .start()
      q.awaitTermination()
    }
    def row(u: Long): String = s"""{"user_id":$u}"""

    Files.write(Paths.get(srcDir, "b1.json"),
      Seq(row(1L), row(4L), row(4L)).mkString("\n").getBytes("UTF-8"))
    runOnce()
    // full restart with a second file: new epoch folds on top
    Files.write(Paths.get(srcDir, "b2.json"),
      Seq(row(5L), row(2L)).mkString("\n").getBytes("UTF-8"))
    runOnce()

    // replaying a committed epoch must not touch state
    val genBefore = graft.operators.Generation.current(idxDir)
    StatsIndex.mergeBatch(spark, Seq(99L).toDF("user_id"), "user_id",
      idxDir, 4, 64, epoch = genBefore._2)
    assert(graft.operators.Generation.current(idxDir) === genBefore,
      "replayed epoch must be a no-op")

    val all = seed.unionByName(
      Seq(1L, 4L, 4L, 5L, 2L).toDF("user_id"))
    val scratch = Files.createTempDirectory("si_scratch").toString
    StatsIndex.build(all, "user_id", scratch, 4, 64)
    def cells(dir: String) = StatsIndex.storedCells(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    assert(cells(idxDir) === cells(scratch),
      "streamed folds must equal the from-scratch sketch cell-for-cell")
    // and the served estimate reflects the streamed state: CMS never
    // undercounts, and at this tiny scale it is exact for user 4
    val probes = Seq((4L, 2L)).toDF("user_id", "true_cnt")
    val est = StatsIndex.servedFreq(spark, probes, "user_id",
      idxDir, 4, 64).collect()(0).getAs[Long]("est")
    assert(est >= 2L)
  }

  test("streaming importance gate: stored-model scoring folds into " +
      "durable band state across restarts; fold equals the batch twin " +
      "of the union; a replayed epoch changes nothing") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.streaming.SketchState
    import graft.operators.Importance
    import spark.implicits._

    val srcDir = Files.createTempDirectory("imp_src").toString
    val ckpt = Files.createTempDirectory("imp_ckpt").toString
    val stDir = Files.createTempDirectory("imp_state").toString
    val modelDir = Files.createTempDirectory("imp_model").toString

    // offline training: the en slice is the target domain
    val corpus = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "a dog ran in the park", "en"),
      (3L, "der hund lief im park", "de"),
      (4L, "die katze sass auf der matte", "de"))
      .toDF("doc_id", "text", "lang")
    val tb = Importance.docBuckets(corpus, "doc_id", "text", 16,
      carryCols = Seq("lang"))
    Importance.buildModelIfAbsent(tb, $"lang" === "en", 16, modelDir,
      "spec-model")
    val lam = Importance.storedLambda(spark, modelDir)

    val epochs = Seq(
      Seq((10L, "the cat ran in the park"),
        (11L, "der hund und die katze")),
      Seq((12L, "a cat sat on a dog and the mat"),
        (13L, "im park lief der hund")))
    val hook = SketchState.foreachBatchImportance(spark, stDir, modelDir,
      "doc_id", "text", 16, thresholdPpm = 1000000L)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(hook)
        .start()
      q.awaitTermination()
    }
    def state(): Seq[(Int, Long, Long)] =
      SketchState.readImportanceState(spark, stDir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    def twin(upTo: Int): Seq[(Int, Long, Long)] =
      SketchState.importanceBands(
          epochs.take(upTo).flatten.toDF("doc_id", "text"), lam,
          "doc_id", "text", 16, 1000000L)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    epochs.zipWithIndex.foreach { case (rows, i) =>
      Files.write(java.nio.file.Paths.get(srcDir, s"b$i.json"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes("UTF-8"))
      runOnce() // full stop/start between epochs: state must be durable
      assert(state() === twin(i + 1), s"diverged after epoch $i")
    }
    // replay the LAST epoch under its original batchId: the versioned
    // derivation must overwrite its own version, never double-merge
    val lastId = SketchState.latestVersion(spark, stDir)
    hook(epochs.last.toDF("doc_id", "text"), lastId)
    assert(state() === twin(2), "replayed epoch double-counted")
    val st = state()
    assert(st.map(_._2).sum === 4L, s"all four docs banded: $st")
    assert(st.map(_._3).sum >= 1L && st.map(_._3).sum <= 3L,
      s"gate must separate en-leaning from de-leaning docs: $st")
  }

  test("streaming drift monitor: per-(side,bucket) folds across " +
      "restarts ≡ an independent scalar KS/TVD reference on everything " +
      "ingested; a replayed epoch does not double-count") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.streaming.SketchState
    import spark.implicits._

    val srcDir = Files.createTempDirectory("drift_src").toString
    val ckpt = Files.createTempDirectory("drift_ckpt").toString
    val stDir = Files.createTempDirectory("drift_state").toString
    // epoch 0: the reference population; epochs 1-2: live traffic
    // drifting upward
    val epochs = Seq(
      Seq(("ref", 1.2), ("ref", 1.7), ("ref", 2.1), ("ref", 2.8),
        ("ref", 3.4), ("ref", 4.9)),
      Seq(("live", 2.2), ("live", 3.1), ("live", 3.9)),
      Seq(("live", 4.4), ("live", 5.8), ("live", 6.1), ("live", 6.9)))
    val hook = SketchState.foreachBatchDrift(spark, stDir, "side", "v",
      bucketWidth = 1.0)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("side", StringType),
          StructField("v", DoubleType))))
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(hook)
        .start()
      q.awaitTermination()
    }
    def report(): (Long, Long, Long, Long) = {
      val r = SketchState.driftReport(spark, stDir, "ref", "live")
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // independent scalar reference: binned counts → truncating-integer
    // KS and TVD exactly as documented
    def scalarTwin(upTo: Int): (Long, Long, Long, Long) = {
      val rows = epochs.take(upTo).flatten
      val byBk = rows.groupBy { case (_, v) => math.floor(v).toLong }
      val bks = byBk.keys.toSeq.sorted
      val da = bks.map(bk => byBk(bk).count(_._1 == "ref").toLong)
      val db = bks.map(bk => byBk(bk).count(_._1 == "live").toLong)
      val (na, nb) = (da.sum, db.sum)
      var (ca, cb, dmax, l1) = (0L, 0L, 0L, 0L)
      bks.indices.foreach { i =>
        ca += da(i); cb += db(i)
        if (na > 0 && nb > 0)
          dmax = math.max(dmax,
            (BigInt(ca) * nb - BigInt(cb) * na).abs.toLong * 1000000L /
              (na * nb))
        val sa = if (na > 0) 1000000L * da(i) / na else 0L
        val sb = if (nb > 0) 1000000L * db(i) / nb else 0L
        l1 += math.abs(sa - sb)
      }
      (na, nb, dmax, l1 / 2)
    }
    epochs.zipWithIndex.foreach { case (rows, i) =>
      Files.write(java.nio.file.Paths.get(srcDir, s"b$i.json"),
        rows.map { case (sd, v) => s"""{"side":"$sd","v":$v}""" }
          .mkString("\n").getBytes("UTF-8"))
      runOnce() // full stop/start between epochs: state must be durable
      assert(report() === scalarTwin(i + 1), s"diverged after epoch $i")
    }
    // the upward drift must be visible: live mass sits above ref mass
    val (_, _, d, tvd) = report()
    assert(d >= 300000L && tvd >= 300000L,
      s"planted drift not surfaced: d=$d tvd=$tvd")
    // replay: re-run the LAST epoch with its original batchId — the
    // versioned derivation must overwrite, not double-merge
    val lastId = SketchState.latestVersion(spark, stDir)
    hook(epochs.last.toDF("side", "v"), lastId)
    assert(report() === scalarTwin(3), "replayed epoch double-counted")
  }

  test("streaming preference ratings: duel folds across restarts give " +
      "ratings ≡ batch Bradley-Terry of every duel ingested; a " +
      "replayed epoch does not double-count") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    import graft.streaming.SketchState
    import spark.implicits._

    val srcDir = Files.createTempDirectory("duel_src").toString
    val ckpt = Files.createTempDirectory("duel_ckpt").toString
    val stDir = Files.createTempDirectory("duel_state").toString
    val epochs = Seq(
      Seq(("A", "B"), ("A", "B"), ("B", "C")),
      Seq(("C", "A"), ("A", "B"), ("B", "C"), ("C", "D")),
      Seq(("A", "C"), ("D", "B")))
    val hook = SketchState.foreachBatchDuels(spark, stDir, "win", "lose")
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(StructType(Seq(StructField("win", StringType),
          StructField("lose", StringType))))
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(hook)
        .start()
      q.awaitTermination()
    }
    def ratings(): Seq[(String, Long, Long, Long, Long)] =
      SketchState.duelsRatings(spark, stDir, iters = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    def batchTwin(upTo: Int): Seq[(String, Long, Long, Long, Long)] =
      graft.operators.Analytics.bradleyTerry(
          epochs.take(upTo).flatten.toDF("win", "lose"), "win", "lose",
          iters = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    epochs.zipWithIndex.foreach { case (rows, i) =>
      Files.write(java.nio.file.Paths.get(srcDir, s"b$i.json"),
        rows.map { case (w, l) => s"""{"win":"$w","lose":"$l"}""" }
          .mkString("\n").getBytes("UTF-8"))
      runOnce() // full stop/start between epochs: state must be durable
      assert(ratings() === batchTwin(i + 1), s"diverged after epoch $i")
    }
    // replay: re-run the LAST epoch with its original batchId
    val lastId = SketchState.latestVersion(spark, stDir)
    hook(epochs.last.toDF("win", "lose"), lastId)
    assert(ratings() === batchTwin(3), "replayed epoch double-counted")
  }

  test("streaming BQ-index ingest: foreachBatchAppend folds " +
      "id-disjoint vector batches into the stored code table across a " +
      "restart; replays are no-ops; the folded table equals a " +
      "from-scratch build") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.BqIndex
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val srcDir = Files.createTempDirectory("bqs_src").toString
    val ckpt = Files.createTempDirectory("bqs_ckpt").toString
    val idxDir = Files.createTempDirectory("bqs_idx").toString
    BqIndex.build(spark, idxDir, e.filter($"vec_id" % 3 === 0),
      "vec_id", "embedding")
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(BqIndex.foreachBatchAppend(spark, idxDir,
          "vec_id", "embedding"))
        .start()
      q.awaitTermination()
    }
    e.filter($"vec_id" % 3 === 1).select($"vec_id", $"embedding")
      .coalesce(1).write.mode("append").json(srcDir)
    runOnce()
    e.filter($"vec_id" % 3 === 2).select($"vec_id", $"embedding")
      .coalesce(1).write.mode("append").json(srcDir)
    runOnce() // full restart from the same checkpoint
    def codeSet(d: String) = BqIndex.codes(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = Files.createTempDirectory("bqs_scr").toString
    BqIndex.build(spark, scratch, e, "vec_id", "embedding")
    assert(codeSet(idxDir) === codeSet(scratch),
      "streamed folds must equal the from-scratch build")
    // replayed epoch (same ledger tag) must be a no-op
    BqIndex.appendIfAbsent(spark, idxDir,
      e.filter($"vec_id" % 3 === 2), "vec_id", "embedding",
      batchTag = "epoch1")
    assert(codeSet(idxDir) === codeSet(scratch),
      "replayed epoch double-appended")
  }

  test("streaming trigram-LM ingest: foreachBatchMergeTrigram folds " +
      "doc batches across a restart; replays no-op; the folded table " +
      "serves BOTH smoothing tiers identically to a from-scratch model") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.LmIndex
    import spark.implicits._
    val srcDir = Files.createTempDirectory("lm3_src").toString
    val ckpt = Files.createTempDirectory("lm3_ckpt").toString
    val idxDir = Files.createTempDirectory("lm3_idx").toString
    val seed = Seq((1L, "a b c d")).toDF("doc_id", "text")
    LmIndex.buildTrigram(seed, "doc_id", "text", idxDir)
    val schema = "doc_id LONG, text STRING"
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, e: Long) => LmIndex.mergeTrigramBatch(
          spark, b, "doc_id", "text", idxDir, e))
        .start()
      q.awaitTermination()
    }
    Files.write(Paths.get(srcDir, "b1.json"),
      """{"doc_id":2,"text":"b c d e"}""".getBytes("UTF-8"))
    runOnce()
    Files.write(Paths.get(srcDir, "b2.json"),
      """{"doc_id":3,"text":"a b c e"}""".getBytes("UTF-8"))
    runOnce() // full restart
    val union = seed.unionByName(Seq((2L, "b c d e"), (3L, "a b c e"))
      .toDF("doc_id", "text"))
    val probe = Seq((10L, "a b c d e")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(LmIndex.serveTrigram(spark, probe, "doc_id", "text",
        idxDir)) ===
      rows(graft.operators.Curation.trigramLmScore(union, probe,
        "doc_id", "text")),
      "stupid-backoff serve diverged from the from-scratch twin")
    assert(rows(LmIndex.serveTrigramKn(spark, probe, "doc_id", "text",
        idxDir)) ===
      rows(graft.operators.Curation.knTrigramScore(union, probe,
        "doc_id", "text")),
      "KN serve diverged from the from-scratch twin")
    // replaying the last committed epoch must not touch state
    val before = graft.operators.Generation.current(idxDir)
    LmIndex.mergeTrigramBatch(spark,
      Seq((9L, "q r s")).toDF("doc_id", "text"), "doc_id", "text",
      idxDir, epoch = before._2)
    assert(graft.operators.Generation.current(idxDir) === before,
      "replayed epoch must be a no-op")
  }

  test("streaming moments ingest: foreachBatchMerge folds event " +
      "batches across a restart; replays no-op; the folded sums serve " +
      "the exact momentsExact readout of the full union") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.MomentsState
    import spark.implicits._
    val srcDir = Files.createTempDirectory("mom_src").toString
    val ckpt = Files.createTempDirectory("mom_ckpt").toString
    val dir = Files.createTempDirectory("mom_state").toString
    val seed = Seq(("a", 1L), ("a", 2L), ("b", 7L)).toDF("g", "v")
    MomentsState.build(seed, "g", "v", dir)
    def runOnce(): Unit = {
      val q = spark.readStream.schema("g STRING, v LONG").json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, e: Long) =>
          MomentsState.mergeBatch(spark, b, "g", "v", dir, e))
        .start()
      q.awaitTermination()
    }
    Files.write(Paths.get(srcDir, "b1.json"),
      "{\"g\":\"a\",\"v\":3}\n{\"g\":\"b\",\"v\":7}".getBytes("UTF-8"))
    runOnce()
    Files.write(Paths.get(srcDir, "b2.json"),
      "{\"g\":\"a\",\"v\":6}".getBytes("UTF-8"))
    runOnce() // full restart: only the new file folds
    val union = seed.unionByName(
      Seq(("a", 3L), ("b", 7L), ("a", 6L)).toDF("g", "v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).toSeq).toSet
    assert(rows(MomentsState.serve(spark, dir, "g")) ===
      rows(graft.operators.Analytics.momentsExact(union, "g", "v")),
      "streamed sums must serve the exact full-union readout")
    // the q362 shape-drift PROFILE from the STREAMED state: global
    // sums are the column sums of the per-group state, so the whole
    // monitor readout — Δmean, variance ratio, kurtosis gap, verdict —
    // derives from stored sums alone and must equal the batch operator
    // on the full union, column for column
    assert(rows(MomentsState.serveProfile(spark, dir, "g")) ===
      rows(graft.operators.Analytics.shapeDriftProfile(union, "g",
        "v")),
      "q362's profile served from streamed state must equal the " +
        "batch shapeDriftProfile of the full union")
    // replaying the last committed epoch must not touch state
    val before = graft.operators.Generation.current(dir)
    MomentsState.mergeBatch(spark, Seq(("z", 9L)).toDF("g", "v"),
      "g", "v", dir, epoch = before._2)
    assert(graft.operators.Generation.current(dir) === before,
      "replayed epoch must be a no-op")
  }

  test("TWO ingest streams on one artifact: distinct streamTags give " +
      "each checkpoint its own epoch counter — both streams' epoch-0 " +
      "batches land (the shared scalar fence silently dropped the " +
      "second), restarts replay per stream, and the final state " +
      "equals the batch fold of the union") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.MomentsState
    import spark.implicits._
    val srcA = Files.createTempDirectory("mom2_srcA").toString
    val srcB = Files.createTempDirectory("mom2_srcB").toString
    val ckptA = Files.createTempDirectory("mom2_ckptA").toString
    val ckptB = Files.createTempDirectory("mom2_ckptB").toString
    val dir = Files.createTempDirectory("mom2_state").toString
    val seed = Seq(("a", 1L), ("b", 7L)).toDF("g", "v")
    MomentsState.build(seed, "g", "v", dir)
    def runOnce(src: String, ckpt: String, tag: String): Unit = {
      val q = spark.readStream.schema("g STRING, v LONG").json(src)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, e: Long) =>
          MomentsState.mergeBatch(spark, b, "g", "v", dir, e, tag))
        .start()
      q.awaitTermination()
    }
    // both streams deliver their FIRST batch as Spark epoch 0 — under
    // the old shared scalar fence, whichever ran second silently
    // no-oped; tagged fences make both land
    Files.write(Paths.get(srcA, "a1.json"),
      "{\"g\":\"a\",\"v\":2}".getBytes("UTF-8"))
    runOnce(srcA, ckptA, "src_a")
    Files.write(Paths.get(srcB, "b1.json"),
      "{\"g\":\"a\",\"v\":3}\n{\"g\":\"b\",\"v\":7}".getBytes("UTF-8"))
    runOnce(srcB, ckptB, "src_b")
    // full restarts, one more file each — per-stream replay fences
    Files.write(Paths.get(srcA, "a2.json"),
      "{\"g\":\"a\",\"v\":6}".getBytes("UTF-8"))
    runOnce(srcA, ckptA, "src_a")
    Files.write(Paths.get(srcB, "b2.json"),
      "{\"g\":\"b\",\"v\":9}".getBytes("UTF-8"))
    runOnce(srcB, ckptB, "src_b")
    val union = seed.unionByName(Seq(("a", 2L), ("a", 3L), ("b", 7L),
      ("a", 6L), ("b", 9L)).toDF("g", "v"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).toSeq).toSet
    assert(rows(MomentsState.serve(spark, dir, "g")) ===
      rows(graft.operators.Analytics.momentsExact(union, "g", "v")),
      "two tagged ingest streams must fold every batch exactly once")
    // idle re-runs replay nothing on either stream
    runOnce(srcA, ckptA, "src_a"); runOnce(srcB, ckptB, "src_b")
    assert(rows(MomentsState.serve(spark, dir, "g")) ===
      rows(graft.operators.Analytics.momentsExact(union, "g", "v")),
      "empty replays must not move state")
  }

  /** The q333/q344/q353 streaming twin, parameterized by the fluency
    * tier — both smoothings ride the SAME stored trigram table, so the
    * twin is one helper, not two tests' worth of duplicated plumbing. */
  private def crawlTwin(smoothing: String, floor: Long): Unit = {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.{Curation, DedupIndex, Importance, LineIndex}
    import graft.queries.DocQueries
    import spark.implicits._
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    val arc = docs.filter($"doc_id" % 10 =!= 0)
    // own artifact dirs: this test MUTATES a dedup index (fold-forward),
    // so it must never share the gate queries' fingerprinted dirs
    val lineDir = Files.createTempDirectory("crawl_line").toString
    val ddBatch = Files.createTempDirectory("crawl_dd_b").toString
    val ddStream = Files.createTempDirectory("crawl_dd_s").toString
    val impDir = Files.createTempDirectory("crawl_imp").toString
    val lmDir = Files.createTempDirectory("crawl_lm").toString
    val arcPages = Curation.extractText(
      DocQueries.crawlPage(arc), "doc_id", "html")
    LineIndex.build(arcPages, "doc_id", "clean_text", lineDir)
    DedupIndex.build(arc, "doc_id", "text", 3, 8, 4, ddBatch)
    DedupIndex.build(arc, "doc_id", "text", 3, 8, 4, ddStream)
    Importance.buildModel(
      Importance.docBuckets(arc, "doc_id", "text", 64, Seq("lang")),
      $"lang" === "en", 64, impDir)
    // the q344 composition: the stored-LM fluency stage rides too
    graft.operators.LmIndex.buildTrigram(
      arcPages.withColumn("_flat",
        regexp_replace($"clean_text", "\n", " ")),
      "doc_id", "_flat", lmDir)
    val pages = DocQueries.crawlPage(docs.filter($"doc_id" % 10 === 0))
      .select($"doc_id", $"html")
    def admitted(dd: String, batch: org.apache.spark.sql.DataFrame)(
        implicit st: Stage) =
      Curation.crawlStages(spark, batch, "doc_id", "html", lineDir,
        dd, impDir, maxLineDocs = 30L, minScorePpm = 1000000L,
        lmDir = Some(lmDir), minLmPpm = floor,
        lmSmoothing = smoothing).last._2
    val batchSet = Stage("batch") { implicit st =>
      admitted(ddBatch, pages).select($"doc_id").as[Long].collect().toSet
    }
    assert(batchSet.nonEmpty, "fixture must admit something")
    val srcDir = Files.createTempDirectory("crawl_src").toString
    val ckpt = Files.createTempDirectory("crawl_ckpt").toString
    val sink = Files.createTempDirectory("crawl_sink").toString +
      "/admitted"
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("doc_id LONG, html STRING")
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // commit-before-append (DedupIndex.foreachBatchIngest's rule),
          // composed with the full gate chain instead of the bare gate
          Stage("microBatch") { implicit st =>
            val adm = st.checkpoint(admitted(ddStream, b), "admitted")
            adm.select($"doc_id").write.mode("append").parquet(sink)
            DedupIndex.append(adm, "doc_id", "clean_text", 3, 8, 4,
              ddStream)
          }
        }
        .start()
      q.awaitTermination()
    }
    pages.filter($"doc_id" % 20 === 0).coalesce(1)
      .write.mode("append").json(srcDir)
    runOnce()
    // full restart: a NEW query from the same checkpoint picks up only
    // the second file
    pages.filter($"doc_id" % 20 =!= 0).coalesce(1)
      .write.mode("append").json(srcDir)
    runOnce()
    val streamed = spark.read.parquet(sink)
      .select($"doc_id").as[Long].collect().toSet
    assert(streamed === batchSet,
      "micro-batched admission must equal the one-shot batch set")
  }

  test("streaming crawl pipeline (q333/q344 twin): micro-batched " +
      "ingest through all four stored gates (incl. the LM fluency " +
      "stage) — dedup index folding admitted keys forward — admits " +
      "exactly the one-shot batch set, across a full restart") {
    crawlTwin("sb", 90000L)
  }

  test("streaming crawl pipeline, Kneser-Ney tier (q353 twin): the " +
      "same parameterized twin with the calibrated-probability gate — " +
      "one smoothing parameter, zero duplicated plumbing") {
    crawlTwin("kn", 98000L)
  }
}
