package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{DriverManager, SQLException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.Schemas
import graft.operators.{Integrity, Upsert}
import graft.pipelines.VideoIngest
import graft.sinks.JdbcUpsertSink
import graft.sources.Sources
import graft.streaming.HistoryPipeline

/** The yark write path into embedded in-memory Derby, one cycle after
  * another until the run's time is up. A cycle has three phases:
  *
  *  - catalog: yt-dlp JSONL → `VideoIngest` → the six catalog tables, then
  *    a re-archive file with updates beside inserts (some rejected by the
  *    never-downgrade guard);
  *  - history: Takeout JSONL files, dropped into a watched directory one
  *    at a time, each drained by an `AvailableNow` run of
  *    `HistoryPipeline.stream` into the staged-MERGE sink;
  *  - unarchive: `Integrity.unarchiveVideo` cascade, then key deletes.
  *
  * Inputs come from run.py's seeded generator (`<work>/inputs`). Neither
  * side flushes durably: Derby lives in memory and the streaming checkpoint
  * is a local directory. */
object Ingest {
  val Durability = "none: Derby jdbc:derby:memory, streaming checkpoint " +
    "on local disk without fsync"

  /** Catalog DDL: keys only, no FKs (the engine emulates them). */
  val Ddl: Seq[(String, Seq[String], String)] = Seq(
    ("users", Seq("user_id"),
      "user_id VARCHAR(64) PRIMARY KEY, username VARCHAR(200)"),
    ("channels", Seq("channel_id"),
      "channel_id VARCHAR(64) PRIMARY KEY, uploader_id VARCHAR(64), " +
        "name VARCHAR(200), channel_follower_count BIGINT, url VARCHAR(200)"),
    ("videos", Seq("video_id"),
      "video_id VARCHAR(16) PRIMARY KEY, title VARCHAR(200), " +
        "description VARCHAR(2000), channel VARCHAR(64), " +
        "thumbnail VARCHAR(64) FOR BIT DATA, thumbnail_url VARCHAR(200), " +
        "duration BIGINT, views BIGINT, age_limit BIGINT, " +
        "live_status VARCHAR(32), likes BIGINT, dislikes BIGINT, " +
        "rating DOUBLE, upload_timestamp TIMESTAMP, availability VARCHAR(32), " +
        "width BIGINT, height BIGINT, fps DOUBLE, audio_channels BIGINT, " +
        "category VARCHAR(64), filesize BIGINT, archived TIMESTAMP"),
    ("comments", Seq("comment_id"),
      "comment_id VARCHAR(64) PRIMARY KEY, video VARCHAR(16), " +
        "author VARCHAR(64), content VARCHAR(2000), likes BIGINT, " +
        "is_favorited BOOLEAN, author_is_uploader BOOLEAN, " +
        "parent VARCHAR(64), \"TIMESTAMP\" TIMESTAMP"),
    ("tags", Seq("name"), "name VARCHAR(100) PRIMARY KEY"),
    ("video_tags", Seq("id"),
      "id BIGINT PRIMARY KEY, video VARCHAR(16), tag VARCHAR(100)"),
    ("history", Seq("video", "watched"),
      "video VARCHAR(16) NOT NULL, watched TIMESTAMP NOT NULL, " +
        "PRIMARY KEY (video, watched)"))

  /** The never-downgrade guard (cmds/archive.py:162), reduced to the title:
    * a re-fetch that lost its title must not overwrite the archived row. */
  val guard: Row => Boolean = r => !r.isNullAt(r.fieldIndex("title"))

  /** The six catalog relations VideoIngest derives from one info file. */
  def derive(info: DataFrame, ryd: DataFrame): Seq[(String, DataFrame)] = Seq(
    "users" -> VideoIngest.users(info)
      .unionByName(VideoIngest.commentAuthors(info)).dropDuplicates("user_id"),
    "channels" -> VideoIngest.channels(info),
    "videos" -> VideoIngest.refineMetadata(info, ryd),
    "comments" -> VideoIngest.comments(info),
    "tags" -> VideoIngest.tags(info),
    "video_tags" -> VideoIngest.videoTags(info))

  /** The cycles behind the reported figures: the three after the cold
    * one, whatever else the run's time allows, so every run reports the
    * same sample whether it fits three more cycles or four. */
  val Warm = 1 to 3

  final class Cycle(val url: String) {
    val sinks: Map[String, JdbcUpsertSink] = Ddl.map { case (t, keys, _) =>
      t -> JdbcUpsertSink(url, t, keys) }.toMap
  }

  /** Wall times of one cycle's phases, and its micro-batches' durations. */
  final case class Times(catalogS: Double, historyS: Double, cascadeS: Double,
      batchMs: Seq[Double], progressEvents: Int) {
    def cycleS: Double = catalogS + historyS + cascadeS
  }

  /** Rows the merge sinks gained or changed, and rows they were handed. */
  final class Useful { var changed, staged = 0L }

  def run(spark: SparkSession, o: Opts, res: Result): Unit = {
    Reads.warmUp(spark, o, res)
    val in = s"${o.work}/inputs"
    val sc = spark.sparkContext
    val counters = new SparkCounters
    val stream = new StreamCounters
    if (o.trace) {
      Trace.sc = sc
      sc.addSparkListener(counters)
      spark.streams.addListener(stream)
    }
    val inputs = Inputs(in, spark.createDataFrame(sc.emptyRDD[Row], Schemas.ryd))

    val untraced = mutable.ArrayBuffer[Times]()
    val tracedCycles = mutable.ArrayBuffer[(Int, Times)]()
    val liveAfter = mutable.Map[Int, Double]()
    var last: Cycle = null
    val t0 = System.nanoTime()
    var k = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (k < (if (o.trace) 3 else 1 + Warm.size) || elapsed < o.seconds) {
      val tracing = o.trace && k % 2 == 1
      Trace.on = tracing
      if (last != null) drop(last.url)
      last = create(k)
      val before = sc.getPersistentRDDs.keySet
      val t = cycle(spark, o, res, inputs, last, k, tracing, stream)
      Trace.on = false
      liveAfter(k) = (sc.getPersistentRDDs.keySet -- before).size.toDouble
      if (tracing) tracedCycles += k -> t else untraced += t
      k += 1
    }
    res.peakRssMb = Main.peakRssMb()
    val warm = Warm.filter(_ < untraced.size).map(untraced(_))
    res.passes ++= warm.map(_.cycleS)
    res.ops ++= warm.flatMap(_.batchMs).map(_ / 1000.0)

    // correctness, outside the timed cycles: the last cycle's tables
    // against the batch forms computed in Spark
    val (expected, catalogRows) = expect(spark, inputs)
    expected.foreach { case (t, df) =>
      try {
        val got = readTable(spark, last.url, t)
        val want = df.select(got.columns.map(n => col(n).cast(got.schema(n).dataType)).toIndexedSeq: _*)
        val (g, w) = (rows(got), rows(want))
        val extra = g.diff(w).size
        val missing = w.diff(g).size
        res.notes(s"check.$t") = s"${g.size} rows, $extra unexpected, $missing missing"
        if (extra + missing > 0)
          res.fail(s"check $t", new IllegalStateException(res.notes(s"check.$t")))
      } catch { case e: Throwable => res.fail(s"check $t", e) }
    }
    drop(last.url)

    val histRows = inputs.histRows
    res.report("history_rows_per_s") = (Stats.median(warm.map(histRows / _.historyS)), "rows/s")
    res.report("batch_ms.p50") = (Stats.median(res.ops.toSeq) * 1000, "ms")
    res.notes("batch_ms.samples") = res.ops.size.toString
    res.report("catalog_rows_per_s") =
      (Stats.median(warm.map(catalogRows / _.catalogS)), "rows/s")
    res.report("cascade_s") = (Stats.median(warm.map(_.cascadeS)), "s")
    res.report("pass_s") = (Stats.median(res.passes.toSeq), "s")
    res.notes("cycles") = s"${untraced.size} untraced, ${tracedCycles.size} traced; " +
      s"reported: the ${warm.size} after the cold one"
    res.notes("durability") = Durability
    res.notes("history_rows") = histRows.toString
    res.notes("catalog_rows") = catalogRows.toString

    if (o.trace) traced(spark, o, res, counters, stream, inputs, k,
      tracedCycles.toSeq, liveAfter.toMap, untraced.drop(1).toSeq)
  }

  /** The run's input files, listed once. */
  final case class Inputs(dir: String, ryd: DataFrame) {
    val catalog: Seq[String] = Seq(s"$dir/catalog/initial.jsonl", s"$dir/catalog/rearchive.jsonl")
    val history: Seq[String] = Files.list(Paths.get(s"$dir/history")).iterator().asScala
      .map(_.toString).toSeq.sorted
    val histRows: Long = history.map(f => Files.readAllLines(Paths.get(f)).size.toLong).sum
    val unarchive: Seq[String] = Files.readAllLines(Paths.get(s"$dir/unarchive.txt"))
      .asScala.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** A fresh in-memory database holding the empty catalog and history. */
  private def create(k: Int): Cycle = {
    val c = new Cycle(s"jdbc:derby:memory:pb$k")
    DriverManager.getConnection(s"${c.url};create=true").close()
    Ddl.foreach { case (t, _, cols) => c.sinks(t).execDdl(s"CREATE TABLE $t ($cols)") }
    c
  }

  /** One catalog → history → unarchive cycle into `c`. Traced and
    * untraced cycles do the same engine work; with `useful` set (an extra
    * cycle of traced runs, outside the timed ones) the merge sinks also
    * count what they changed. */
  private def cycle(spark: SparkSession, o: Opts, res: Result, in: Inputs,
      c: Cycle, k: Int, tracing: Boolean, stream: StreamCounters,
      useful: Option[Useful] = None): Times = {
    val c0 = System.nanoTime()

    // catalog: first archive, then the re-archive pass
    in.catalog.foreach { f =>
      Trace.span(s"catalog/${Paths.get(f).getFileName}", "pipelines", s"c$k/catalog") {
        val info = Sources.ytdlpJsonl(spark, f)
        derive(info, in.ryd).foreach { case (t, df) =>
          res.attempted += 1
          try write(spark, c, t, df, useful)
          catch { case e: Throwable => res.fail(s"catalog $f $t", e) }
        }
      }
    }
    val c1 = System.nanoTime()

    // history: one file drop per AvailableNow run
    val watch = Paths.get(s"${o.work}/cycle$k/watch")
    val batches = mutable.ArrayBuffer[Double]()
    var progressEvents = 0
    Files.createDirectories(watch)
    val hist = c.sinks("history")
    val merge = hist.foreachBatchStagedMerge()
    val sink: (DataFrame, Long) => Unit = (batch, id) => useful match {
      case None => Trace.span("sink.merge/history", "sinks")(merge(batch, id))
      case Some(u) =>
        val n0 = hist.queryCount()
        merge(batch, id)
        u.changed += hist.queryCount() - n0
        u.staged += batch.count()
    }
    Trace.span("history", "streaming", s"c$k/history") {
      in.history.foreach { f =>
        Files.copy(Paths.get(f), watch.resolve(Paths.get(f).getFileName),
          StandardCopyOption.REPLACE_EXISTING)
        res.attempted += 1
        try {
          val q = HistoryPipeline.stream(
              Sources.takeoutHistoryStream(spark, watch.toString))
            .writeStream
            .option("checkpointLocation", s"${o.work}/cycle$k/ckpt")
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .foreachBatch(sink)
            .start()
          if (tracing) stream.runs.add(q.runId)
          q.awaitTermination()
          progressEvents += q.recentProgress.length
          batches ++= q.recentProgress.filter(_.numInputRows > 0)
            .map(_.durationMs.get("triggerExecution").toDouble)
        } catch { case e: Throwable => res.fail(s"history $f", e) }
      }
    }
    val c2 = System.nanoTime()

    // unarchive: cascade over the stored comment tree, then deletes
    Trace.span("unarchive", "operators", s"c$k/unarchive") {
      res.attempted += 1
      try unarchive(spark, c, in.unarchive)
      catch { case e: Throwable => res.fail("unarchive", e) }
    }
    val c3 = System.nanoTime()
    Times((c1 - c0) / 1e9, (c2 - c1) / 1e9, (c3 - c2) / 1e9, batches.toSeq,
      progressEvents)
  }

  /** One relation into its sink: the per-row guarded upsert for videos,
    * the set-based staged MERGE for comments, insert-or-ignore for the
    * rest (cmds/archive.py:133-192). */
  private def write(spark: SparkSession, c: Cycle, t: String, df: DataFrame,
      useful: Option[Useful]): Unit = {
    val sink = c.sinks(t)
    t match {
      case "videos" =>
        Trace.span("sink.upsert/videos", "sinks")(sink.upsert(df, guard))
      case "comments" => useful match {
        case None => Trace.span("sink.merge/comments", "sinks")(sink.upsertStagedMerge(df))
        case Some(u) =>
          val before = snapshot(spark, readTable(spark, c.url, t))
          sink.upsertStagedMerge(df)
          u.changed += df.select(before.columns.map(col).toIndexedSeq: _*)
            .except(before).count()
          u.staged += df.count()
      }
      case _ =>
        Trace.span(s"sink.insert/$t", "sinks")(sink.insertIfAbsent(df))
    }
  }

  /** The rows of a small `df`, held on the driver: the harness's own
    * materializations, kept out of Spark's persisted RDDs so that
    * `operators.checkpoints` counts only the engine's. */
  private def snapshot(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def unarchive(spark: SparkSession, c: Cycle, ids: Seq[String]): Unit = {
    import spark.implicits._
    val vids = ids.toDF("video_id")
    val comments = snapshot(spark, readTable(spark, c.url, "comments"))
    val videoTags = snapshot(spark, readTable(spark, c.url, "video_tags"))
    // the keys to delete are fixed before the first delete changes the tables
    val (gone, goneTags) = Trace.span("integrity.cascade", "operators") {
      val (survC, survT) = Integrity.unarchiveVideo(vids, "video_id", comments, videoTags)
      (snapshot(spark, comments.select("comment_id").except(survC.select("comment_id"))),
        snapshot(spark, videoTags.select("id").except(survT.select("id"))))
    }
    Trace.span("sink.delete", "sinks") {
      c.sinks("comments").deleteByKeys(gone)
      c.sinks("video_tags").deleteByKeys(goneTags)
      c.sinks("videos").deleteByKeys(vids)
    }
  }

  /** Final tables as the batch forms compute them: the Upsert algebra over
    * both catalog files, `HistoryPipeline.batch` over every history file,
    * then `Integrity.unarchiveVideo`. Also returns the number of rows the
    * catalog phase derives and upserts. */
  private def expect(spark: SparkSession, in: Inputs): (Seq[(String, DataFrame)], Long) = {
    import spark.implicits._
    val Seq(first, again) = in.catalog.map(f => derive(Sources.ytdlpJsonl(spark, f), in.ryd).toMap)
    val rows = (first.values ++ again.values).map(_.count()).sum
    val keys = Ddl.map(d => d._1 -> d._2).toMap
    val merged = first.keys.map { t =>
      t -> (t match {
        case "videos" =>
          val setCols = first(t).columns.filterNot(_ == "video_id").toSeq
          Upsert.guardedUpsert(first(t), again(t), "video_id",
            Upsert.colIn("title").isNotNull, setCols)
        case "comments" => Upsert.replaceByKey(first(t), again(t), keys(t))
        case _ => Upsert.insertIfAbsent(first(t), again(t), keys(t))
      })
    }.toMap
    val vids = in.unarchive.toDF("video_id")
    val (survC, survT) = Integrity.unarchiveVideo(vids, "video_id",
      merged("comments"), merged("video_tags"))
    val videos = merged("videos").join(vids, Seq("video_id"), "left_anti")
    val history = HistoryPipeline.batch(
      spark.read.schema(Schemas.takeoutHistory).json(in.history: _*))
    (Seq("users" -> merged("users"), "channels" -> merged("channels"),
      "videos" -> videos, "comments" -> survC, "tags" -> merged("tags"),
      "video_tags" -> survT, "history" -> history), rows)
  }

  /** A small table's rows as sorted strings: a multiset to compare. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("0x", ",", "")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  def readTable(spark: SparkSession, url: String, t: String): DataFrame = {
    val df = spark.read.jdbc(url, t, new java.util.Properties())
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
  }

  private def drop(url: String): Unit =
    try DriverManager.getConnection(s"$url;drop=true").close()
    catch { case _: SQLException => () } // Derby reports a drop as 08006

  /** The traced run's report, after the timed cycles: the counters and
    * stream progress the traced cycles recorded; each layer's call on its
    * own, on inputs already decoded (or, for sources, on the raw files);
    * and one more cycle, untimed, whose merge sinks count what they change
    * (`sink.merge_useful_ratio`). */
  private def traced(spark: SparkSession, o: Opts, res: Result,
      counters: SparkCounters, stream: StreamCounters, in: Inputs, k: Int,
      cycles: Seq[(Int, Times)], liveAfter: Map[Int, Double],
      untraced: Seq[Times]): Unit = {
    val useful = new Useful
    val c = create(k)
    cycle(spark, o, res, in, c, k, tracing = false, stream, Some(useful))
    drop(c.url)

    Trace.on = true
    Trace.span("sources.decode", "sources", "layers/sources") {
      in.catalog.foreach(f => Reads.consume(Sources.ytdlpJsonl(spark, f)))
      Reads.consume(spark.read.schema(Schemas.takeoutHistory).json(in.history: _*))
    }
    val infos = in.catalog.map(f => Sources.ytdlpJsonl(spark, f).localCheckpoint())
    Trace.span("pipelines.derive", "pipelines", "layers/pipelines") {
      infos.foreach(info => derive(info, in.ryd).foreach(d => Reads.consume(d._2)))
    }
    val raw = spark.read.schema(Schemas.takeoutHistory).json(in.history: _*)
      .localCheckpoint()
    Trace.span("streaming.refine", "streaming", "layers/streaming")(
      Reads.consume(HistoryPipeline.batch(raw)))
    Trace.on = false
    counters.drain(spark.sparkContext)
    val spans = Trace.all
    val cycleGroups = cycles.map(_._1).toSet
    val inCycles = spans.filter(s => s.group.startsWith("c") &&
      cycleGroups(s.group.drop(1).takeWhile(_.isDigit).toInt))
    Layers.perPass(res, counters, inCycles, cycles.size,
      cycles.map(_._2.cycleS).sum, o.cores)
    val n = cycles.size.max(1).toDouble
    def total(prefix: String) =
      inCycles.filter(_.name.startsWith(prefix)).map(_.seconds).sum / n
    def one(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    res.layers("operators.checkpoints_live_after") =
      (Stats.median(cycles.map(c => liveAfter(c._1))), "count")
    res.layers("sources.decode_s") = (one("sources.decode"), "s")
    res.layers("pipelines.derive_s") = (one("pipelines.derive"), "s")
    res.layers("streaming.refine_s") = (one("streaming.refine"), "s")
    res.layers("sink.upsert_s") = (total("sink.upsert"), "s")
    res.layers("sink.merge_s") = (total("sink.merge"), "s")
    res.layers("sink.insert_s") = (total("sink.insert"), "s")
    res.layers("sink.delete_s") = (total("sink.delete"), "s")
    res.layers("sink.merge_useful_ratio") =
      (useful.changed.toDouble / useful.staged.max(1L), "ratio")
    res.layers("integrity.cascade_s") = (total("integrity.cascade"), "s")
    res.layers("integrity.cascade_jobs") = (counters.sum(
      inCycles.filter(_.name == "integrity.cascade").map(_.id)).jobs / n, "count")

    // micro-batch phases, as Spark's progress reports them
    val progress = stream.of(cycles.map(_._2.progressEvents).sum)
      .filter(_.numInputRows > 0)
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets",
        "latestOffset", "getBatch").foreach { ph =>
      val ms = progress.flatMap(p => Option(p.durationMs.get(ph)).map(_.toDouble))
      res.layers(s"stream.${ph}_ms") = (Stats.median(ms), "ms")
      res.layers(s"stream.${ph}_ms.sum") = (ms.sum / n, "ms")
    }
    val ops = progress.flatMap(_.stateOperators)
    res.layers("stream.state_rows") =
      (Stats.median(ops.map(_.numRowsTotal.toDouble)), "count")
    res.layers("stream.state_bytes") =
      (Stats.median(ops.map(_.memoryUsedBytes.toDouble)), "bytes")
    res.layers("stream.rows_dropped_by_watermark") =
      (ops.map(_.numRowsDroppedByWatermark).sum / n, "count")

    // traced cycles against the untraced ones after the cold cycle
    Layers.overhead(res, "pass_s", Stats.median(cycles.map(_._2.cycleS)),
      Stats.median(untraced.map(_.cycleS)), "s")
    Layers.overhead(res, "history_rows_per_s",
      Stats.median(cycles.map(in.histRows / _._2.historyS)),
      Stats.median(untraced.map(in.histRows / _.historyS)), "rows/s")
    Layers.tree(res, spans)
  }
}
