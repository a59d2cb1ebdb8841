package graft

import org.apache.spark.sql.SparkSession
import graft.pipelines.{PlaylistIngest, VideoIngest}
import graft.sources.Sources
import graft.streaming.HistoryPipeline

/** The reference's REPL dispatch surface (yark.py:20-36 tokenizes a line,
  * resolves command class + method by name via getattr — cmds/__init__.py:
  * 7-22 — with docstring-driven help, :25-57). Here: a token-dispatched
  * command registry over the Spark pipelines, network-free (sources are
  * pre-fetched files, per the zero-egress build).
  *
  * `archive video <info.jsonl> <outDir>`     E1 ingest → parquet relations
  * `archive playlist <takeout.csv> <outDir>` E2 CSV branch
  * `archive history <takeout.json> <outDir>` E3 dedup ingest
  * `config get <key>` / `config set <key> <true|false>`  §2.10 gates
  * `help`                                     command list
  */
object Cli {

  final case class Command(name: String, method: String, usage: String,
      run: (SparkSession, Seq[String]) => String)

  def commands: Seq[Command] = Seq(
    Command("archive", "video",
      "archive video <info.jsonl> <outDir> — ingest yt-dlp documents (E1)",
      (spark, args) => {
        val Seq(path, out) = args.take(2)
        val info = Sources.ytdlpJsonl(spark, path)
        val rydEmpty = spark.createDataFrame( // no enrichment offline (S8 fallback)
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Schemas.ryd)
        val videos = VideoIngest.refineMetadata(info, rydEmpty)
        val cfg = Config.fromSpark(spark)
        videos.write.mode("overwrite").parquet(s"$out/videos")
        VideoIngest.users(info).write.mode("overwrite").parquet(s"$out/users")
        VideoIngest.channels(info).write.mode("overwrite")
          .parquet(s"$out/channels")
        if (cfg.comments) // §2.10 gate (cmds/archive.py:62)
          VideoIngest.comments(info).write.mode("overwrite")
            .parquet(s"$out/comments")
        VideoIngest.tags(info).write.mode("overwrite").parquet(s"$out/tags")
        VideoIngest.videoTags(info).write.mode("overwrite")
          .parquet(s"$out/video_tags")
        // count from the WRITTEN parquet (footer metadata only) — a
        // count() on the plan would re-run the whole ingest pipeline
        val nVideos = spark.read.parquet(s"$out/videos").count()
        s"archived $nVideos videos to $out"
      }),
    Command("archive", "playlist",
      "archive playlist <takeout.csv> <outDir> — ingest a Takeout playlist (E2)",
      (spark, args) => {
        val Seq(path, out) = args.take(2)
        val stem = new java.io.File(path).getName.stripSuffix(".csv")
        val rows = PlaylistIngest.readCsv(spark, path)
        val header = PlaylistIngest.playlistFromCsv(spark, stem)
        val pid = header.collect()(0).getAs[String]("playlist_id")
        val members = PlaylistIngest.membership(rows, pid)
        header.write.mode("overwrite").parquet(s"$out/playlists")
        // row count captured from the write action itself (observe), not
        // a second read-back job over the output
        val obs = org.apache.spark.sql.Observation()
        members.observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$out/playlist_videos")
        val nMembers = obs.get("n").asInstanceOf[Long]
        s"archived playlist $pid with $nMembers videos to $out"
      }),
    Command("archive", "history",
      "archive history <takeout.json> <outDir> — ingest watch history (E3)",
      (spark, args) => {
        val Seq(path, out) = args.take(2)
        val raw = Sources.takeoutHistoryJson(spark, path)
        val hist = HistoryPipeline.batch(raw)
        val obs = org.apache.spark.sql.Observation()
        hist.observe(obs, org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$out/history")
        val counts = HistoryPipeline.unavailableCount(raw).collect()(0)
        val nEvents = obs.get("n").asInstanceOf[Long]
        s"archived $nEvents events " +
          s"(${counts.getAs[Long]("n_unavailable")} unavailable) to $out"
      }),
    Command("config", "get", "config get <key>",
      (spark, args) => {
        val c = Config.fromSpark(spark)
        args.headOption match {
          case Some("thumbnails") => c.thumbnails.toString
          case Some("comments") => c.comments.toString
          case other => s"unknown config key: ${other.getOrElse("")}"
        }
      }),
    Command("config", "set", "config set <key> <true|false>",
      (spark, args) => args match {
        case Seq(k, v, _*) if Set("thumbnails", "comments")(k) =>
          spark.conf.set(s"spark.graft.$k", v); s"$k = $v"
        case _ => "usage: config set <thumbnails|comments> <true|false>"
      }))

  /** Help text assembled from command usage strings (the docstring-help
    * analogue, cmds/__init__.py:25-57). */
  def help: String =
    "commands:\n" + commands.map("  " + _.usage).mkString("\n")

  /** One dispatch: tokenize, resolve (command, method), run. Unknown
    * tokens produce the reference's error shape (yark.py:29-36). */
  def dispatch(spark: SparkSession, line: String): Either[String, String] = {
    line.trim.split("\\s+").toSeq match {
      case Seq("") | Seq() => Left("empty command")
      case Seq("help") => Right(help)
      case cmd +: rest =>
        commands.filter(_.name == cmd) match {
          case Seq() => Left(s"unknown command: $cmd")
          case byName => rest match {
            case method +: args =>
              byName.find(_.method == method) match {
                case Some(c) =>
                  try Right(c.run(spark, args))
                  catch { case e: Throwable => Left(s"error: ${e.getMessage}") }
                case None => Left(s"unknown method: $cmd $method")
              }
            case _ => Left(s"usage:\n$help")
          }
        }
    }
  }

  /** REPL loop (yark.py:15-45). */
  def main(args: Array[String]): Unit = {
    val spark = Session.start()
    println(help)
    Iterator.continually(scala.io.StdIn.readLine("graft> "))
      .takeWhile(l => l != null && l != "exit")
      .foreach(l => dispatch(spark, l) match {
        case Right(msg) => println(msg)
        case Left(err) => println(s"! $err")
      })
    spark.stop()
  }
}
