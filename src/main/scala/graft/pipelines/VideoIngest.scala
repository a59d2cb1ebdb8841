package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Refine

/** E1 — `archive video` (cmds/archive.py:123-198) as a declarative Spark
  * pipeline: a DataFrame of yt-dlp info documents (Schemas.ytdlpInfo) +
  * optional RYD enrichment → the per-relation update DataFrames
  * (users, channels, videos, comments, tags, video_tags).
  *
  * Pipeline shape (SURVEY §3 E1): refine scalar chain → explode children →
  * dimension extraction. Upsert into the base tables is Upsert.* /
  * the JDBC sink's job; this module only *derives* the updates, so it is
  * pure, testable, and streaming-compatible.
  *
  * Scale: one pass over the info feed; RYD enrichment is a broadcast
  * left join keyed on video id (S8); no blob columns flow through the
  * exploded children.
  */
object VideoIngest {

  /** utils.py:8 — exact sentinel (F4 blanking fires only on this text). */
  val DefaultDesc = graft.functions.Refine.DefaultDesc

  /** The refine scalar chain (cmds/archive.py:82-120): F2 thumbnail strip,
    * F4 description blanking, F5 coalesce chains, F6 rename, F7 date
    * parse, F8 category head. `ryd` columns: id, likes, dislikes, rating,
    * viewCount (may be an empty DataFrame). */
  def refineMetadata(info: DataFrame, ryd: DataFrame): DataFrame = {
    val enriched = info.join(
      broadcast(ryd.select(col("id").as("_ryd_id"),
        col("likes").as("_ryd_likes"), col("dislikes").as("_ryd_dislikes"),
        col("rating").as("_ryd_rating"), col("viewCount").as("_ryd_views"))),
      col("id") === col("_ryd_id"), "left")
    enriched.select(
      col("id").as("video_id"),
      col("fulltitle").as("title"),
      Refine.blankDefault(col("description"), DefaultDesc).as("description"),
      col("channel_id").as("channel"),
      lit(null).cast("binary").as("thumbnail"), // fetched late (S9), not here
      Refine.stripQuery(col("thumbnail")).as("thumbnail_url"),
      col("duration"),
      Refine.prefer(col("_ryd_views"), col("view_count")).as("views"),
      col("age_limit"),
      col("live_status"),
      Refine.prefer(col("_ryd_likes"), col("like_count")).as("likes"),
      col("_ryd_dislikes").as("dislikes"),
      col("_ryd_rating").as("rating"),
      Refine.parseUploadDate(col("upload_date")).as("upload_timestamp"),
      col("availability"),
      col("width"), col("height"), col("fps"), col("audio_channels"),
      Refine.headCategory(col("categories")).as("category"),
      col("filesize_approx").as("filesize"), // F6 rename
      lit(null).cast("timestamp").as("archived")) // W8 default at sink
  }

  /** users from uploader fields (W1 target, cmds/archive.py:144-145):
    * username = uploader ?? channel ?? uploader_id (F5). */
  def users(info: DataFrame): DataFrame =
    info.filter(col("uploader_id").isNotNull)
      .select(col("uploader_id").as("user_id"),
        Refine.prefer(col("uploader"), col("channel"), col("uploader_id"))
          .as("username"))
      .dropDuplicates("user_id")

  /** channels (W1 target, cmds/archive.py:147-150): name = channel ??
    * uploader ?? channel_id. */
  def channels(info: DataFrame): DataFrame =
    info.filter(col("channel_id").isNotNull)
      .select(col("channel_id"), col("uploader_id"),
        Refine.prefer(col("channel"), col("uploader"), col("channel_id"))
          .as("name"),
        col("channel_follower_count"),
        col("channel_url").as("url"))
      .dropDuplicates("channel_id")

  /** comments exploded from the nested array (cmds/archive.py:178-187):
    * parent "root" → NULL (F9), epoch seconds → timestamp, flag ints →
    * booleans (F14). */
  def comments(info: DataFrame): DataFrame =
    info.select(col("id").as("video"),
      explode(col("comments")).as("c"))
      .select(
        col("c.id").as("comment_id"),
        col("video"),
        col("c.author_id").as("author"),
        col("c.text").as("content"),
        col("c.like_count").as("likes"),
        col("c.is_favorited").cast("boolean").as("is_favorited"),
        col("c.author_is_uploader").cast("boolean").as("author_is_uploader"),
        Refine.rootToNull(col("c.parent")).as("parent"),
        timestamp_seconds(col("c.timestamp")).as("timestamp"))

  /** comment authors needing user backfill (J5, cmds/archive.py:180-181). */
  def commentAuthors(info: DataFrame): DataFrame =
    info.select(explode(col("comments")).as("c"))
      .filter(col("c.author_id").isNotNull)
      .select(col("c.author_id").as("user_id"),
        col("c.author").as("username"))
      .dropDuplicates("user_id")

  /** tag vocabulary (D3/W1, cmds/archive.py:191). */
  def tags(info: DataFrame): DataFrame =
    info.select(explode(col("tags")).as("name")).distinct()

  /** video_tags bridge (W1, cmds/archive.py:192). The reference uses an
    * autoincrement id; a global sequence doesn't distribute, so the
    * surrogate is a content hash of (video, tag) — deterministic across
    * replays (idempotent merges) and shuffle-free. */
  def videoTags(info: DataFrame): DataFrame =
    info.select(col("id").as("video"), explode(col("tags")).as("tag"))
      .distinct()
      .withColumn("id", xxhash64(col("video"), col("tag")))
      .select(col("id"), col("video"), col("tag"))
}
