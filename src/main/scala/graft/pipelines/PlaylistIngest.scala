package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.Refine

/** E2 — `archive playlist` (cmds/archive.py:224-314): the Takeout-CSV
  * branch (S5) and the flat-API branch, producing the playlist header row
  * and the order-preserving membership relation.
  *
  * Order preservation: the reference relies on SQLite's autoincrement
  * `pl` key tracking insertion order (schema.sql:87); here membership
  * order is explicit — row_number over the added-timestamp (ties broken
  * on video id), which survives any partitioning.
  */
object PlaylistIngest {

  /** S5 — the Takeout playlist-CSV schema, explicit: never infer (an
    * inference pass is a second full read, and all-string columns defeat
    * downstream pruning/pushdown). `Time Created` stays a string here —
    * Takeout's format needs the permissive F7 parse in [[membership]],
    * not the CSV reader's strict one. Malformed rows are kept PERMISSIVE
    * with the raw line in `_corrupt_record` for quarantine (the reference
    * skips bad rows silently, cmds/archive.py:300-303; keeping them
    * auditable is strictly better and filters identically). */
  val csvSchema: StructType = StructType(Seq(
    StructField("Video ID", StringType, nullable = true),
    StructField("Time Created", StringType, nullable = true),
    StructField("_corrupt_record", StringType, nullable = true)))

  /** S5 — read a Takeout playlist CSV ("Video ID","Time Created" header,
    * cmds/archive.py:232-247) with the explicit schema. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(csvSchema)
      .csv(path)

  /** CSV branch: synthesize the playlist header from the file stem
    * ("<title> videos" → title, F11; local id PLLOCAL_*, line 233-247). */
  def playlistFromCsv(spark: SparkSession, fileStem: String): DataFrame = {
    import spark.implicits._
    Seq(fileStem).toDF("stem")
      .select(
        Refine.synthPlaylistId(Refine.trimVideosSuffix($"stem"))
          .as("playlist_id"),
        lit(null).cast("string").as("channel"),
        lit(null).cast("timestamp").as("created"),
        lit(null).cast("timestamp").as("updated"),
        Refine.trimVideosSuffix($"stem").as("title"),
        lit(null).cast("string").as("description"),
        lit("private").as("visibility"))
  }

  /** Membership rows from CSV rows (cmds/archive.py:298-308): scrub ids
    * (F11), parse timestamps permissively (F7, blank → NULL), keep CSV
    * order via row_number on (added, video). */
  def membership(csvRows: DataFrame, playlistId: String): DataFrame = {
    val cleaned = csvRows
      .select(
        Refine.scrubWhitespace(col("Video ID")).as("video"),
        Refine.parseIsoTs(col("Time Created")).as("added"))
      .filter(Refine.isValidVideoId(col("video")))
    val w = Window.partitionBy(lit(playlistId))
      .orderBy(col("added").asc_nulls_last, col("video").asc)
    cleaned
      .withColumn("playlist", lit(playlistId))
      .withColumn("pl", row_number().over(w).cast("long"))
      .select(col("pl"), col("playlist"), col("video"), col("added"))
  }
}
