package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Refine

/** The reference's watch-history ingest (E3, cmds/archive.py:317-352) as a
  * Structured Streaming pipeline: Takeout JSON events (titleUrl, time) →
  * id extraction (F10) → validity filter (F1) → timestamp parse (F7) →
  * dedup on (video, watched) (D2).
  *
  * The batch form dedups in Spark. The streaming form is the stateless
  * refine chain only: the reference dedups with one probe of the table's
  * (video, watched) key and keeps events however late they arrive, and
  * the keyed sink does the same —
  * [[graft.sinks.JdbcUpsertSink.foreachBatchStagedMerge]] stages each
  * epoch distinct and its MERGE absorbs rows already stored. No operator
  * state, no watermark, no late row dropped (SURVEY §2.9).
  */
object HistoryPipeline {

  /** Shared refine chain: raw (titleUrl, time) → (video, watched). */
  def refine(raw: DataFrame): DataFrame =
    raw
      .filter(col("titleUrl").isNotNull) // unavailable entries (A2 counter)
      .withColumn("video",
        Refine.scrubWhitespace(Refine.extractWatchId(col("titleUrl"))))
      .filter(Refine.isValidVideoId(col("video")))
      .withColumn("watched", Refine.parseIsoTs(col("time")))
      .filter(col("watched").isNotNull)
      .select(col("video"), col("watched"))

  /** Batch form with exact dedup (D2: distinct on the (video, watched)
    * pair, cmds/archive.py:340). */
  def batch(raw: DataFrame): DataFrame =
    refine(raw).dropDuplicates("video", "watched")

  /** Streaming form: the refine chain, deduplicated by a keyed sink. */
  def stream(raw: DataFrame): DataFrame = refine(raw)

  /** A2 — the unavailable-entry counter (cmds/archive.py:330-335). */
  def unavailableCount(raw: DataFrame): DataFrame =
    raw.agg(count(when(col("titleUrl").isNull, 1)).as("n_unavailable"),
      count(lit(1)).as("n_total"))
}
