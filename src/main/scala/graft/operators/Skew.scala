package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY §4 / 100 TB stance): salted two-phase
  * aggregation and a skew pre-flight report.
  *
  * A hot grouping key (one key holding a large fraction of rows) turns
  * one reducer into the straggler. Salting splits each key into
  * `saltBuckets` sub-keys for the partial phase, then re-aggregates the
  * partials — the hot key's work spreads over `saltBuckets` reducers.
  * With algebraic aggregates the result is identical to the unsalted
  * plan (verified by the oracle-checked query q47).
  */
object Skew {

  /** Two-phase salted sum/count aggregation. `aggs` maps output column
    * name → (partial expression over rows, final expression over
    * partials). Simplified surface for the common algebraic cases. */
  def saltedSumCount(df: DataFrame, key: String, sumCols: Seq[String],
      saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    val partialAggs = sumCols.map(c => sum(col(c)).as(s"_p_$c")) :+
      count(lit(1)).as("_p_cnt")
    val partial = salted.groupBy(col(key), col("_salt"))
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs = sumCols.map(c => sum(col(s"_p_$c")).as(s"sum_$c")) :+
      sum(col("_p_cnt")).as("n")
    partial.groupBy(col(key)).agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** [NS] — skew pre-flight report: the numbers that decide WHETHER to
    * salt, computed from one key-count aggregate (never the join/agg
    * being diagnosed). Per key column: row/key counts, the hottest
    * key's count and row share (ppm), the hot/average ratio (ppm — the
    * straggler multiplier a vanilla shuffle would suffer), and the
    * recommended salt-bucket count: the smallest salt that brings the
    * hottest key's per-reducer slice down to one average partition's
    * rows, `ceil(max_cnt / ceil(n_rows / parts))` (1 = don't salt).
    * The q238 joinAudit prices a join's OUTPUT; this prices its SHUFFLE
    * — the two pre-flight checks a 100 TB join runs before executing.
    * All integer arithmetic; NULL keys excluded (they never co-locate
    * anyway). */
  def skewReport(df: DataFrame, keyCol: String, parts: Int,
      artifact: String): DataFrame = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("_c"))
      .agg(sum(col("_c")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("_c")).as("max_cnt"))
      .select(lit(artifact).as("artifact"), col("n_rows"),
        col("n_keys"), col("max_cnt"),
        expr("n_rows div n_keys").as("avg_cnt"),
        expr("(1000000 * max_cnt) div n_rows").as("max_share_ppm"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * max_cnt * n_keys " +
          "div n_rows").as("skew_ratio_ppm"),
        expr(s"CASE WHEN max_cnt > (n_rows + ${parts - 1}) div $parts " +
          s"THEN (max_cnt + (n_rows + ${parts - 1}) div $parts - 1) " +
          s"div ((n_rows + ${parts - 1}) div $parts) " +
          "ELSE CAST(1 AS BIGINT) END").as("rec_salt"))
  }
}
