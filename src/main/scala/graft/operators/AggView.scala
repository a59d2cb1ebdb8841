package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [NS] Incremental aggregate materialized view — the summary-table
  * lifecycle: build partial-aggregate state once, fold CDC deltas in
  * (inserts AND retractions), serve from stored state. The q107/q127
  * train-once/serve-many move applied to GROUP BY: at 100 TB the daily
  * summary refresh must cost O(delta + state), never O(history).
  *
  * State is the classic commutative-monoid pair per group key:
  * (cnt, vsum) with the measure pre-scaled to an exact integer (the
  * `QueryDsl.exactSum` stance) — so state ⊕ delta is a plain union +
  * groupBy-sum, partials combine map-side, and a retraction is just a
  * −1/−value row (Blakeley et al. 1986 view maintenance; the multiset
  * Σ-delta rule). Groups whose count reaches zero leave the state,
  * which is what keeps `build ∘ mergeCdc ≡ build` on the net input —
  * twin-certified by the q139 oracle recomputing from scratch.
  *
  * Storage is the [[Generation]] protocol (gen=N dirs + an
  * atomically-advanced pointer): a merge writes the NEXT generation and
  * flips the pointer, so concurrent readers see old state or new, never
  * a torn mix, and a replayed merge epoch is fenced per writer tag.
  */
object AggView {

  def currentGen(dir: String): Long = Generation.current(dir)._1

  /** Same per-corpus location contract as [[TextIndex.defaultDir]]. */
  def defaultDir(tag: String): String =
    "/tmp/graft_agg_view/" + tag.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Group `df` to (keys..., cnt, vsum) partials — the view's monoid. */
  def partials(df: DataFrame, keyCols: Seq[String],
      valueScaled: Column): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum(valueScaled).as("vsum"))

  private def writeGen(state: DataFrame, dir: String, gen: Long,
      keyCols: Seq[String]): Unit =
    state.repartitionByRange(keyCols.map(col): _*)
      .write.mode("overwrite").parquet(Generation.genDir(dir, gen))

  /** One base pass → generation 0. */
  def build(df: DataFrame, keyCols: Seq[String], valueScaled: Column,
      dir: String): Unit = {
    writeGen(partials(df, keyCols, valueScaled), dir, 0L, keyCols)
    Generation.commitBuild(dir)
  }

  /** Fold a CDC delta into the stored state: `opCol` is 'I' (insert) or
    * 'D' (retract a previously-inserted row); anything else — including
    * NULL — raises instead of silently dropping (the round-5 ADVICE
    * null-op lesson). Cost: one groupBy over the DELTA + one groupBy
    * over (state ∪ delta-partials) — the state is never re-derived from
    * history. `epoch` ≥ 0 arms the replay fence: at-least-once
    * foreachBatch may re-deliver an epoch after a restart, and merging
    * it twice would double-count (an idempotent MERGE sink absorbs a
    * replay by the key match; Σ-delta state is NOT idempotent). */
  def mergeCdc(spark: SparkSession, delta: DataFrame, keyCols: Seq[String],
      valueScaled: Column, opCol: String, dir: String,
      epoch: Long = -1L, fenceTag: String = ""): Unit =
    Generation.mutate("AggView.mergeCdc", dir, epoch, fenceTag) {
        (_, gen) =>
      val sign = when(col(opCol) === "I", lit(1L))
        .when(col(opCol) === "D", lit(-1L))
        .otherwise(raise_error(concat(
          lit("aggview: bad CDC op (expected I or D): "),
          coalesce(col(opCol), lit("NULL")))))
      val dp = delta
        .groupBy(keyCols.map(col): _*)
        .agg(sum(sign).as("cnt"), sum(sign * valueScaled).as("vsum"))
      val merged = spark.read.parquet(Generation.genDir(dir, gen))
        .unionByName(dp)
        .groupBy(keyCols.map(col): _*)
        .agg(sum(col("cnt")).as("cnt"), sum(col("vsum")).as("vsum"))
        .filter(col("cnt") =!= 0L)
      writeGen(merged, dir, _, keyCols)
    }

  /** Read the current generation — the serving plan is a bare scan of
    * pre-aggregated state (group-key predicates push to the files the
    * range partitioning laid out). */
  def serve(spark: SparkSession, dir: String): DataFrame = {
    val gen = currentGen(dir)
    require(gen >= 0, s"no built view at $dir")
    spark.read.parquet(Generation.genDir(dir, gen))
  }

  /** Delta of an inner-join view under insert-only deltas — the other
    * half of incremental view maintenance (this object's aggregate
    * monoid covers Σ/COUNT; this covers ⋈). The multiset join-delta
    * rule (Blakeley et al. 1986; Griffin & Libkin 1995):
    *
    *   (R ∪ ΔR) ⋈ (S ∪ ΔS) = (R ⋈ S) ∪ ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS
    *
    * so refreshing a stored join view costs three joins in which at
    * least one side is delta-sized — never a rejoin of the full bases.
    * At 100 TB that is the whole point: the daily fact⋈dim refresh
    * touches yesterday's rows, not the decade. Both delta sides are
    * broadcast-hinted — a delta that outgrows broadcast is a batch to
    * split upstream, and AQE demotes the hint to shuffle join rather
    * than failing. Result columns follow Spark's using-join shape
    * (keys first, then both sides' payloads); callers union it with the
    * stored view. Duplicate-key multiplicities compose correctly
    * because every term is a plain multiset join.
    */
  def joinDelta(rOld: DataFrame, rDelta: DataFrame,
      sOld: DataFrame, sDelta: DataFrame,
      keys: Seq[String]): DataFrame = {
    rDelta.hint("broadcast").join(sOld, keys)
      .unionByName(rOld.join(sDelta.hint("broadcast"), keys))
      .unionByName(rDelta.join(sDelta, keys))
  }
}
