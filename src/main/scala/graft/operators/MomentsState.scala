package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [NS] Stored distribution-moment state — [[Analytics.momentsExact]]
  * as a LIFECYCLE: the per-group RAW power sums (n, S1..S4) are pure
  * sums, so they are the textbook commutative-monoid state — batches
  * MERGE by addition, forget SUBTRACTS exactly (the q347 count-table
  * law at the statistics layer), and the central moments derive at
  * serve time from the algebraic identities
  *
  *   D2 = n·(n·S2 − S1²)
  *   D3 = n·(n²·S3 − 3n·S1·S2 + 2·S1³)
  *   D4 = n·(n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3·S1⁴)
  *
  * which equal [[Analytics.momentsExact]]'s Σ(n·v − S1)^k sums as
  * EXACT integers — so [[serve]] reproduces the in-query operator
  * bit-for-bit (twin certification, the q127/q284 law), while the
  * stored artifact is |groups| rows of six numbers. S2–S4 are stored
  * as decimal(38,0) — the SAME width [[Analytics.momentsExact]] uses
  * for its power sums — because v⁴ wraps a long at |v| ≈ 55k (two
  * rows of a web-scale metric in the millions would silently corrupt
  * a long-typed state, and a wrapped value can land positive and
  * evade the negative-sum removal guard); decimal holds Σv⁴ to 10³⁸,
  * i.e. |v| up to ~10⁷ at 10¹⁰ rows per group. At 100 TB this is
  * the drift monitor's production shape: the event stream folds into
  * six numbers per group, a purged user's rows subtract back out, and
  * no serve ever re-reads history.
  *
  * Key normalization contract: [[sums]] casts the group key to STRING
  * (`_k`), so [[serve]] returns the key column as StringType even when
  * the input key was numeric — the bit-for-bit twin claim against
  * [[Analytics.momentsExact]] (which preserves the input key type)
  * holds for the VALUES and for string-keyed groups' keys; a
  * numeric-keyed caller compares after casting the operator's key to
  * string (or re-casts the served key).
  *
  * Storage rides the [[Generation]] protocol (crash-safe rewrites,
  * epoch replay fences — subtraction and addition are NOT idempotent
  * without them).
  */
object MomentsState {

  def defaultDir(tag: String): String =
    "/tmp/graft_moments/" + tag.replaceAll("[^A-Za-z0-9._-]", "_")

  def tablePath(dir: String): String = Generation.path(dir, "sums")

  /** Legacy-layout verdicts, keyed by GENERATION path (r11 ADVICE): a
    * generation dir is written exactly once and then only ever replaced
    * by a pointer flip to a NEW path, so the verdict is immutable — the
    * schema-inference footer read runs once per generation per JVM
    * instead of on every serve/merge. (One generation is also one
    * [[writeGen]] `coalesce(1)` file, so "sample one footer" and "read
    * them all" are the same thing here.) */
  private val legacyVerdicts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def storedSums(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = tablePath(dir)
    // Legacy detection (r10 ADVICE, same move as DedupIndex's geometry
    // guard): pre-round-10 stores wrote s2–s4 as INT64; forcing the
    // decimal schema onto that footer fails at SCAN time with a parquet
    // type-mismatch nobody can act on. Read the footer's own schema
    // first and upcast legacy longs on read — the next writeGen then
    // persists the decimal(38,0) layout, migrating the store in place.
    val legacy: Boolean = legacyVerdicts.computeIfAbsent(path, p =>
      spark.read.parquet(p).schema.find(_.name == "s2")
        .exists(_.dataType == LongType))
    if (legacy)
      spark.read.schema(StructType(Seq(
          StructField("_k", StringType), StructField("n", LongType),
          StructField("s1", LongType), StructField("s2", LongType),
          StructField("s3", LongType), StructField("s4", LongType))))
        .parquet(path)
        .select(col("_k"), col("n"), col("s1"),
          col("s2").cast("decimal(38,0)").as("s2"),
          col("s3").cast("decimal(38,0)").as("s3"),
          col("s4").cast("decimal(38,0)").as("s4"))
    else
      spark.read.schema(StructType(Seq(
          StructField("_k", StringType), StructField("n", LongType),
          StructField("s1", LongType),
          StructField("s2", DecimalType(38, 0)),
          StructField("s3", DecimalType(38, 0)),
          StructField("s4", DecimalType(38, 0)))))
        .parquet(path)
  }

  /** The raw power-sum rows of a batch — the monoid element. Values
    * must already be integers (callers round ONCE up front, the q359
    * convention); the power sums accumulate in decimal(38,0) exactly
    * like [[Analytics.momentsExact]]'s — long products wrap silently
    * at |v| ≈ 55k (see the object doc). */
  private def sums(df: DataFrame, keyCol: String,
      valCol: String): DataFrame =
    df.filter(col(valCol).isNotNull)
      .select(col(keyCol).cast("string").as("_k"),
        col(valCol).cast("long").as("_v"))
      .groupBy(col("_k"))
      .agg(count(lit(1)).as("n"), sum(col("_v")).as("s1"),
        sum(expr("cast(_v as decimal(38,0)) * _v"))
          .cast("decimal(38,0)").as("s2"),
        sum(expr("cast(_v as decimal(38,0)) * _v * _v"))
          .cast("decimal(38,0)").as("s3"),
        sum(expr("cast(_v as decimal(38,0)) * _v * _v * _v"))
          .cast("decimal(38,0)").as("s4"))

  private def writeGen(state: DataFrame, dir: String, gen: Long): Unit =
    state.coalesce(1).write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/sums")

  /** One pass → generation 0. */
  def build(df: DataFrame, keyCol: String, valCol: String,
      dir: String): Unit = {
    writeGen(sums(df, keyCol, valCol), dir, 0L)
    Generation.commitBuild(dir)
  }

  /** Fold a NEW batch in: sums add (no disjointness contract needed —
    * addition is correct for any split of the fact rows). Epoch ≥ 0
    * arms the replay fence. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
      valCol: String, dir: String, epoch: Long = -1L,
      fenceTag: String = ""): Unit =
    Generation.mutate("MomentsState.mergeBatch", dir, epoch, fenceTag) {
        (_, _) =>
      val merged = storedSums(spark, dir)
        .unionByName(sums(batch, keyCol, valCol))
        .groupBy(col("_k"))
        .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
          sum(col("s2")).cast("decimal(38,0)").as("s2"),
          sum(col("s3")).cast("decimal(38,0)").as("s3"),
          sum(col("s4")).cast("decimal(38,0)").as("s4"))
      writeGen(merged, dir, _)
    }

  /** Right-to-be-forgotten removal: subtract the forgotten rows' power
    * sums — the exact inverse of [[mergeBatch]]. The batch must be the
    * forgotten entities' ORIGINAL fact rows (the subset contract);
    * a count or an even-power sum going negative proves it was not and
    * fails loudly (odd-power sums may legitimately be negative only
    * when values can be — the guard checks n, S2, S4). Groups reaching
    * n = 0 leave the state. */
  def removeBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
      valCol: String, dir: String, epoch: Long = -1L,
      fenceTag: String = ""): Unit =
    Generation.mutate("MomentsState.removeBatch", dir, epoch, fenceTag) {
        (st, _) =>
      val b = st.checkpoint(sums(batch, keyCol, valCol)
        .select(col("_k"), col("n").as("_bn"), col("s1").as("_b1"),
          col("s2").as("_b2"), col("s3").as("_b3"), col("s4").as("_b4")), "b")
      val (merged, m) = st.observed(storedSums(spark, dir)
        .join(b, Seq("_k"), "full_outer")
        .select(col("_k"),
          (coalesce(col("n"), lit(0L)) - coalesce(col("_bn"), lit(0L)))
            .as("n"),
          (coalesce(col("s1"), lit(0L)) - coalesce(col("_b1"), lit(0L)))
            .as("s1"),
          (coalesce(col("s2"), lit(0L)) - coalesce(col("_b2"), lit(0L)))
            .cast("decimal(38,0)").as("s2"),
          (coalesce(col("s3"), lit(0L)) - coalesce(col("_b3"), lit(0L)))
            .cast("decimal(38,0)").as("s3"),
          (coalesce(col("s4"), lit(0L)) - coalesce(col("_b4"), lit(0L)))
            .cast("decimal(38,0)").as("s4")), "merged")(
        count(when(col("n") < 0 || col("s2") < 0 || col("s4") < 0, 1))
          .as("bad"))
      val bad = m("bad").asInstanceOf[Long]
      require(bad == 0,
        s"MomentsState.removeBatch: $bad groups would go negative — " +
          "the removal batch is not a subset of the folded facts")
      writeGen(merged.filter(col("n") > 0), dir, _)
    }

  /** Derive the [[Analytics.momentsExact]] readout from STORED sums —
    * byte-identical by the D-identities in the object doc, same fixed
    * division order, same NULL-shape convention for constant groups.
    * Output: (keyCol, n, mean_ppm, var_ppm, skew_ratio_ppm, kurt_ppm).
    * State-sized: no fact row is ever read. */
  def serve(spark: SparkSession, dir: String,
      keyCol: String): DataFrame =
    derive(storedSums(spark, dir), keyCol)

  private def derive(sums: DataFrame, keyCol: String): DataFrame =
    sums
      .withColumn("_dd2", expr(
        "cast(n as decimal(38,0)) * (cast(n as decimal(38,0)) * s2 " +
          "- cast(s1 as decimal(38,0)) * s1)"))
      .withColumn("_dd3", expr(
        "cast(n as decimal(38,0)) * (cast(n as decimal(38,0)) * n * s3 " +
          "- 3 * cast(n as decimal(38,0)) * s1 * s2 " +
          "+ 2 * cast(s1 as decimal(38,0)) * s1 * s1)"))
      .withColumn("_dd4", expr(
        "cast(n as decimal(38,0)) * " +
          "(cast(n as decimal(38,0)) * n * n * s4 " +
          "- 4 * cast(n as decimal(38,0)) * n * s1 * s3 " +
          "+ 6 * cast(n as decimal(38,0)) * s1 * s1 * s2 " +
          "- 3 * cast(s1 as decimal(38,0)) * s1 * s1 * s1)"))
      .withColumn("mean_ppm", expr(
        "CAST((1000000 * cast(s1 as decimal(38,0))) div n AS BIGINT)"))
      .withColumn("var_ppm", expr(
        "CAST((1000000 * _dd2) div (cast(n as decimal(38,0)) * n * n) " +
          "AS BIGINT)"))
      .withColumn("skew_ratio_ppm", expr(
        "CASE WHEN _dd2 > 0 THEN CAST((1000000 * _dd3) div (_dd2 * n) " +
          "AS BIGINT) END"))
      .withColumn("kurt_ppm", expr(
        "CASE WHEN _dd2 > 0 THEN CAST(((1000000 * " +
          "cast(n as decimal(38,0))) * (_dd4 div _dd2)) div _dd2 " +
          "AS BIGINT) END"))
      .select(col("_k").as(keyCol), col("n"), col("mean_ppm"),
        col("var_ppm"), col("skew_ratio_ppm"), col("kurt_ppm"))

  /** [NS] The q362 shape-drift profile served ENTIRELY from stored
    * state — the monitor closes its loop without re-reading a single
    * fact row: power sums are ADDITIVE, so the GLOBAL distribution's
    * sums are the column sums of the per-group state, and both sides
    * of the profile derive through the same D-identities and the same
    * join arithmetic as the in-query twin
    * ([[Analytics.shapeDriftProfile]] — shared expression tree, so
    * equality is bit-for-bit; StreamingSpec pins streamed-state
    * profile ≡ the batch operator on the full union). Output:
    * (keyCol, n, d_mean_ppm, var_ratio_ppm, kurt_diff_ppm,
    * shape_shift). */
  def serveProfile(spark: SparkSession, dir: String,
      keyCol: String): DataFrame = {
    val st = storedSums(spark, dir)
    val per = derive(st, keyCol)
    val gsums = st.agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
        sum(col("s2")).cast("decimal(38,0)").as("s2"),
        sum(col("s3")).cast("decimal(38,0)").as("s3"),
        sum(col("s4")).cast("decimal(38,0)").as("s4"))
      .withColumn("_k", lit("all"))
    val glob = derive(gsums, "_g")
      .select(col("mean_ppm").as("g_mean"), col("var_ppm").as("g_var"),
        col("kurt_ppm").as("g_kurt"))
    Analytics.shapeProfileJoin(per, glob, keyCol)
  }
}
