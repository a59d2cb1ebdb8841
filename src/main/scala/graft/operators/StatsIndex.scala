package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [NS] Stored STATISTICS artifact — the ANALYZE lifecycle given the
  * stored-artifact treatment ([[LineIndex]]/[[LmIndex]]/[[MomentsState]]).
  * q383–q388 measure what the planner's estimates are worth; this
  * artifact makes the estimates SERVABLE: a table's Count-Min cells
  * ([[Analytics.cmsSketch]]'s d×w relation) built once, maintained
  * incrementally, and probed at planning time — frequency and
  * join-size estimates with ZERO contact with the data they describe.
  * At 100 TB the difference is categorical: re-ANALYZE is a full scan,
  * a stored-sketch merge is batch-sized, and q386 measures what
  * skipping the refresh costs.
  *
  *  - [[build]]/[[buildIfAbsent]]: one pass → (h, cell, cnt), sorted by
  *    (h, cell); d·w rows regardless of input size. Geometry is pinned
  *    in a config file — a merge with mismatched (depth, width) would
  *    corrupt silently, so it refuses loudly instead.
  *  - [[mergeBatch]]: CMS cells are COUNTS, so a row-disjoint batch
  *    folds in by cell sum ([[LineIndex]]'s full-outer-join fold),
  *    one [[Generation.mutate]].
  *  - [[removeBatch]]: the exact inverse — subtract the batch's cells,
  *    refuse if any cell would go negative (the batch wasn't a subset),
  *    drop zeros. Forget ≡ rebuild-on-the-remaining, certified by spec
  *    and oracle.
  *  - [[servedFreq]]/[[servedJoinSize]]/[[storedRowCount]]: planning
  *    estimates from the stored cells only. Join sizing between TWO
  *    stored artifacts is the payoff: any candidate join in a 100 TB
  *    schema priced from two d×w tables (the AMS/CMS inner product,
  *    min over depths — never undercounts).
  *
  * Row count is derived, not stored: every input row lands in exactly
  * one cell per depth, so Σ cnt over depth 0 IS the row count.
  */
object StatsIndex {

  def defaultDir(tag: String): String =
    "/tmp/graft_stats_index/" + tag.replaceAll("[^A-Za-z0-9._-]", "_")

  def tablePath(dir: String): String = Generation.path(dir, "cells")

  private def writeGen(cells: DataFrame, dir: String, gen: Long): Unit =
    cells.repartitionByRange(col("h"), col("cell"))
      .sortWithinPartitions(col("h"), col("cell"))
      .write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/cells")

  // --- geometry pin: (depth, width) must never drift across mutations ---
  private def configPath(dir: String) =
    java.nio.file.Paths.get(dir, "cms_geometry")
  private def writeConfig(dir: String, depth: Int, width: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(configPath(dir),
      s"$depth:$width".getBytes("UTF-8"))
  }
  private def requireConfig(dir: String, depth: Int, width: Int,
      op: String): Unit = {
    val p = configPath(dir)
    require(java.nio.file.Files.exists(p),
      s"StatsIndex.$op: no geometry pin at $dir — build() first")
    val got = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    require(got == s"$depth:$width",
      s"StatsIndex.$op: geometry $depth:$width does not match the " +
        s"stored artifact's $got — cells would merge into the wrong " +
        "buckets; rebuild or pass the stored geometry")
  }

  def build(df: DataFrame, keyCol: String, dir: String, depth: Int,
      width: Int): Unit = {
    writeConfig(dir, depth, width)
    writeGen(Analytics.cmsSketch(df, keyCol, depth, width), dir, 0L)
    Generation.commitBuild(dir)
  }

  def buildIfAbsent(df: DataFrame, keyCol: String, dir: String,
      depth: Int, width: Int, tag: String): Unit =
    Generation.withFingerprint(dir, tag) {
      build(df, keyCol, dir, depth, width)
    }

  def storedCells(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.read.schema(StructType(Seq(
        StructField("h", IntegerType), StructField("cell", LongType),
        StructField("cnt", LongType))))
      .parquet(tablePath(dir))
  }

  /** Fold a row-disjoint NEW batch in by cell sum. `epoch` ≥ 0 arms the
    * replayed-delivery no-op guard. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
      dir: String, depth: Int, width: Int, epoch: Long = -1L,
      fenceTag: String = ""): Unit = {
    requireConfig(dir, depth, width, "mergeBatch")
    Generation.mutate("StatsIndex.mergeBatch", dir, epoch, fenceTag) {
        (st, _) =>
      val bc = st.checkpoint(Analytics.cmsSketch(batch, keyCol, depth, width)
        .withColumnRenamed("cnt", "_bc"), "bc")
      // one read of the stored cells ([[LineIndex.mergeBatch]])
      val merged = st.checkpoint(storedCells(spark, dir)
        .join(bc, Seq("h", "cell"), "full_outer")
        .select(col("h"), col("cell"), (coalesce(col("cnt"), lit(0L)) +
          coalesce(col("_bc"), lit(0L))).as("cnt")), "merged")
      writeGen(merged, dir, _)
    }
  }

  /** Right-to-be-forgotten removal: subtract the batch's cells; refuse
    * if any cell would go negative (the batch is not a subset of what
    * was sketched); drop zero cells. Not idempotent — `epoch` arms the
    * replay no-op guard. */
  def removeBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
      dir: String, depth: Int, width: Int, epoch: Long = -1L,
      fenceTag: String = ""): Unit = {
    requireConfig(dir, depth, width, "removeBatch")
    Generation.mutate("StatsIndex.removeBatch", dir, epoch, fenceTag) {
        (st, _) =>
      val bc = st.checkpoint(Analytics.cmsSketch(batch, keyCol, depth, width)
        .withColumnRenamed("cnt", "_bc"), "bc")
      // the guard and the write read the same checkpoint, so both see
      // the one generation the claim then pins
      val (merged, m) = st.observed(storedCells(spark, dir)
        .join(bc, Seq("h", "cell"), "full_outer")
        .select(col("h"), col("cell"),
          (coalesce(col("cnt"), lit(0L)) - coalesce(col("_bc"), lit(0L)))
            .as("cnt")), "merged")(count(when(col("cnt") < 0, 1)).as("bad"))
      val bad = m("bad").asInstanceOf[Long]
      require(bad == 0,
        s"StatsIndex.removeBatch: $bad cells would go negative — the " +
          "removal batch is not a subset of the sketched rows")
      writeGen(merged.filter(col("cnt") > 0), dir, _)
    }
  }

  /** Point-frequency estimates for `probes` from the STORED cells only
    * (the data the sketch describes appears nowhere in the plan). */
  def servedFreq(spark: SparkSession, probes: DataFrame, keyCol: String,
      dir: String, depth: Int, width: Int): DataFrame = {
    requireConfig(dir, depth, width, "servedFreq")
    Analytics.cmsEstimate(storedCells(spark, dir), probes, keyCol,
      depth, width)
  }

  /** Join-size estimate between TWO stored artifacts: per depth
    * Σ_cells cnt_L·cnt_R, min over depths — both artifacts must share
    * geometry (refused loudly otherwise). One row: (est_rows,
    * n_left, n_right). Never undercounts the true join size. */
  def servedJoinSize(spark: SparkSession, dirL: String, dirR: String,
      depth: Int, width: Int): DataFrame = {
    requireConfig(dirL, depth, width, "servedJoinSize")
    requireConfig(dirR, depth, width, "servedJoinSize")
    val sl = storedCells(spark, dirL).withColumnRenamed("cnt", "_cl")
    val sr = storedCells(spark, dirR).withColumnRenamed("cnt", "_cr")
    val perDepth = sl.join(sr, Seq("h", "cell"))
      .groupBy(col("h"))
      .agg(sum(col("_cl").cast("decimal(38,0)") *
        col("_cr").cast("decimal(38,0)")).as("_ip"))
    val est = spark.range(depth).toDF("h")
      .select(col("h").cast("int").as("h"))
      .join(perDepth, Seq("h"), "left")
      .agg(min(coalesce(col("_ip"), lit(0).cast("decimal(38,0)")))
        .as("_est"))
    val nl = sl.filter(col("h") === 0)
      .agg(coalesce(sum(col("_cl")), lit(0L)).as("n_left"))
    val nr = sr.filter(col("h") === 0)
      .agg(coalesce(sum(col("_cr")), lit(0L)).as("n_right"))
    est.crossJoin(nl).crossJoin(nr)
      .select(expr("CAST(_est AS BIGINT)").as("est_rows"),
        col("n_left"), col("n_right"))
  }

  /** Row count derived from the stored cells (Σ cnt at depth 0). */
  def storedRowCount(spark: SparkSession, dir: String): DataFrame =
    storedCells(spark, dir).filter(col("h") === 0)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_rows"))

  /** [NS] — the CBO loop CLOSED at the serve tier: a join-ORDER
    * decision made from STORED sketch cells alone.
    * [[Analytics.joinOrderAdvisor]] (q295) prices the two orders of
    * left ⋈ bridge ⋈ right exactly, but from full per-key counts — at
    * 100 TB that is contact with every join input at planning time.
    * This advisor makes the same choice from FOUR stored d×w artifacts
    * (the bridge keyed by each of its join keys, plus each side table
    * keyed by its own): per order, the intermediate |bridge ⋈ side| is
    * the AMS/CMS inner product of two stored sketches
    * ([[servedJoinSize]] — never undercounts an edge), and the smaller
    * estimate is `recommended`. The serve plan reads 4·d·w stored rows
    * and touches NO base table (plan-gated, q389's convention);
    * collision inflation is per-edge, so a near-tie can flip the pick —
    * [[Analytics.joinOrderSketchAudit]] (q395) certifies the pick
    * against the exact pricing on the star schema, and a divergence
    * there IS the finding. */
  /** [NS] — the stored estimates choosing a PHYSICAL plan: broadcast
    * vs shuffle for an equi-join, decided from two stored artifacts'
    * derived row counts ([[storedRowCount]] — one 1-row aggregate over
    * d·w cells per side, a planning-time read with zero contact with
    * either input). If a side's stored count is ≤ `broadcastMaxRows`,
    * that side gets the `broadcast` hint (ties prefer the smaller);
    * otherwise the join is left to the shuffle path. This is the
    * decision Spark's own AQE makes from runtime statistics — made
    * BEFORE execution from the ANALYZE artifact instead, which is what
    * a CBO does with stored statistics at planning time; at 100 TB the
    * difference is a pre-planned broadcast instead of a shuffle whose
    * first stage discovers the small side the expensive way. The
    * result is semantically identical either way (spec-pinned); the
    * HINT is the product, and the spec plan-gates that it follows the
    * stored counts in both directions. */
  def broadcastAdvisedJoin(spark: SparkSession, left: DataFrame,
      right: DataFrame, joinKeys: Seq[(String, String)], dirL: String,
      dirR: String, broadcastMaxRows: Long): DataFrame = {
    require(joinKeys.nonEmpty, "need at least one equi-join key pair")
    def n(dir: String): Long =
      storedRowCount(spark, dir).collect()(0).getLong(0)
    val (nl, nr) = (n(dirL), n(dirR))
    val cond = joinKeys.map { case (lk, rk) =>
      left(lk) === right(rk)
    }.reduce(_ && _)
    val canL = nl <= broadcastMaxRows
    val canR = nr <= broadcastMaxRows
    if (canR && (!canL || nr <= nl)) left.join(broadcast(right), cond)
    else if (canL) broadcast(left).join(right, cond)
    else left.join(right, cond)
  }

  def joinOrderFromSketches(spark: SparkSession, dirBridgeLeft: String,
      dirLeft: String, dirBridgeRight: String, dirRight: String,
      depth: Int, width: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def arm(name: String, dirB: String, dirS: String) =
      servedJoinSize(spark, dirB, dirS, depth, width)
        .select(lit(name).as("plan_name"),
          col("est_rows").as("est_first_join_rows"))
    val w = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    arm("left_first", dirBridgeLeft, dirLeft)
      .unionByName(arm("right_first", dirBridgeRight, dirRight))
      .withColumn("recommended", col("est_first_join_rows") ===
        min(col("est_first_join_rows")).over(w))
  }
}
