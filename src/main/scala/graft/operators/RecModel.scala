package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recommender-model LIFECYCLE — train once, persist, serve many, fold
  * deltas in: the [[AnnIndex]]/[[TextIndex]] move applied to the
  * item-item co-occurrence recommender that q201/q244 train in-query.
  * At scale the interaction log is the 100 TB object; the MODEL is not
  * — the degree-capped co-occurrence table is bounded by
  * capM²·|users| pair generation and collapses to ≤ capM·|items|
  * retained similarities — so serving must read the stored model and
  * NEVER the log. (Reference precedent: the archive's
  * precomputed-state-reused probe shape, `cmds/archive.py:126-129`.)
  *
  *  - [[build]]: one [[Graph.coOccurrence]] pass over (user, item)
  *    interactions → two stored relations as generation 0: `sims`
  *    (anchor → neighbor with n_users, BOTH directions materialized so
  *    serving is a single equi-join — the denormalize-at-build trade
  *    [[TextIndex]] makes for df/dl), range-partitioned + sorted by
  *    anchor for row-group pruning; and `anchors` (user → strongest
  *    train item, w desc / item asc — the per-user serving state).
  *  - [[buildIfAbsent]]: fingerprint guard, the build-once half.
  *  - [[mergeBatch]]: incremental maintenance under the
  *    versioned-generation protocol ([[Generation.mutate]]):
  *    read generation K, write K+1, atomically advance the pointer; a
  *    replayed epoch is a no-op. Contract: the batch's
  *    USERS are new (disjoint from the trained log) — pair counts are
  *    user-local (the cap is per user), so co-occurrence over disjoint
  *    user sets is ADDITIVE: merged n_users = stored + batch via one
  *    full-outer sum on (anchor, nb), and batch anchors append.
  *    Model-sized + batch-sized work; the trained log is never
  *    re-read.
  *  - [[serveTopK]]: stored anchors ⋈ stored sims, one per-user rank
  *    window, top-k — model-sized I/O, zero interaction-log reads.
  */
object RecModel {

  /** Bump when the on-disk layout changes (v2: generation dirs). */
  private val FormatVersion = 2

  private def metaPath(dir: String) =
    java.nio.file.Paths.get(dir, "_graft_rec_meta.json")

  def defaultDir(tag: String): String =
    "/tmp/graft_rec_model/" + tag.replaceAll("[^A-Za-z0-9._-]", "_")

  private def fingerprint(tag: String): String =
    s"""{"version":$FormatVersion,"model":"$tag"}"""

  def simsPath(dir: String): String = Generation.path(dir, "sims")
  def anchorsPath(dir: String): String = Generation.path(dir, "anchors")
  /** The current generation's stored anchors (userCol, anchor, ...). */
  def storedAnchors(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(anchorsPath(dir))

  private def writeGen(sims: DataFrame, anchors: DataFrame, dir: String,
      gen: Long): Unit = {
    sims.repartitionByRange(col("anchor"))
      .sortWithinPartitions(col("anchor"), col("n_users").desc,
        col("nb"))
      .write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/sims")
    anchors.write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/anchors")
  }

  /** Generation `gen`'s stored sims and anchors. */
  private def readGen(spark: SparkSession, dir: String,
      gen: Long): (DataFrame, DataFrame) =
    (spark.read.parquet(s"${Generation.genDir(dir, gen)}/sims"),
      spark.read.parquet(s"${Generation.genDir(dir, gen)}/anchors"))

  /** Per-user strongest item (w desc, item asc — q201/q244's rule). */
  private def anchorsOf(interactions: DataFrame, userCol: String,
      itemCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    interactions
      .groupBy(col(userCol), col(itemCol))
      .agg(count(lit(1)).as("_w"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(userCol))
          .orderBy(col("_w").desc, col(itemCol).asc)))
      .filter(col("_rn") === 1)
      .select(col(userCol), col(itemCol).as("anchor"))
  }

  private def symPairs(interactions: DataFrame, userCol: String,
      itemCol: String, capM: Int, minCount: Long): DataFrame = {
    val pairs = Graph.coOccurrence(interactions, userCol, itemCol,
      capM, minCount)
    pairs
      .select(col("item_a").as("anchor"), col("item_b").as("nb"),
        col("n_users"))
      .unionByName(pairs.select(col("item_b").as("anchor"),
        col("item_a").as("nb"), col("n_users")))
  }

  /** Train the co-occurrence model and persist sims + anchors (gen 0). */
  def build(interactions: DataFrame, userCol: String, itemCol: String,
      capM: Int, minCount: Long, dir: String): Unit = {
    writeGen(symPairs(interactions, userCol, itemCol, capM, minCount),
      anchorsOf(interactions, userCol, itemCol), dir, 0L)
    Generation.commitBuild(dir)
  }

  /** [[build]] unless a fingerprint-matching model already exists. */
  def buildIfAbsent(interactions: DataFrame, userCol: String,
      itemCol: String, capM: Int, minCount: Long, dir: String,
      tag: String): Unit =
    withFingerprint(dir, tag) {
      build(interactions, userCol, itemCol, capM, minCount, dir)
    }

  /** Run `work` unless `dir`'s fingerprint already records `tag` — the
    * idempotence guard for build + merge sequences (model state, not a
    * view; a repeated invocation must not re-apply a merge). */
  def withFingerprint(dir: String, tag: String)(work: => Unit): Unit =
    Generation.withFingerprint(metaPath(dir), fingerprint(tag))(work)

  /** Fold a DISJOINT-USER interaction batch into the stored model:
    * batch pairs sum into stored sims (full-outer on (anchor, nb) —
    * additivity holds because the cap is user-local), batch anchors
    * append. Generation K → K+1 with replay protection. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, userCol: String,
      itemCol: String, capM: Int, minCount: Long, dir: String,
      epoch: Long = -1L, fenceTag: String = ""): Unit = {
    // minCount > 1 drops pairs per-half that would survive jointly —
    // additivity (merge ≡ rebuild) holds only for the unfiltered model
    require(minCount == 1L,
      s"mergeBatch requires minCount=1 (got $minCount): thresholding " +
        "must happen at serve time for merge ≡ rebuild to hold")
    Generation.mutate("RecModel.mergeBatch", dir, epoch, fenceTag) {
        (_, gen) =>
      val (stored, sAnchors) = readGen(spark, dir, gen)
      val bSims = symPairs(batch, userCol, itemCol, capM, minCount)
        .withColumnRenamed("n_users", "_bn")
      val mergedSims = stored
        .join(bSims, Seq("anchor", "nb"), "full_outer")
        .select(col("anchor"), col("nb"),
          (coalesce(col("n_users"), lit(0L)) +
            coalesce(col("_bn"), lit(0L))).as("n_users"))
      val mergedAnchors = sAnchors
        .unionByName(anchorsOf(batch, userCol, itemCol))
      writeGen(mergedSims, mergedAnchors, dir, _)
    }
  }

  /** Right-to-be-forgotten removal: forget USERS from the stored model
    * — the exact inverse of [[mergeBatch]], possible for the same
    * reason the merge is: the degree cap is user-local, so pair counts
    * are ADDITIVE over disjoint user sets and a user set's contribution
    * subtracts exactly ([[LmIndex.removeTrigramBatch]]'s count-table
    * law at the recommender). `batch` must be EXACTLY the forgotten
    * users' trained interactions (the subset contract): their symmetric
    * pair counts subtract from stored sims (rows reaching zero drop),
    * their anchor rows anti-join out. A full-outer join catches both
    * violation directions — a count going negative OR a batch pair the
    * model never saw — and fails loudly rather than persist a corrupt
    * model. Without this the model keeps recommending FROM the purged
    * users' tastes: their co-occurrence mass stays in every neighbor
    * list — the q349 compliance argument at the model layer.
    * Generation + pointer flip with epoch replay protection. */
  def removeBatch(spark: SparkSession, batch: DataFrame, userCol: String,
      itemCol: String, capM: Int, minCount: Long, dir: String,
      epoch: Long = -1L, fenceTag: String = ""): Unit = {
    require(minCount == 1L,
      s"removeBatch requires minCount=1 (got $minCount): subtraction " +
        "is exact only for the unfiltered model (mergeBatch's contract)")
    Generation.mutate("RecModel.removeBatch", dir, epoch, fenceTag) {
        (st, gen) =>
      val (stored, sAnchors) = readGen(spark, dir, gen)
      val bSims = st.checkpoint(
        symPairs(batch, userCol, itemCol, capM, minCount)
          .withColumnRenamed("n_users", "_bn"), "bSims")
      val (merged, m) = st.observed(stored
        .join(bSims, Seq("anchor", "nb"), "full_outer")
        .select(col("anchor"), col("nb"),
          (coalesce(col("n_users"), lit(0L)) -
            coalesce(col("_bn"), lit(0L))).as("n_users")), "merged")(
        count(when(col("n_users") < 0, 1)).as("bad"))
      val bad = m("bad").asInstanceOf[Long]
      require(bad == 0,
        s"RecModel.removeBatch: $bad pair counts would go negative — " +
          "the removal batch is not a subset of the trained interactions")
      val newAnchors = sAnchors.join(
        broadcast(batch.select(col(userCol)).distinct()),
        Seq(userCol), "left_anti")
      writeGen(merged.filter(col("n_users") > 0), newAnchors, dir, _)
    }
  }

  /** Stored anchors ⋈ stored sims → per-user top-k recommendations
    * (n_users desc, nb asc — the q201/q244 ranking), as
    * (userCol, nb, rk). Model-sized: no interaction-log input. */
  def serveTopK(spark: SparkSession, dir: String, userCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = storedAnchors(spark, dir)
    val sims = spark.read.parquet(simsPath(dir))
    anchors.join(sims, Seq("anchor"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(userCol))
          .orderBy(col("n_users").desc, col("nb"))))
      .filter(col("rk") <= k)
      .select(col(userCol), col("nb"), col("rk"))
  }
}
