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
  *    versioned-generation protocol ([[TextIndex.mergeBatch]]'s):
  *    read generation K, write K+1, atomically advance the pointer; a
  *    replayed epoch ≤ lastEpoch is a no-op. Contract: the batch's
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

  private def genDir(dir: String, gen: Long) = s"$dir/gen=$gen"
  private def metaPath(dir: String) =
    java.nio.file.Paths.get(dir, "_graft_rec_meta.json")

  def defaultDir(tag: String): String =
    "/tmp/graft_rec_model/" + tag.replaceAll("[^A-Za-z0-9._-]", "_")

  private def fingerprint(tag: String): String =
    s"""{"version":$FormatVersion,"model":"$tag"}"""

  /** (generation, lastEpoch) from the pointer file; (-1, -1) if none —
    * SHARED with [[TextIndex.current]] as of round 10: same `_current`
    * file and, through the tag overload of advance, the same
    * per-writer replay fences (an ingest stream and a purge stream on
    * one model never collide on epoch counters — see
    * [[TextIndex.fenceOf]]). */
  def current(dir: String): (Long, Long) = TextIndex.current(dir)

  private def advance(dir: String, gen: Long, epoch: Long,
      fenceTag: String = "",
      basedOnGen: Long = TextIndex.Unguarded): Unit =
    TextIndex.advance(dir, gen, epoch, fenceTag, basedOnGen)

  def simsPath(dir: String): String = {
    val (g, _) = current(dir)
    s"${genDir(dir, g.max(0L))}/sims"
  }
  def anchorsPath(dir: String): String = {
    val (g, _) = current(dir)
    s"${genDir(dir, g.max(0L))}/anchors"
  }
  /** The current generation's stored anchors (userCol, anchor, ...). */
  def storedAnchors(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(anchorsPath(dir))

  private def writeGen(sims: DataFrame, anchors: DataFrame, dir: String,
      gen: Long): Unit = {
    sims.repartitionByRange(col("anchor"))
      .sortWithinPartitions(col("anchor"), col("n_users").desc,
        col("nb"))
      .write.mode("overwrite").parquet(s"${genDir(dir, gen)}/sims")
    anchors.write.mode("overwrite")
      .parquet(s"${genDir(dir, gen)}/anchors")
  }

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
    advance(dir, 0L, -1L)
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
  def withFingerprint(dir: String, tag: String)(work: => Unit): Unit = {
    val fp = fingerprint(tag)
    val meta = metaPath(dir)
    val fresh = java.nio.file.Files.exists(meta) &&
      java.nio.file.Files.readString(meta) == fp
    if (!fresh) {
      work
      java.nio.file.Files.createDirectories(meta.getParent)
      java.nio.file.Files.writeString(meta, fp)
    }
  }

  /** Fold a DISJOINT-USER interaction batch into the stored model:
    * batch pairs sum into stored sims (full-outer on (anchor, nb) —
    * additivity holds because the cap is user-local), batch anchors
    * append. Generation K → K+1 with replay protection. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, userCol: String,
      itemCol: String, capM: Int, minCount: Long, dir: String,
      epoch: Long = -1L, fenceTag: String = ""): Unit = {
    val (gen, _) = current(dir)
    val lastEpoch = TextIndex.fenceOf(dir, fenceTag)
    require(gen >= 0, s"mergeBatch: no model at $dir — build() first")
    // minCount > 1 drops pairs per-half that would survive jointly —
    // additivity (merge ≡ rebuild) holds only for the unfiltered model
    require(minCount == 1L,
      s"mergeBatch requires minCount=1 (got $minCount): thresholding " +
        "must happen at serve time for merge ≡ rebuild to hold")
    if (epoch >= 0 && epoch <= lastEpoch) return // replayed: no-op
    val stored = spark.read.parquet(s"${genDir(dir, gen)}/sims")
    val sAnchors = spark.read.parquet(s"${genDir(dir, gen)}/anchors")
    val bSims = symPairs(batch, userCol, itemCol, capM, minCount)
      .withColumnRenamed("n_users", "_bn")
    val mergedSims = stored
      .join(bSims, Seq("anchor", "nb"), "full_outer")
      .select(col("anchor"), col("nb"),
        (coalesce(col("n_users"), lit(0L)) +
          coalesce(col("_bn"), lit(0L))).as("n_users"))
    val mergedAnchors = sAnchors
      .unionByName(anchorsOf(batch, userCol, itemCol))
    TextIndex.withGenClaim(dir, gen) {
      writeGen(mergedSims, mergedAnchors, dir, gen + 1)
      advance(dir, gen + 1, if (epoch >= 0) epoch else lastEpoch,
        fenceTag, basedOnGen = gen)
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
    val (gen, _) = current(dir)
    val lastEpoch = TextIndex.fenceOf(dir, fenceTag)
    require(gen >= 0, s"removeBatch: no model at $dir — build() first")
    require(minCount == 1L,
      s"removeBatch requires minCount=1 (got $minCount): subtraction " +
        "is exact only for the unfiltered model (mergeBatch's contract)")
    if (epoch >= 0 && epoch <= lastEpoch) return // replayed: no-op
    Stage("RecModel.removeBatch") { st =>
      val stored = spark.read.parquet(s"${genDir(dir, gen)}/sims")
      val sAnchors = spark.read.parquet(s"${genDir(dir, gen)}/anchors")
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
      TextIndex.withGenClaim(dir, gen) {
        writeGen(merged.filter(col("n_users") > 0), newAnchors, dir, gen + 1)
        advance(dir, gen + 1, epoch.max(lastEpoch), fenceTag,
          basedOnGen = gen)
      }
    }
  }

  /** foreachBatch adapter: exactly-once model maintenance over
    * at-least-once streaming delivery — Spark's epochId rides into
    * [[mergeBatch]]'s replay guard, the [[TextIndex.foreachBatchMerge]]
    * protocol. Batches must honor the disjoint-user contract (a user's
    * interactions arrive in one batch — sessionized upstream). */
  def foreachBatchMerge(spark: SparkSession, dir: String, userCol: String,
      itemCol: String, capM: Int,
      streamTag: String = ""): (DataFrame, Long) => Unit =
    (batch, epoch) =>
      mergeBatch(spark, batch, userCol, itemCol, capM, 1L, dir, epoch,
        streamTag)

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
