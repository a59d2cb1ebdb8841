package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [NS] Bigram-LM MODEL lifecycle — train once, persist, score many:
  * the [[AnnIndex]]/[[TextIndex]] move applied to the quality gate.
  * [[Curation.bigramLmScore]] rebuilds its model from the train corpus
  * inside every query; in a real pipeline the LM is trained on a
  * reference corpus ONCE and then scores every incoming crawl batch —
  * serving must read a stored model, never the training corpus.
  *
  *  - [[build]] / [[buildIfAbsent]]: one train-corpus pass → bigram
  *    count table (w1, w2, c2), range-partitioned and sorted by w1 (a
  *    probe's vocabulary prunes row groups on the join key's sort
  *    order). Context counts c(w1,·) are NOT stored — they derive from
  *    the model itself at serve time (a model-sized aggregate), which
  *    keeps the stored table single-sourced: a merge only ever touches
  *    c2 rows, and c1 can never drift out of sync with them.
  *  - [[mergeBatch]]: fold NEW train documents in without re-reading
  *    the old corpus — bigram counts are SUMS, so the merge is one
  *    full outer join of stored rows with the batch's count table that
  *    adds the counts (rows of untouched bigrams pass through
  *    byte-identical), written as the next generation by
  *    [[Generation.mutate]].
  *  - [[serve]]: score a probe frame from the STORED model only — the
  *    train corpus appears NOWHERE in the plan (PlanQualitySpec-gated);
  *    scoring shares [[Curation.lmScoreFromModel]] with the in-query
  *    twin, so stored-vs-in-query results are identical by
  *    construction (q214's oracle checks both).
  */
object LmIndex {

  def modelPath(dir: String): String = Generation.path(dir, "bigrams")

  def defaultDir(corpusTag: String): String =
    "/tmp/graft_lm_index/" + corpusTag.replaceAll("[^A-Za-z0-9._-]", "_")

  private def writeGen(model: DataFrame, dir: String, gen: Long): Unit =
    model.repartitionByRange(col("w1"))
      .sortWithinPartitions(col("w1"), col("w2"))
      .write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/bigrams")

  /** One train-corpus pass → (w1, w2, c2) as generation 0. */
  def build(train: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    writeGen(Curation.bigramFrame(train, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")),
      dir, 0L)
    Generation.commitBuild(dir)
  }

  /** [[build]] unless a fingerprint-matching model exists. */
  def buildIfAbsent(train: DataFrame, idCol: String, textCol: String,
      dir: String, corpusTag: String): Unit =
    Generation.withFingerprint(dir, corpusTag) {
      build(train, idCol, textCol, dir)
    }

  private def storedModel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.read.schema(StructType(Seq(
        StructField("w1", StringType), StructField("w2", StringType),
        StructField("c2", LongType))))
      .parquet(modelPath(dir))
  }

  /** Fold a NEW train-document batch into the stored model: counts are
    * sums, so stored rows of bigrams the batch does not contain pass
    * through byte-identical and only colliding rows add. `epoch` ≥ 0
    * gives the replayed-delivery no-op guard. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String, epoch: Long = -1L,
      fenceTag: String = ""): Unit =
    Generation.mutate("LmIndex.mergeBatch", dir, epoch, fenceTag) {
        (st, _) =>
      val bc = st.checkpoint(Curation.bigramFrame(batch, idCol, textCol)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bc2")), "bc")
      // one read of the stored model ([[LineIndex.mergeBatch]])
      val merged = st.checkpoint(storedModel(spark, dir)
        .join(bc, Seq("w1", "w2"), "full_outer")
        .select(col("w1"), col("w2"), (coalesce(col("c2"), lit(0L)) +
          coalesce(col("bc2"), lit(0L))).as("c2")), "merged")
      writeGen(merged, dir, _)
    }

  /** Score `probe` from the STORED model only — zero train-corpus scans
    * in the plan; identical to [[Curation.bigramLmScore]] over the same
    * train set by shared-tail construction. */
  def serve(spark: SparkSession, probe: DataFrame, idCol: String,
      textCol: String, dir: String): DataFrame =
    Curation.lmScoreFromModel(probe, storedModel(spark, dir),
      idCol, textCol)

  // ---- trigram tier (stupid backoff, Curation.trigramLmScore) ----
  // Same lifecycle at order 3: the stored table is (w1, w2, w3, c3)
  // and stays single-sourced — every backoff level derives from it at
  // serve time, so the merge law (counts are sums) survives verbatim.
  // A trigram model lives in its OWN dir (own pointer + fingerprint);
  // the two orders never share a generation.

  def trigramPath(dir: String): String = Generation.path(dir, "trigrams")

  private def writeGen3(model: DataFrame, dir: String, gen: Long): Unit =
    model.repartitionByRange(col("w1"))
      .sortWithinPartitions(col("w1"), col("w2"), col("w3"))
      .write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/trigrams")

  /** One train-corpus pass → (w1, w2, w3, c3) as generation 0. */
  def buildTrigram(train: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    writeGen3(Curation.trigramFrame(train, idCol, textCol)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3")),
      dir, 0L)
    Generation.commitBuild(dir)
  }

  /** [[buildTrigram]] unless a fingerprint-matching model exists. */
  def buildTrigramIfAbsent(train: DataFrame, idCol: String,
      textCol: String, dir: String, corpusTag: String): Unit =
    Generation.withFingerprint(dir, corpusTag) {
      buildTrigram(train, idCol, textCol, dir)
    }

  private def storedTrigram(spark: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.read.schema(StructType(Seq(
        StructField("w1", StringType), StructField("w2", StringType),
        StructField("w3", StringType), StructField("c3", LongType))))
      .parquet(trigramPath(dir))
  }

  /** Fold a NEW train-document batch into the stored trigram model —
    * [[mergeBatch]]'s law one order up: counts are sums, untouched
    * rows pass through byte-identical, replayed epochs are no-ops. */
  def mergeTrigramBatch(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, dir: String,
      epoch: Long = -1L, fenceTag: String = ""): Unit =
    Generation.mutate("LmIndex.mergeTrigramBatch", dir, epoch, fenceTag) {
        (st, _) =>
      val bc = st.checkpoint(Curation.trigramFrame(batch, idCol, textCol)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("bc3")), "bc")
      // one read of the stored model ([[LineIndex.mergeBatch]])
      val merged = st.checkpoint(storedTrigram(spark, dir)
        .join(bc, Seq("w1", "w2", "w3"), "full_outer")
        .select(col("w1"), col("w2"), col("w3"),
          (coalesce(col("c3"), lit(0L)) + coalesce(col("bc3"), lit(0L)))
            .as("c3")), "merged")
      writeGen3(merged, dir, _)
    }

  /** Score `probe` from the STORED trigram model only — zero
    * train-corpus scans; identical to [[Curation.trigramLmScore]] over
    * the same train set by shared-tail construction. */
  def serveTrigram(spark: SparkSession, probe: DataFrame, idCol: String,
      textCol: String, dir: String): DataFrame =
    Curation.sbScoreFromModel(probe, storedTrigram(spark, dir),
      idCol, textCol)

  /** Interpolated Kneser–Ney scoring from the SAME stored trigram
    * table — the proper-probability tier beside [[serveTrigram]]'s
    * stupid-backoff ranking score; identical to
    * [[Curation.knTrigramScore]] by shared-tail construction. */
  def serveTrigramKn(spark: SparkSession, probe: DataFrame,
      idCol: String, textCol: String, dir: String): DataFrame =
    Curation.knScoreFromModel(probe, storedTrigram(spark, dir),
      idCol, textCol)

  /** Right-to-be-forgotten removal for the trigram tier: counts are
    * sums, so forgetting documents is the EXACT inverse of
    * [[mergeTrigramBatch]] — subtract the removed docs' trigram counts
    * and drop rows that reach zero. Requires the batch to be a subset
    * of what was trained (a count would go negative otherwise — the
    * require guards it); `epoch` ≥ 0 arms the replayed-delivery no-op
    * guard (removal is NOT idempotent without it: a replay would
    * subtract twice). Extends the forget law (q254/q267/q268/q330:
    * decremental ≡ rebuild-on-the-remaining) to count-table models. */
  def removeTrigramBatch(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, dir: String,
      epoch: Long = -1L, fenceTag: String = ""): Unit =
    Generation.mutate("LmIndex.removeTrigramBatch", dir, epoch, fenceTag) {
        (st, _) =>
      val bc = st.checkpoint(Curation.trigramFrame(batch, idCol, textCol)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("bc3")), "bc")
      val (merged, m) = st.observed(storedTrigram(spark, dir)
        .join(bc, Seq("w1", "w2", "w3"), "left")
        .select(col("w1"), col("w2"), col("w3"),
          (col("c3") - coalesce(col("bc3"), lit(0L))).as("c3")), "merged")(
        count(when(col("c3") < 0, 1)).as("bad"))
      // a negative count means the batch was NOT a training subset —
      // fail loudly rather than persist a corrupt model
      val bad = m("bad").asInstanceOf[Long]
      require(bad == 0,
        s"removeTrigramBatch: $bad trigram counts would go negative — " +
          "the removal batch is not a subset of the trained corpus")
      writeGen3(merged.filter(col("c3") > 0), dir, _)
    }
}
