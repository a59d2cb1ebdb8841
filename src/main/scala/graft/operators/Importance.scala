package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hashed n-gram importance scoring — data selection toward a target
  * domain (the DSIR shape, Xie et al. 2023 "Data Selection for Language
  * Models via Importance Resampling"), re-expressed as exact integer
  * arithmetic so both engines agree bit-for-bit.
  *
  * The published estimator scores a document by the log-ratio of its
  * hashed-feature likelihood under a target vs a raw distribution and
  * resamples by the exponentiated score. Logs/exponentials are
  * transcendental (engines would diverge), so this engine's variant is
  * the cleared-denominator per-token MEAN ratio in ppm: each hashed
  * bucket `b` carries an add-one-smoothed importance
  *
  *   lam_ppm(b) = (10^6 (cT(b)+1)(NR+B)) div ((cR(b)+1)(NT+B))
  *
  * (cT/cR = target/raw token counts in bucket b, NT/NR totals, B the
  * bucket count) and a document scores `sum(c_b * lam_ppm(b)) div n_tok`
  * — >10^6 means target-like, <10^6 raw-like. Monotone in the same
  * direction as the likelihood ratio per bucket, exactly reproducible.
  *
  * Scale stance: the MODEL is B rows (buckets, not vocabulary — the
  * hashing trick caps it regardless of corpus size) so scoring is one
  * broadcast join onto the per-doc bucket counts; the corpus is touched
  * by exactly one explode+aggregate. Lifecycle mirrors [[RecModel]]:
  * [[buildModel]] persists the lambda table once; [[storedLambda]]
  * serves it to any batch without re-reading the training corpus.
  */
object Importance {

  /** Per-document hashed token-bucket counts: one corpus-sized explode +
    * one (id, bucket) aggregate. `bucketOf` is injectable so specs can
    * use a hand-computable bucketizer; the default is the house md5
    * bucket ([[Curation.hashBucket]]), identical in DuckDB as
    * `CAST('0x' || substr(md5(tok),1,8) AS BIGINT) % B`. `carryCols`
    * ride along (constant per doc) for downstream slicing. */
  def docBuckets(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, carryCols: Seq[String] = Nil,
      bucketOf: Option[Column => Column] = None): DataFrame = {
    val bucket = bucketOf.getOrElse((c: Column) =>
      Curation.hashBucket(c, buckets))
    val cols = col(idCol) +: carryCols.map(col) :+
      explode(expr(s"filter(split($textCol, ' '), x -> length(x) > 0)"))
        .as("tok")
    df.select(cols: _*)
      .withColumn("bucket", bucket(col("tok")))
      .groupBy((col(idCol) +: carryCols.map(col) :+ col("bucket")): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** The B-row importance model from per-doc bucket counts: target =
    * rows matching `targetPred` (evaluated on the carried columns), raw
    * = everything. Products run in decimal(38,0) so NT·NR-scale terms
    * cannot overflow long at any corpus size. */
  def lambdaTable(buckets: DataFrame, targetPred: Column,
      nBuckets: Int): DataFrame = {
    val raw = buckets.groupBy(col("bucket")).agg(sum(col("c")).as("cr"))
    val tgt = buckets.filter(targetPred)
      .groupBy(col("bucket")).agg(sum(col("c")).as("ct"))
    val totals = raw.join(tgt, Seq("bucket"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
    val n = totals.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    totals.crossJoin(broadcast(n))
      .select(col("bucket"), expr(
        s"""CAST((CAST(1000000 AS DECIMAL(38,0)) * (ct + 1) * (nr + $nBuckets))
            div (CAST(cr + 1 AS DECIMAL(38,0)) * (nt + $nBuckets)) AS BIGINT)""")
        .as("lam_ppm"))
  }

  /** Score docs from a lambda table: broadcast join on bucket, one
    * per-doc sum — `score_ppm = sum(c·lam) div n_tok`. */
  def score(buckets: DataFrame, lambda: DataFrame, idCol: String,
      carryCols: Seq[String] = Nil): DataFrame =
    buckets.join(broadcast(lambda), Seq("bucket"))
      .groupBy((col(idCol) +: carryCols.map(col)): _*)
      .agg(sum(col("c")).as("n_tok"),
        expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * lam_ppm) " +
          "div sum(c) AS BIGINT)").as("score_ppm"))

  def defaultDir(tag: String): String =
    "/tmp/graft_importance/" + tag.replaceAll("[^A-Za-z0-9._-]", "_")

  private def metaPath(dir: String) =
    java.nio.file.Paths.get(dir, "_graft_importance_meta.json")

  /** v2: the stored artifact is the COUNT table (bucket, cr, ct, nb) —
    * counts are sums, so document forget is exact subtraction
    * ([[removeBatch]]); lam_ppm is a RATIO and derives at read time
    * from the counts, byte-identical to [[lambdaTable]]'s formula. */
  private def fingerprint(tag: String, nBuckets: Int): String =
    s"""{"version":2,"buckets":$nBuckets,"model":"$tag"}"""

  def countsPath(dir: String): String = Generation.path(dir, "counts")

  /** The stored per-bucket count table: target count `ct`, raw count
    * `cr`, and the bucket-count constant `nb` carried as a column so
    * the smoothing geometry travels with the data. */
  def storedCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.read.schema(StructType(Seq(
        StructField("bucket", LongType), StructField("cr", LongType),
        StructField("ct", LongType), StructField("nb", LongType))))
      .parquet(countsPath(dir))
  }

  /** The raw/target per-bucket count rows [[buildModel]] persists —
    * [[lambdaTable]]'s `totals` stage with the geometry column. */
  private def countTable(buckets: DataFrame, targetPred: Column,
      nBuckets: Int): DataFrame = {
    val raw = buckets.groupBy(col("bucket")).agg(sum(col("c")).as("cr"))
    val tgt = buckets.filter(targetPred)
      .groupBy(col("bucket")).agg(sum(col("c")).as("ct"))
    raw.join(tgt, Seq("bucket"), "left")
      .select(col("bucket").cast("long").as("bucket"), col("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        lit(nBuckets.toLong).as("nb"))
  }

  private def writeCounts(counts: DataFrame, dir: String,
      gen: Long): Unit =
    counts.coalesce(1).write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/counts")

  /** Persist the B-row count table as generation 0 (coalesced to one
    * file — it is model-sized by construction). */
  def buildModel(buckets: DataFrame, targetPred: Column, nBuckets: Int,
      dir: String): Unit = {
    writeCounts(countTable(buckets, targetPred, nBuckets), dir, 0L)
    Generation.commitBuild(dir)
  }

  /** [[buildModel]] unless `dir` already holds a model built with the
    * same tag + geometry — the train-once half of the lifecycle. A
    * tag/bucket mismatch rebuilds (overwrite) rather than mixing. */
  def buildModelIfAbsent(buckets: DataFrame, targetPred: Column,
      nBuckets: Int, dir: String, tag: String): Unit =
    Generation.withFingerprint(metaPath(dir), fingerprint(tag, nBuckets)) {
      buildModel(buckets, targetPred, nBuckets, dir)
    }

  /** The stored model — B rows, broadcast by [[score]]. lam_ppm
    * derives from the stored counts with [[lambdaTable]]'s exact
    * formula (two model-sized aggregates — never a corpus read), so
    * v2's count-table layout is invisible to every scoring caller. */
  def storedLambda(spark: SparkSession, dir: String): DataFrame = {
    val counts = storedCounts(spark, dir)
    counts.crossJoin(broadcast(
        counts.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))))
      .select(col("bucket"), expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * (ct + 1) * (nr + nb))
            div (CAST(cr + 1 AS DECIMAL(38,0)) * (nt + nb)) AS BIGINT)""")
        .as("lam_ppm"))
  }

  /** Right-to-be-forgotten removal: subtract the forgotten documents'
    * per-bucket token counts (raw always, target where `targetPred`
    * matched) from the stored count table — the exact inverse of the
    * build's aggregation, so decremental forget ≡ remaining-only
    * rebuild ([[LmIndex.removeTrigramBatch]]'s law at the importance
    * model). `buckets` is [[docBuckets]] over EXACTLY the forgotten
    * docs' original rows (with the carry columns `targetPred` needs);
    * a full-outer join catches both violation directions — a count
    * going negative OR a batch bucket the model never saw — and fails
    * loudly rather than persist a corrupt model. Buckets whose raw
    * count reaches zero drop (rebuild parity). Generation + pointer
    * flip with epoch replay protection (subtraction is not idempotent
    * without it). */
  def removeBatch(spark: SparkSession, buckets: DataFrame,
      targetPred: Column, dir: String, epoch: Long = -1L,
      fenceTag: String = ""): Unit =
    Generation.mutate("Importance.removeBatch", dir, epoch, fenceTag) {
        (st, _) =>
      val braw = buckets.groupBy(col("bucket")).agg(sum(col("c")).as("_br"))
      val btgt = buckets.filter(targetPred)
        .groupBy(col("bucket")).agg(sum(col("c")).as("_bt"))
      val bsub = st.checkpoint(braw.join(btgt, Seq("bucket"), "left")
        .select(col("bucket").cast("long").as("bucket"), col("_br"),
          coalesce(col("_bt"), lit(0L)).as("_bt")), "bsub")
      val (merged, m) = st.observed(storedCounts(spark, dir)
        .join(bsub, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("cr"), lit(0L)) - coalesce(col("_br"), lit(0L)))
            .as("cr"),
          (coalesce(col("ct"), lit(0L)) - coalesce(col("_bt"), lit(0L)))
            .as("ct"),
          col("nb")), "merged")(
        count(when(col("cr") < 0 || col("ct") < 0 || col("nb").isNull, 1))
          .as("bad"))
      val bad = m("bad").asInstanceOf[Long]
      require(bad == 0,
        s"Importance.removeBatch: $bad bucket counts would go negative " +
          "(or hit buckets the model never saw) — the removal batch is " +
          "not a subset of the trained corpus")
      writeCounts(merged.filter(col("cr") > 0), dir, _)
    }
}
