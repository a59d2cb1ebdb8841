package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType,
  StructField, StructType}

/** [NS] Durable mergeable-sketch state for streaming — the heavy-hitter
  * twin of [[graft.operators.DedupIndex.foreachBatchIngest]]'s durable
  * index: each micro-batch's tokens fold into a stored Misra–Gries
  * summary, so "what's trending across the whole stream" is answerable
  * at any epoch from O(capacity) rows.
  *
  * Replay safety is VERSIONED, not transactional: epoch b writes its
  * merged state to `dir/v<b>/`, always deriving from the newest version
  * with id < b. Structured Streaming's only re-delivery is the last
  * epoch with the SAME batchId, so a replayed epoch re-derives from the
  * same predecessor and overwrites its own version — idempotent by
  * construction, no double-merge, no commit marker needed (the
  * predecessor version is never touched). The same pattern versions any
  * mergeable sketch (HLL registers, MinHash unions, Bloom words).
  *
  * The merge itself is relational over ≤ 2·capacity rows (union →
  * sum → subtract the (capacity+1)-th largest, the Agarwal'12 combine —
  * exactly [[graft.functions.MisraGriesAggregator.merge]]'s rule), so
  * nothing here collects to the driver; per-epoch cost is the batch
  * aggregation (map-side partials via the Aggregator) plus a
  * capacity-row write.
  */
object SketchState {

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v")) name.drop(1).toLongOption else None

  /** Newest committed version id strictly below `beforeBatch` (-1 = none). */
  def latestVersion(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .flatMap(s => versionOf(s.getPath.getName))
      .filter(_ < beforeBatch)
      .sorted.lastOption.getOrElse(-1L)
  }

  /** The stored state at the newest version < beforeBatch, read under its
    * declared schema (no schema-inference job per micro-batch); the empty
    * frame of that schema when no epoch has landed. */
  private def readVersion(spark: SparkSession, dir: String,
      beforeBatch: Long, schema: StructType): DataFrame = {
    val v = latestVersion(spark, dir, beforeBatch)
    if (v < 0) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(s"$dir/v$v")
  }

  private def columns(cs: (String, DataType)*): StructType =
    StructType(cs.map { case (n, t) => StructField(n, t) })

  /** The stored sketch rows (token, cnt) at the newest version < beforeBatch. */
  def readState(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    readVersion(spark, dir, beforeBatch,
      columns("token" -> StringType, "cnt" -> LongType))

  /** foreachBatch hook: fold each epoch's `tokenCol` values into the
    * stored summary under the versioned-replay protocol above. */
  def foreachBatchHeavyHitters(spark: SparkSession, dir: String,
      tokenCol: String, capacity: Int): (DataFrame, Long) => Unit =
    Hookup(spark) { (batch, batchId) =>
      val mg = udaf(graft.functions.MisraGriesAggregator(capacity))
      val batchSketch = batch
        .agg(mg(col(tokenCol)).as("m"))
        .select(explode(map_entries(col("m"))).as("e"))
        .select(col("e.key").as("token"), col("e.value").as("cnt"))
      val prev = readState(spark, dir, beforeBatch = batchId)
      val summed = prev.unionByName(batchSketch)
        .groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
      // Agarwal'12 combine: if over capacity, subtract the
      // (capacity+1)-th largest count and keep positives
      val trimmed = summed
        .withColumn("_rk", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("cnt").desc, col("token"))))
        .withColumn("_cut", max(when(col("_rk") === capacity + 1,
          col("cnt")).otherwise(lit(0L)))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1))))
        .withColumn("cnt", col("cnt") - col("_cut"))
        .filter(col("cnt") > 0)
        .select(col("token"), col("cnt"))
      trimmed.coalesce(1).write.mode("overwrite").parquet(s"$dir/v$batchId")
    }

  /** foreachBatch hook: durable streaming DISTINCT-count state — each
    * epoch's pre-hashed keys ([[graft.functions.KmvSketchAggregator]]
    * input convention) fold into a stored KMV bottom-k sketch under the
    * SAME versioned-replay protocol as the heavy hitters above. The
    * merge is the bottom-k of the union of stored + batch sketch rows
    * (the composition law KmvSpec pins), done relationally with one
    * rank window over ≤ 2k rows — a replayed epoch re-derives from the
    * same predecessor and overwrites its own version, and because the
    * KMV state is a pure function of the SET of hashes ever seen,
    * re-delivered rows change nothing even WITHIN the re-derived epoch.
    * The stream's exact distinct count is estimable at any epoch from k
    * stored longs. */
  def foreachBatchKmv(spark: SparkSession, dir: String,
      hashCol: String, k: Int): (DataFrame, Long) => Unit =
    Hookup(spark) { (batch, batchId) =>
      val kmv = udaf(graft.functions.KmvSketchAggregator(k))
      val batchSketch = batch
        .agg(kmv(col(hashCol)).as("sk"))
        .select(explode(col("sk")).as("hv"))
      val prev = readKmvState(spark, dir, beforeBatch = batchId)
      val merged = prev.unionByName(batchSketch)
        .select(col("hv")).distinct()
        .withColumn("_rk", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("hv").asc)))
        .filter(col("_rk") <= k)
        .select(col("hv"))
      merged.coalesce(1).write.mode("overwrite").parquet(s"$dir/v$batchId")
    }

  /** The stored KMV hashes (hv) at the newest version < beforeBatch. */
  def readKmvState(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    readVersion(spark, dir, beforeBatch, columns("hv" -> LongType))

  /** [NS] — the VALUE-CARRYING streaming sketch: each micro-batch's
    * (hash, value) pairs fold into the stored bottom-k SAMPLE
    * ([[graft.functions.KmvSampleAggregator]]'s semantics, maintained
    * relationally across epochs) — so any epoch can answer "what is the
    * stream's p50 / p99 so far" from 2k stored longs, the streaming
    * percentile monitor. Same versioned replay safety as
    * [[foreachBatchKmv]]: state is a pure function of the SET of pairs
    * ever seen (dedup on hash, deterministic min-value on the
    * negligible hash-collision case), so re-delivered rows and replayed
    * epochs are no-ops. */
  def foreachBatchKmvSample(spark: SparkSession, dir: String,
      hashCol: String, valCol: String, k: Int): (DataFrame, Long) => Unit =
    Hookup(spark) { (batch, batchId) =>
      val agg = udaf(graft.functions.KmvSampleAggregator(k))
      val batchPairs = batch
        .agg(agg(col(hashCol), col(valCol)).as("sk"))
        .select(explode(expr(
          "transform(sequence(0, size(sk) div 2 - 1), " +
            "j -> struct(sk[2*j] as hv, sk[2*j+1] as v))")).as("p"))
        .select(col("p.hv"), col("p.v"))
      val prev = readKmvSampleState(spark, dir, beforeBatch = batchId)
      val merged = prev.unionByName(batchPairs)
        .groupBy(col("hv")).agg(min(col("v")).as("v"))
        .withColumn("_rk", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("hv").asc)))
        .filter(col("_rk") <= k)
        .select(col("hv"), col("v"))
      merged.coalesce(1).write.mode("overwrite").parquet(s"$dir/v$batchId")
    }

  /** The stored (hv, v) sample at the newest version < beforeBatch. */
  def readKmvSampleState(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    readVersion(spark, dir, beforeBatch,
      columns("hv" -> LongType, "v" -> LongType))

  /** [NS] — streaming MODEL-QUALITY monitor: each epoch's scored
    * predictions fold into durable per-band calibration state
    * ([[graft.operators.Analytics.calibrationBandAggregate]]'s
    * (band, n, pos, conf_sum) — three SUMS, so the cross-epoch merge is
    * a colwise sum over ≤ 2·buckets rows), under the same versioned
    * replay protocol as the sketches above: a replayed epoch re-derives
    * from the same predecessor and overwrites its own version. "Is the
    * model still calibrated, what is the current ECE" is then
    * answerable at ANY epoch from `buckets` stored rows
    * ([[calibrationReport]]), without re-reading one historical
    * prediction. */
  def foreachBatchCalibration(spark: SparkSession, dir: String,
      confPpmCol: String, labelCol: String,
      buckets: Int): (DataFrame, Long) => Unit =
    Hookup(spark) { (batch, batchId) =>
      val b = graft.operators.Analytics.calibrationBandAggregate(
        batch, confPpmCol, labelCol, buckets)
      val prev = readCalibrationState(spark, dir, beforeBatch = batchId)
      val merged = prev.unionByName(b)
        .groupBy(col("band"))
        .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"),
          sum(col("conf_sum")).as("conf_sum"))
      merged.coalesce(1).write.mode("overwrite").parquet(s"$dir/v$batchId")
    }

  /** The stored (band, n, pos, conf_sum) fold at the newest version
    * < beforeBatch. */
  def readCalibrationState(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    readVersion(spark, dir, beforeBatch,
      columns("band" -> IntegerType, "n" -> LongType, "pos" -> LongType,
        "conf_sum" -> LongType))

  /** Current reliability table + ECE from the stored fold — identical
    * to [[graft.operators.Analytics.calibrationFixedBands]] over the
    * union of every epoch ingested so far (StreamingSpec pins the
    * equivalence across restart and replay). */
  def calibrationReport(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    graft.operators.Analytics.calibrationReportFromState(
      readCalibrationState(spark, dir, beforeBatch))

  /** [NS] — streaming DATA-SELECTION gate: each micro-batch of
    * documents is scored from the STORED importance model
    * ([[graft.operators.Importance.storedLambda]] — trained once
    * offline, never on the stream; the q280/q284 scorer) and folded
    * into durable per-band selection state: band = score_ppm div
    * 100000 (0.1-ratio slabs), (band, n, accepted) with accepted =
    * score ≥ threshold. Counts are SUMS, so the cross-epoch merge is
    * exact and the fold equals batch-scoring the union of every epoch
    * (StreamingSpec pins it across restart + replay). "What share of
    * the incoming stream is target-like, and is the mix drifting" is
    * answerable at any epoch from a handful of stored rows — the
    * streaming complement of the corpus-side q280 readout, and the
    * gate a 100 TB ingest runs BEFORE paying for quality/dedup on
    * off-target documents. Versioned replay protocol as above. */
  def foreachBatchImportance(spark: SparkSession, dir: String,
      modelDir: String, idCol: String, textCol: String, nBuckets: Int,
      thresholdPpm: Long): (DataFrame, Long) => Unit =
    Hookup(spark) { (batch, batchId) =>
      val lam = graft.operators.Importance.storedLambda(spark, modelDir)
      val bands = importanceBands(batch, lam, idCol, textCol, nBuckets,
        thresholdPpm)
      val prev = readImportanceState(spark, dir, beforeBatch = batchId)
      val merged = prev.unionByName(bands)
        .groupBy(col("band"))
        .agg(sum(col("n")).as("n"), sum(col("accepted")).as("accepted"))
      merged.coalesce(1).write.mode("overwrite").parquet(s"$dir/v$batchId")
    }

  /** The per-band (band, n, accepted) aggregate of one scored frame —
    * shared by the streaming fold and its batch twin. */
  def importanceBands(docs: DataFrame, lambda: DataFrame, idCol: String,
      textCol: String, nBuckets: Int, thresholdPpm: Long): DataFrame =
    graft.operators.Importance.score(
        graft.operators.Importance.docBuckets(docs, idCol, textCol,
          nBuckets), lambda, idCol)
      .select(expr("CAST(score_ppm div 100000 AS INT)").as("band"),
        (col("score_ppm") >= thresholdPpm).as("_acc"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_acc"), 1L).otherwise(0L)).as("accepted"))

  /** The stored (band, n, accepted) fold at the newest version <
    * beforeBatch; empty frame when no epoch has landed. */
  def readImportanceState(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    readVersion(spark, dir, beforeBatch,
      columns("band" -> IntegerType, "n" -> LongType, "accepted" -> LongType))

  /** [NS] — streaming DISTRIBUTION-DRIFT monitor: each micro-batch's
    * (side, value) rows fold into durable per-(side, bucket) counts —
    * bucket = floor(value / bucketWidth), so state is bounded by the
    * value range, never by the stream — under the same versioned
    * replay protocol as every fold above (counts are SUMS; a replayed
    * epoch re-derives from its predecessor and overwrites its own
    * version). The live sides are typically a reference population
    * ingested once and the ongoing traffic; [[driftReport]] then
    * answers "has the live distribution drifted from the reference"
    * at ANY epoch from the ≤ 2·|buckets| stored rows — the streaming
    * face of q305/q318's batch tests, binned because a monitor's
    * state must be bounded (q305 keeps the exact per-value form for
    * offline runs). */
  def foreachBatchDrift(spark: SparkSession, dir: String,
      sideCol: String, valCol: String,
      bucketWidth: Double): (DataFrame, Long) => Unit = {
    require(bucketWidth > 0, s"bucketWidth must be positive")
    Hookup(spark) { (batch, batchId) =>
      val b = batch
        .filter(col(valCol).isNotNull && col(sideCol).isNotNull)
        .select(col(sideCol).cast("string").as("side"),
          floor(col(valCol) / lit(bucketWidth)).cast("long").as("bk"))
        .groupBy(col("side"), col("bk"))
        .agg(count(lit(1)).as("n"))
      val prev = readDriftState(spark, dir, beforeBatch = batchId)
      val merged = prev.unionByName(b)
        .groupBy(col("side"), col("bk"))
        .agg(sum(col("n")).as("n"))
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/v$batchId")
    }
  }

  /** The stored (side, bk, n) fold at the newest version <
    * beforeBatch; empty frame when no epoch has landed. */
  def readDriftState(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    readVersion(spark, dir, beforeBatch,
      columns("side" -> StringType, "bk" -> LongType, "n" -> LongType))

  /** [NS] — streaming PREFERENCE-RATING state: each micro-batch of
    * decided duels (RLHF preference pairs, A/B outcomes) folds into a
    * durable directed count table (i, j, w) — pure SUMS under the
    * versioned replay protocol, |items|²-bounded — and
    * [[duelsRatings]] re-derives the exact Bradley–Terry strengths
    * ([[graft.operators.Analytics.bradleyTerryFromCounts]], q304's
    * arithmetic) from the state at ANY epoch. Ratings are never
    * incremental-approximated: the MM recurrence is |pairs|-row cheap,
    * so the durable thing is the sufficient statistic, not the
    * rating — the same stance as every sketch fold here. */
  def foreachBatchDuels(spark: SparkSession, dir: String,
      winCol: String, loseCol: String): (DataFrame, Long) => Unit =
    Hookup(spark) { (batch, batchId) =>
      val b = batch
        .filter(col(winCol).isNotNull && col(loseCol).isNotNull)
        .groupBy(col(winCol).cast("string").as("i"),
          col(loseCol).cast("string").as("j"))
        .agg(count(lit(1)).as("w"))
      val prev = readDuelsState(spark, dir, beforeBatch = batchId)
      val merged = prev.unionByName(b)
        .groupBy(col("i"), col("j"))
        .agg(sum(col("w")).as("w"))
      merged.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/v$batchId")
    }

  /** The stored (i, j, w) duel fold at the newest version <
    * beforeBatch; empty frame when no epoch has landed. */
  def readDuelsState(spark: SparkSession, dir: String,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    readVersion(spark, dir, beforeBatch,
      columns("i" -> StringType, "j" -> StringType, "w" -> LongType))

  /** Current Bradley–Terry ratings from the stored duel fold —
    * identical to [[graft.operators.Analytics.bradleyTerry]] over the
    * union of every epoch ingested so far (StreamingSpec pins the
    * equivalence across restart and replay). */
  def duelsRatings(spark: SparkSession, dir: String, iters: Int,
      beforeBatch: Long = Long.MaxValue): DataFrame =
    graft.operators.Analytics.bradleyTerryFromCounts(
      readDuelsState(spark, dir, beforeBatch), iters)

  /** Current binned drift between two sides from the stored fold:
    * one row (n_a, n_b, d_ppm, tvd_ppm) — D is the KS statistic on
    * the bucketed ECDFs (|ca·n_b − cb·n_a|·10⁶ div (n_a·n_b), exact),
    * TVD the half-L1 between the bucket share vectors. Windows run on
    * the ≤ |buckets| stored rows. StreamingSpec pins the fold against
    * an independent scalar reference across restart and replay. */
  def driftReport(spark: SparkSession, dir: String, sideA: String,
      sideB: String, beforeBatch: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = readDriftState(spark, dir, beforeBatch)
    val wide = st.groupBy(col("bk"))
      .agg(sum(when(col("side") === sideA, col("n")).otherwise(0L))
        .as("da"),
        sum(when(col("side") === sideB, col("n")).otherwise(0L))
          .as("db"))
    val ord = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    wide
      .withColumn("ca", sum(col("da")).over(ord))
      .withColumn("cb", sum(col("db")).over(ord))
      .withColumn("n_a", sum(col("da")).over(all))
      .withColumn("n_b", sum(col("db")).over(all))
      .withColumn("d", expr(
        "CASE WHEN n_a > 0 AND n_b > 0 THEN " +
          "cast(abs(cast(ca as decimal(38,0)) * n_b - " +
          "cast(cb as decimal(38,0)) * n_a) * 1000000 div " +
          "(cast(n_a as decimal(38,0)) * n_b) as bigint) " +
          "ELSE cast(0 as bigint) END"))
      .withColumn("sh", expr(
        "abs(CASE WHEN n_a > 0 THEN (1000000 * da) div n_a " +
          "ELSE cast(0 as bigint) END - " +
          "CASE WHEN n_b > 0 THEN (1000000 * db) div n_b " +
          "ELSE cast(0 as bigint) END)"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(col("d")).as("d_ppm"),
        expr("sum(sh) div 2").as("tvd_ppm"))
  }
}
