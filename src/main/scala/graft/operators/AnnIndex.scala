package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN index LIFECYCLE — train once, persist, serve many.
  *
  * [[Similarity.ivfPqSearch]] composes the right 100 TB plan shapes but
  * re-trains centroids and PQ codebooks inside every query; at corpus
  * scale, training is an offline pipeline stage and serving must read a
  * STORED index (the reference's skip-if-archived probe,
  * `cmds/archive.py:126-129`, is the same precomputed-state-reused shape).
  * This object splits the two:
  *
  *  - [[build]] / [[buildIfAbsent]]: one-time index construction — IVF
  *    centroids, per-subspace PQ codebooks ([[Similarity.pqTrain]]), and
  *    per-vector codes ([[Similarity.pqEncode]]) written to parquet, the
  *    codes HIVE-PARTITIONED BY CENTROID (the IVF-partitioned layout
  *    BucketingSpec proves prunes directories: a probe that touches 2 of
  *    8 lists never opens the other 6). A `_graft_index_meta.json`
  *    fingerprint (corpus dir + geometry + format version) makes rebuilds
  *    idempotent and lets repeated invocations skip training entirely.
  *  - [[serve]]: answers a query from the stored tables ONLY — zero Lloyd
  *    iterations, zero k-means jobs in the plan. The probe step collects
  *    the nProbe nearest list ids (an O(nlist) driver read — the
  *    driver-known probe set is what parameterizes the scan, the same
  *    access pattern BucketingSpec pins); the codes scan is then
  *    restricted to the probed `centroid=` partitions by a STATIC
  *    partition filter before its single combining exchange; codebooks
  *    joined with the query into the integer distance table ride one
  *    broadcast, and the float re-rank touches `shortlist` corpus rows
  *    via a broadcast join. Identical results to
  *    [[Similarity.ivfPqSearch]] at the same geometry by construction:
  *    stored codes are the same (d², c_id) argmins and the distance
  *    table is built by the same rounded-dot expression.
  *
  * Scale notes: the index tables are tiny relative to the corpus
  * (centroids: nlist rows; codebooks: m·ksub rows; codes: m small ints
  * per vector — the floats stay out of the index). At 100 TB only the
  * codes table is large, and it is exactly the table the centroid
  * partitioning prunes to ~nProbe/nlist per query.
  */
object AnnIndex {

  import Similarity.{cosine, vecD}

  /** Bump when the on-disk layout or training semantics change — stale
    * indexes with a different version are rebuilt, not served.
    * v2: codes may carry caller-chosen metadata columns (filtered ANN). */
  private val FormatVersion = 2

  def centroidsPath(dir: String) = s"$dir/centroids"
  def codebooksPath(dir: String) = s"$dir/codebooks"

  /** The stored coarse centroids and PQ codebooks, read under the schema
    * [[build]] wrote (no footer inference per call). */
  private def storedQuantizers(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val vec = ArrayType(DoubleType)
    (spark.read.schema(StructType(Seq(
        StructField("c_id", LongType), StructField("cv", vec))))
      .parquet(centroidsPath(dir)),
    spark.read.schema(StructType(Seq(
        StructField("sub", IntegerType), StructField("c_id", LongType),
        StructField("cv", vec))))
      .parquet(codebooksPath(dir)))
  }
  def codesPath(dir: String)     = s"$dir/codes"
  private def metaPath(dir: String) = s"$dir/_graft_index_meta.json"
  private def batchesPath(dir: String) = s"$dir/_graft_applied_batches.json"

  /** Per-corpus index location: one directory per corpus tag, so indexes
    * for different scale factors never overwrite each other (a bench run
    * at sf0.1 between a verify run and its oracle replay must not clobber
    * the sf0.01 index). */
  def defaultDir(corpusTag: String): String =
    "/tmp/graft_ann_index/" + corpusTag.replaceAll("[^A-Za-z0-9._-]", "_")

  private def fingerprint(corpus: String, m: Int, subDim: Int, ksub: Int,
      iters: Int, nlist: Int, metaCols: Seq[String]): String =
    s"""{"version":$FormatVersion,"corpus":"$corpus","m":$m,""" +
      s""""subDim":$subDim,"ksub":$ksub,"iters":$iters,"nlist":$nlist,""" +
      s""""meta":[${metaCols.map("\"" + _ + "\"").mkString(",")}]}"""

  /** Train + persist the index. `centroids` = (c_id, cv ARRAY<DOUBLE>),
    * the IVF coarse quantizer (caller-chosen: [[Similarity.kmeans]]
    * output or any deterministic seed set). Three writes:
    * centroids, codebooks (sub, c_id, cv), and codes
    * (idCol, sub, code [, metaCols...]) partitioned by `centroid`.
    *
    * `metaCols` are corpus columns DENORMALIZED INTO THE CODES TABLE —
    * the filtered-ANN design: a predicate on them becomes a plain parquet
    * data filter on the codes scan ([[serveFiltered]]), pushed to the
    * row-group level, instead of a 100 TB-side join against the corpus at
    * query time. The copies cost m small values per vector; the floats
    * still stay out of the index. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, m: Int, subDim: Int, ksub: Int, iters: Int,
      dir: String, metaCols: Seq[String] = Nil): Unit = {
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(centroidsPath(dir))
    val cbs = Similarity.pqTrain(df, idCol, vecCol, m, subDim, ksub, iters)
    cbs.coalesce(1).write.mode("overwrite").parquet(codebooksPath(dir))
    val assigned = Similarity.ivfAssign(df, idCol, vecCol, centroids)
      .select(col(idCol), col("centroid"))
    val meta =
      if (metaCols.isEmpty) assigned
      else assigned.join(
        df.select(col(idCol) +: metaCols.map(col): _*), Seq(idCol))
    Similarity.pqEncode(df, idCol, vecCol, cbs, m, subDim)
      .select(col(idCol), col("sub"), col("code"))
      .join(meta, Seq(idCol))
      .write.mode("overwrite").partitionBy("centroid")
      .parquet(codesPath(dir))
    // a rebuild starts a fresh generation: prior appends are part of the
    // corpus now (or gone) — drop the applied-batches ledger
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(batchesPath(dir)))
  }

  /** INCREMENTAL index maintenance: encode and append a batch of NEW
    * vectors into the stored index with the quantizers FROZEN — zero
    * Lloyd iterations, zero training jobs. The delta is assigned to the
    * STORED centroids and encoded against the STORED codebooks (both
    * read back from parquet), then appended into the existing
    * `centroid=` partition directories; [[serve]]/[[serveBatch]]/
    * [[serveFiltered]] pick the new vectors up with no change, and
    * because PQ encoding is per-row math against fixed codebooks, the
    * appended index is BYTE-EQUAL to one whose [[build]] had encoded
    * base+delta in one pass with the same quantizers (AnnIndexSpec pins
    * this; q168 oracle-checks the served results).
    *
    * This is the ingest half of the lifecycle: at 100 TB the corpus
    * grows continuously, re-encoding is O(delta), and retraining is a
    * deliberate OFFLINE decision (codebook drift is a data-distribution
    * question, not an ingest-path one). Cost: one scan of the delta +
    * one broadcast of centroids/codebooks + the partitioned write — the
    * base codes never move, never re-shuffle.
    *
    * `metaCols` must match the index's build-time metadata geometry —
    * enforced here against the stored `_graft_index_meta.json`
    * fingerprint whenever one exists (every [[buildIfAbsent]] index has
    * one): an append with a different m/subDim/metaCols would silently
    * write mixed-schema codes (parquet append mode does not validate
    * against existing files) and corrupt served results, so it fails
    * loudly instead. A bare [[build]] without a fingerprint leaves
    * enforcement to the caller. */
  def appendBatch(spark: SparkSession, dir: String, delta: DataFrame,
      idCol: String, vecCol: String, m: Int, subDim: Int,
      metaCols: Seq[String] = Nil): Unit = {
    val metaFile = java.nio.file.Paths.get(metaPath(dir))
    if (java.nio.file.Files.exists(metaFile)) {
      val fp = java.nio.file.Files.readString(metaFile)
      def intField(k: String): Option[Int] =
        ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(fp).map(_.group(1).toInt)
      val storedMeta: Seq[String] =
        """"meta":\[([^\]]*)\]""".r.findFirstMatchIn(fp)
          .map(_.group(1).split(",").toSeq
            .filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\"")))
          .getOrElse(Nil)
      require(intField("m").forall(_ == m) &&
          intField("subDim").forall(_ == subDim),
        s"appendBatch geometry (m=$m, subDim=$subDim) does not match the " +
          s"stored index fingerprint at ${metaPath(dir)}: $fp")
      require(storedMeta == metaCols,
        s"appendBatch metaCols $metaCols do not match the stored index's " +
          s"$storedMeta (${metaPath(dir)})")
    }
    val (cents, cbs) = storedQuantizers(spark, dir)
    val assigned = Similarity.ivfAssign(delta, idCol, vecCol, cents)
      .select(col(idCol), col("centroid"))
    val meta =
      if (metaCols.isEmpty) assigned
      else assigned.join(
        delta.select(col(idCol) +: metaCols.map(col): _*), Seq(idCol))
    Similarity.pqEncode(delta, idCol, vecCol, cbs, m, subDim)
      .select(col(idCol), col("sub"), col("code"))
      .join(meta, Seq(idCol))
      .write.mode("append").partitionBy("centroid")
      .parquet(codesPath(dir))
  }

  /** [[appendBatch]] guarded by a batch ledger — the exactly-once ingest
    * contract ([[graft.operators.TextIndex]]'s replayed-epochs-no-op
    * protocol, applied here): a `batchTag` that is already recorded in
    * `_graft_applied_batches.json` no-ops, so bench repeats and replayed
    * pipelines never double-append a delta. [[build]] resets the ledger
    * (a rebuild subsumes prior appends). */
  def appendIfAbsent(spark: SparkSession, dir: String, delta: DataFrame,
      idCol: String, vecCol: String, m: Int, subDim: Int, batchTag: String,
      metaCols: Seq[String] = Nil): Unit = {
    val ledger = java.nio.file.Paths.get(batchesPath(dir))
    val applied: Set[String] =
      if (java.nio.file.Files.exists(ledger))
        java.nio.file.Files.readString(ledger).split("\n").toSet
      else Set.empty
    if (!applied.contains(batchTag)) {
      // append-then-ledger: a crash in this window double-appends the
      // batch on replay (at-least-once, caller dedups by disjoint ids);
      // the ledger write itself is atomic so it is never torn
      appendBatch(spark, dir, delta, idCol, vecCol, m, subDim, metaCols)
      TextIndex.writeLedger(ledger, applied + batchTag)
    }
  }

  /** [[build]] unless a fingerprint-matching index is already on disk —
    * the train-once half of the lifecycle: the first call of a round
    * trains, every later call (bench repeats, re-verification, more
    * queries against the same corpus) skips straight to serving. */
  def buildIfAbsent(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, m: Int, subDim: Int, ksub: Int, iters: Int,
      dir: String, corpusTag: String, metaCols: Seq[String] = Nil): Unit =
    Generation.withFingerprint(java.nio.file.Paths.get(metaPath(dir)),
        fingerprint(corpusTag, m, subDim, ksub, iters, -1, metaCols)) {
      build(df, idCol, vecCol, centroids, m, subDim, ksub, iters, dir,
        metaCols)
    }

  /** BATCH serving: top-k for MANY query vectors in ONE plan over the
    * stored index — the production vector-store request shape (a batch
    * of embeddings arrives; one pass answers all of them), where
    * [[serve]] is the single-query probe. `queryVecs` = (q_id, qv),
    * broadcast-size (requests, not data). Differences from [[serve]]:
    * the probe step ranks centroids PER QUERY (row_number ≤ nProbe per
    * q_id — WindowGroupLimit over nlist·|Q| rows, all broadcast-side);
    * the codes scan is statically pruned to the UNION of probed lists
    * (driver-collected, ≤ nlist ids) and then restricted to each
    * query's OWN lists by the broadcast (q_id, centroid) probe join, so
    * a list probed by one query is never scored for another; distance
    * tables carry q_id and ride one broadcast; scoring aggregates by
    * (q_id, id) and the shortlist/k cuts are per-query window limits.
    * Cost: one scan of the union of probed partitions TOTAL — not per
    * query — plus per-query broadcast arithmetic; the whole batch costs
    * one query's scan when probe sets overlap. */
  def serveBatch(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, vecCol: String, queryVecs: DataFrame, m: Int,
      subDim: Int, nProbe: Int, shortlist: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val (cents, cbs) = storedQuantizers(spark, dir)
    val codes = spark.read.schema(StructType(Seq(
        StructField(idCol, LongType), StructField("sub", IntegerType),
        StructField("code", LongType), StructField("centroid", LongType))))
      .parquet(codesPath(dir))

    val pw = Window.partitionBy(col("p_qid"))
      .orderBy(col("qc").desc, col("c_id").asc)
    val probes = cents.crossJoin(broadcast(queryVecs))
      .withColumn("qc", round(cosine(col("cv"), col("qv")), 6))
      .withColumn("p_qid", col("q_id"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nProbe)
      .select(col("p_qid"), col("c_id").cast("long").as("centroid"))
    val probeUnion: Array[Long] = probes.select(col("centroid"))
      .distinct().collect().map(_.getLong(0))

    val tbl = cbs.crossJoin(broadcast(queryVecs))
      .withColumn("qs", slice(col("qv"), col("sub") * subDim + 1,
        lit(subDim)))
      .withColumn("tdot", round(round(Similarity.dot(col("qs"), col("cv")),
        6) * 1e6).cast("long"))
      .select(col("q_id").as("t_qid"), col("sub").as("t_sub"),
        col("c_id").as("t_code"), col("tdot"))

    val scored = codes
      .filter(col("centroid").isin(probeUnion: _*))
      .join(broadcast(probes), Seq("centroid"))
      .join(broadcast(tbl),
        col("t_qid") === col("p_qid") &&
          col("t_sub") === col("sub") && col("t_code") === col("code"))
      .groupBy(col("p_qid"), col(idCol))
      .agg(sum(col("tdot")).as("ascore"))

    val sw = Window.partitionBy(col("p_qid"))
      .orderBy(col("ascore").desc, col(idCol).asc)
    val short = scored.filter(col(idCol) =!= col("p_qid"))
      .withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist)
      .select(col("p_qid"), col(idCol), col("ascore"))

    val passThrough = corpus.columns.filterNot(_ == vecCol).map(col(_))
    val rw = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col(idCol).asc)
    corpus.join(broadcast(short), Seq(idCol))
      .join(broadcast(queryVecs), col("p_qid") === col("q_id"))
      .withColumn("approx", col("ascore").cast("double") / 1e6)
      .withColumn("cos", round(cosine(vecD(col(vecCol)), col("qv")), 6))
      .withColumn("rk", row_number().over(rw).cast("long"))
      .filter(col("rk") <= k)
      .select((col("q_id") +: passThrough ++:
        Seq(col("approx"), col("cos"), col("rk"))).toIndexedSeq: _*)
      .orderBy(col("q_id"), col("rk"))
  }

  /** Serve an IVF-PQ top-k query from the STORED index. `corpus` is the
    * raw vector table, touched only for the shortlist re-rank (broadcast
    * semi restriction — at scale this is `shortlist` point reads, not a
    * scan). No training job exists in this plan: centroids, codebooks
    * and codes are parquet scans. Output matches
    * [[Similarity.ivfPqSearch]] row-for-row at the same geometry. */
  def serve(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, vecCol: String, queryVec: DataFrame, m: Int,
      subDim: Int, nProbe: Int, shortlist: Int, k: Int): DataFrame =
    serveFiltered(spark, dir, corpus, idCol, vecCol, queryVec, m, subDim,
      nProbe, shortlist, k, codesFilter = None, metaFields = Nil)

  /** FILTERED ANN serving: [[serve]] with a metadata predicate evaluated
    * ON THE STORED CODES TABLE (the columns [[build]]'s `metaCols`
    * denormalized in). The filter lands on the codes parquet scan as a
    * pushed data filter UNDER the static partition pruning — so a query
    * like "top-k among label=3" reads only the probed `centroid=`
    * directories AND only row groups that can contain label 3, never
    * joins the corpus to decide eligibility, and the shortlist/k cuts see
    * eligible candidates only (no post-filter underfill: a post-hoc
    * filter on an unfiltered top-`shortlist` can return fewer than k
    * eligible rows — or none — when the predicate is selective).
    * `metaFields` extends the explicit codes read schema. */
  def serveFiltered(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, vecCol: String, queryVec: DataFrame, m: Int,
      subDim: Int, nProbe: Int, shortlist: Int, k: Int,
      codesFilter: Option[org.apache.spark.sql.Column],
      metaFields: Seq[org.apache.spark.sql.types.StructField]): DataFrame = {
    import org.apache.spark.sql.types._
    // The index format is ours and versioned — serving reads with
    // EXPLICIT schemas. At scale this skips per-query footer reads for
    // inference, and it pins the partition column's type (long) so the
    // probe filter below stays a partition filter (no cast demotion).
    val (cents, cbs) = storedQuantizers(spark, dir)
    val codes = spark.read.schema(StructType(Seq(
        StructField(idCol, LongType), StructField("sub", IntegerType),
        StructField("code", LongType), StructField("centroid", LongType))
        ++ metaFields))
      .parquet(codesPath(dir))

    // probe: the nProbe lists nearest the query, COLLECTED to the driver
    // (nlist rows — thousands at 100 TB) so the probe set parameterizes
    // the codes scan as a STATIC partition filter. This is the serving
    // access pattern BucketingSpec pins behaviorally: unprobed
    // `centroid=` directories are pruned at planning time and never
    // opened, without relying on dynamic-partition-pruning heuristics.
    val probeIds: Array[Long] = cents.crossJoin(broadcast(queryVec))
      .withColumn("qc", round(cosine(col("cv"), col("qv")), 6))
      .orderBy(col("qc").desc, col("c_id").asc)
      .limit(nProbe)
      .select(col("c_id").cast("long"))
      .collect().map(_.getLong(0))

    // integer distance table: m·ksub rounded dots against the query's
    // subspace slices — the ONE place float math meets the codebooks
    val tbl = cbs.crossJoin(broadcast(queryVec))
      .withColumn("qs", slice(col("qv"), col("sub") * subDim + 1,
        lit(subDim)))
      .withColumn("tdot", round(round(Similarity.dot(col("qs"), col("cv")),
        6) * 1e6).cast("long"))
      .select(col("sub"), col("c_id").as("code"), col("tdot"))

    // score the stored codes of the probed lists only: the centroid
    // predicate prunes partitions statically (PartitionFilters on the
    // scan — unprobed directories never opened), then the distance-table
    // broadcast join and ONE combining exchange on id
    val probed = codes.filter(col("centroid").isin(probeIds: _*))
    val scored = codesFilter.fold(probed)(probed.filter)
      .join(broadcast(tbl), Seq("sub", "code"))
      .groupBy(col(idCol))
      .agg(sum(col("tdot")).as("ascore"))

    val short = scored.crossJoin(broadcast(queryVec.select(col("q_id"))))
      .filter(col(idCol) =!= col("q_id"))
      .select(col(idCol), col("ascore"))
      .orderBy(col("ascore").desc, col(idCol).asc)
      .limit(shortlist)

    val passThrough = corpus.columns.filterNot(_ == vecCol).map(col(_))
    corpus.join(broadcast(short), Seq(idCol))
      .crossJoin(broadcast(queryVec))
      .withColumn("approx", col("ascore").cast("double") / 1e6)
      .withColumn("cos", round(cosine(vecD(col(vecCol)), col("qv")), 6))
      .select((passThrough ++ Seq(col("approx"), col("cos"))).toIndexedSeq: _*)
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Vector DELETION from the stored index — the ANN half of the
    * right-to-be-forgotten contract (q254 audits derived tables, q267
    * purges the text index; a forgotten user's embeddings must leave
    * the vector store too, or similarity search keeps recalling them).
    * Quantizers are untouched (centroids/codebooks are corpus
    * STATISTICS, not user data — the same frozen-quantizer stance as
    * [[appendBatch]]); the forgotten ids' code rows are anti-joined out
    * and the codes table rewritten. The rewrite is codes-sized (m bytes
    * + metadata per vector), never raw-corpus-sized; the scale path is
    * a partition-selective rewrite of only the `centroid=` directories
    * containing forgotten ids (dynamic partition overwrite — left as an
    * optimization because an EMPTIED partition must also have its files
    * deleted, which dynamic mode alone does not do). Kept rows are
    * eagerly checkpointed BEFORE the overwrite so the read never races
    * its own target. Ids absent from the index are no-ops; the append
    * ledger stays (a replayed already-applied append must remain a
    * no-op after a removal, not resurrect the batch). Certified
    * removal ≡ metadata-filter serving by q268's oracle. */
  def removeVectors(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit = Stage("AnnIndex.removeVectors") { st =>
    val codes = spark.read.parquet(codesPath(dir))
    val kept = st.checkpoint(codes
      .join(broadcast(ids.select(col(idCol)).distinct()), Seq(idCol),
        "left_anti"), "kept")
    kept.write.mode("overwrite").partitionBy("centroid")
      .parquet(codesPath(dir))
  }

  /** [NS] — codebook DISTORTION audit: how well do the stored
    * quantizers still fit the vectors they encode? For every stored
    * code, the exact 1e6-scaled integer L2 between the vector's
    * subspace slice and its assigned codeword (no argmin — the STORED
    * assignment is measured, so the audit is pure deterministic
    * arithmetic), summed per vector and aggregated per IVF list:
    *   n_vecs / mean_d2 / max_d2   per-centroid reconstruction error
    *   global_mean_d2              corpus-wide mean (same every row)
    *   refit                       mean_d2 > 2 × global mean — the
    *                               list whose codewords no longer
    *                               represent its residents
    * Completes the ANN ops triptych: [[stalenessAudit]] says the
    * TRAFFIC moved, q259 says what recall costs, this says the
    * CODEBOOKS rotted — the three reasons to retrain, each measured.
    * Cost: one corpus scan × broadcast codebooks joined to the stored
    * codes on (id, sub); everything after is k rows. */
  def distortionAudit(spark: SparkSession, dir: String,
      corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      subDim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cbs = spark.read.parquet(codebooksPath(dir))
    val codes = spark.read.parquet(codesPath(dir))
      .select(col(idCol), col("sub"), col("code"), col("centroid"))
    val subs = corpus.select(col(idCol),
      posexplode(array((0 until m).map(s =>
        slice(Similarity.vecD(col(vecCol)), s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "sv")))
    val tot = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    subs.join(codes, Seq(idCol, "sub"))
      .join(broadcast(cbs.select(col("sub"), col("c_id").as("code"),
        col("cv"))), Seq("sub", "code"))
      .withColumn("d2i", expr(
        "aggregate(zip_with(sv, cv, (a, b) -> " +
          "(CAST(round(a * 1000000) AS BIGINT) - " +
          "CAST(round(b * 1000000) AS BIGINT)) * " +
          "(CAST(round(a * 1000000) AS BIGINT) - " +
          "CAST(round(b * 1000000) AS BIGINT))), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .groupBy(col(idCol), col("centroid"))
      .agg(sum(col("d2i")).as("vd2"))
      .groupBy(col("centroid"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("vd2")).as("_t"),
        max(col("vd2")).as("max_d2"))
      .withColumn("mean_d2", expr("_t div n_vecs"))
      .withColumn("_gt", sum(col("_t")).over(tot))
      .withColumn("_gn", sum(col("n_vecs")).over(tot))
      .withColumn("global_mean_d2", expr("_gt div _gn"))
      .withColumn("refit", expr("mean_d2 > 2 * global_mean_d2"))
      .select(col("centroid").cast("long").as("centroid"),
        col("n_vecs"), col("mean_d2"), col("max_d2"),
        col("global_mean_d2"), col("refit"))
  }

  /** [NS] — index STALENESS audit: is the stored index's geometry still
    * representative of current traffic? Retraining is a deliberate
    * offline decision (see [[appendBatch]]); this is the monitor that
    * TRIGGERS it. A fresh batch is assigned to the STORED centroids
    * (broadcast k×d table × one batch scan — zero training jobs) and
    * its per-centroid population share is compared against the stored
    * codes' share at build time:
    *   stored_n / batch_n     per-centroid populations
    *   stored_ppm / batch_ppm exact shares (10⁶·n div total)
    *   shift_ppm              batch − stored share
    *   tvd_ppm                total-variation distance Σ|shift| div 2
    *                          (same value on every row — the k-row
    *                          frame is the whole output)
    *   stale                  tvd_ppm ≥ `thresholdPpm`
    * When traffic drifts, new vectors pile into few lists: probe
    * budgets stop covering the true neighbors and list sizes skew —
    * tvd is exactly the mass that moved. Cost: one batch scan + one
    * codes aggregate (count DISTINCT id per centroid — codes hold m
    * rows per vector); everything after is k rows. */
  def stalenessAudit(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, vecCol: String, thresholdPpm: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = spark.read.parquet(centroidsPath(dir))
    val stored = spark.read.parquet(codesPath(dir))
      .groupBy(col("centroid"))
      .agg(countDistinct(col(idCol)).as("stored_n"))
    val asg = Similarity.ivfAssign(batch, idCol, vecCol, cents)
      .groupBy(col("centroid")).agg(count(lit(1)).as("batch_n"))
    val tot = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    stored.join(asg, Seq("centroid"), "full_outer")
      .withColumn("stored_n", coalesce(col("stored_n"), lit(0L)))
      .withColumn("batch_n", coalesce(col("batch_n"), lit(0L)))
      .withColumn("_st", sum(col("stored_n")).over(tot))
      .withColumn("_bt", sum(col("batch_n")).over(tot))
      .withColumn("stored_ppm", expr(
        "CASE WHEN _st > 0 THEN (1000000 * stored_n) div _st " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("batch_ppm", expr(
        "CASE WHEN _bt > 0 THEN (1000000 * batch_n) div _bt " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("shift_ppm", expr("batch_ppm - stored_ppm"))
      .withColumn("_sabs", sum(abs(col("shift_ppm"))).over(tot))
      .withColumn("tvd_ppm", expr("_sabs div 2"))
      .withColumn("stale", col("tvd_ppm") >= thresholdPpm)
      .select(col("centroid").cast("long").as("centroid"),
        col("stored_n"), col("batch_n"),
        col("stored_ppm"), col("batch_ppm"), col("shift_ppm"),
        col("tvd_ppm"), col("stale"))
  }
}
