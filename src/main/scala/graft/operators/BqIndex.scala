package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Hookup

/** [NS] — stored BINARY-QUANTIZATION index: the ninth stored-artifact
  * lifecycle (ANN, dedup, text, LM, tokenizer, rec, importance, line —
  * and now the 8-byte vector tier). [[Similarity.binaryQuantize]]'s
  * sign-bit codes are built ONCE under the shared fingerprint protocol
  * ([[Generation.withFingerprint]] — bench repeats and replays never
  * re-encode) and persisted as a (vec_id, bq_lo, bq_hi) table 32×
  * smaller than the float corpus; serving answers Hamming-shortlist +
  * exact-re-rank queries from the STORED codes — the query's own code
  * is a stored row, so the serving plan contains ZERO encode work over
  * the corpus, and the float table is touched only for the
  * shortlist-sized re-rank (a semi-join, never a scan-wide dot
  * product).
  *
  * 100 TB stance: the code table is the only corpus-sized artifact and
  * it is 8 bytes/vector; Hamming over it is two bit_count XORs per
  * row (scan-bound, codegen'd); everything after is shortlist-sized.
  * Reference precedent: same train-once/serve-many contract as
  * [[AnnIndex]] — this is the tier below IVF-PQ when even centroids
  * are too much ceremony. */
object BqIndex {
  private def codesPath(dir: String) = s"$dir/codes"

  /** Encode the corpus and overwrite the stored code table
    * (normalized column names: vec_id, bq_lo, bq_hi). */
  def build(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, vecCol: String): Unit = {
    Similarity.binaryQuantize(corpus, idCol, vecCol)
      .withColumnRenamed(idCol, "vec_id")
      .write.mode("overwrite").parquet(codesPath(dir))
    // a rebuild starts a fresh generation: prior appends are part of the
    // corpus now (or gone) — drop the applied-batches ledger, else a
    // post-rebuild delta reusing an old batchTag would silently no-op
    // (AnnIndex.build's convention)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ledgerPath(dir)))
    dropAuditVerdicts(dir)
  }

  /** Cached [[serveAudited]] verdicts describe the audited index
    * CONTENTS — every mutation of the code table drops them, so the
    * next guarded serve re-audits instead of trusting a stale number
    * (the model-card-staleness failure, closed structurally). */
  private def dropAuditVerdicts(dir: String): Unit = {
    val fs = new java.io.File(dir).listFiles()
    if (fs != null) fs.filter(_.getName.startsWith("_prune_audit_"))
      .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
  }

  /** [[build]] unless a fingerprint-matching index already exists. */
  def buildIfAbsent(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, vecCol: String, tag: String): Unit =
    Generation.withFingerprint(dir, s"bq:$tag") {
      build(spark, dir, corpus, idCol, vecCol)
    }

  private def ledgerPath(dir: String) = s"$dir/_batches"

  /** Encode a delta and APPEND its codes to the stored table — the
    * incremental half of the lifecycle: the base codes never move,
    * never re-shuffle, and the cost is one scan of the delta (the
    * [[AnnIndex.appendBatch]] contract at the 8-byte tier; there is
    * no geometry to drift here — [[Similarity.binaryQuantize]] fixes
    * 64 dims structurally). Caller guarantees delta ids are disjoint
    * from the stored ones (same as every append-only fold). */
  def appendBatch(spark: SparkSession, dir: String, delta: DataFrame,
      idCol: String, vecCol: String): Unit = {
    Similarity.binaryQuantize(delta, idCol, vecCol)
      .withColumnRenamed(idCol, "vec_id")
      .write.mode("append").parquet(codesPath(dir))
    dropAuditVerdicts(dir)
  }

  /** [[appendBatch]] exactly once per `batchTag` — the replay-safe
    * ledgered fold ([[AnnIndex.appendIfAbsent]]'s convention): bench
    * repeats and redelivered batches are no-ops. */
  def appendIfAbsent(spark: SparkSession, dir: String, delta: DataFrame,
      idCol: String, vecCol: String, batchTag: String): Unit = {
    val ledger = java.nio.file.Paths.get(ledgerPath(dir))
    val applied: Set[String] =
      if (java.nio.file.Files.exists(ledger))
        java.nio.file.Files.readString(ledger).split("\n").toSet
      else Set.empty
    if (!applied.contains(batchTag)) {
      // append-then-ledger: a crash in this window double-appends the
      // batch on replay (at-least-once, caller dedups by disjoint ids);
      // the ledger write itself is atomic so it is never torn
      appendBatch(spark, dir, delta, idCol, vecCol)
      TextIndex.writeLedger(ledger, applied + batchTag)
    }
  }

  /** Structured Streaming ingest hook: each id-disjoint micro-batch of
    * new vectors folds into the stored code table via
    * [[appendIfAbsent]] with the batchId as the ledger tag, so
    * checkpoint-replayed deliveries are no-ops — the replay fence of
    * the [[Generation]] stores, kept as a ledger at the 8-byte tier. */
  def foreachBatchAppend(spark: SparkSession, dir: String,
      idCol: String, vecCol: String): (DataFrame, Long) => Unit =
    Hookup(spark) { (batch, batchId) =>
      appendIfAbsent(spark, dir, batch, idCol, vecCol,
        batchTag = s"epoch$batchId")
    }

  /** Right-to-be-forgotten removal: rewrite the code table without the
    * given ids (anti-join against the broadcast removal list). The
    * table is 8 bytes/vector, so the decremental rewrite is the cheap
    * kind — and unlike tombstones it leaves NOTHING recoverable, which
    * is the point of the forget contract (q254/q267/q268's law:
    * remove ≡ rebuild on the remaining set, certified by q330's
    * remaining-only oracle). */
  def removeIds(spark: SparkSession, dir: String,
      ids: DataFrame): Unit = Stage("BqIndex.removeIds") { st =>
    // materialize before overwriting the source
    val keep = st.checkpoint(codes(spark, dir)
      .join(broadcast(ids.select(col(ids.columns.head).as("vec_id"))),
        Seq("vec_id"), "left_anti"), "keep")
    keep.write.mode("overwrite").parquet(codesPath(dir))
    dropAuditVerdicts(dir)
  }

  /** The stored code table. */
  def codes(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.read.schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("bq_lo", LongType),
        StructField("bq_hi", LongType))))
      .parquet(codesPath(dir))
  }

  /** Serve top-`k` neighbors of stored vector `queryId`: Hamming
    * shortlist over the stored codes (the query's code is LOOKED UP,
    * never recomputed), exact cosine re-rank of the shortlist against
    * the float table. Output: (vec_id, cos) ordered best-first with
    * the engine's standard round-6 / id tie-break determinism. */
  def serve(spark: SparkSession, dir: String, floats: DataFrame,
      idCol: String, vecCol: String, queryId: Long, shortlist: Int,
      k: Int): DataFrame = {
    val c = codes(spark, dir)
    val qc = c.filter(col("vec_id") === queryId)
      .select(col("bq_lo").as("q_lo"), col("bq_hi").as("q_hi"))
    val short = c.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qc))
      .withColumn("hd", expr(
        "bit_count(bq_lo ^ q_lo) + bit_count(bq_hi ^ q_hi)"))
      .orderBy(col("hd").asc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"))
    val ev = floats.select(col(idCol).as("vec_id"),
      Similarity.vecD(col(vecCol)).as("v"))
    val qv = ev.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"))
    short.join(ev, Seq("vec_id")).crossJoin(broadcast(qv))
      .withColumn("cos", round(Similarity.cosine(col("v"), col("qv")), 6))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("cos"))
  }

  /** Bucket-pruned serving — [[serve]]'s Hamming shortlist SCANS the
    * whole code table (8 bytes/vector: cheap, but still O(corpus) per
    * query). Multi-probe pruning ([[Similarity.multiProbeTopK]]'s move
    * at the stored tier, Lv et al. 2007) makes the shortlist stage
    * sub-linear: the low `bits` sign bits of `bq_lo` are a coarse
    * bucket, and candidates are the codes in the query's bucket OR any
    * 1-flip neighbor — (bits+1)/2^bits of the table in expectation —
    * Hamming-ranked, then the exact re-rank runs on the shortlist
    * exactly as [[serve]] does. The probe keys explode QUERY-side into
    * one equi-join against the bucket column (never a corpus-side
    * fan-out, never a full-table ordering). Recall < 1 by construction
    * (a true neighbor whose prefix differs in ≥ 2 signs is
    * unreachable) — the q356-measured dial; `bits` trades candidate
    * volume against it.
    *
    * ACCURACY CONTRACT: the pruning is trustworthy only when
    * same-neighborhood codes share sign prefixes — clustered
    * embeddings (q364's planted arm measures 100% top-10 agreement
    * with [[serve]]) — and degrades badly on prefix-unstructured
    * data (q358 measures 20% on the near-random fixture). Run
    * [[auditPruning]] on a representative query sample before
    * switching a workload off the full-scan path, or serve through
    * [[serveAudited]], which does exactly that and falls back
    * automatically. */
  def serveMultiProbe(spark: SparkSession, dir: String,
      floats: DataFrame, idCol: String, vecCol: String, queryId: Long,
      bits: Int, shortlist: Int, k: Int, flips: Int = 1): DataFrame = {
    require(bits >= 1 && bits <= 32, s"bits must be in [1,32]: $bits")
    require(flips == 1 || flips == 2,
      s"flips must be 1 or 2 (the measured escalation rungs): $flips")
    val mask = (1L << bits) - 1
    val c = codes(spark, dir)
    val qc = c.filter(col("vec_id") === queryId)
      .select(col("bq_lo").as("q_lo"), col("bq_hi").as("q_hi"))
    // probe set = every prefix pattern within Hamming ≤ `flips` of the
    // query's — the escalation dial: flips=1 probes (bits+1)/2^bits of
    // the table in expectation, flips=2 adds the C(bits,2) pair-flip
    // buckets (q367 measures what each rung buys in agreement)
    val flip1 =
      s"transform(sequence(0, $bits), j -> CASE WHEN j = 0 " +
        s"THEN q_lo & $mask " +
        s"ELSE (q_lo & $mask) ^ shiftleft(cast(1 as bigint), j - 1) " +
        "END)"
    // pair index p encodes (j1, j2) = (p div bits, p mod bits), kept
    // when j1 < j2 — avoids a nested sequence whose inner range would
    // run DESCENDING at the boundary (Spark's sequence(a, b) with
    // a > b counts down, not empty)
    val flip2 =
      s"transform(filter(sequence(0, ${bits * bits - 1}), " +
        s"p -> p div $bits < p % $bits), " +
        s"p -> (q_lo & $mask) " +
        s"^ shiftleft(cast(1 as bigint), p div $bits) " +
        s"^ shiftleft(cast(1 as bigint), p % $bits))"
    val probeArr = if (flips >= 2) s"concat($flip1, $flip2)" else flip1
    val probes = qc.select(col("q_lo"), col("q_hi"),
      explode(expr(probeArr)).as("_bkt"))
    val short = c.withColumn("_bkt", expr(s"bq_lo & $mask"))
      .join(broadcast(probes), Seq("_bkt"))
      .filter(col("vec_id") =!= queryId)
      .withColumn("hd", expr(
        "bit_count(bq_lo ^ q_lo) + bit_count(bq_hi ^ q_hi)"))
      .orderBy(col("hd").asc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"))
    val ev = floats.select(col(idCol).as("vec_id"),
      Similarity.vecD(col(vecCol)).as("v"))
    val qv = ev.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"))
    short.join(ev, Seq("vec_id")).crossJoin(broadcast(qv))
      .withColumn("cos", round(Similarity.cosine(col("v"), col("qv")), 6))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("cos"))
  }

  /** Pruning-price audit — the q358 measurement packaged as the API a
    * user runs BEFORE switching a workload from [[serve]] to
    * [[serveMultiProbe]]: for each sample query id, the top-`k`
    * overlap between the full-scan serve and the bucket-pruned serve
    * on the SAME stored index, as (queryId, nOverlap, agreePpm)
    * triples. Driver-side loop by design: the audit is sample-sized
    * (each iteration is one distributed serve pair), and its verdict
    * is a per-index decision, not per-query work. Interpretation: the
    * mean ppm is the fraction of the exact-shortlist answer the
    * pruned path preserves — ≥ 90% on clustered data (q364's planted
    * arm), ~20% on prefix-unstructured noise (q358); below your
    * tolerance, keep the full scan or widen the probe set. */
  def auditPruning(spark: SparkSession, dir: String, floats: DataFrame,
      idCol: String, vecCol: String, queryIds: Seq[Long], bits: Int,
      shortlist: Int, k: Int,
      flips: Int = 1): Seq[(Long, Long, Long)] = {
    require(queryIds.nonEmpty, "auditPruning: empty query sample")
    queryIds.map { qid =>
      val full = serve(spark, dir, floats, idCol, vecCol, qid,
        shortlist, k).select(col("vec_id"))
      val pruned = serveMultiProbe(spark, dir, floats, idCol, vecCol,
        qid, bits, shortlist, k, flips).select(col("vec_id"))
      val n = full.join(pruned, Seq("vec_id"), "left_semi").count()
      (qid, n, 1000000L * n / k)
    }
  }

  /** The cached-verdict key: config AND audit sample. Keying only on
    * (bits, shortlist, k, flips) let two workloads sharing one index
    * dir with different audit samples silently reuse the first
    * caller's verdict — an unrepresentative 3-query sample permanently
    * pinned the rung choice until the next index mutation (r10
    * ADVICE). The sample digest makes each distinct `auditIds` set its
    * own verdict file; mutation still drops them all. */
  private def auditPath(dir: String, bits: Int, shortlist: Int, k: Int,
      flips: Int, auditIds: Seq[Long]) = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(auditIds.sorted.distinct.mkString(",")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(5).map(b => f"$b%02x").mkString
    java.nio.file.Paths.get(dir,
      if (flips == 1) s"_prune_audit_b${bits}_s${shortlist}_k${k}_a$digest"
      else s"_prune_audit_b${bits}_f${flips}_s${shortlist}_k${k}_a$digest")
  }

  /** Guard-railed serving — the escalation LADDER the pruning dial
    * needs: audit the 1-flip rung over `auditIds` ONCE per
    * (bits, shortlist, k) config, escalate to the 2-flip rung only if
    * it fails (lazily — a corpus whose cheap rung passes never pays
    * the wider audit; q367 prices both rungs), serve the cheapest rung
    * whose measured mean agreement ≥ `minAgreePpm`, and fall back to
    * the always-correct full-scan [[serve]] when none passes. One
    * verdict file per rung, cached in the index dir with the
    * atomic-write ledger idiom (bench repeats and concurrent servers
    * read the recorded numbers). A user who flips q327 to the pruned
    * path on prefix-unstructured embeddings therefore gets the RIGHT
    * answers plus recorded verdicts, never a silent 20% (q365
    * certifies the floor against the full-scan oracle; SimilaritySpec
    * pins all three regimes). The cached verdicts describe the
    * audited index CONTENTS, and every build/append/remove DROPS them
    * automatically — a mutated index re-audits on its next guarded
    * serve instead of trusting a stale number. */
  def serveAudited(spark: SparkSession, dir: String, floats: DataFrame,
      idCol: String, vecCol: String, queryId: Long, bits: Int,
      shortlist: Int, k: Int, minAgreePpm: Long,
      auditIds: Seq[Long]): DataFrame = {
    import java.nio.file.Files
    def verdict(flips: Int): Long = {
      val p = auditPath(dir, bits, shortlist, k, flips, auditIds)
      // verdict file body: "<meanPpm>,n=<sample size>" — n makes a
      // stale-thin audit visible post-hoc (r10 verdict item #3); the
      // pre-r11 bare-mean form parses through the same first field
      if (Files.exists(p)) Files.readString(p).trim.split(",")(0).toLong
      else {
        val rows = auditPruning(spark, dir, floats, idCol, vecCol,
          auditIds, bits, shortlist, k, flips)
        val mean = rows.map(_._3).sum / rows.size
        TextIndex.writeLedger(p, Set(s"$mean,n=${rows.size}"))
        mean
      }
    }
    // escalation ladder: cheapest rung that MEASURES above the bar
    // wins; rung 2 is audited only if rung 1 fails (lazily — a corpus
    // whose 1-flip agreement passes never pays the wider audit), and
    // the full scan is the always-correct floor
    Seq(1, 2).find(f => verdict(f) >= minAgreePpm) match {
      case Some(f) =>
        serveMultiProbe(spark, dir, floats, idCol, vecCol, queryId,
          bits, shortlist, k, f)
      case None =>
        serve(spark, dir, floats, idCol, vecCol, queryId, shortlist, k)
    }
  }
}
