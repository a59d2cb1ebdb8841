package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Similarity search over embedding columns (ARRAY<FLOAT> → double math):
  * brute-force cosine (baseline), sign-bucket LSH, IVF-style centroid
  * assignment (the scale paths). See SURVEY §7 [NS].
  *
  * Determinism contract: vectors are widened float→double (exact) and dot
  * products folded sequentially left-to-right, so scores are reproducible
  * across partitionings and match the DuckDB oracle bit-for-bit after
  * round(…, 6).
  */
object Similarity {

  /** [NS] — embedding data-quality expectations: the vector-column
    * sibling of the q142 rule suite, checking exactly the failure modes
    * embedding pipelines actually produce — NULL vectors, wrong
    * dimension (a silently truncated batch), all-zero vectors (the
    * classic "model returned nothing" sentinel, which poisons cosine
    * math downstream), and non-finite components. Every predicate is
    * element-wise (size / forall / exists over the array — no float
    * SUMMATION, so the counts hash-match the oracle even though the
    * components are floats). One aggregate pass; `n_ok` rows are safe
    * for every cosine/ANN operator in this codebase. */
  def embeddingExpectations(df: DataFrame, vecCol: String,
      dim: Int): DataFrame = {
    val v = col(vecCol)
    val isNull = v.isNull
    val wrongDim = !isNull && size(v) =!= dim
    val nonFinite = !isNull && !wrongDim &&
      exists(v, x => isnan(x) || x === Double.PositiveInfinity ||
        x === Double.NegativeInfinity)
    val zero = !isNull && !wrongDim && !nonFinite &&
      forall(v, x => x === 0.0f)
    df.agg(count(lit(1)).as("n"),
        sum(when(isNull, 1L).otherwise(0L)).as("n_null_vec"),
        sum(when(wrongDim, 1L).otherwise(0L)).as("n_wrong_dim"),
        sum(when(nonFinite, 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(zero, 1L).otherwise(0L)).as("n_zero_vec"))
      .withColumn("n_ok", expr(
        "n - n_null_vec - n_wrong_dim - n_nonfinite - n_zero_vec"))
  }

  /** Cast ARRAY<FLOAT> → ARRAY<DOUBLE> (exact widening). */
  def vecD(c: Column): Column = c.cast("array<double>")

  /** Sequential-fold dot product — native codegen'd expression (see
    * graft.functions.DotProduct; same left-to-right semantics as
    * aggregate(zip_with(...)) but ~25× faster on pair joins). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-norm vectors (all-zero embeddings — they happen in real corpora)
    * score 0 against everything instead of tripping ANSI DIVIDE_BY_ZERO;
    * the oracle twins never produce them, so parity is unaffected. */
  def cosine(a: Column, b: Column): Column = {
    val den = norm(a) * norm(b)
    when(den === 0.0, lit(0.0)).otherwise(dot(a, b) / den)
  }

  /** Brute-force cosine top-k of `queryVec` (a 1-row DataFrame with column
    * `qv`) over `df(vecCol)`; broadcast query, TakeOrderedAndProject plan.
    * Output: (idCol, cos) — rounded to 6 before ranking so order is
    * engine-independent; ties broken on id. */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
      queryVec: DataFrame, k: Int): DataFrame =
    df.crossJoin(broadcast(queryVec))
      .withColumn("cos", round(cosine(vecD(col(vecCol)), col("qv")), 6))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)

  /** Sign-bit bucket of the first `bits` dimensions — a coordinate-
    * hyperplane LSH family. Same-bucket vectors are ANN candidates. */
  def signBucket(vec: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(vec, i) >= 0.0, "1").otherwise("0")): _*)

  /** [NS] Multi-probe sign-bucket ANN (Lv et al. 2007's multi-probe
    * LSH, on the coordinate-hyperplane family): single-bucket probing
    * misses a true neighbor whenever ANY of the `bits` signs disagrees
    * — and the classic fixes both hurt at scale (more hash tables
    * multiply index memory; fewer bits blow candidate volume up).
    * Multi-probe buys the recall with QUERY-side work instead: each
    * query probes its own bucket PLUS the `bits` buckets at Hamming
    * distance 1, which for this family are exactly "the neighbor whose
    * i-th coordinate sign differs" — the perturbation sequence needs no
    * scoring because all 1-flips are equally likely under the family.
    *
    * Plan shape: the probe keys EXPLODE query-side ((bits+1) rows per
    * query) and equi-join the corpus bucket column — one shuffle, NO
    * extra corpus scan, no fan-out on the big side; a candidate is
    * found exactly once (its bucket matches exactly one probe key).
    * Exact rounded-cosine top-k (micro-units, id tie-break) over the
    * candidates. Output: (q_id, c_id, cos_um, rk), rk ≤ k.
    *
    * Scale: candidate volume is (bits+1)·n²/2^bits in expectation —
    * the single-probe volume times (bits+1), traded deliberately for
    * the recall q356 measures; the corpus side shuffles once on the
    * bucket key like every bucketed family here, and skewed buckets
    * split under AQE. */
  def multiProbeTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, bits: Int, k: Int,
      probeFlips: Int = -1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // probeFlips: how many 1-bit-flip probes to issue besides the own
    // bucket (0 = classic single-probe; default = all `bits` flips)
    val pf = if (probeFlips < 0) bits else probeFlips
    require(pf <= bits, s"probeFlips $pf > bits $bits")
    // bits = 0 degenerates to ONE bucket = exact brute force — the
    // recall audit's truth arm, sharing this exact arithmetic path
    def bkt(v: Column) = if (bits == 0) lit("") else signBucket(v, bits)
    val c = corpus.select(col(idCol).as("c_id"),
        vecD(col(vecCol)).as("cv"))
      .withColumn("bucket", bkt(col("cv")))
      .withColumn("nc", sqrt(dot(col("cv"), col("cv"))))
    val probes = queries.select(col(idCol).as("q_id"),
        vecD(col(vecCol)).as("qv"))
      .withColumn("_b0", bkt(col("qv")))
      .withColumn("nq", sqrt(dot(col("qv"), col("qv"))))
      .select(col("q_id"), col("qv"), col("nq"), explode(expr(
        s"transform(sequence(0, $pf), j -> CASE WHEN j = 0 THEN _b0 " +
          "ELSE concat(substring(_b0, 1, j - 1), " +
          "CASE WHEN substring(_b0, j, 1) = '1' THEN '0' ELSE '1' END, " +
          s"substring(_b0, j + 1, $bits)) END)")).as("bucket"))
    probes.join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("_c", when(col("nq") * col("nc") === 0.0, lit(0.0))
        .otherwise(dot(col("qv"), col("cv")) / (col("nq") * col("nc"))))
      .withColumn("cos_um", expr("CAST(round(_c * 1000000) AS BIGINT)"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos_um").desc, col("c_id").asc)))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("cos_um"),
        col("rk").cast("long").as("rk"))
  }

  /** LSH-bucketed similarity join: same-bucket pairs with cosine ≥
    * `minCos`. One shuffle on the bucket key; quadratic only within
    * buckets (2^bits-way partition of the pair space). */
  def lshSimilarityJoin(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, minCos: Double): DataFrame = {
    // norms computed once per row, not per pair (bit-identical hoisting)
    val e = df.select(col(idCol), vecD(col(vecCol)).as("v"))
      .withColumn("bucket", signBucket(col("v"), bits))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = e.select(col(idCol).as("vec_a"), col("v").as("va"),
      col("bucket"), col("nrm").as("na"))
    val b = e.select(col(idCol).as("vec_b"), col("v").as("vb"),
      col("bucket"), col("nrm").as("nb"))
    a.join(b, Seq("bucket")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        round(when(col("na") * col("nb") === 0.0, 0.0)
          .otherwise(dot(col("va"), col("vb")) / (col("na") * col("nb"))), 6))
      .filter(col("cos") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("bucket"), col("cos"))
  }

  /** D5 [NS] — embedding-cosine near-dup dedup: drop every vector that
    * has a same-LSH-bucket neighbor with cosine ≥ `minCos` and a SMALLER
    * id (the min-id convention every dedup family here shares: exact,
    * MinHash, SimHash). Survivors = corpus minus dropped.
    *
    * Scale: candidate pairs come from [[lshSimilarityJoin]] — one shuffle
    * on the bucket key, pairwise work only within buckets — and the drop
    * set is a distinct projection of the pair table anti-joined against
    * the corpus. No quadratic stage anywhere. No broadcast hint: the
    * drop set scales with the corpus' near-dup count (unbounded at
    * 100 TB), so AQE must pick the join side from runtime stats.
    */
  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, minCos: Double): DataFrame = {
    val dropped = lshSimilarityJoin(df, idCol, vecCol, bits, minCos)
      .select(col("vec_b").as("_drop")).distinct()
    df.join(dropped, col(idCol) === col("_drop"), "left_anti")
  }

  /** [NS] — margin-based bitext mining (the Artetxe & Schwenk 2019
    * ratio margin, the CCMatrix/WikiMatrix parallel-corpus miner): for
    * two embedding sides A and B (two languages in production; any two
    * disjoint slices here), score every same-LSH-bucket candidate pair
    * by margin(x,y) = cos(x,y) / ((avgK(x) + avgK(y)) / 2), where
    * avgK(x) is the mean cosine of x's k best candidates on the other
    * side — the normalization that demotes "hub" vectors which are
    * close to EVERYTHING — then keep pairs that are each other's
    * margin-argmax (mutual best) at margin ≥ `minMarginPpm`.
    *
    * Exactness: cosines are rounded once to integer micro-units
    * (`cos_um` = round(cos·10⁶) as BIGINT); the top-k means are
    * truncating integer divisions over the ranked window, and the
    * margin is 2·10⁶·cos_um div (avgA + avgB) — every derived number
    * is a BIGINT both engines agree on bit-for-bit. Ties in the top-k
    * window and in the mutual-argmax break on the partner id.
    *
    * Scale: candidates ride the sign-bucket equi-join (one shuffle;
    * pairwise work only within buckets — A×B never materializes), the
    * per-side averages and argmaxes are rank windows partitioned by
    * one side's id, and avgK is candidate-bounded — the documented
    * estimator convention (q279/q287): at 100 TB the bucket join is
    * swapped for the stored ANN index and the margin arithmetic is
    * unchanged. Output: (a_id, b_id, cos_um, nn_a_um, nn_b_um,
    * margin_ppm) for mutual-best pairs. */
  def marginMining(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int, minCosUm: Long,
      minMarginPpm: Long): DataFrame = {
    def side(df: DataFrame, id: String, v: String, n: String) =
      df.select(col(idCol).as(id), vecD(col(vecCol)).as(v))
        .withColumn("bucket", signBucket(col(v), bits))
        .withColumn(n, sqrt(dot(col(v), col(v))))
    val scored = side(a, "a_id", "va", "na")
      .join(side(b, "b_id", "vb", "nb"), Seq("bucket"))
      .withColumn("_c", when(col("na") * col("nb") === 0.0, lit(0.0))
        .otherwise(dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .withColumn("cos_um",
        expr("CAST(round(_c * 1000000) AS BIGINT)"))
      .filter(col("cos_um") >= minCosUm)
      .select(col("a_id"), col("b_id"), col("cos_um"))
      .localCheckpoint(true)
    marginTail(scored, k, minMarginPpm)
  }

  /** The margin arithmetic shared by [[marginMining]] (sign-bucket
    * candidates) and [[marginMiningServed]] (stored-index candidates):
    * from a deduplicated candidate table (a_id, b_id, cos_um), the
    * per-side top-`k` mean cosines, the ratio margin, and the
    * mutual-margin-best filter — identical numbers regardless of how
    * candidates were generated. `scored` must already be materialized
    * (it is read by four window branches). */
  private def marginTail(scored: DataFrame, k: Int,
      minMarginPpm: Long): DataFrame = {
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(col("cos_um").desc, col("b_id").asc)
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("cos_um").desc, col("a_id").asc)
    val avgA = scored.withColumn("_rk", row_number().over(wa))
      .filter(col("_rk") <= k).groupBy(col("a_id"))
      .agg(expr("sum(cos_um) div count(*)").as("nn_a_um"))
    val avgB = scored.withColumn("_rk", row_number().over(wb))
      .filter(col("_rk") <= k).groupBy(col("b_id"))
      .agg(expr("sum(cos_um) div count(*)").as("nn_b_um"))
    val margins = scored.join(avgA, Seq("a_id")).join(avgB, Seq("b_id"))
      .withColumn("margin_ppm", expr(
        "CASE WHEN nn_a_um + nn_b_um > 0 THEN " +
          "(2000000 * cos_um) div (nn_a_um + nn_b_um) END"))
      .filter(col("margin_ppm").isNotNull)
    val ma = Window.partitionBy(col("a_id"))
      .orderBy(col("margin_ppm").desc, col("b_id").asc)
    val mb = Window.partitionBy(col("b_id"))
      .orderBy(col("margin_ppm").desc, col("a_id").asc)
    margins
      .withColumn("_ra", row_number().over(ma))
      .withColumn("_rb", row_number().over(mb))
      .filter(col("_ra") === 1 && col("_rb") === 1 &&
        col("margin_ppm") >= minMarginPpm)
      .select(col("a_id"), col("b_id"), col("cos_um"),
        col("nn_a_um"), col("nn_b_um"), col("margin_ppm"))
  }

  /** [NS] — margin-based bitext mining SERVED from a stored coarse-cell
    * index: the scale-safe twin of [[marginMining]] — same Artetxe &
    * Schwenk ratio-margin arithmetic (shared [[marginTail]]), but the
    * candidate generator is the STORED IVF assignment under `dir`
    * ([[AnnIndex]] codes) instead of the in-query sign-bucket all-pairs
    * join: a pair (a, b) is a candidate iff both sides were assigned to
    * the same stored coarse cell. The serve plan reads the assignment
    * from parquet — zero Lloyd iterations, zero encode jobs — and the
    * float table is touched once per side for the candidate-bounded
    * exact cosines.
    *
    * Scale contract (the fix the q303 verdict filed): sign-bucket
    * candidates are ~|A|·|B|/2^bits — quadratic at any fixed bit
    * width (measured 10.1× at 10×). Here the CELL COUNT grows with
    * the corpus (the registered build seeds one centroid per 128
    * vectors), so expected candidate volume is Σ_cell |A_c|·|B_c| ≈
    * n·(cell size) — LINEAR at constant cell size, and the build that
    * pays for it is the fingerprinted train-once artifact, not the
    * serving plan. Skewed cells split under AQE like any equi-join. */
  def marginMiningServed(spark: SparkSession, dir: String,
      a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
      k: Int, minCosUm: Long, minMarginPpm: Long): DataFrame =
    marginTail(
      marginServedCandidates(spark, dir, a, b, idCol, vecCol, minCosUm)
        // four window branches read the candidates — materialize once
        .localCheckpoint(true),
      k, minMarginPpm)

  /** The candidate stage of [[marginMiningServed]], exposed
    * un-materialized so its plan can be pinned (the localCheckpoint in
    * the composed operator truncates lineage): stored-cell equi-join +
    * exact rounded cosines, nothing else. */
  def marginServedCandidates(spark: SparkSession, dir: String,
      a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
      minCosUm: Long): DataFrame = {
    // stored assignment: one (id, cell) row per vector (codes carry one
    // row per PQ subspace; sub = 0 picks each vector exactly once)
    val cells = spark.read.parquet(AnnIndex.codesPath(dir))
      .filter(col("sub") === 0)
      .select(col(idCol), col("centroid").cast("long").as("_cell"))
    def side(df: DataFrame, id: String, v: String, n: String) =
      df.select(col(idCol), vecD(col(vecCol)).as(v))
        .join(cells, Seq(idCol))
        .withColumn(n, sqrt(dot(col(v), col(v))))
        .withColumnRenamed(idCol, id)
    side(a, "a_id", "va", "na")
      .join(side(b, "b_id", "vb", "nb"), Seq("_cell"))
      .withColumn("_c", when(col("na") * col("nb") === 0.0, lit(0.0))
        .otherwise(dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .withColumn("cos_um",
        expr("CAST(round(_c * 1000000) AS BIGINT)"))
      .filter(col("cos_um") >= minCosUm)
      .select(col("a_id"), col("b_id"), col("cos_um"))
  }

  /** [NS] — binary quantization (sign-bit) encoding: each 64-dim
    * vector compresses to TWO 32-bit masks (bq_lo = dims 1–32,
    * bq_hi = dims 33–64; bit set iff the coordinate is ≥ 0) — 8 bytes
    * per vector, a 32× compression over float32. Hamming distance on
    * the masks (`bit_count(xor)`) approximates angular distance (it IS
    * SimHash with the identity hyperplanes), so serving is: Hamming
    * shortlist over the codes, exact re-rank of the survivors — the
    * third quantization tier beside int8 (q258) and PQ (q96), and the
    * cheapest: the whole corpus' codes fit where 3% of the floats did.
    * Two masks instead of one 64-bit value keeps every engine's
    * integer signed-ness out of the arithmetic. Encoding is one
    * codegen'd HOF fold per half; requires exactly 64 dims (same
    * geometry contract as PQ's m·subDim). */
  def binaryQuantize(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    def mask(off: Int) = expr(
      s"aggregate(sequence(0, 31), cast(0 as bigint), (acc, i) -> " +
        s"acc + CASE WHEN element_at(_v, i + $off + 1) >= 0D " +
        "THEN shiftleft(cast(1 as bigint), i) " +
        "ELSE cast(0 as bigint) END)")
    df.select(col(idCol), vecD(col(vecCol)).as("_v"))
      .withColumn("_sz", size(col("_v")))
      .withColumn("bq_lo", when(col("_sz") === 64, mask(0)))
      .withColumn("bq_hi", when(col("_sz") === 64, mask(32)))
      .filter(col("bq_lo").isNotNull && col("bq_hi").isNotNull)
      .select(col(idCol), col("bq_lo"), col("bq_hi"))
  }

  /** [NS] — hard-negative mining for contrastive training: for each
    * anchor (rows passing `anchorFilter`, a predicate over df's own
    * columns), the `k` most-similar SAME-LSH-BUCKET vectors carrying a
    * DIFFERENT label — the high-similarity wrong-class examples a
    * metric-learning pipeline pairs against its positives. Candidates
    * ride the sign-bucket equi-join (one shuffle; pairwise work only
    * within buckets — an anchor×corpus brute force never materializes),
    * and the per-anchor top-k is a rank window that plans as
    * WindowGroupLimit, so no anchor's candidate list is fully sorted.
    * Rounded cosine + neg-id tie-break keep the selection total-ordered
    * across engines and partitionings. Output: (anchor, neg, cos, rk). */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, bits: Int, k: Int,
      anchorFilter: Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // anchorFilter is applied to df BEFORE the projection so it may
    // reference ANY input column, as documented — filtering after the
    // three-column projection failed analysis for predicates over other
    // columns (round-5 ADVICE). Bucket/norm are recomputed on the anchor
    // side: per-row arithmetic, no extra exchange.
    def proj(d: DataFrame) =
      d.select(col(idCol), vecD(col(vecCol)).as("v"), col(labelCol))
        .withColumn("bucket", signBucket(col("v"), bits))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val e = proj(df)
    val a = proj(df.filter(anchorFilter)).select(col(idCol).as("anchor"),
      col("v").as("va"), col(labelCol).as("_la"), col("bucket"),
      col("nrm").as("na"))
    val b = e.select(col(idCol).as("neg"), col("v").as("vb"),
      col(labelCol).as("_lb"), col("bucket"), col("nrm").as("nb"))
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("cos").desc, col("neg").asc)
    a.join(b, Seq("bucket")).filter(col("_la") =!= col("_lb"))
      .withColumn("cos",
        round(when(col("na") * col("nb") === 0.0, 0.0)
          .otherwise(dot(col("va"), col("vb")) / (col("na") * col("nb"))), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("anchor"), col("neg"), col("cos"), col("rk"))
  }

  /** Collect a codebook-sized centroid table (c_id LONG, cv
    * ARRAY<DOUBLE>) with its norms — the norms are computed by the SAME
    * Spark expressions the join path used, so every double is
    * bit-identical — and return the rows sorted by c_id. Codebooks are
    * bounded-small by construction (PQ/IVF's entire point: 100 TB of
    * vectors share a few KB of codewords), so this is the audited
    * driver-known-size collect category, the way a serving process
    * holds its coarse quantizer in process memory (faiss-style). */
  private def collectCands(centroids: DataFrame): Array[(Long,
      Array[Double], Double)] =
    centroids
      .withColumn("ncv", sqrt(dot(col("cv"), col("cv"))))
      .select(col("c_id").cast("long"), vecD(col("cv")), col("ncv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
      .sortBy(_._1)

  /** Max-cosine assignment of `v` against inlined candidates: ONE
    * array_max over a transform of the candidate literal — struct
    * ordering (cos, −c_id) is exactly the old `max(struct(cos, neg_c))`
    * aggregate, so ties still break to the smaller c_id and every
    * double rides the same expression tree ([[cosine]]'s zero-norm → 0
    * and round-6 included). Returns struct(cos, neg_c). `nv` must be
    * the caller-hoisted ‖v‖ column. */
  private def bestCentroid(v: Column, nv: Column,
      cands: Array[(Long, Array[Double], Double)]): Column = {
    val candArr = array(cands.map { case (id, cv, ncv) =>
      struct(lit(id).as("c_id"), lit(cv).as("cv"), lit(ncv).as("ncv"))
    }.toIndexedSeq: _*)
    array_max(transform(candArr, c => {
      val den = nv * c.getField("ncv")
      struct(round(when(den === 0.0, lit(0.0))
          .otherwise(dot(v, c.getField("cv")) / den), 6).as("cos"),
        (-c.getField("c_id")).as("neg_c"))
    }))
  }

  /** IVF-style assignment: nearest (max-cosine) centroid per vector.
    * `centroids` = (c_id, cv ARRAY<DOUBLE>). Ties → smaller c_id.
    * Output: (idCol, centroid, cos), plus pass-through of the input
    * columns when `keepCols` (the composed searches filter the corpus
    * right after assignment — carrying the columns kills the join back
    * on idCol that used to re-shuffle the corpus).
    *
    * Plan shape (guide §2.4/§3): the candidate table inlines as ONE
    * array literal and assignment is a pure per-row map — no broadcast
    * join, no argmax exchange. The division tree (dot / (√a · √b),
    * zero-norm → 0) is unchanged, so the doubles stay bitwise identical
    * to [[cosine]] and every oracle. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, keepCols: Boolean = false): DataFrame = {
    val cands = collectCands(centroids)
    if (cands.isEmpty) {
      // empty centroid table assigns nothing (the old join produced an
      // empty frame); preserve that and the output schema
      val base = if (keepCols) df else df.select(col(idCol))
      return base
        .withColumn("centroid", lit(null).cast("long"))
        .withColumn("cos", lit(null).cast("double"))
        .filter(lit(false))
    }
    val v = vecD(col(vecCol))
    val withBest = df
      .withColumn("_nv", sqrt(dot(v, v)))
      .withColumn("_best", bestCentroid(v, col("_nv"), cands))
      .withColumn("centroid", -col("_best.neg_c"))
      .withColumn("cos", col("_best.cos"))
      .drop("_nv", "_best")
    if (keepCols) withBest
    else withBest.select(col(idCol), col("centroid"), col("cos"))
  }

  /** Lloyd's k-means over an embedding column, Spark-first: per iteration
    * one broadcast of the k×d centroid table (assignment = broadcast
    * cross-join + argmax, [[ivfAssign]]) and ONE shuffle (the per-
    * (centroid, dim) mean) — the classic MLlib shape, no driver-side loop
    * over data. Returns the final centroid table (c_id, cv).
    *
    * Determinism contract (oracle-matchable): init = the k min-id vectors;
    * the mean is computed over 1e6-scaled integer components
    * (sum exact in any order, then two IEEE divisions) so centroids are
    * bit-identical across engines and partitionings; assignment rounds
    * cosine to 6 with min-id tie-break. Empty clusters drop out (both
    * engines agree). Centroids localCheckpoint per iteration: k rows, and
    * the plan would otherwise nest `iters` deep. */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, init: Option[DataFrame] = None): DataFrame = {
    val spark = df.sparkSession
    // persist, not localCheckpoint: the vector corpus is re-read every
    // iteration but persist keeps the lineage (executor loss = recompute,
    // not job failure) and the blocks are released in `finally`
    val e = df.select(col(idCol), vecD(col(vecCol)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def localCents(rows: Array[(Long, Array[Double])]): DataFrame =
      spark.createDataFrame(rows.toIndexedSeq
          .map { case (id, cv) => (id, cv.toSeq) })
        .toDF("c_id", "cv")
    try {
      // `init` (c_id, cv) overrides the min-id seed set: when ids
      // correlate with content (sharded / time-ordered corpora, e.g. the
      // scale10 fixture) the k smallest ids all land in one region and
      // the coarse quantizer never recovers — a stratified seed (see
      // [[stratifiedSeeds]]) is the deployment-side fix. The DEFAULT stays
      // min-id: it is the deterministic contract the q69/q98 oracles
      // replay in SQL.
      //
      // The k×d centroid table lives on the DRIVER between rounds (the
      // audited codebook-sized collect; MLlib holds it the same way) and
      // inlines into each round's assignment expression, so one Lloyd
      // round = ONE map + aggregate job with a single exchange — the
      // old shape paid a broadcast join, an argmax exchange, a join
      // back on idCol, and TWO mean exchanges per round (guide §2.4).
      var cents: Array[(Long, Array[Double])] = init.getOrElse(
          e.orderBy(col(idCol)).limit(k)
            .select(col(idCol).as("c_id"), col("v").as("cv")))
        .select(col("c_id").cast("long"), vecD(col("cv")))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      for (_ <- 1 to iters if cents.nonEmpty) {
        val d = cents.head._2.length
        // norms via the same Spark expression tree as the old broadcast
        // path (bit parity): hoist ‖v‖ per row, assign, then the exact
        // scaled-integer mean — per-dimension long sums + one count in
        // ONE aggregation (the old two-level groupBy computed the same
        // per-(centroid, dim) sum/count pair and then re-shuffled to
        // assemble the array; the per-dim arithmetic here is identical:
        // sum(round(x·10⁶) as long) cast double / count / 10⁶)
        // ncv replicated in driver code as EXACTLY sqrt(dot(cv, cv)):
        // same left-to-right fold from 0.0 as the native DotProduct
        // kernel, so the inlined norm is bit-identical to the old
        // broadcast column
        def ncvOf(cv: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
          math.sqrt(s)
        }
        val withNorm = e.withColumn("_nv", sqrt(dot(col("v"), col("v"))))
        val assigned = withNorm.withColumn("_best",
            bestCentroid(col("v"), col("_nv"),
              cents.map { case (id, cv) => (id, cv, ncvOf(cv)) }))
          .select((-col("_best.neg_c")).as("centroid"), col("v"))
        val sums = (0 until d).map(i =>
          sum(expr(s"CAST(round(v[$i] * 1e6) AS BIGINT)")).as(s"_s$i"))
        val agg = assigned.groupBy(col("centroid"))
          .agg(count(lit(1)).as("_cnt"), sums: _*)
          .select(col("centroid") +: col("_cnt") +:
            (0 until d).map(i => col(s"_s$i")): _*)
          .collect()
        cents = agg.map { r =>
          val cnt = r.getLong(1)
          (r.getLong(0),
            Array.tabulate(d)(i => r.getLong(i + 2).toDouble / cnt / 1e6))
        }.sortBy(_._1)
      }
      localCents(cents)
    } finally e.unpersist(blocking = false)
  }

  /** Deterministic stratified seed set for [[kmeans]]'s `init`: rank the
    * corpus by id, cut into k equal-frequency tiles, take each tile's
    * min-id vector — k seeds spread across the id range instead of the k
    * smallest ids. Only the ID column passes through the global ntile
    * sort (narrow rows; at true corpus scale swap the exact ntile for a
    * deterministic hash-bucket stratum — same spread, no global sort);
    * the k wide seed vectors come back via one broadcast semi-join. */
  def stratifiedSeeds(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(idCol))
    val seedIds = df.select(col(idCol))
      .withColumn("t", ntile(k).over(w))
      .groupBy(col("t")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(broadcast(seedIds), Seq(idCol))
      .select(col(idCol).as("c_id"), vecD(col(vecCol)).as("cv"))
  }

  /** [NS] — diversity coreset by farthest-point traversal (Gonzalez
    * 1985; the k-center 2-approximation): seed with the min-id vector,
    * then k−1 times select the point FARTHEST from its nearest selected
    * center. The selected set covers the corpus at radius ≤ 2·OPT — the
    * standard diverse-subset picker for labeling/eval budgets, and the
    * classic k-means++-style spread seeding made deterministic.
    *
    * Determinism contract: distances are EXACT integer L2 on 1e6-scaled
    * components (long arithmetic end-to-end — no float argmax
    * ambiguity), ties break by id, so the trajectory is identical across
    * partitionings and engines and the oracle can unroll the rounds as
    * CTEs.
    *
    * Scale shape: each round is one broadcast of the new 1-row center +
    * a per-row `least(md, d²)` update + a max-argmax
    * (TakeOrderedAndProject) over the persisted scaled corpus — no
    * shuffle at all; k bounded-small (a labeling budget, not a
    * clustering k). The min-distance state is NOT checkpointed: the
    * chain of k broadcasts stays one narrow plan over the cached scan,
    * trading O(k²·n) trivial re-arithmetic for zero corpus-size
    * materializations. Output: (c_id, sel_order, d2_sel) — d2_sel is the
    * selection-time distance, a monotone non-increasing sequence whose
    * last value bounds the coverage radius. */
  def kCenterCoreset(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"coreset size must be positive, got $k")
    val e = df.select(col(idCol).as("id"),
        transform(vecD(col(vecCol)),
          x => round(x * 1e6).cast("long")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    try {
      val seed = e.orderBy(col("id")).limit(1)
        .select(col("id").as("c_id"), col("v").as("cv"))
        .localCheckpoint(true)
      var out = seed.select(col("c_id"), lit(1).as("sel_order"),
        lit(0L).as("d2_sel"))
      var state = e.crossJoin(broadcast(seed.select(col("cv"))))
        .select(col("id"), col("v"), d2(col("v"), col("cv")).as("md"))
      for (r <- 2 to k) {
        val next = state.orderBy(col("md").desc, col("id")).limit(1)
          .select(col("id").as("c_id"), col("v").as("cv"),
            col("md").as("d2_sel"))
          .localCheckpoint(true) // 1 row; truncates the round's lineage
        out = out.unionByName(
          next.select(col("c_id"), lit(r).as("sel_order"), col("d2_sel")))
        state = state.crossJoin(broadcast(next.select(col("cv"))))
          .select(col("id"), col("v"),
            least(col("md"), d2(col("v"), col("cv"))).as("md"))
      }
      out.orderBy(col("sel_order"))
    } finally e.unpersist(blocking = false)
  }

  /** [NS] — MMR diversified re-ranking (Maximal Marginal Relevance;
    * Carbonell & Goldstein, SIGIR'98): greedily select k results
    * maximizing `λ·relevance − (1−λ)·max-similarity-to-already-selected`
    * — the standard retrieval de-redundancy pass that turns "ten copies
    * of the best hit" into a diverse answer set. Runs on a SHORTLIST
    * (candidates of an ANN/BM25 stage — MMR is always post-retrieval;
    * its cost is k·|shortlist| similarity evaluations, never
    * corpus-sized).
    *
    * Determinism contract: relevance and pairwise similarity are the
    * codebase's round(cos,6)·10⁶ integers; the selection score is
    * `lambdaPct·rel − (100−lambdaPct)·maxsim` (exact longs), ties break
    * by id; the seed is the relevance argmax with maxsim = 0. The
    * trajectory is identical across engines, so an unrolled-CTE oracle
    * certifies it.
    *
    * Shape: the kCenter chain ([[kCenterCoreset]]) with max-sim state
    * instead of min-distance — per round one 1-row broadcast + per-row
    * `greatest(maxsim, sim)` + TakeOrderedAndProject; zero shuffles.
    * `cands` must carry (idCol, vecCol ARRAY<DOUBLE>, relCol long i6). */
  def mmrRerank(cands: DataFrame, idCol: String, vecCol: String,
      relCol: String, k: Int, lambdaPct: Int = 50): DataFrame = {
    require(k > 0 && lambdaPct >= 0 && lambdaPct <= 100,
      s"bad k=$k / lambdaPct=$lambdaPct")
    val simI6 = (a: Column, b: Column) =>
      round(round(cosine(a, b), 6) * 1e6).cast("long")
    def score(rel: Column, ms: Column): Column =
      lit(lambdaPct.toLong) * rel - lit((100 - lambdaPct).toLong) * ms
    val e = cands.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(relCol).cast("long").as("rel"))
    val seed = e.orderBy(col("rel").desc, col("id")).limit(1)
      .select(col("id").as("c_id"), col("v").as("cv"), col("rel"))
      .localCheckpoint(true)
    var out = seed.select(col("c_id"), lit(1).as("sel_order"),
      score(col("rel"), lit(0L)).as("mmr100"))
    var state = e.join(broadcast(seed.select(col("c_id"))),
        col("id") === col("c_id"), "left_anti")
      .crossJoin(broadcast(seed.select(col("cv"))))
      .select(col("id"), col("v"), col("rel"),
        simI6(col("v"), col("cv")).as("ms"))
    for (r <- 2 to k) {
      val next = state
        .orderBy(score(col("rel"), col("ms")).desc, col("id"))
        .limit(1)
        .select(col("id").as("c_id"), col("v").as("cv"),
          score(col("rel"), col("ms")).as("mmr100"))
        .localCheckpoint(true) // 1 row; truncates the round's lineage
      out = out.unionByName(
        next.select(col("c_id"), lit(r).as("sel_order"), col("mmr100")))
      state = state
        .join(broadcast(next.select(col("c_id"))),
          col("id") === col("c_id"), "left_anti")
        .crossJoin(broadcast(next.select(col("cv"))))
        .select(col("id"), col("v"), col("rel"),
          greatest(col("ms"), simI6(col("v"), col("cv"))).as("ms"))
    }
    out.orderBy(col("sel_order"))
  }

  /** D5 [NS] — SEMANTIC dedup (SemDedup; Abbas et al. 2023, public
    * technique): k-means-cluster the embedding space, then near-dup only
    * WITHIN clusters — same-cluster pairs with cosine ≥ `minCos` drop
    * the larger id (the shared min-id-survivor convention). Versus
    * [[embeddingDedup]]'s hyperplane LSH buckets: clusters adapt to the
    * corpus's actual density (random sign-bit cuts don't), and the pair
    * space is partitioned by the same index the corpus already maintains
    * for IVF search, so dedup and ANN share one clustering.
    *
    * Scale: k-means is broadcast + one shuffle per iteration; the pair
    * stage is an equi-join on the centroid key — quadratic only within a
    * cluster, bounded by raising k with corpus size (k ∝ √N keeps
    * per-cluster work flat). Survivors = anti-join; no broadcast hint on
    * the drop set (unbounded at scale — AQE picks the side). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, minCos: Double): DataFrame = {
    val cents = kmeans(df, idCol, vecCol, k, iters)
    // both sides of the centroid self-join read this; pin it once with
    // persist (lineage kept — recoverable on executor loss, unlike a
    // localCheckpoint of the full vector corpus) and release it in
    // `finally` after the SMALL drop set (ids only) is eagerly
    // materialized — the crossCorpusLeakage pattern. Assignment is a
    // per-row map now (ivfAssign keepCols) — no join back on idCol.
    val e = ivfAssign(
        df.select(col(idCol), vecD(col(vecCol)).as("v")),
        idCol, "v", cents, keepCols = true)
      .drop("cos")
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val a = e.select(col(idCol).as("_ia"), col("v").as("va"),
        col("centroid"), col("nrm").as("na"))
      val b = e.select(col(idCol).as("_ib"), col("v").as("vb"),
        col("centroid"), col("nrm").as("nb"))
      val dropped = a.join(b, Seq("centroid"))
        .filter(col("_ia") < col("_ib"))
        .withColumn("cos",
          round(when(col("na") * col("nb") === 0.0, 0.0)
            .otherwise(dot(col("va"), col("vb")) / (col("na") * col("nb"))), 6))
        .filter(col("cos") >= minCos)
        .select(col("_ib").as("_drop")).distinct()
        .localCheckpoint(true)
      df.join(dropped, col(idCol) === col("_drop"), "left_anti")
    } finally e.unpersist(blocking = false)
  }

  /** Squared L2 distance rounded to 6 — the PQ quantization metric, in
    * the same deterministic cross-engine form as [[cosine]]: three
    * sequential-fold dots combined in fixed expression order, so Spark
    * and the DuckDB oracle produce identical doubles. */
  def l2sq(a: Column, b: Column): Column =
    round(dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b), 6)

  /** [[l2sq]] with the self-dots HOISTED: ‖a‖² is constant per input row
    * and ‖b‖² per codeword, so a candidate join that scores k codewords
    * per row pays k cross-term dots instead of 3k — same expression tree
    * shape (sum then subtract, then one round), bitwise-identical
    * doubles. */
  private def l2sqHoisted(a2: Column, b2: Column, a: Column,
      b: Column): Column =
    round(a2 + b2 - lit(2.0) * dot(a, b), 6)

  /** `vec`, verified at RUNTIME to have exactly m·subDim elements: a
    * mis-sized vector RAISES instead of being silently quantized over
    * short/empty slices (slice past the array end yields truncated
    * subspaces — exactly the failure the pqTrain require message warns
    * about but cannot see at plan time, since the dimension lives in the
    * data, not the schema). O(1) per row (array length compare). */
  private def dimChecked(vec: Column, m: Int, subDim: Int): Column =
    when(size(vec) === m * subDim, vec).otherwise(raise_error(
      concat(lit("PQ: vector dimension "), size(vec).cast("string"),
        lit(s" != m*subDim = ${m * subDim}"))))

  /** Product-quantization codebooks: the vector splits into `m`
    * subspaces of `subDim` dims; each subspace gets its own `ksub`-word
    * codebook trained by Lloyd's k-means under L2 (min-id init,
    * 1e6-scaled exact integer means, rounded distances, min-id
    * tie-break, empty clusters drop — [[kmeans]]'s determinism contract
    * with the quantizer's metric, ||x − c||²). Output: (sub, c_id, cv) —
    * m·ksub rows, broadcast-size by construction (PQ's entire point:
    * 100 TB of vectors share a few KB of codewords).
    *
    * ALL m subspaces train in the SAME jobs: one posexplode makes the
    * (id, sub, sv) table once, and every Lloyd round is one broadcast of
    * all codebooks + one argmin exchange + one mean aggregation, with
    * `sub` simply riding the grouping keys. The per-subspace driver loop
    * this replaces paid m·iters sequential mini-jobs — pure scheduling
    * overhead (16× subspaces meant ~16× wall time, not 16× data). */
  /** Per-subspace codebook rows as a driver array indexed by sub:
    * (c_id, cv, cv2[, tdot]) sorted by c_id within each sub. cv2 (and
    * the optional distance-table entry) are computed by the SAME Spark
    * expressions the broadcast-join path used before collection, so
    * every double/long is bit-identical. Codebook-sized (m·ksub rows)
    * — the audited driver-known collect category. */
  private def collectSubCands(codebooks: DataFrame, m: Int,
      extra: Option[Column] = None): Array[Array[(Long, Array[Double],
      Double, Long)]] = {
    val base = codebooks
      .withColumn("cv2", dot(col("cv"), col("cv")))
      .withColumn("_x", extra.getOrElse(lit(0L)))
      .select(col("sub").cast("int"), col("c_id").cast("long"),
        vecD(col("cv")), col("cv2"), col("_x"))
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Double](2).toArray,
        r.getDouble(3), r.getLong(4))))
    Array.tabulate(m)(s =>
      base.filter(_._1 == s).map(_._2).sortBy(_._1))
  }

  /** L2 argmin of a subspace slice against its sub's inlined codewords:
    * element_at picks the sub's candidate array out of ONE nested
    * literal, and array_min over struct(d2, c_id[, tdot]) is exactly
    * the old `min(struct(...))` aggregate — same [[l2sqHoisted]]
    * distance tree, same smaller-c_id tie-break — as a pure per-row
    * map: no broadcast join, no argmin exchange (guide §2.4). */
  private def bestCodeword(sv: Column, sv2: Column, sub: Column,
      subCands: Array[Array[(Long, Array[Double], Double, Long)]],
      withTdot: Boolean): Column = {
    val nested = array(subCands.map { cands =>
      array(cands.map { case (id, cv, cv2, td) =>
        val fields = Seq(lit(id).as("c_id"), lit(cv).as("cv"),
          lit(cv2).as("cv2")) ++
          (if (withTdot) Seq(lit(td).as("tdot")) else Nil)
        struct(fields: _*)
      }.toIndexedSeq: _*)
    }.toIndexedSeq: _*)
    array_min(transform(element_at(nested, sub + lit(1)), c => {
      val d2 = l2sqHoisted(sv2, c.getField("cv2"), sv, c.getField("cv"))
      val fields = Seq(d2.as("d2"), c.getField("c_id").as("c_id")) ++
        (if (withTdot) Seq(c.getField("tdot").as("tdot")) else Nil)
      struct(fields: _*)
    }))
  }

  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int,
      subDim: Int, ksub: Int, iters: Int): DataFrame = {
    require(m > 0 && subDim > 0 && ksub > 0 && iters >= 0,
      s"pqTrain: m=$m subDim=$subDim ksub=$ksub iters=$iters " +
        "(m·subDim must equal the vector dimension; a short final slice " +
        "silently quantizes a truncated subspace)")
    val spark = df.sparkSession
    // self-dots hoisted: ‖sv‖² once per (row, sub); checkpoint measured
    // faster than persist here (see git history). The m·ksub codebook
    // lives on the DRIVER between rounds and inlines into each round's
    // argmin expression, so one Lloyd round = ONE map + aggregate job
    // with a single exchange — the old shape paid a broadcast join, an
    // argmin exchange and TWO mean exchanges per round (guide §2.4).
    val subs = df.select(col(idCol), posexplode(array((0 until m).map(s =>
        slice(dimChecked(vecD(col(vecCol)), m, subDim),
          s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "sv")))
      .withColumn("sv2", dot(col("sv"), col("sv")))
      .localCheckpoint()
    try {
      val initIds = df.select(col(idCol)).orderBy(col(idCol)).limit(ksub)
      // (sub, c_id, cv) rows on the driver; cv2 recomputed per round by
      // the same Spark `dot` used before (bit parity)
      var cents: Array[(Int, Long, Array[Double])] =
        subs.join(broadcast(initIds), Seq(idCol))
          .select(col("sub").cast("int"), col(idCol).cast("long"),
            col("sv"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      def centsDf(rows: Array[(Int, Long, Array[Double])]): DataFrame =
        spark.createDataFrame(rows.toIndexedSeq
            .map { case (s, id, cv) => (s, id, cv.toSeq) })
          .toDF("sub", "c_id", "cv")
      for (_ <- 1 to iters) {
        val subCands = collectSubCands(centsDf(cents), m)
        val assigned = subs.withColumn("_best",
            bestCodeword(col("sv"), col("sv2"), col("sub"), subCands,
              withTdot = false))
          .select(col("sub"), col("_best.c_id").as("centroid"), col("sv"))
        // exact scaled-integer mean, per-dimension long sums + one count
        // in ONE aggregation — per-dim arithmetic identical to the old
        // two-level groupBy: sum(round(x·10⁶) as long) cast double /
        // count / 10⁶
        val sums = (0 until subDim).map(i =>
          sum(expr(s"CAST(round(sv[$i] * 1e6) AS BIGINT)")).as(s"_s$i"))
        val agg = assigned.groupBy(col("sub"), col("centroid"))
          .agg(count(lit(1)).as("_cnt"), sums: _*)
          .select(col("sub") +: col("centroid") +: col("_cnt") +:
            (0 until subDim).map(i => col(s"_s$i")): _*)
          .collect()
        cents = agg.map { r =>
          val cnt = r.getLong(2)
          (r.getInt(0), r.getLong(1),
            Array.tabulate(subDim)(i =>
              r.getLong(i + 3).toDouble / cnt / 1e6))
        }
      }
      centsDf(cents)
    } finally subs.unpersist(blocking = false)
  }

  /** PQ encoding: each vector → m small codes, the L2-nearest codeword
    * per subspace. Output: (idCol, sub, code, d2) — the inverted-file
    * payload at scale is the codes (m bytes/vector), never the floats.
    * One broadcast join + one combining exchange on (idCol, sub). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, subDim: Int): DataFrame = {
    // codebook inlined (collectSubCands) → encoding is a pure per-row
    // map: zero joins, zero exchanges — at scale the encode pass is a
    // single map over the corpus, the faiss posture (guide §2.4)
    val subCands = collectSubCands(codebooks, m)
    df.select(col(idCol), posexplode(array((0 until m).map(s =>
        slice(dimChecked(vecD(col(vecCol)), m, subDim),
          s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "sv")))
      .withColumn("sv2", dot(col("sv"), col("sv")))
      .withColumn("_best", bestCodeword(col("sv"), col("sv2"), col("sub"),
        subCands, withTdot = false))
      .select(col(idCol), col("sub"), col("_best.c_id").as("code"),
        col("_best.d2").as("d2"))
  }

  /** PQ asymmetric top-k search — the 100 TB embedding-search path:
    * score(q, x) ≈ Σ_s ⟨q_s, codeword(x, s)⟩ read from an m×ksub
    * distance TABLE (one dot per codeword against the query — m·ksub
    * dots total, NOT per row), then an exact cosine re-rank of the
    * `shortlist` best approximate scores.
    *
    * Determinism: table entries are the rounded dots scaled to 1e6
    * longs, so the per-row approximate score is an exact integer sum —
    * no float-order sensitivity between engines or partitionings.
    *
    * Plan shape (the part that must survive 100×): codebooks+table ride
    * ONE broadcast; the corpus pays a single combining exchange on
    * idCol (per-subspace argmins fold map-side into one row per vector
    * via m conditional-min columns); the shortlist is a
    * TakeOrderedAndProject of (ascore, id) pairs, and only `shortlist`
    * vectors are ever re-ranked with true float math. `queryVec` =
    * 1 row (q_id, qv); the query point is excluded. Output: all
    * non-vector df columns + approx + cos, top-k total-ordered. */
  def pqSearch(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, queryVec: DataFrame, m: Int, subDim: Int,
      shortlist: Int, k: Int): DataFrame = {
    // distance table joined onto the codebook rows (same expressions as
    // ever — slice/round/scale all inside Spark for bit parity), then
    // collected: m·ksub rows + the 1-row query — the audited
    // driver-known collect category. The table inlines into a per-row
    // argmin map, so the corpus pays ONE combining exchange on idCol
    // (sum of the m chosen table entries) and nothing else; the
    // shortlist stays a TakeOrderedAndProject and floats still touch
    // only the re-rank (guide §2.4/§3).
    val cbd = codebooks.crossJoin(queryVec)
      .withColumn("qs", slice(col("qv"), col("sub") * subDim + 1,
        lit(subDim)))
      .withColumn("tdot", round(round(dot(col("qs"), col("cv")), 6) * 1e6)
        .cast("long"))
      .select(col("sub"), col("c_id"), col("cv"), col("tdot"))
    val subCands = collectSubCands(cbd, m, extra = Some(col("tdot")))
    val qRow = queryVec.select(col("q_id").cast("long"),
      vecD(col("qv"))).collect()(0)
    val (qId, qv) = (qRow.getLong(0), qRow.getSeq[Double](1).toArray)
    val subs = df.select(col(idCol), posexplode(array((0 until m).map(s =>
        slice(dimChecked(vecD(col(vecCol)), m, subDim),
          s * subDim + 1, subDim)): _*))
        .as(Seq("sub", "sv")))
      .withColumn("sv2", dot(col("sv"), col("sv")))
    val scored = subs
      .withColumn("_best", bestCodeword(col("sv"), col("sv2"), col("sub"),
        subCands, withTdot = true))
      .groupBy(col(idCol))
      .agg(sum(col("_best.tdot")).as("ascore"))
    val short = scored
      .filter(col(idCol) =!= lit(qId))
      .select(col(idCol), col("ascore"))
      .orderBy(col("ascore").desc, col(idCol).asc)
      .limit(shortlist)
    val passThrough = df.columns.filterNot(_ == vecCol).map(col(_))
    df.join(broadcast(short), Seq(idCol))
      .withColumn("approx", col("ascore").cast("double") / 1e6)
      .withColumn("cos", round(cosine(vecD(col(vecCol)), lit(qv)), 6))
      .select((passThrough ++ Seq(col("approx"), col("cos"))).toIndexedSeq: _*)
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** IVF × PQ composition — the standard ANN serving layout at 100 TB:
    * [[ivfTopK]]'s list pruning bounds WHICH vectors are scored (only
    * the `nProbe` clusters nearest the query) and [[pqSearch]]'s
    * asymmetric distance table bounds HOW each one is scored (integer
    * table lookups; float math only on the shortlist re-rank). Flat PQ
    * scans every vector's codes — fine per-probe, wrong corpus-wide;
    * plain IVF ranks the probed lists with full-precision floats —
    * fine at toy scale, unaffordable when one list is a billion
    * vectors. Composed: the corpus is restricted to the probed lists
    * BEFORE the subspace explode and distance-table join, so PQ work
    * (and, on an IVF-partitioned layout, the scan itself — see
    * BucketingSpec's partition-pruning gate) is ~nProbe/nlist of the
    * corpus.
    *
    * Everything small rides broadcasts: centroids (via [[ivfAssign]]),
    * the probed-list ids, the codebooks + distance table, the
    * shortlist. The corpus pays the assignment exchange plus
    * [[pqSearch]]'s one combining exchange on the PROBED SUBSET only.
    * Training stays global ([[pqTrain]] on the full corpus — codebooks
    * must not depend on the query); per-vector codes are
    * query-independent, so restricting before encoding changes nothing
    * but the work. `queryVec` = 1 row (q_id, qv); output: all
    * non-vector df columns + approx + cos, top-k total-ordered. */
  def ivfPqSearch(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, codebooks: DataFrame, queryVec: DataFrame,
      m: Int, subDim: Int, nProbe: Int, shortlist: Int,
      k: Int): DataFrame = {
    val probed = centroids.crossJoin(broadcast(queryVec))
      .withColumn("qc", round(cosine(col("cv"), col("qv")), 6))
      .orderBy(col("qc").desc, col("c_id").asc)
      .limit(nProbe)
      .select(col("c_id"))
    // assignment is a per-row map now (keepCols) — the old join back on
    // idCol re-shuffled the corpus for nothing (guide §2.4)
    val probedCorpus = ivfAssign(df, idCol, vecCol, centroids,
        keepCols = true)
      .join(broadcast(probed), col("centroid") === col("c_id"), "left_semi")
      .drop("centroid", "cos")
    pqSearch(probedCorpus, idCol, vecCol, codebooks, queryVec,
      m, subDim, shortlist, k)
  }

  /** [NS] — int8 scalar quantization of an embedding column, the 4×
    * memory cut every 100 TB vector store takes before PQ even enters:
    * per-DIMENSION symmetric absmax scaling (the faiss/ONNX convention),
    * code = round(127·x / absmax_d) ∈ [−127, 127]. Output is the
    * per-element relation (idCol, dim, q, x_ppm, s_ppm, err_ppm):
    * `dim` 1-based, `q` the int8 code, `x_ppm`/`s_ppm` the input and
    * scale in exact 1e-6 fixed point, `err_ppm` the reconstruction
    * error x_ppm − sign(q)·((|q|·s_ppm) div 127) — ALL integers, so
    * quantization quality is auditable exactly across engines (the
    * division is kept on non-negative operands because floor- vs
    * truncate-toward-zero semantics differ between engines on negatives).
    *
    * Scale: one posexplode to (id, dim, x); the d-row scale table is an
    * aggregate → broadcast back; everything else is per-row arithmetic.
    * Zero-variance dims (absmax = 0) quantize to 0 with scale 0 instead
    * of dividing by zero. Packing codes back to ARRAY<TINYINT> per id is
    * one sort_array(collect_list(...)) away and intentionally NOT done
    * here — the relational form feeds both the audit aggregate (q125)
    * and a columnar writer. */
  def int8Quantize(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val e = df.select(col(idCol),
      posexplode(vecD(col(vecCol))).as(Seq("_i", "x")))
      .select(col(idCol), (col("_i") + 1).cast("long").as("dim"), col("x"))
    val scales = e.groupBy(col("dim")).agg(max(abs(col("x"))).as("amax"))
    e.join(broadcast(scales), Seq("dim"))
      .withColumn("q", when(col("amax") === 0.0, lit(0L))
        .otherwise(round(lit(127) * col("x") / col("amax")).cast("long")))
      .withColumn("x_ppm", round(col("x") * 1e6).cast("long"))
      .withColumn("s_ppm", round(col("amax") * 1e6).cast("long"))
      .withColumn("err_ppm", col("x_ppm") -
        signum(col("q")).cast("long") *
          expr("(abs(q) * s_ppm) div 127"))
      .select(col(idCol), col("dim"), col("q"), col("x_ppm"),
        col("s_ppm"), col("err_ppm"))
  }

  /** IVF top-k search — the ANN scale path over [[cosineTopK]]: assign
    * every vector to its nearest centroid (the index), pick the `nProbe`
    * centroids nearest the query, and rank exactly ONLY inside the probed
    * clusters. With nlist centroids the exact-dot work drops to
    * ~nProbe/nlist of brute force; centroids and query stay broadcast, so
    * the only shuffle is the assignment groupBy. `queryVec` = 1 row
    * (q_id, qv ARRAY<DOUBLE>); the query point itself is excluded.
    * Output: all non-vector df columns + cos, top-k total-ordered. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryVec: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    val probed = centroids.crossJoin(broadcast(queryVec))
      .withColumn("qc", round(cosine(col("cv"), col("qv")), 6))
      .orderBy(col("qc").desc, col("c_id").asc)
      .limit(nProbe)
      .select(col("c_id"))
    val passThrough = df.columns.filterNot(_ == vecCol).map(col(_))
    // assignment is a per-row map now (keepCols) — no join back on idCol
    ivfAssign(df, idCol, vecCol, centroids, keepCols = true)
      .drop("cos")
      .join(broadcast(probed), col("centroid") === col("c_id"), "left_semi")
      .crossJoin(broadcast(queryVec))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos", round(cosine(vecD(col(vecCol)), col("qv")), 6))
      .select((passThrough :+ col("cos")).toIndexedSeq: _*)
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** [NS] Johnson–Lindenstrauss random projection to `outDims` dimensions
    * with a DETERMINISTIC ±1 sign matrix (Achlioptas 2003: Rademacher
    * entries preserve pairwise distances in expectation like Gaussian
    * ones) — the cheap front-end that lets every downstream pairwise
    * stage (LSH, SemDedup, clustering) run on short vectors.
    *
    * Exactness: inputs quantize to scaled integers (round(x·10^6), the
    * q125 convention), the sign for matrix cell (i, j) comes from a
    * fixed LCG — `((1103515245·(i·outDims + j) + 12345) mod 2^31) div
    * 2^16 mod 2` on the HIGH bits (low LCG bits alternate degenerately)
    * — and each projected coordinate is an exact integer sum. Both the
    * signs and the sums replay bit-identically in any engine.
    *
    * Per-row only: signs are computed inline from (i, j), so there is no
    * projection-matrix join, no shuffle, nothing broadcast — at 100 TB
    * this is a map-only pass. Output: (idCol, j, y) with j in
    * [0, outDims) and y the scaled-integer projection. */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int, scale: Long = 1000000L): DataFrame = {
    require(outDims >= 1, s"outDims must be >= 1, got $outDims")
    df.select(col(idCol),
        expr(s"""transform(sequence(0, ${outDims - 1}), j ->
          aggregate(
            zip_with($vecCol, sequence(0, size($vecCol) - 1),
              (x, i) -> IF(((CAST(1103515245 AS BIGINT)
                              * (i * $outDims + j) + 12345)
                              % 2147483648) div 65536 % 2 = 0,
                CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT),
                -CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT))),
            CAST(0 AS BIGINT), (acc, v) -> acc + v))""").as("_y"))
      .select(col(idCol), posexplode(col("_y")).as(Seq("j", "y")))
      .select(col(idCol), col("j").cast("long").as("j"), col("y"))
  }

  /** Dominant embedding direction by exact-integer power iteration —
    * the first principal direction of the (uncentered) corpus Gram
    * matrix, the primitive behind all-but-the-top embedding debiasing
    * (Mu & Viswanath 2018: frequent-token energy concentrates in a few
    * top directions; removing them improves similarity tasks) and
    * embedding-drift monitoring (the top direction moving between
    * snapshots is an encoder-regression alarm).
    *
    * v_{t+1} = L1-normalize(Xᵀ(X v_t)) without ever materializing the
    * d×d covariance: per iteration ONE broadcast-join dot pass
    * (y_i = Σ_j e_ij v_j, map-side against the ≤d-row broadcast v),
    * one groupBy(id), one e⋈y join + groupBy(dim) — the classic
    * two-matvec factorization, all exchanges bounded by rows×dims.
    * Arithmetic is exact end-to-end so a DuckDB oracle replays it
    * bit-for-bit: embeddings quantize to integer milliunits (double
    * cast first — float×int would round differently per engine),
    * products accumulate in decimal(38,0), and normalization is the
    * HITS-style floor division `(scale·w) div Σ|w|` ([[graft.operators
    * .Graph.hitsExact]]'s convention). Fixed iteration count (the
    * deterministic contract — convergence is the caller's knob);
    * the sign is pinned by the deterministic all-ones start. */
  def topDirection(df: DataFrame, vecCol: String, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Stage("Similarity.topDirection") { implicit st =>
      val e = st.pin(df
        .filter(col(vecCol).isNotNull)
        .withColumn("_rid", monotonically_increasing_id())
        .select(col("_rid"), posexplode(vecD(col(vecCol))).as(Seq("dim", "x")))
        .select(col("_rid"), col("dim").cast("long").as("dim"),
          expr("CAST(round(x * 1000) AS BIGINT)").as("e")))
      val v0 = st.checkpoint(e.select(col("dim")).distinct()
        .withColumn("v", lit(scale)), "init")
      Fixpoint.iterate(v0, iters) { (v, _) =>
        val y = e.join(broadcast(v), Seq("dim"))
          .groupBy(col("_rid"))
          .agg(sum(expr("e * v")).as("y"))
        val w = e.join(y, Seq("_rid"))
          .groupBy(col("dim"))
          .agg(sum(expr("CAST(e AS DECIMAL(38,0)) * " +
            "CAST(y AS DECIMAL(38,0))")).as("w"))
        val t = w.agg(sum(abs(col("w"))).as("t"))
        w.crossJoin(broadcast(t))
          .select(col("dim"), expr(
            s"CASE WHEN t = 0 THEN CAST(0 AS BIGINT) " +
              s"ELSE CAST($scale AS DECIMAL(38,0)) * w div t END").as("v"))
      }(Fixpoint.AllRounds).state
    }
  }
}
