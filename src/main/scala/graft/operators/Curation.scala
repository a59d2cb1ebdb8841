package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [NS] Training-data curation operators — the pipeline stages between
  * raw corpus and training shards that the reference's domain (archived
  * media + documents) needs at scale:
  *
  *   - deterministic hash splits (train/val/test assignment that is
  *     stable across runs, engines, and repartitionings — never
  *     rand()-based, which is neither reproducible nor oracle-checkable),
  *   - fixed-size overlapping chunking (sequence-packing pre-step),
  *   - cross-corpus decontamination (test docs sharing n-gram evidence
  *     with any training doc — the benchmark-leakage check).
  *
  * Scale notes per operator inline.
  */
object Curation {

  /** Deterministic bucket 0..buckets-1 from the md5 of the id — uniform,
    * engine-portable (DuckDB twin: CAST('0x'||substr(md5(id),1,8) AS
    * BIGINT) % buckets), and stable under repartitioning. Per-row
    * codegen'd arithmetic; no shuffle. */
  def hashBucket(id: Column, buckets: Int): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Split assignment by hash bucket: [0,trainPct) → train,
    * [trainPct, trainPct+valPct) → val, rest → test. */
  def assignSplit(df: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    df.withColumn("bucket", hashBucket(col(idCol), 100))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
      .drop("bucket")

  /** Deterministic weighted sampling — mixture weighting: keep a row iff
    * its hash bucket falls below `ratePct` (a 0–100 Column, typically
    * derived per source). Join-free, shuffle-free, reproducible across
    * runs and engines: re-weighting a 100 TB mixture re-reads, never
    * re-shuffles, and a row's fate never depends on partitioning. */
  def sampleByHash(df: DataFrame, idCol: String,
      ratePct: Column): DataFrame =
    df.filter(hashBucket(col(idCol), 100) < ratePct)

  /** [NS] — deterministic weighted sampling WITHOUT replacement via
    * priority sampling (Duffield, Lund & Thorup, "Priority sampling for
    * estimation of arbitrary subset sums", JACM 2007): each row gets
    * priority w/u with u uniform on (0,1], the k highest priorities are
    * the sample, and each sampled row carries the Horvitz–Thompson-style
    * estimate `est_weight = max(w, τ)` (τ = the (k+1)-th priority), which
    * makes any subset-sum estimate unbiased — the principled way to keep
    * a budgeted, weight-proportional slice of a 100 TB corpus (importance
    * sampling by doc quality/length) while preserving reweighting.
    *
    * Determinism/oracle story: u is NOT rand() — it is
    * (h+1)·2⁻⁵² with h the first 52 bits of md5(id), so the sample is a
    * pure function of the row set and both engines compute bit-identical
    * priorities (each of the two divisions is a single IEEE op on exact
    * operands). Ties (impossible for distinct ids) break by id.
    *
    * Scale shape: the top-(k+1) is `orderBy(priority).limit(k+1)` —
    * Spark's TakeOrderedAndProject, a per-partition heap + driver-side
    * k+1 merge, NO global sort; the only unbounded pass is the scan. The
    * single-partition window that ranks the survivors runs over ≤ k+1
    * rows (bounded by the sample size, not the data). Sub-population
    * inputs (n ≤ k): τ = 0 and every row ships with est_weight = w. */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long") + 1) / lit(4503599627370496.0) // 2^52
    val pri = df
      .select(col(idCol), col(weightCol).cast("double").as("weight"))
      .withColumn("priority", col("weight") / u)
    val top = pri.orderBy(col("priority").desc, col(idCol)).limit(k + 1)
    val ranked = top.withColumn("_rn", row_number.over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("priority").desc, col(idCol))))
    val tau = ranked.agg(
      coalesce(max(when(col("_rn") === k + 1, col("priority"))), lit(0.0))
        .as("tau"))
    ranked.filter(col("_rn") <= k)
      .crossJoin(broadcast(tau))
      .withColumn("est_weight", greatest(col("weight"), col("tau")))
      .drop("_rn")
  }

  /** [NS] — the END-TO-END curation funnel: the five gates a raw corpus
    * passes on its way to training shards, composed as ONE DataFrame DAG
    * with per-source attrition counts as the contract (the dataset-card
    * numbers every curated corpus publishes):
    *
    *   1. quality: `n_chars ≥ minChars` AND word count ≥ `minWords`
    *      (per-row arithmetic, no shuffle);
    *   2. prefix dedup: min-id survivor per md5 of the first 100 chars —
    *      the cheap crawl-pipeline pass that catches template/boilerplate
    *      heads before any pairwise work (one hash shuffle);
    *   3. near-dup gate: [[Dedup.nearDupGateBatch]]'s conjunctive
    *      SimHash-band first-sight rule (one band aggregation — never a
    *      pair join);
    *   4. decontamination: survivors assigned to train by hash bucket
    *      drop out if they share ≥ `minShared` rare `n`-gram shingles
    *      with ANY raw test-bucket doc (test docs include the near-dups
    *      the gate removed — a train survivor whose test twin leaks
    *      evidence must go);
    *   5. budget: per-source cumulative `n_chars` cutoff in doc-id order
    *      (one per-source window).
    *
    * Scale stance: each gate feeds the next WITHOUT re-reading the
    * corpus (the quality+dedup survivor set is persisted once, scoped to
    * this call); stage counts are tiny per-source aggregates
    * left-joined at the end. The expensive joins are the ones the
    * composed design avoids: no pairwise dedup join (band claims), no
    * corpus×corpus decontam (rare-gram semi-join), no global sort
    * (per-source windows). Output: one row per source with
    * `n_raw / n_quality / n_unique / n_neardup / n_train / n_clean /
    * n_budget / chars_budget`. */
  def curationFunnel(docs: DataFrame, minChars: Long = 100,
      minWords: Long = 20, testBucketFrom: Int = 90,
      budgetChars: Long = 500, gramN: Int = 3, minShared: Long = 2,
      dfMax: Long = 100): DataFrame =
    funnelStages(docs, minChars, minWords, testBucketFrom, budgetChars,
      gramN, minShared, dfMax) {
      case (d0, quality, unique, survivors, train, clean, budget) =>
        def cnt(df: DataFrame, name: String) = df.groupBy(col("source"))
          .agg(count(lit(1)).as(name))
        val stages = Seq(cnt(quality, "n_quality"),
          cnt(unique, "n_unique"), cnt(survivors, "n_neardup"),
          cnt(train, "n_train"), cnt(clean, "n_clean"),
          budget.groupBy(col("source")).agg(
            count(lit(1)).as("n_budget"),
            sum(col("n_chars")).as("chars_budget")))
        stages.foldLeft(cnt(d0, "n_raw")) { (acc, c) =>
            acc.join(c, Seq("source"), "left")
          }
          .na.fill(0L, Seq("n_quality", "n_unique", "n_neardup",
            "n_train", "n_clean", "n_budget", "chars_budget"))
          .orderBy(col("source"))
    }

  /** [NS] — per-document funnel EXPLAIN: the same staged DAG as
    * [[curationFunnel]], but instead of per-source survivor counts it
    * answers the question every data owner actually asks — "why was MY
    * document dropped": each doc gets its FIRST failing gate as a
    * verdict (`quality`, `duplicate`, `near_dup`, `test_split`,
    * `leaky`, `over_budget`) or `kept`. Same stage frames, so the
    * explain is CONSISTENT with the funnel counts by construction
    * (CurationSpec pins verdict totals ≡ funnel stage deltas); the
    * extra cost over the funnel is six doc-id-only left joins. */
  def curationExplain(docs: DataFrame, minChars: Long = 100,
      minWords: Long = 20, testBucketFrom: Int = 90,
      budgetChars: Long = 500, gramN: Int = 3, minShared: Long = 2,
      dfMax: Long = 100): DataFrame =
    funnelStages(docs, minChars, minWords, testBucketFrom, budgetChars,
      gramN, minShared, dfMax) {
      case (d0, quality, unique, survivors, train, clean, budget) =>
        def flag(df: DataFrame, name: String) =
          df.select(col("doc_id"), lit(true).as(name))
        d0.select(col("doc_id"), col("source"))
          .join(flag(quality, "_q"), Seq("doc_id"), "left")
          .join(flag(unique, "_u"), Seq("doc_id"), "left")
          .join(flag(survivors, "_s"), Seq("doc_id"), "left")
          .join(flag(train, "_t"), Seq("doc_id"), "left")
          .join(flag(clean, "_c"), Seq("doc_id"), "left")
          .join(flag(budget, "_b"), Seq("doc_id"), "left")
          .withColumn("verdict",
            when(col("_q").isNull, "quality")
              .when(col("_u").isNull, "duplicate")
              .when(col("_s").isNull, "near_dup")
              .when(col("_t").isNull, "test_split")
              .when(col("_c").isNull, "leaky")
              .when(col("_b").isNull, "over_budget")
              .otherwise("kept"))
          .select(col("doc_id"), col("source"), col("verdict"))
    }

  /** [NS] — the PUBLISH step after the funnel (q200): the budget-stage
    * survivors are assigned to hash shards ([[hashBucket]] — the
    * [[writeShards]] membership rule) and each shard ships with an
    * integrity MANIFEST row: doc count, char total, and an
    * order-independent xor digest of the 60-bit doc-id hashes — the
    * receipt a consumer re-derives to verify a delivered shard, the
    * same xor-certification convention as q66/q188. */
  def curationExport(docs: DataFrame, shards: Int, minChars: Long = 100,
      minWords: Long = 20, testBucketFrom: Int = 90,
      budgetChars: Long = 500, gramN: Int = 3, minShared: Long = 2,
      dfMax: Long = 100): DataFrame =
    funnelStages(docs, minChars, minWords, testBucketFrom, budgetChars,
      gramN, minShared, dfMax) {
      case (_, _, _, _, _, _, budget) =>
        budget
          .withColumn("shard", hashBucket(col("doc_id"), shards))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("chars"),
            expr("bit_xor(cast(conv(substring(md5(cast(doc_id " +
              "as string)), 1, 15), 16, 10) AS BIGINT))").as("ids_xor"))
          .orderBy(col("shard"))
    }

  /** The shared five-gate stage chain behind [[curationFunnel]] and
    * [[curationExport]]: builds the stage frames in one [[Stage]] scope
    * (the gates' shared inputs pinned), hands them to `assemble`, and
    * checkpoints the (small) result. */
  private def funnelStages(docs: DataFrame, minChars: Long,
      minWords: Long, testBucketFrom: Int, budgetChars: Long, gramN: Int,
      minShared: Long, dfMax: Long)(
      assemble: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
        DataFrame, DataFrame) => DataFrame): DataFrame =
    Stage("Curation.funnelStages") { implicit st =>
      import org.apache.spark.sql.expressions.Window
      val d0 = docs.select(col("doc_id"), col("text"), col("source"),
        col("n_chars"))
      val quality = d0.filter(col("n_chars") >= minChars &&
        size(split(col("text"), " ")) >= minWords)
      val unique = st.pin(quality
        .withColumn("_rn", row_number().over(
          Window.partitionBy(md5(substring(col("text"), 1, 100)))
            .orderBy(col("doc_id"))))
        .filter(col("_rn") === 1).drop("_rn"))
      val admitted = Dedup.nearDupGateBatch(unique, "doc_id", "text",
        tsCol = "doc_id").select(col("id").as("doc_id"))
      val survivors = st.pin(unique.join(admitted, Seq("doc_id"),
        "left_semi"))
      val bucket = hashBucket(col("doc_id"), 100)
      val train = survivors.filter(bucket < testBucketFrom)
      val test = d0.filter(bucket >= testBucketFrom)
      def grams(df: DataFrame, as: String) =
        df.select(col("doc_id").as(as),
          explode(graft.functions.ShingleExpression
            .wordShingleHashes(col("text"), gramN)).as("gh"))
      val tg = st.pin(grams(train, "t_doc"))
      val rare = tg.groupBy(col("gh")).agg(count(lit(1)).as("tdf"))
        .filter(col("tdf") <= dfMax).select(col("gh"))
      // leaky doc-ids are read by `clean` (count readout) AND by the
      // budget chain below — materialize the rare-gram decontam join
      // once (ids only; guide §2.4), not once per consumer
      val leaky = st.checkpoint(grams(test, "test_doc")
        .join(rare, Seq("gh"), "left_semi")
        .join(tg, Seq("gh"))
        .groupBy(col("test_doc"), col("t_doc"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
        .select(col("t_doc").as("doc_id")).distinct(), "leaky")
      val clean = train.join(leaky, Seq("doc_id"), "left_anti")
      val wb = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val budget = clean
        .withColumn("_cum", sum(col("n_chars")).over(wb))
        .filter(col("_cum") <= budgetChars)
      st.checkpoint(assemble(d0, quality, unique, survivors, train, clean,
        budget), "result")
    }

  /** Fixed-size character chunks with stride (overlap = size − stride):
    * one row per (doc, chunk_idx). The offsets array is tiny (len/stride
    * ints), so explode cost is the output size — no shuffle; chunking
    * composes with a later repartition to pack shards. Empty docs yield
    * no chunks. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size > 0, s"size/stride must be positive")
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        posexplode(sequence(lit(0), length(col(textCol)) - 1, lit(stride)))
          .as(Seq("chunk_idx", "off")))
      .select(col(idCol), col("chunk_idx"),
        substring(col(textCol), col("off") + 1, lit(size)).as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))
  }

  /** Write training shards: every row lands in shard
    * `hashBucket(id, shards)` — membership is a pure function of the id,
    * so re-running the writer (or re-sharding on a bigger cluster) never
    * moves an example between shards, and a reader can locate one doc's
    * shard without an index. Layout: `dir/shard=K/part-*.parquet`
    * (directory-partitioned → partition-pruned point reads);
    * `maxRecordsPerFile` bounds file sizes inside a shard so one skewed
    * shard cannot produce a 100 GB file. */
  def writeShards(df: DataFrame, idCol: String, dir: String,
      shards: Int, maxRecordsPerFile: Long = 0L): Unit = {
    val out = df.withColumn("shard", hashBucket(col(idCol), shards))
      .repartition(col("shard"))
    val w = out.write.mode("overwrite").partitionBy("shard")
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile)
    else w).parquet(dir)
  }

  /** Sequence packing — the step after [[chunk]]: assign chunks to
    * fixed-budget packs (context windows) by cumulative length. Packing
    * is greedy-by-running-sum WITHIN a hash shard, so it parallelizes
    * shard-wise (a global greedy pack would serialize the corpus through
    * one partition); pack ids are `<shard>_<seq>` and deterministic —
    * same corpus, same packs, any cluster size. A chunk longer than
    * `ctxLen` still lands in exactly one pack (approximation shared by
    * real packing pipelines; exact bin packing is NP-hard and
    * order-destroying). */
  def packChunks(chunks: DataFrame, idCol: String, idxCol: String,
      lenCol: String, ctxLen: Int, shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_shard"))
      .orderBy(col(idCol), col(idxCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("_shard", hashBucket(col(idCol), shards))
      .withColumn("_cum", sum(col(lenCol)).over(w))
      .withColumn("pack_id", concat_ws("_", col("_shard"),
        floor((col("_cum") - 1) / ctxLen).cast("long")))
      .drop("_shard", "_cum")
  }

  /** PII redaction for training text: emails, URLs, and phone numbers
    * replaced by placeholder tokens. Patterns are deliberately
    * RE2-compatible (no backreferences/lookaround) so the same regexes
    * run in Spark (java.util.regex) and DuckDB (RE2) identically; order
    * matters — emails before URLs would otherwise leave `mailto:` bodies
    * half-redacted, so URLs go first. Pure per-row codegen'd
    * regexp_replace chain: no shuffle, stays in whole-stage codegen. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ ]+"
  val PhoneRe = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** Deterministic pseudonymization for PII-safe joins and releases:
    * md5(salt ':' value) — referential integrity survives (equal raw
    * values map to equal pseudonyms, so joins/counts are preserved)
    * while the raw identifier never leaves the pipeline. Salt rotation
    * unlinks releases from each other. Per-row codegen'd; the q66
    * redaction's sibling for KEY columns (redaction destroys join
    * keys, pseudonymization preserves them). */
  def pseudonymize(c: Column, salt: String): Column =
    md5(concat(lit(salt), lit(":"), c.cast("string")))

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Payment-card SHAPE (13–19 digits allowing space/dash separators) —
    * [[luhnScan]]'s candidate pattern. Redaction deliberately uses the
    * shape alone: over-redacting an order id costs a token, leaking a
    * card costs an incident (the audit side, q312, applies the Luhn
    * checksum for precision; the redaction side must not). */
  val PanShapeRe = "[0-9][0-9 -]{11,22}[0-9]"

  /** [[redactPii]] plus PAN-shape redaction — the strict profile for
    * public releases. Order is fixed and mirrored in the oracle: URLs,
    * emails, PANs, phones (PAN before phone so a separated card is
    * never partially eaten as a phone number). Same RE2-compatible,
    * codegen'd regexp_replace chain. */
  def redactPiiStrict(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, UrlRe, "<URL>"),
          EmailRe, "<EMAIL>"),
        PanShapeRe, "<PAN>"),
      PhoneRe, "<PHONE>")

  /** Decontamination: test docs that share ≥ `minShared` distinct word
    * `n`-grams with at least one train doc. Output one row per flagged
    * test doc: (test_doc, n_partners, max_shared).
    *
    * Scale shape: grams travel as 64-bit hashes; `dfMax` drops grams
    * that occur in more than that many TRAIN docs before the join —
    * boilerplate/stopword grams are exactly the skew head that would
    * otherwise make the gram join quadratic (same motivation as PPJoin's
    * prefix filter; common grams carry no leakage signal). The remaining
    * join is linear in true cross-corpus overlap. */
  def crossCorpusLeakage(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int = 5,
      minShared: Int = 3, dfMax: Long = 100): DataFrame =
    Stage("Curation.crossCorpusLeakage") { st =>
      // pinned: both the rare-gram aggregate and the pair join read the
      // train shingles (an unpinned plan would run the shingling twice)
      val tg = st.pin(train.select(col(idCol).as("t_doc"),
        explode(graft.functions.ShingleExpression
          .wordShingleHashes(col(textCol), n)).as("gh")))
      val rare = tg.groupBy(col("gh"))
        .agg(count(lit(1)).as("tdf"))
        .filter(col("tdf") <= dfMax)
        .select(col("gh"))
      val sg = test.select(col(idCol).as("test_doc"),
        explode(graft.functions.ShingleExpression
          .wordShingleHashes(col(textCol), n)).as("gh"))
      st.checkpoint(sg.join(rare, Seq("gh"), "left_semi")
        .join(tg, Seq("gh"))
        .groupBy(col("test_doc"), col("t_doc"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
        .groupBy(col("test_doc"))
        .agg(count(lit(1)).as("n_partners"),
          max(col("shared")).as("max_shared")), "flagged")
    }

  /** [NS] — duplicate-SPAN removal (the C4/Dolma intra-corpus op:
    * repeated boilerplate spans are cut from every place but their first
    * occurrence, while the surrounding document survives): each doc
    * splits into consecutive `n`-word segments (last one partial); a
    * segment is kept iff its GLOBAL first occurrence — smallest
    * (doc, seg_idx) lexicographically — is this one; kept segments
    * reassemble in order. Docs whose every segment is boilerplate
    * disappear (nothing left to keep), which is the desired outcome.
    *
    * Output: (idCol, clean_text, n_kept). Scale shape: one explode
    * (corpus segments), ONE combining dedup shuffle grouped on
    * (xxhash, seg) — the kept occurrence IS the group's min(struct),
    * so it falls straight out of the aggregate with no join-back, no
    * second read of the segment table, and no corpus-text
    * materialization anywhere (the previous join-back form had to
    * localCheckpoint every segment to executor-local storage — not
    * recomputable on executor loss and double the corpus footprint).
    * Grouping on the segment TEXT alongside its hash keeps equality
    * exact — a 64-bit collision cannot silently drop a non-duplicate
    * span — while the leading 8-byte hash keeps group compares cheap;
    * min(struct) folds map-side, so duplicate-heavy corpora shuffle a
    * fraction of their occurrence count. Reassembly state stays
    * bounded by ONE document's own segments (q92's rebuild bound). */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"segment width must be positive: $n")
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(0, (size(split(`$textCol`, ' ')) - 1) div $n),
            i -> concat_ws(' ', slice(split(`$textCol`, ' '), i * $n + 1, $n)))"""))
        .as(Seq("seg_idx", "seg")))
      .withColumn("h", xxhash64(col("seg")))
      .groupBy(col("h"), col("seg"))
      .agg(min(struct(col(idCol), col("seg_idx"))).as("f"))
      .select(col(s"f.$idCol").as(idCol), col("f.seg_idx").as("seg_idx"),
        col("seg"))
      .groupBy(col(idCol))
      // bounded state: one document's own kept segments, never corpus-wide
      .agg(
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(seg_idx, seg))), x -> x.seg)"))
          .as("clean_text"),
        count(lit(1)).as("n_kept"))
  }

  /** [NS] — fuzzy lexicon normalization: nearest lexicon term per row by
    * levenshtein argmin (smaller term on distance ties, so the match is
    * bit-deterministic), as PURE per-row expression work — the lexicon
    * rides the plan as an array literal, so there is no join and no
    * shuffle anywhere, strictly better than the broadcast-crossJoin +
    * groupBy-argmin form it replaces (which paid a full exchange to
    * re-group the exploded candidates). Two-stage pruning before the
    * expensive levenshtein: the length band |len(w) − len(term)| ≤
    * maxDist is a lossless lower bound on edit distance, then the true
    * distance is checked against maxDist.
    *
    * Adds (best_term, dist) to the input rows; both NULL when no term is
    * within maxDist (lexicon miss — rows are kept, never dropped).
    *
    * Scale: per-row, zero exchanges, any corpus size. The lexicon is a
    * plan literal — right for the normalization-vocabulary sizes this
    * exists for (≤ a few thousand terms); a 100k+ term lexicon should
    * switch to a broadcast-join variant instead of a literal plan node. */
  def fuzzyNormalize(df: DataFrame, wordCol: String, lexicon: Seq[String],
      maxDist: Int): DataFrame = {
    require(lexicon.nonEmpty, "fuzzyNormalize needs a non-empty lexicon")
    require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")
    // withColumn silently REPLACES same-named columns — refuse up front
    // rather than quietly clobbering caller data
    val taken = Seq("_best", "best_term", "dist").filter(df.columns.contains)
    require(taken.isEmpty,
      s"fuzzyNormalize writes columns (best_term, dist); input already " +
        s"has ${taken.mkString(", ")} — rename them first")
    val w = col(wordCol)
    val best = array_min(
      filter(
        transform(
          filter(array(lexicon.map(lit): _*),
            t => abs(length(t) - length(w)) <= maxDist),
          t => struct(levenshtein(w, t).cast("long").as("dist"),
            t.as("term"))),
        s => s.getField("dist") <= maxDist))
    df.withColumn("_best", best)
      .withColumn("best_term", col("_best.term"))
      .withColumn("dist", col("_best.dist"))
      .drop("_best")
  }

  /** [NS] — vocabulary build, half of the id-ification step between
    * curation and training: the `size` most frequent whitespace tokens
    * (count desc, token asc — fully deterministic), ids 1..size by that
    * rank. Scale shape: the frequency aggregate combines map-side; the
    * top-V cut is a TakeOrderedAndProject; the single-partition rank
    * window then runs over those V rows ONLY, never the corpus — the
    * vocab is broadcast-size BY CONSTRUCTION, like PQ codebooks.
    * Output: (tok, id). */
  def buildVocab(df: DataFrame, textCol: String, size: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(size > 0, s"vocab size must be positive: $size")
    df.select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(size)
      .withColumn("id", row_number()
        .over(Window.orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
      .select(col("tok"), col("id"))
  }

  /** [NS] — temporal split with EMBARGO: train = events strictly before
    * `cutoffUs − embargoUs`, test = events at/after `cutoffUs`, and the
    * embargo band between them is EXCLUDED from both — the time-series
    * holdout that blocks boundary leakage (features computed with any
    * lookback window would otherwise read test-period signal into the
    * last training rows; an embargo at least as long as the longest
    * feature window severs that path — the purged/embargoed split of
    * the financial-ML literature). Adds a `split` column
    * (train/embargo/test); pure per-row arithmetic, no shuffle. */
  def temporalSplit(df: DataFrame, tsUsCol: String, cutoffUs: Long,
      embargoUs: Long): DataFrame = {
    require(embargoUs >= 0, s"negative embargo $embargoUs")
    df.withColumn("split",
      when(col(tsUsCol) < cutoffUs - embargoUs, "train")
        .when(col(tsUsCol) >= cutoffUs, "test")
        .otherwise("embargo"))
  }

  /** [NS] — leave-last-out holdout: each key's LATEST event (by ts,
    * tie-broken by `tieCol`) becomes the test row, everything earlier
    * is train — the standard next-item evaluation protocol for
    * sequential recommenders. One per-key rank window; keys with a
    * single event contribute a test row and no train rows (their
    * history is empty — the honest cold-start case, not an error). */
  def leaveLastOut(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("split",
      when(row_number().over(
        Window.partitionBy(col(keyCol))
          .orderBy(col(tsCol).desc, col(tieCol).desc)) === 1,
        "test").otherwise("train"))
  }

  /** [NS] — balanced class sampling: per class, keep at most `cap` rows
    * chosen by md5-rank of the id — the class-imbalance fix for a
    * training set (a 99:1 corpus trains a majority-class parrot;
    * capping every class at the same budget rebalances without
    * synthetic rows). Deterministic and engine-portable like every
    * sampler here: membership is a pure function of (id, class,
    * cap) — re-running, re-sharding, or growing OTHER classes never
    * changes which rows of this class survive. One per-class rank
    * window (classes parallelize across the exchange). */
  def balancedSample(df: DataFrame, classCol: String, idCol: String,
      cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap > 0, s"cap must be positive, got $cap")
    df.withColumn("_hr", md5(col(idCol).cast("string")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(classCol))
          .orderBy(col("_hr"), col(idCol))))
      .filter(col("_rn") <= cap)
      .drop("_hr", "_rn")
  }

  /** [NS] — spell correction by symmetric deletes (SymSpell — Garbe's
    * public algorithm): a query token matches a vocabulary word iff
    * they share a delete-≤1 FORM (the word itself or any
    * one-char-removed variant), which covers every edit-distance-1
    * error class (substitution, insertion, deletion, and the identity)
    * with an EQUI-JOIN on the form key instead of a query×vocab
    * edit-distance cross — the trick that makes spell correction a join
    * problem. Candidates are verified with a real `levenshtein ≤ 1`
    * (a delete on BOTH sides of a shared form composes to edit distance
    * 2, so form equality alone over-admits); the winner per query is
    * the highest-frequency verified candidate (ties by word).
    *
    * Scale shape: vocab delete-forms are |V|·(avg_len+1) narrow rows —
    * in production, PRECOMPUTE and store them (the same
    * build-once/serve-many contract as [[graft.operators.TextIndex]]);
    * the per-batch cost is the query-side explode + one equi-join +
    * per-query rank windows over candidate sets bounded by form
    * collisions, never |V|. */
  def spellCorrect(vocab: DataFrame, wordCol: String, freqCol: String,
      queries: DataFrame, qCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def deleteForms(name: String) = expr(
      s"array_distinct(concat(array($name), " +
        s"transform(sequence(1, length($name)), " +
        s"i -> concat(substring($name, 1, i-1), substring($name, i+1)))))")
    val vd = vocab
      .select(col(wordCol).as("w"), col(freqCol).cast("long").as("freq"))
      .withColumn("form", explode(deleteForms("w")))
    val qd = queries.select(col(qCol).as("q")).distinct()
      .withColumn("form", explode(deleteForms("q")))
    val cand = qd.join(vd, Seq("form"))
      .filter(expr("levenshtein(q, w) <= 1"))
      .select(col("q"), col("w"), col("freq")).distinct()
    val wq = Window.partitionBy(col("q"))
    cand
      .withColumn("n_cands", count(lit(1)).over(wq))
      .withColumn("_rn", row_number().over(
        wq.orderBy(col("freq").desc, col("w"))))
      .filter(col("_rn") === 1)
      .select(col("q"), col("w").as("corrected"), col("freq"),
        col("n_cands"))
  }

  /** [NS] — token-id encoding against a [[buildVocab]] table: every doc
    * becomes its id sequence (document order preserved; OOV → 0). One
    * explode + one equi-join against the broadcast vocab + one
    * combining groupBy whose collect state is bounded by a document's
    * OWN token count (q92's rebuild bound). Output:
    * (idCol, n_tokens, n_oov, ids ARRAY<BIGINT>). */
  def encodeTokens(df: DataFrame, vocab: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
      .join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("tid", coalesce(col("id"), lit(0L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("id").isNull, 1)).as("n_oov"),
        expr("transform(array_sort(collect_list(struct(pos, tid))), " +
          "x -> x.tid)").as("ids"))

  /** [NS] — OOV-rate gate, the exact-arithmetic stand-in for
    * LM-perplexity filtering (the CCNet-style curation stage): a probe
    * document is flagged when more than `maxOovPct`% of its DISTINCT
    * word bigrams are absent from the reference corpus's frequent-gram
    * vocabulary — gibberish and out-of-domain text rate high, fluent
    * in-domain text low. (True perplexity needs ln(); libm last-ulp
    * differences across engines make a float threshold unverifiable —
    * this gate is all integer cross-multiplications, so the SAME docs
    * flag everywhere.) The vocabulary floor is RELATIVE, df·vocabDenom
    * ≥ |reference| — an absolute document-frequency floor is
    * meaningless across corpus sizes.
    *
    * Scale shape: grams travel as 64-bit hashes; the vocab is one
    * combining aggregate over the reference plus a 1-row broadcast of
    * its size; the probe pays one explode + one equi-join on the 8-byte
    * key + one groupBy(doc). No broadcast hint on the vocab — it scales
    * with the reference, AQE picks the side. Docs with fewer than 2
    * words have no bigrams and are absent from the output (nothing to
    * rate). Output: (idCol, n_grams, n_oov, oov_flag). */
  def oovGate(reference: DataFrame, probe: DataFrame, idCol: String,
      textCol: String, vocabDenom: Int = 13,
      maxOovPct: Int = 93): DataFrame = {
    require(vocabDenom > 0 && maxOovPct >= 0,
      s"oovGate: vocabDenom=$vocabDenom maxOovPct=$maxOovPct")
    def grams(df: DataFrame) = df.select(col(idCol),
      explode(graft.functions.ShingleExpression
        .wordShingleHashes(col(textCol), 2)).as("gh"))
    val nRef = reference.select(count(lit(1)).as("_nref"))
    val vocab = grams(reference)
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nRef)) // 1-row corpus size rides the plan
      .filter(col("df") * vocabDenom >= col("_nref"))
      .select(col("gh"), lit(1L).as("_known"))
    grams(probe)
      .join(vocab, Seq("gh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("_known").isNull, 1)).as("n_oov"))
      .withColumn("oov_flag",
        col("n_oov") * 100 > lit(maxOovPct.toLong) * col("n_grams"))
  }

  /** [NS] — trained-filter scoring gate: a linear model w·x + b over
    * per-row INTEGER features — the shape of a fasttext-style quality
    * filter applied at ingest scale. Weights ride the plan as literals:
    * no join, no broadcast, no shuffle, pure codegen'd integer
    * arithmetic, so the SAME rows pass on every engine and partitioning.
    * (A float sigmoid would put threshold-adjacent rows at the mercy of
    * libm's last ulps; the sigmoid is monotone, so thresholding the raw
    * linear score is the identical gate, exactly.) */
  def linearModelScore(features: Seq[Column], weights: Seq[Long],
      bias: Long): Column = {
    require(features.nonEmpty && features.length == weights.length,
      s"linearModelScore: ${features.length} features vs " +
        s"${weights.length} weights")
    // Multiply-accumulate in decimal(38,0): a long w·x or running sum
    // that overflows wraps SILENTLY in non-ANSI deployments and can flip
    // the gate's sign for extreme feature values (round-5 ADVICE).
    // decimal(38,0) holds any sum of long×long products for realistic
    // widths (each product ≤ ~1.7e38 / n terms away from the cap); the
    // final cast back to long raises under ANSI, and the explicit range
    // check below makes the overflow loud in non-ANSI mode too (where an
    // out-of-range decimal→long cast would yield NULL, silently failing
    // the row instead of erroring).
    val acc = features.zip(weights)
      .map { case (f, w) => f.cast("decimal(38,0)") * lit(w) }
      .reduce(_ + _) + lit(bias)
    when(acc.between(lit(Long.MinValue), lit(Long.MaxValue)),
        acc.cast("long"))
      .otherwise(raise_error(concat(
        lit("linearModelScore overflow: score "), acc.cast("string"),
        lit(" exceeds long range"))).cast("long"))
  }

  /** [NS] — distributed-EXACT z-score outlier flags over an integral
    * value column: marks rows where |x − μ| > k·σ of their group WITHOUT
    * float variance, via `(n·x − S)² > k²·(n·SS − S²)` (both sides the
    * n²-scaled squares, so the comparison is pure integer arithmetic).
    * Float variance is partial-aggregation-order-dependent in the last
    * ulp; this is bit-stable under any partitioning — and the per-value
    * squares are widened to decimal(38,0) BEFORE summation, so neither
    * S nor SS overflows a long even at ~10¹¹ rows per group (a long
    * sum(v²) dies at ~4·10¹¹ rows of 2-decimal money values).
    *
    * True range bound: the COMPARED quantities dev² and k²·(n·SS − S²)
    * are both ≈ (n·max|x|)², and decimal(38,0) holds ~10³⁸ — so the
    * operator is exact while n·max|x| ≲ 10¹⁹ (e.g. 10¹¹ rows of 10⁸-
    * scaled values). Beyond that the products overflow to NULL under
    * non-ANSI Spark, which would silently count every row as
    * not-an-outlier — so a NULL comparison on a non-NULL value RAISES
    * instead (pre-scale the value column or shard groups to proceed).
    * NULL input values keep a NULL flag, matching SQL comparison
    * semantics.
    *
    * Adds `is_out` to the input rows. `broadcastStats=true` (default)
    * broadcasts the per-group stats — right when groups are few; switch
    * off for high-cardinality keys and it's a plain shuffle join. */
  def exactOutliers(df: DataFrame, keyCol: String, valCol: String,
      k: Int = 2, broadcastStats: Boolean = true): DataFrame = {
    val v = col(valCol)
    val stats = df.groupBy(col(keyCol)).agg(
      count(lit(1)).as("_n"),
      sum(v.cast("decimal(38,0)")).as("_s"),
      sum(v.cast("decimal(38,0)") * v).as("_ss")) // widen BEFORE the square
    val dev = col("_n").cast("decimal(38,0)") * v - col("_s")
    val spread = col("_n").cast("decimal(38,0)") * col("_ss") -
      col("_s") * col("_s")
    val cmp = dev * dev > lit(k.toLong * k) * spread
    df.join(if (broadcastStats) broadcast(stats) else stats, Seq(keyCol))
      .withColumn("is_out",
        when(v.isNull, lit(null).cast("boolean"))
          .when(cmp.isNotNull, cmp)
          .otherwise(expr("raise_error('exactOutliers: decimal(38,0) " +
            "overflow — n*max|x| exceeds ~1e19 for this group; " +
            "pre-scale the value column or shard the group')")
            .cast("boolean")))
      .drop("_n", "_s", "_ss")
  }

  /** [NS] — BPE tokenizer training, the first `rounds` merge rules
    * (Sennrich et al. 2016, public technique). The scale insight BPE
    * inherits from its original formulation: after ONE corpus pass
    * builds the (word, freq) VOCABULARY, every merge round runs on the
    * vocab — corpus size stops mattering. Per round: adjacent-symbol
    * pair counts (freq-weighted, one map-side-combining shuffle on the
    * pair key), a 1-row argmax (count desc, then lexicographic —
    * deterministic), and a greedy left-to-right merge APPLY over each
    * word's symbol positions. Greedy semantics match the reference BPE:
    * in a run of overlapping matches (only possible when left==right,
    * e.g. pair (a,a) in "aaaa") merges land on alternating positions
    * from the run's start — expressed set-based via a cumulative match
    * count and run-parity, so Spark and the SQL oracle share the exact
    * construction instead of a sequential fold.
    *
    * Windows partition by WORD (per-word arrays are tiny), so the apply
    * step is embarrassingly parallel; per-round checkpoints truncate
    * the iterative lineage. No end-of-word marker: merges never cross
    * words here, and the marker only matters for detokenization —
    * documented simplification. Output: (merge_rank, left_sym, right_sym,
    * pair_count), `rounds` rows. */
  def bpeMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame =
    Stage("Curation.bpeMerges")(st => bpeCore(st, df, textCol, rounds)._1)

  /** [NS] — BPE ENCODE, the serving half of [[bpeMerges]]: tokenize the
    * corpus under the first `rounds` trained merges and return per-doc
    * token counts — the quantity every packing/budget stage downstream
    * consumes. Work stays vocab-sized: the merges rebuild per-WORD
    * symbol sequences once, then each doc pays one explode + one
    * equi-join against the (word → n_sym) table and a count aggregation.
    * Token counts depend on every greedy apply round, so an oracle match
    * here certifies the full encode path, not just the rule ranks. */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = Stage("Curation.bpeTokenCounts") { st =>
    val perWord = bpeCore(st, df, textCol, rounds)._2
      .groupBy(col("w")).agg(count(lit(1)).as("n_sym"))
    df.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(perWord, Seq("w"))
      .groupBy(col(idCol)).agg(sum(col("n_sym")).as("n_tokens"))
  }

  /** Shared trainer: returns (merge rules, final per-word symbol
    * positions), materialized in the caller's stage — the state is two
    * frames (the symbol table and each round's rule), so the loop runs in
    * the [[Stage]] directly, and the caller's scope keeps only what the
    * half it returns reads. See [[bpeMerges]] for semantics and scale
    * notes. */
  private def bpeCore(st: Stage, df: DataFrame, textCol: String,
      rounds: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val vocab = df.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // initial positions: one row per (word, i, single-char symbol).
    // Java's zero-width split leaves a trailing "" element (it matches at
    // end-of-input with limit -1) — strip it or the empty symbol pairs up
    // in later rounds; DuckDB's string_split(w, '') never emits one.
    var pos = st.checkpoint(vocab.select(col("w"), col("freq"),
        posexplode(filter(split(col("w"), "(?!^)"), _ =!= ""))
          .as(Seq("i", "sym"))), "symbols")
    val wn = Window.partitionBy(col("w")).orderBy(col("i"))
    var rules: DataFrame = null
    for (r <- 1 to rounds) {
      val withNext = pos.withColumn("ns", lead(col("sym"), 1).over(wn))
      val best = st.checkpoint(withNext.filter(col("ns").isNotNull)
        .groupBy(col("sym").as("a"), col("ns").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1), s"round$r/rule")
      val rule = best.select(lit(r).as("merge_rank"), col("a").as("left_sym"),
        col("b").as("right_sym"), col("cnt").as("pair_count"))
      rules = if (rules == null) rule else rules.unionAll(rule)
      // apply greedily: run-parity over the cumulative match count
      val m = withNext.crossJoin(broadcast(best))
        .withColumn("mt", col("sym") === col("a") && col("ns") === col("b"))
        .withColumn("c",
          sum(when(col("mt"), 1).otherwise(0)).over(wn))
        .withColumn("grp", when(col("mt"), col("i") - col("c")))
        .withColumn("mg", when(col("mt"),
          (col("c") - min(col("c")).over(
            Window.partitionBy(col("w"), col("grp")))) % 2 === 0)
          .otherwise(lit(false)))
        .withColumn("cons", coalesce(lag(col("mg"), 1).over(wn), lit(false)))
      val prevPos = pos
      pos = st.checkpoint(m.filter(!col("cons"))
        .select(col("w"), col("freq"),
          (row_number().over(wn) - 1).as("i"),
          when(col("mg"), concat(col("sym"), col("ns")))
            .otherwise(col("sym")).as("sym")), s"round$r/symbols")
      // drop the superseded symbol table; each round's 1-row `best`
      // stays — `rules` reads it lazily at return
      st.release(prevPos)
    }
    (rules.orderBy(col("merge_rank")), pos)
  }

  /** Apply ONE stored merge rule (a, b) to a per-word symbol table
    * (w, i, sym) — [[bpeCore]]'s greedy run-parity apply with the rule
    * as a plan literal instead of the just-trained 1-row frame. Kept
    * verbatim-parallel to the trainer's block so stored-rule encoding
    * and in-query encoding are the same algorithm (TokenizerSpec pins
    * the equivalence end-to-end). */
  private def applyStoredMerge(pos: DataFrame, a: String, b: String)(
      implicit st: Stage): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wn = Window.partitionBy(col("w")).orderBy(col("i"))
    val m = pos.withColumn("ns", lead(col("sym"), 1).over(wn))
      .withColumn("mt", col("sym") === lit(a) && col("ns") === lit(b))
      .withColumn("c", sum(when(col("mt"), 1).otherwise(0)).over(wn))
      .withColumn("grp", when(col("mt"), col("i") - col("c")))
      .withColumn("mg", when(col("mt"),
        (col("c") - min(col("c")).over(
          Window.partitionBy(col("w"), col("grp")))) % 2 === 0)
        .otherwise(lit(false)))
      .withColumn("cons", coalesce(lag(col("mg"), 1).over(wn), lit(false)))
    st.checkpoint(m.filter(!col("cons"))
      .select(col("w"), (row_number().over(wn) - 1).as("i"),
        when(col("mg"), concat(col("sym"), col("ns")))
          .otherwise(col("sym")).as("sym")), "merge")
  }

  /** [NS] — BPE encode under a STORED rule table — the serving half of
    * the tokenizer-artifact lifecycle ([[TokenizerIndex]]): `rules` =
    * (merge_rank, left_sym, right_sym) as [[bpeMerges]] emits them,
    * applied in rank order to the TARGET corpus's word vocabulary, then
    * per-doc token counts exactly like [[bpeTokenCounts]]. The rule
    * list is collected to the driver — a tokenizer's merge table is
    * bounded by its training `rounds` (a config, not the data; the same
    * driver-known-parameter reading as AnnIndex's probe set). Work is
    * vocab-sized per rule: the corpus pays one explode + one join at
    * the end, never per rule. */
  def bpeEncodeStored(df: DataFrame, idCol: String, textCol: String,
      rules: DataFrame)
      : DataFrame = Stage("Curation.bpeEncodeStored") { implicit st =>
    val ruleSeq = rules.orderBy(col("merge_rank"))
      .select(col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val vocab = df.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    var pos = st.checkpoint(vocab.select(col("w"),
        posexplode(filter(split(col("w"), "(?!^)"), _ =!= ""))
          .as(Seq("i", "sym"))), "pos")
    for ((a, b) <- ruleSeq) {
      val prev = pos
      pos = applyStoredMerge(pos, a, b)
      st.release(prev)
    }
    val perWord = pos.groupBy(col("w")).agg(count(lit(1)).as("n_sym"))
    df.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(perWord, Seq("w"))
      .groupBy(col(idCol)).agg(sum(col("n_sym")).as("n_tokens"))
  }

  /** [NS] — inverted-index build: token → document-frequency + the
    * SORTED posting list of doc ids, the retrieval-side artifact of a
    * corpus (BM25 serving, decontamination probes, and the q104-style
    * vocab gates all read this shape). One explode of per-doc DISTINCT
    * tokens + one groupBy(token) — posting lists come from
    * sort_array(collect_list(..)) inside the aggregate, so the corpus
    * text crosses the wire once as (token, id) pairs and never again.
    * Per-token state is the posting list itself: at 100 TB the heavy
    * tail (stopword-class tokens with corpus-sized lists) is the known
    * skew risk — cap or drop df > threshold tokens upstream (they carry
    * no retrieval signal; the threshold is the caller's contract). */
  def invertedIndex(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("_id"),
        explode(array_distinct(split(col(textCol), " "))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("_id"))).as("postings"))

  /** [NS] — POSITIONAL inverted index: token → (doc, position) posting
    * pairs, the phrase-query/proximity-scoring extension of
    * [[invertedIndex]] (adjacent positions = phrase hit; |Δpos| = the
    * proximity feature). Positions are 1-based token offsets within the
    * doc's space-split sequence — one posexplode, one groupBy(token);
    * repeated tokens emit every position (that is the point: term
    * frequency AND layout survive). Same skew contract as
    * [[invertedIndex]], amplified by within-doc tf — cap df upstream. */
  def positionalIndex(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("_id"),
        posexplode(split(col(textCol), " ")).as(Seq("_p", "token")))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(struct(col("_id"), (col("_p") + 1)
          .cast("long").as("_pos")))).as("postings"))

  /** [NS] — exact phrase search: documents containing `phrase` as
    * CONSECUTIVE tokens, with hit count and first match position — the
    * serving query the positional index ([[positionalIndex]]) exists
    * for, here run straight off the corpus in one pass. The trick is
    * anchor alignment: token occurrence (doc, p) matching phrase slot i
    * votes for anchor p−i, and a genuine phrase hit is an anchor that
    * collects ALL |phrase| distinct slots. Repeated phrase terms are
    * handled by letting one token occurrence vote for every slot that
    * term occupies (the explode over its slot set).
    *
    * Plan shape: ONE posexplode filtered to the phrase's terms at the
    * generator (the corpus never materializes as (doc, pos, token) for
    * non-phrase tokens), one groupBy(doc, anchor) over votes, one
    * groupBy(doc) over anchors — no join, no union, no window. At
    * 100 TB the vote table is |phrase| × the phrase terms' postings,
    * the same data a positional-index probe would read. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    val slotsOf: Map[String, Seq[Int]] =
      phrase.zipWithIndex.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // token → the array of phrase slots that term occupies (when-chain:
    // the phrase is a plan literal, exactly like the BM25 term set)
    val slotArr = slotsOf.foldLeft(lit(null).cast("array<int>")) {
      case (acc, (t, is)) =>
        when(col("token") === t, array(is.map(lit(_)): _*)).otherwise(acc)
    }
    df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("_p", "token")))
      .filter(col("token").isin(phrase.distinct: _*))
      .select(col(idCol), col("_p"), explode(slotArr).as("slot"))
      .groupBy(col(idCol), (col("_p") - col("slot")).cast("long").as("anchor"))
      .agg(countDistinct(col("slot")).as("ns"))
      .filter(col("ns") === phrase.length)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        (min(col("anchor")) + 1).as("first_pos"))
  }

  /** [NS] — BM25 top-k retrieval, log-free integer-exact variant: score
    * each document against a small bag of query `terms` and return the
    * `k` best. Classic BM25 (Robertson k1=1.2, b=0.75) with two
    * substitutions that make every score an exact integer (the q83
    * "order without logs" convention — ln() never bit-matches across
    * engines, so parity demands rational arithmetic):
    *
    *   idf_pm    = (10^4 · (2·(N−df)+1)) div (2·df+1)
    *               — the Robertson fraction (N−df+0.5)/(df+0.5) in
    *               fixed-point, WITHOUT the outer log. Same sign and
    *               same df-monotonicity; rare terms weigh steeper than
    *               log-BM25, which is the documented trade.
    *   tfc_ppm   = (10^6 · 44·tf·L) div (20·tf·L + 6·L + 18·dl·N)
    *               — tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
    *               k1=6/5, b=3/4, avgdl=L/N cleared to one integer
    *               fraction (multiply num+den by 20·N·avgdl = 20·L).
    *   score     = Σ_terms (idf_pm · tfc_ppm) div 10^4   [scale 10^6]
    *
    * Magnitude contract (documented like linearModelScore): the largest
    * intermediate is 10^6·44·tf·L ≤ 4.4e7·tf·L — safe to corpora of
    * ~10^9 total tokens with tf ≤ 10^2; beyond that re-scale to
    * decimal(38) in BOTH engines.
    *
    * Plan shape at 100 TB: `terms` is a plan literal (isin filter pushed
    * to the scan side of the explode); doc length dl is PER-ROW
    * arithmetic (size of the non-empty split — no explode, no shuffle);
    * (L, N) is a 1-row broadcast; tf and df both derive from ONE
    * filtered explode (df = distinct-doc count per term rides the same
    * aggregate); the ranked result is a TakeOrderedAndProject of ≤ N
    * scored docs, never a global sort of the corpus. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int)
      : DataFrame = Stage("Curation.bm25TopK") { st =>
    val words = split(col(textCol), " ")
    val dl = df.select(col(idCol),
      size(filter(words, w => length(w) > 0)).cast("long").as("dl"))
    val tot = dl.agg(sum(col("dl")).as("_L"),
      count(lit(1)).as("_N"))
    // tf AND df both read this ≤ N·|terms|-row table; eager checkpoint so
    // the corpus explode runs once, not once per consumer (q83's pattern)
    val hits = st.checkpoint(df.select(col(idCol), explode(words).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf")), "hits")
    val dfreq = hits.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    bm25Rank(hits.join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(tot)), idCol, k)
  }

  /** The BM25 scoring tail shared by [[bm25TopK]] (from-scratch) and
    * [[TextIndex.serveBm25]] (stored postings): rows carrying
    * (idCol, tf, df, dl, _L, _N) → per-doc integer score + top-k. ONE
    * expression tree, so the two paths are bit-identical by
    * construction. */
  private[operators] def bm25Rank(scoredIn: DataFrame, idCol: String,
      k: Int): DataFrame =
    scoredIn
      .withColumn("idf_pm", expr(
        "(10000 * (2 * (_N - df) + 1)) div (2 * df + 1)"))
      .withColumn("tfc_ppm", expr(
        "(1000000 * 44 * tf * _L) div (20 * tf * _L + 6 * _L + 18 * dl * _N)"))
      .groupBy(col(idCol))
      .agg(sum(expr("(idf_pm * tfc_ppm) div 10000")).as("score_ppm"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_ppm").desc, col(idCol).asc)
      .limit(k)

  /** [NS] — size-balanced shard packing: assign each row to one of
    * `nShards` shards so per-shard total size is near-equal — the
    * training-shard writer's answer to skewed document lengths, where
    * [[shardWrite]]'s pure hash assignment balances COUNTS but lets a
    * few book-length docs make one shard 2× another (uneven shard =
    * straggler training step). Serpentine (boustrophedon) round-robin
    * over the global (size DESC, id) rank: rank r goes to shard
    * `pos = (r-1) mod n` on even blocks and `n-1-pos` on odd blocks, so
    * every window of 2n consecutive ranks contributes exactly one pair
    * summing ~equal to every shard — max/min shard spread is bounded by
    * the largest single item, like LPT, but stays a pure function of the
    * rank (deterministic, oracle-expressible).
    *
    * The global rank is the scale-relevant part: NOT a single-partition
    * window. Two passes, the zipWithIndex shape: range-repartition by
    * the rank key, count rows per range (a `parts`-row driver read),
    * then rank = broadcast cumulative offset of the range + the
    * row_number WITHIN the range. Only (id, size) ever shuffles — the
    * document payload joins back by id afterwards if needed. The ranked
    * frame is checkpointed so the range boundaries (sampled once)
    * can't drift between the count pass and the rank pass. */
  def packShards(df: DataFrame, idCol: String, sizeCol: String,
      nShards: Int): DataFrame = Stage("Curation.packShards") { implicit st =>
    withGlobalRank(df.select(col(idCol), col(sizeCol)),
      Seq(col(sizeCol).desc, col(idCol).asc), "_rk0")._1
      .withColumn("shard",
        when(expr(s"(_rk0 div $nShards) % 2") === 0,
          col("_rk0") % nShards)
          .otherwise(lit(nShards - 1) - col("_rk0") % nShards))
      .drop("_rk0")
  }

  /** Inference-batching padding-waste audit: fixed-size micro-batches
    * (`batchSize` sequences each, padded to the batch max) cost
    * `count·max(tok)` compute per batch; the audit prices that waste
    * for two batch orderings — length-sorted descending vs arrival
    * (id) order — as (strategy, n_batches, sum_tokens, padded_tokens,
    * waste_ppm). Length-sorting is the standard serving trick
    * (homogeneous batches pad least); the delta between the two rows
    * is the measured win. Distinct from [[packGreedy]]: packing fills
    * a TOKEN budget for training, this audits fixed-COUNT padded
    * batches for inference. Plan: each arm is one two-pass global rank
    * ([[withGlobalRank]] — no single-partition window) + a batch
    * aggregate + a 1-row fold; batch ids never leave the executors. */
  def paddingWaste(df: DataFrame, idCol: String, tokCol: String,
      batchSize: Int)
      : DataFrame = Stage("Curation.paddingWaste") { implicit st =>
    def arm(order: Seq[Column], strategy: String): DataFrame =
      withGlobalRank(df.select(col(idCol), col(tokCol)), order, "_rk")._1
        .withColumn("_batch", expr(s"_rk div $batchSize"))
        .groupBy(col("_batch"))
        .agg(count(lit(1)).as("_c"), max(col(tokCol)).as("_m"),
          sum(col(tokCol)).as("_s"))
        .agg(count(lit(1)).as("n_batches"), sum(col("_s")).as("sum_tokens"),
          sum(expr("_c * _m")).as("padded_tokens"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("sum_tokens"), col("padded_tokens"),
          expr("CASE WHEN padded_tokens > 0 THEN (1000000 * " +
            "(padded_tokens - sum_tokens)) div padded_tokens END")
            .as("waste_ppm"))
    arm(Seq(col(tokCol).desc, col(idCol)), "sorted_desc")
      .unionByName(arm(Seq(col(idCol)), "arrival"))
  }

  /** The distributed zipWithIndex shape shared by [[packShards]] and
    * [[Analytics.equiDepth]]: 0-based global rank in `order` WITHOUT a
    * single-partition window — range-repartition on the rank keys,
    * count rows per range (a `parts`-row driver read), rank = broadcast
    * cumulative range offset + row_number within the range. The ranked
    * frame is checkpointed in the caller's Stage so the sampled range
    * boundaries cannot drift between the count pass and the rank pass.
    * Returns the ranked frame and its row count N (the last offset).
    * `order` must be a total order (include a unique tiebreak) or ranks
    * at boundary ties are partition-dependent. */
  private[operators] def withGlobalRank(df: DataFrame, order: Seq[Column],
      rankCol: String)(implicit st: Stage): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val parts =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = st.checkpoint(df
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_pid", spark_partition_id()), s"rank$rankCol")
    val counts = sorted.groupBy(col("_pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2)
    val offExpr = counts.map(_._1).zip(offsets)
      .foldLeft(lit(0L)) { case (acc, (pid, off)) =>
        when(col("_pid") === pid, lit(off)).otherwise(acc)
      }
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
    (sorted
      .withColumn(rankCol, row_number().over(w).cast("long") + offExpr - 1L)
      .drop("_pid"), offsets.last)
  }

  /** [NS] — attach an exact equi-depth bucket column: bucket of a row =
    * `rank · buckets div N` over the given total order — the per-ROW
    * sibling of [[Analytics.equiDepth]] (which aggregates the buckets
    * away). This is the binning step of every score-stratified mixture:
    * quality/perplexity quartiles, difficulty tiers, curriculum stages —
    * downstream samplers then draw per bucket. Rank is the two-pass
    * [[withGlobalRank]] (no single-partition window); N is the sum of its
    * per-range counts. `order` must include a unique tiebreak. */
  def withEquiBuckets(df: DataFrame, order: Seq[Column], buckets: Int,
      binCol: String)
      : DataFrame = Stage("Curation.withEquiBuckets") { implicit st =>
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val (ranked, n) = withGlobalRank(df, order, "_rkb")
    ranked.withColumn(binCol, expr(s"(_rkb * $buckets) div ${n}L"))
      .drop("_rkb")
  }

  /** [NS] — hybrid retrieval: BM25 (lexical, [[bm25TopK]]) fused with
    * char-trigram Jaccard (fuzzy — catches what exact term match misses:
    * typos, morphology, e.g. query "sparc" still surfaces "spark" docs)
    * by INTEGER-QUANTIZED reciprocal-rank fusion, RRF (Cormack et al.,
    * SIGIR'09) with each 1/(k0+rank) term replaced by
    * `rrfScale div (k0+rank)` — integer division both engines floor
    * identically, where float RRF sums are addition-order-dependent and
    * can't hash-match an oracle. Quantization error is < candidates /
    * rrfScale relative — irrelevant to ranking at rrfScale = 1e9.
    *
    * Scale shape: each arm is its own top-`candidates` ranking (BM25:
    * the q124 plan; fuzzy: one explode filtered to the query's own
    * trigrams — ~|query| distinct grams, so the explode output is
    * corpus-hits-sized, not corpus-sized). The rank windows and the
    * full-outer fusion join run on ≤2·candidates rows — driver-bounded
    * small, broadcast. Returns top-k by fused score, ties on id. */
  def hybridRetrieve(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], queryText: String, candidates: Int, k: Int,
      rrfK: Int = 60, rrfScale: Long = 1000000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // candidate frames are ≤`candidates` rows — a single-partition rank
    // window over them is deliberate, not a scale hazard
    val bmW = Window.orderBy(col("score_ppm").desc, col(idCol).asc)
    val bm = bm25TopK(df, idCol, textCol, terms, candidates)
      .withColumn("bm25_rank", row_number().over(bmW).cast("long"))
      .select(col(idCol), col("bm25_rank"))
    val qGrams = queryText.sliding(3).filter(_.length == 3).toSeq.distinct
    // The fuzzy arm is query-gram COVERAGE scoring (pg_trgm's
    // word_similarity shape: how much of the QUERY's trigram set the doc
    // contains, plus total occurrences as the tiebreak) — ~|query| native
    // codegen'd instr/replace scans per row, MAP-ONLY, ending in
    // TakeOrderedAndProject. Deliberately NOT doc-side Jaccard: building
    // each doc's distinct-trigram set per row (array_distinct over
    // hundreds of entries, or an explode + two shuffles) measured 26 s at
    // the 10× probe vs ~1 s for this form, and doc-length normalization
    // is the wrong prior for query matching anyway (BM25's dl term
    // already covers it on the lexical arm).
    val isectC = qGrams.map(g =>
      when(instr(col(textCol), g) > 0, 1L).otherwise(0L)).reduce(_ + _)
    val occC = expr("(" + qGrams.map(g =>
        s"(length(`$textCol`) - length(replace(`$textCol`, '$g', '')))")
      .mkString(" + ") + ") div 3")
    val fzW = Window.orderBy(col("isect").desc, col("occ").desc,
      col(idCol).asc)
    val fz = df
      .withColumn("isect", isectC)
      .filter(col("isect") > 0)
      .withColumn("occ", occC.cast("long"))
      .orderBy(col("isect").desc, col("occ").desc, col(idCol).asc)
      .limit(candidates)
      .withColumn("fuzzy_rank", row_number().over(fzW).cast("long"))
      .select(col(idCol), col("fuzzy_rank"))
    bm.join(fz, Seq(idCol), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"$rrfScale div ($rrfK + bm25_rank)"), lit(0L)) +
          coalesce(expr(s"$rrfScale div ($rrfK + fuzzy_rank)"), lit(0L)))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(k)
  }

  /** [NS] — epoch expansion: materialize the training-mixture recipe
    * (LLaMA-style "source X seen N times per epoch") as actual rows —
    * each doc repeated `epochs` times with an `epoch_idx`, plus `ord`,
    * a deterministic md5 global order key over (id, epoch). Sorting by
    * `ord` IS the training shuffle: reproducible across runs, engines,
    * and partitionings (never rand()), interleaving epochs and sources
    * uniformly. Scale: the explode is output-sized with no shuffle; the
    * one sort is the point (write shards sorted by `ord` and training
    * order is frozen into the layout — re-sharding 100 TB never
    * re-rolls the curriculum). Rows with epochs < 1 are dropped
    * (weight-0 sources leave the mixture). */
  def epochExpand(df: DataFrame, idCol: String,
      epochs: Column): DataFrame =
    df.withColumn("_n", epochs.cast("int"))
      .filter(col("_n") >= 1)
      .withColumn("epoch_idx", explode(sequence(lit(1), col("_n"))))
      .withColumn("epoch_idx", col("epoch_idx").cast("long"))
      .withColumn("ord", md5(concat_ws(":",
        col(idCol).cast("string"), col("epoch_idx").cast("string"))))
      .drop("_n")

  /** [NS] — content-defined chunking (CDC): cut a document where the
    * hash of the trailing `w`-gram has its low `maskBits` bits zero
    * (expected chunk length 2^maskBits chars), the rsync/LBFS boundary
    * rule. Unlike fixed-size [[chunk]]ing, boundaries are anchored to
    * CONTENT: insert a byte and only the chunks around the edit change,
    * so chunk-hash dedup across near-identical docs (or blob versions)
    * still hits on every untouched region — the storage-dedup chunker
    * for an archive of re-crawled/re-encoded payloads.
    *
    * One row per (doc, chunk_idx) with the chunk's length and md5.
    * Per-row expression work, no shuffle, no UDF; the cut scan is the
    * native codegen'd [[graft.functions.CdcExpression.cdcCuts]] kernel
    * (the interpreted HOF composition it replaced cost 19.8 s at sf0.1;
    * the kernel is bit-identical — KernelEquivalenceSpec), and the gram
    * hash is the engine-portable md5-slice ([[hashBucket]] convention)
    * so a SQL oracle reproduces every boundary bit-exactly. Cost is
    * O(len·w) md5 bytes per doc — a rolling Gear hash could shave the
    * constant further but would break engine portability; the chunk
    * table, not the chunker, is the scale product: dedup is then a
    * groupBy(chunk_hash) over rows that never carry the corpus text.
    * A boundary landing exactly at end-of-doc merges with the natural
    * final cut (no empty tail chunk); docs shorter than `w` are one
    * chunk. Empty docs yield no rows. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, maskBits: Int = 5): DataFrame = {
    require(w >= 1 && maskBits >= 1 && maskBits <= 30,
      s"bad CDC geometry: w=$w maskBits=$maskBits")
    val t = textCol
    df.filter(length(col(t)) > 0)
      .withColumn("_cs",
        graft.functions.CdcExpression.cdcCuts(col(t), w, maskBits))
      .withColumn("_se", expr(
        s"zip_with(concat(array(0), _cs), concat(_cs, array(length($t))), " +
          "(s, e) -> struct(s AS s, e AS e))"))
      // outer posexplode: _se always has >= 1 element (a doc is at least
      // one chunk), and the outer form keeps the optimizer from inferring
      // a size(..)>0 pre-filter that would re-evaluate the cut kernel
      // twice more per row in the scan pipeline
      .select(col(idCol), col(t),
        posexplode_outer(col("_se")).as(Seq("chunk_idx", "_b")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("_b.e") - col("_b.s")).cast("long").as("chunk_len"),
        expr(s"md5(substring($t, _b.s + 1, _b.e - _b.s))").as("chunk_hash"))
  }

  /** HTML entity decode for the five entities [[extractText]] recognizes —
    * `&amp;` LAST so a literal `&amp;lt;` decodes to `&lt;`, not `<`
    * (the standard single-pass decode order). */
  private def decodeEntities(c: Column): Column =
    regexp_replace(
      replace(replace(replace(replace(replace(c,
        lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
        lit("&quot;"), lit("\"")), lit("&#39;"), lit("'")),
        lit("&nbsp;"), lit(" ")),
      "&amp;", "&")

  /** [NS] Crawl-ingest text extraction — the stage between raw markup and
    * every downstream quality/dedup gate (q27/q103 assume clean text; a
    * real pretraining pipeline gets there THROUGH this operator). Three
    * steps, all per-row string kernels (regexp_replace / higher-order
    * array functions — zero UDFs, zero explode, zero exchange; the 100 TB
    * cost is exactly one codegen'd scan of the crawl):
    *
    *  1. structural strip: `<script>`/`<style>` elements vanish WITH
    *     their content (dot-all, case-insensitive — code is not prose);
    *     block-element closes (`</p> </div> </h1..6> </li> </tr>
    *     </table> </ul> </ol> </blockquote>`, plus `<br>`) become line
    *     breaks so the document's block structure survives tag removal.
    *  2. per-line cleanup: remaining tags → spaces, the five standard
    *     entities decoded ([[decodeEntities]]), whitespace collapsed.
    *  3. line-level boilerplate gate (the jusText/trafilatura shape,
    *     Pomikálek 2011): a line is CONTENT iff it has ≥ `minWords`
    *     words, ≥ `minChars` characters, and link density ≤
    *     `maxLinkPpm` — link density measured as the character share
    *     that came from inside `<a>` elements (navigation bars and
    *     footers are mostly anchor text; paragraphs are not). All three
    *     signals are exact integer arithmetic, so the whole decision
    *     hash-matches a DuckDB oracle running the same kernels.
    *
    * Output: (idCol, keepCols..., clean_text = kept lines joined by
    * '\n', kept_lines, dropped_lines) — `keepCols` pass through
    * untouched (a STREAMING ingest needs the event time to survive
    * extraction for the downstream watermark/gate);
    * dropped counts only lines that still had text after
    * tag stripping (a pure-markup line is not "boilerplate", it is
    * structure). Reference precedent: the description-blanking refine
    * (cmds/archive.py:105, utils.py:8) is the reference's own (tiny)
    * text-cleanup stage; this is its crawl-scale generalization. */
  def extractText(df: DataFrame, idCol: String, htmlCol: String,
      minWords: Int = 3, minChars: Int = 10,
      maxLinkPpm: Long = 300000L, keepCols: Seq[String] = Nil): DataFrame = {
    require(minWords >= 1 && minChars >= 1 && maxLinkPpm >= 0,
      s"bad extractText gate: minWords=$minWords minChars=$minChars " +
        s"maxLinkPpm=$maxLinkPpm")
    val noScript = regexp_replace(col(htmlCol),
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val blocked = regexp_replace(noScript,
      "(?i)</(p|div|h[1-6]|li|tr|table|ul|ol|blockquote)>|<br[^>]*>", "\n")
    // per raw line: the cleaned text, and the cleaned text with anchor
    // ELEMENTS (tag + content) removed — their length difference is the
    // anchor-contributed character count the link-density gate needs
    def cleaned(l: Column) = trim(regexp_replace(decodeEntities(
      regexp_replace(l, "<[^>]*>", " ")), "\\s+", " "))
    val lines = transform(split(blocked, "\n"), l =>
      struct(
        cleaned(l).as("c"),
        cleaned(regexp_replace(l, "(?is)<a[^>]*>.*?</a>", " ")).as("cna")))
    val cand = filter(lines, s => s("c") =!= "")
    val isKept = (s: Column) => {
      val tl = length(s("c"))
      val words = tl - length(replace(s("c"), lit(" "), lit(""))) + 1
      val linkLen = greatest(lit(0), tl - length(s("cna")))
      words >= minWords && tl >= minChars &&
        linkLen * lit(1000000L) <= lit(maxLinkPpm) * tl
    }
    df.withColumn("_cand", cand)
      .withColumn("_kept", filter(col("_cand"), isKept))
      .select(col(idCol) +: keepCols.map(col) :+
        array_join(transform(col("_kept"), s => s("c")), "\n")
          .as("clean_text") :+
        size(col("_kept")).cast("long").as("kept_lines") :+
        (size(col("_cand")) - size(col("_kept"))).cast("long")
          .as("dropped_lines"): _*)
  }

  /** [NS] Crawl URL parsing — the metadata half of crawl ingest: every
    * real pretraining pipeline filters and weights by URL structure
    * (domain blocklists, per-domain quality priors, path-depth
    * heuristics) before it ever reads a page body. Pure per-row
    * regexp_extract kernels (codegen'd, zero exchange), written to be
    * replayable verbatim in the DuckDB oracle (same RE2-safe patterns,
    * same group indexes — no parse_url dependence, which DuckDB lacks).
    * Appends: scheme, host, domain (last two host labels), tld, path,
    * path_depth, is_https. Malformed URLs yield empty strings / zero
    * depth, never nulls or errors (a crawl always contains garbage). */
  def parseUrl(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val host = regexp_extract(u, "^[a-z]+://([^/]+)", 1)
    val path = regexp_extract(u, "^[a-z]+://[^/]*(/.*)$", 1)
    df.withColumn("scheme", regexp_extract(u, "^([a-z]+)://", 1))
      .withColumn("host", host)
      .withColumn("domain", regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
      .withColumn("tld", regexp_extract(host, "\\.([^.]+)$", 1))
      .withColumn("path", path)
      .withColumn("path_depth",
        (length(path) - length(replace(path, lit("/"), lit(""))))
          .cast("long"))
      .withColumn("is_https", col("scheme") === "https")
  }

  /** Domain blocklist gate: drop rows whose host IS a blocked domain or
    * any SUBDOMAIN of one (the standard blocklist semantics — blocking
    * `spam.example` must also block `cdn.spam.example`). The blocklist
    * is a plan literal chain of per-row predicates (a blocklist is
    * thousands of entries, not data-sized — at larger sizes switch to a
    * broadcast anti-join on the suffix-chain; the semantics here are
    * the contract). Rows pass through with a `blocked` flag rather than
    * being silently dropped, so callers can count what the gate cost —
    * filter on `!blocked` to enforce. */
  def domainGate(df: DataFrame, hostCol: String,
      blocked: Seq[String]): DataFrame = {
    val h = col(hostCol)
    val hit = blocked.foldLeft(lit(false)) { (acc, b) =>
      acc || h === b || h.endsWith("." + b)
    }
    df.withColumn("blocked", hit)
  }

  /** [NS] Bigram language-model document scorer — the integer cousin of
    * the CCNet/KenLM perplexity gate that sits between extraction and
    * training in every pretraining pipeline: TRAIN docs build bigram
    * and context counts; each PROBE doc scores as its mean conditional
    * bigram probability in exact ppm — p(w2|w1) = (10⁶·c(w1 w2)) div
    * c(w1 ·), with unseen bigrams contributing 0 (the harshest backoff:
    * gibberish scores near zero, in-domain text near the corpus's true
    * conditionals). All integer counts + one div per bigram, so scores
    * hash-match the oracle (ln-free by the usual parity argument; rank
    * order vs true mean-log-prob differs as documented for the q124 idf
    * — monotone per bigram, not jointly).
    *
    * Plan: one explode+groupBy over TRAIN (model build — vocab²-bounded
    * output, in practice corpus-bigram-sized); probe bigrams join the
    * model on the bigram key (broadcast when the model is small,
    * key-partitioned at scale), one groupBy(doc). Docs with < 2 tokens
    * have no bigrams and are absent, [[oovGate]]'s convention. Output:
    * (idCol, n_bigrams, mean_p_ppm). */
  def bigramLmScore(train: DataFrame, probe: DataFrame, idCol: String,
      textCol: String): DataFrame =
    lmScoreFromModel(probe,
      bigramFrame(train, idCol, textCol)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")),
      idCol, textCol)

  /** Per-doc bigram explode shared by the in-query scorer and the
    * stored-model lifecycle ([[LmIndex]]): (idCol, w1, w2), one row per
    * ADJACENT token pair; docs with < 2 tokens contribute nothing. */
  private[operators] def bigramFrame(df: DataFrame, idCol: String,
      textCol: String): DataFrame = df
    .select(col(idCol), split(col(textCol), " ").as("_l"))
    .filter(size(col("_l")) >= 2)
    .select(col(idCol), explode(expr(
      "transform(sequence(1, size(_l) - 1), i -> " +
        "struct(element_at(_l, i) as w1, element_at(_l, i + 1) as w2))"))
      .as("_b"))
    .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))

  /** The LM scoring tail shared by [[bigramLmScore]] (in-query model)
    * and [[LmIndex.serve]] (stored model): `model` = (w1, w2, c2);
    * contexts derive from the model itself (model-sized aggregate,
    * never a corpus scan), so the two paths are bit-identical by
    * construction. */
  private[operators] def lmScoreFromModel(probe: DataFrame,
      model: DataFrame, idCol: String, textCol: String): DataFrame = {
    val uni = model.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val scored = model.join(uni, Seq("w1"))
      .withColumn("p_ppm", expr("(1000000 * c2) div c1"))
      .select(col("w1"), col("w2"), col("p_ppm"))
    bigramFrame(probe, idCol, textCol)
      .join(scored, Seq("w1", "w2"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("p_ppm"), lit(0L))).as("_s"))
      .withColumn("mean_p_ppm", expr("_s div n_bigrams"))
      .select(col(idCol), col("n_bigrams"), col("mean_p_ppm"))
  }

  /** [NS] Trigram "stupid backoff" document scorer (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — the smoothing
    * scheme built FOR distributed corpus-count LMs, which is exactly
    * this engine's shape): each probe trigram scores
    *
    *   S(w3|w1,w2) = c(w1w2w3)/c(w1w2·)            when the trigram is seen
    *               = 0.4 · c'(w2w3)/c'(w2·)         else, bigram backoff
    *               = 0.4² · c'(w3)/N                else, unigram backoff
    *               = 0                               never-seen word
    *
    * in exact truncating ppm (10⁶·c div ctx, 400000·c div ctx,
    * 160000·c div N — 0.4 is the published backoff factor). The
    * lower-order counts c' are the INTERNAL-POSITION marginals of the
    * trigram table itself (Σ over the leading word), so the stored
    * model stays SINGLE-SOURCED: a merge only ever touches (w1,w2,w3)
    * count rows and no lower order can drift out of sync — the
    * document-boundary bigrams this under-counts are a deliberate,
    * documented trade (negligible at corpus scale, exactly
    * reproducible at any scale). Scores are ranking scores, not
    * probabilities — Brants' point; the gate thresholds them the same
    * way. Upgrades the q214 bigram gate: gibberish now dies three
    * levels deep instead of scoring 0-vs-0 ties, and the per-doc
    * backoff-level hit counts (n_hit3/n_hit2/n_hit1) expose HOW a doc
    * scored — the fertility-style readout for the LM gate.
    *
    * Output: (idCol, n_trigrams, n_hit3, n_hit2, n_hit1, mean_s_ppm);
    * docs with < 3 tokens have no trigrams and are absent. */
  def trigramLmScore(train: DataFrame, probe: DataFrame, idCol: String,
      textCol: String): DataFrame =
    sbScoreFromModel(probe,
      trigramFrame(train, idCol, textCol)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("c3")),
      idCol, textCol)

  /** Per-doc trigram explode shared by the in-query scorer and the
    * stored lifecycle ([[LmIndex.serveTrigram]]): (idCol, w1, w2, w3),
    * one row per ADJACENT token triple. */
  private[operators] def trigramFrame(df: DataFrame, idCol: String,
      textCol: String): DataFrame = df
    .select(col(idCol), split(col(textCol), " ").as("_l"))
    .filter(size(col("_l")) >= 3)
    .select(col(idCol), explode(expr(
      "transform(sequence(1, size(_l) - 2), i -> " +
        "struct(element_at(_l, i) as w1, element_at(_l, i + 1) as w2, " +
        "element_at(_l, i + 2) as w3))"))
      .as("_t"))
    .select(col(idCol), col("_t.w1").as("w1"), col("_t.w2").as("w2"),
      col("_t.w3").as("w3"))

  /** The stupid-backoff scoring tail shared by [[trigramLmScore]]
    * (in-query model) and [[LmIndex.serveTrigram]] (stored model):
    * `model` = (w1, w2, w3, c3); every lower order derives from the
    * model itself (model-sized aggregates, never a corpus scan). */
  private[operators] def sbScoreFromModel(probe: DataFrame,
      model: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ctx12 = model.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c12"))
    // ppm numerators in decimal(38,0): 10⁶ × a corpus-scale count wraps
    // long at counts ≈ 9.2e12 — stop-word trigrams at web-corpus scale
    // reach that range (the Bloom.advisor overflow class); the quotient
    // itself is ppm-sized, so `div`'s LongType result is safe
    val tri = model.join(ctx12, Seq("w1", "w2"))
      .withColumn("s3_ppm",
        expr("(1000000 * cast(c3 as decimal(38,0))) div c12"))
      .select(col("w1"), col("w2"), col("w3"), col("s3_ppm"))
    val b2 = model.groupBy(col("w2"), col("w3"))
      .agg(sum(col("c3")).as("c23"))
      .join(model.groupBy(col("w2")).agg(sum(col("c3")).as("c2")),
        Seq("w2"))
      .withColumn("s2_ppm",
        expr("(400000 * cast(c23 as decimal(38,0))) div c2"))
      .select(col("w2"), col("w3"), col("s2_ppm"))
    val u1 = model.groupBy(col("w3")).agg(sum(col("c3")).as("c3u"))
      .crossJoin(broadcast(model.agg(sum(col("c3")).as("n"))))
      .withColumn("s1_ppm",
        expr("(160000 * cast(c3u as decimal(38,0))) div n"))
      .select(col("w3"), col("s1_ppm"))
    trigramFrame(probe, idCol, textCol)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(b2, Seq("w2", "w3"), "left")
      .join(u1, Seq("w3"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("s3_ppm").isNotNull, 1L).otherwise(0L))
          .as("n_hit3"),
        sum(when(col("s3_ppm").isNull && col("s2_ppm").isNotNull, 1L)
          .otherwise(0L)).as("n_hit2"),
        sum(when(col("s3_ppm").isNull && col("s2_ppm").isNull &&
          col("s1_ppm").isNotNull, 1L).otherwise(0L)).as("n_hit1"),
        sum(coalesce(col("s3_ppm"), col("s2_ppm"), col("s1_ppm"),
          lit(0L))).as("_s"))
      .withColumn("mean_s_ppm", expr("_s div n_trigrams"))
      .select(col(idCol), col("n_trigrams"), col("n_hit3"),
        col("n_hit2"), col("n_hit1"), col("mean_s_ppm"))
  }

  /** [NS] Interpolated Kneser–Ney trigram scorer (Kneser & Ney 1995;
    * Chen & Goodman 1999's interpolated form) — the OTHER published
    * smoothing tier on the same stored (w1,w2,w3,c3) table:
    * [[trigramLmScore]]'s stupid backoff is the distributed-scale
    * ranking score (Brants 2007); this is the proper probability,
    * exact-integer with absolute discount D = 3/4 carried as the
    * rational 3/4 (cleared denominators — no float ever):
    *
    *   p(w3|w1,w2) = (4·c3−3)·10⁶ div (4·c12)
    *                 + λ₁₂·p_cont(w3|w2) div 10⁶,
    *   λ₁₂ = 3·10⁶·T₃(w1,w2) div (4·c12)
    *
    * with the bigram level built from CONTINUATION counts of the
    * trigram table itself (the KN device: N1+(·,w2,w3) types, not raw
    * counts) and the unigram level the continuation-type distribution.
    * Unseen trigram under a seen context → the λ·p_cont term alone;
    * unseen context → full weight on the lower level (λ = 1). Every
    * division is a truncating integer div in a FIXED order, so both
    * engines agree bit-for-bit; the distribution property
    * Σ_w3 p ≈ 10⁶ (up to accumulated truncation) is pinned in spec.
    * Output: (idCol, n_trigrams, mean_p_ppm) — docs with < 3 tokens
    * absent. */
  def knTrigramScore(train: DataFrame, probe: DataFrame, idCol: String,
      textCol: String): DataFrame =
    knScoreFromModel(probe,
      trigramFrame(train, idCol, textCol)
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("c3")),
      idCol, textCol)

  /** The Kneser–Ney scoring tail shared by [[knTrigramScore]] (in-query
    * model) and [[LmIndex.serveTrigramKn]] (stored model): `model` =
    * (w1, w2, w3, c3); all three levels derive from the model itself. */
  private[operators] def knScoreFromModel(probe: DataFrame,
      model: DataFrame, idCol: String, textCol: String): DataFrame = {
    // top level: context totals + continuation-type counts
    val ctx12 = model.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c12"), count(lit(1)).as("t3"))
    val tri = model.select(col("w1"), col("w2"), col("w3"), col("c3"))
    // middle level (KN continuation): n1p2(w2,w3) = #distinct w1;
    // per-context totals and type counts
    val cont2 = model.groupBy(col("w2"), col("w3"))
      .agg(countDistinct(col("w1")).as("n1p2"))
    val ctx2 = cont2.groupBy(col("w2"))
      .agg(sum(col("n1p2")).as("n1p2dot"), count(lit(1)).as("t2"))
    // bottom level: p1(w3) = #distinct left-neighbors of w3 in the
    // continuation-bigram set over the set's size
    val bigSet = model.select(col("w2"), col("w3")).distinct()
    val uniN = bigSet.agg(count(lit(1)).as("n1dot"))
    val uni = bigSet.groupBy(col("w3"))
      .agg(count(lit(1)).as("n1"))
      .crossJoin(broadcast(uniN))
      .withColumn("p1_ppm",
        expr("(1000000 * cast(n1 as decimal(38,0))) div n1dot"))
      .select(col("w3"), col("p1_ppm"))
    trigramFrame(probe, idCol, textCol)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(ctx12, Seq("w1", "w2"), "left")
      .join(cont2, Seq("w2", "w3"), "left")
      .join(ctx2, Seq("w2"), "left")
      .join(uni, Seq("w3"), "left")
      .withColumn("_p1", coalesce(col("p1_ppm"), lit(0L)))
      // discount numerators in decimal(38,0): (4·count − 3)·10⁶ wraps
      // long at counts ≈ 2.3e12 (see [[sbScoreFromModel]]'s note); the
      // λ·p products stay long — both factors are ppm-bounded
      .withColumn("_p2", expr(
        "CASE WHEN n1p2dot IS NULL THEN _p1 ELSE " +
          "(CASE WHEN n1p2 IS NOT NULL THEN " +
          "((4 * cast(n1p2 as decimal(38,0)) - 3) * 1000000) " +
          "div (4 * cast(n1p2dot as decimal(38,0))) " +
          "ELSE CAST(0 AS BIGINT) END) + " +
          "(((3000000 * cast(t2 as decimal(38,0))) " +
          "div (4 * cast(n1p2dot as decimal(38,0)))) * _p1) " +
          "div 1000000 END"))
      .withColumn("_p", expr(
        "CASE WHEN c12 IS NULL THEN _p2 ELSE " +
          "(CASE WHEN c3 IS NOT NULL THEN " +
          "((4 * cast(c3 as decimal(38,0)) - 3) * 1000000) " +
          "div (4 * cast(c12 as decimal(38,0))) " +
          "ELSE CAST(0 AS BIGINT) END) + " +
          "(((3000000 * cast(t3 as decimal(38,0))) " +
          "div (4 * cast(c12 as decimal(38,0)))) * _p2) " +
          "div 1000000 END"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("_p")).as("_s"))
      .withColumn("mean_p_ppm", expr("_s div n_trigrams"))
      .select(col(idCol), col("n_trigrams"), col("mean_p_ppm"))
  }

  /** [NS] Corpus-level line deduplication — the C4 "remove boilerplate
    * by global repetition" stage (Raffel et al. 2020 drop three-sentence
    * spans occurring more than once; the line-granular variant is what
    * most production pipelines run): any line occurring in more than
    * `maxDocs` DISTINCT documents is boilerplate (cookie banners,
    * nav crumbs, license footers survive per-page extraction because
    * they look like prose — only corpus-wide repetition exposes them)
    * and is removed from EVERY document; surviving lines rebuild each
    * document in original order.
    *
    * Plan: one explode to (doc, pos, line); line frequencies via ONE
    * groupBy on md5(line) (the 128-bit hash keys the shuffle — the
    * line text itself never shuffles twice); the verdict joins back on
    * the same hash; the rebuild is one groupBy(doc) with an order-safe
    * sort_array. Two exchanges on bounded keys.
    *
    * Output: (idCol, clean_text, kept_lines, dropped_lines) — the
    * [[extractText]] shape, so the two stages chain. */
  def dedupCorpusLines(df: DataFrame, idCol: String, textCol: String,
      maxDocs: Long): DataFrame = Stage("Curation.dedupCorpusLines") { st =>
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    // both the frequency aggregate and the verdict join read this —
    // pin it once, or the (possibly expensive — q227 chains extraction)
    // upstream recomputes per branch (bm25TopK's q83 pattern)
    val lines = st.checkpoint(lineFrame(df, idCol, textCol), "lines")
    val freq = lines.groupBy(col("_h"))
      .agg(countDistinct(col(idCol)).as("_nd"))
    cleanFromLineFreq(lines, freq, idCol, maxDocs)
  }

  /** Per-line explode shared by [[dedupCorpusLines]] and the stored
    * [[LineIndex]] lifecycle: (idCol, _p position, _line, _h = md5). */
  private[operators] def lineFrame(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("_p", "_line")))
      .filter(length(col("_line")) > 0)
      .withColumn("_h", md5(col("_line")))

  /** The verdict-join tail shared by [[dedupCorpusLines]] (freq from
    * the same frame — complete, so the left join behaves as the inner
    * it used to be) and [[LineIndex.serve]] (freq from the STORED
    * table — a line the index has never seen coalesces to 0 stored
    * docs and is kept, the right default for fresh content). */
  private[operators] def cleanFromLineFreq(lines: DataFrame,
      freq: DataFrame, idCol: String, maxDocs: Long): DataFrame =
    lines.join(freq, Seq("_h"), "left")
      .withColumn("_nd", coalesce(col("_nd"), lit(0L)))
      .groupBy(col(idCol))
      .agg(
        array_join(expr(
          s"transform(array_sort(collect_list(case when _nd <= $maxDocs " +
            "then struct(_p as p, _line as l) end)), s -> s.l)"), "\n")
          .as("clean_text"),
        sum(when(col("_nd") <= maxDocs, 1L).otherwise(0L))
          .as("kept_lines"),
        sum(when(col("_nd") > maxDocs, 1L).otherwise(0L))
          .as("dropped_lines"))
      .select(col(idCol), col("clean_text"), col("kept_lines"),
        col("dropped_lines"))

  /** SQL twin of [[extractText]] for the DuckDB oracle: the same kernels
    * over a table expression exposing (idExpr, htmlExpr). Kept beside the
    * operator so the two stay in lockstep. */
  def extractTextSql(fromSql: String, idExpr: String, htmlExpr: String,
      idAlias: String, minWords: Int = 3, minChars: Int = 10,
      maxLinkPpm: Long = 300000L): String = {
    def dec(e: String) =
      "regexp_replace(replace(replace(replace(replace(replace(" + e +
        ",'&lt;','<'),'&gt;','>'),'&quot;','\"'),'&#39;',chr(39))," +
        "'&nbsp;',' '),'&amp;','&','g')"
    def cleanSql(e: String) =
      s"trim(regexp_replace(${dec(s"regexp_replace($e,'<[^>]*>',' ','g')")}" +
        s",'\\s+',' ','g'))"
    s"""WITH h AS (SELECT $idExpr AS _id, $htmlExpr AS _html FROM $fromSql),
      ln AS (SELECT _id, string_split(regexp_replace(regexp_replace(_html,
          '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
          '(?i)</(p|div|h[1-6]|li|tr|table|ul|ol|blockquote)>|<br[^>]*>',
          chr(10), 'g'), chr(10)) AS raw FROM h),
      st AS (SELECT _id, list_filter(list_transform(raw, x -> {
          'c': ${cleanSql("x")},
          'cna': ${cleanSql(
            "regexp_replace(x,'(?is)<a[^>]*>.*?</a>',' ','g')")}
        }), s -> s.c <> '') AS cand FROM ln),
      k AS (SELECT _id, cand, list_filter(cand, s ->
          (length(s.c) - length(replace(s.c, ' ', '')) + 1) >= $minWords
          AND length(s.c) >= $minChars
          AND greatest(0, length(s.c) - length(s.cna)) * 1000000
            <= $maxLinkPpm * length(s.c)) AS kept FROM st)
      SELECT _id AS $idAlias,
        array_to_string(list_transform(kept, s -> s.c), chr(10))
          AS clean_text,
        CAST(len(kept) AS BIGINT) AS kept_lines,
        CAST(len(cand) - len(kept) AS BIGINT) AS dropped_lines
      FROM k"""
  }

  /** [NS] — the ASSEMBLED crawl-ingest pipeline: raw markup pages →
    * admitted training documents, every stage one of this engine's
    * already-certified gates, composed in the order a production
    * pretraining ingest runs them (CCNet/RefinedWeb/Dolma's shape):
    *
    *  0. raw          crawl pages as delivered
    *  1. extracted    [[extractText]] — markup strip + jusText line
    *                  gate; docs with no surviving line die here
    *  2. encoding     [[encodingAudit]] — U+FFFD / control / mojibake
    *  3. gopher       [[gopherRules]] pass_all on the flattened text
    *  4. line_clean   [[LineIndex.serve]] — boilerplate lines dropped
    *                  against the STORED archive frequencies; docs
    *                  reduced to nothing die
    *  5. dedup        [[DedupIndex.gate]] — exact + band probes
    *                  against the STORED archive index
    *  6. admitted     [[Importance.score]] from the STORED model,
    *                  target-likeness ≥ `minScorePpm`
    *
    * Returns the ordered per-stage surviving frames (each carries
    * `idCol`; stages 4+ carry the line-cleaned `clean_text`). All
    * three artifact reads are serve-only — the archive corpus appears
    * NOWHERE in these plans (the stored lifecycles' contract), so a
    * 100 TB archive prices each batch at O(batch), and the stages are
    * per-doc — a batch can stream through in micro-batches and admit
    * exactly what one batch pass admits (StreamingSpec pins this).
    * The extraction and line-clean results are materialized once:
    * every later stage and every funnel readout reuses them. */
  def crawlStages(spark: SparkSession, pages: DataFrame, idCol: String,
      htmlCol: String, lineDir: String, dedupDir: String,
      impDir: String, maxLineDocs: Long, minScorePpm: Long,
      lmDir: Option[String] = None,
      minLmPpm: Long = 0L,
      lmSmoothing: String = "sb")(
      implicit st: Stage): Seq[(String, DataFrame)] = {
    val raw = pages.select(col(idCol))
    val ex = st.checkpoint(extractText(pages, idCol, htmlCol)
      .filter(length(col("clean_text")) > 0), "ex")
    // Every stage frame below is eagerly checkpointed: each one is read
    // by the NEXT gate AND by its own funnel readout (the per-stage
    // count/xor aggregates the q333/q344/q353 queries emit), and
    // several also feed the line-clean materialization — without the
    // checkpoint the shared spine recomputes per consumer (measured
    // r14: encodingAudit ran 4×, gopherRules 3×, the stored-LM scorer
    // 2× inside one q353 run — 80 scheduler jobs for an 8-row result).
    // One materialization per stage, batch-sized rows (guide §2.4).
    val enc = st.checkpoint(ex.join(
      encodingAudit(ex, idCol, "clean_text")
        .filter(col("pass_encoding")).select(col(idCol)),
      Seq(idCol)), "enc")
    // the gates tokenize on single spaces; the extracted text is
    // line-joined by \n — flatten for the token-level gates only
    def flat(df: DataFrame) = df.withColumn("_flat",
      regexp_replace(col("clean_text"), "\n", " "))
    val gop = st.checkpoint(enc.join(
      gopherRules(flat(enc), idCol, "_flat")
        .filter(col("pass_all")).select(col(idCol)),
      Seq(idCol)), "gop")
    // optional LM-fluency stage (the CCNet gate): trigram score from
    // the STORED LmIndex table trained on the archive's extracted
    // pages — docs scoring under the floor die; docs with no trigrams
    // cannot demonstrate fluency and die too. `lmSmoothing` picks the
    // tier, both served from the SAME stored (w1,w2,w3,c3) artifact:
    // "sb" = stupid backoff (Brants 2007 — the distributed-scale
    // ranking score, q344), "kn" = interpolated Kneser–Ney (the
    // calibrated probability, q342/q343) — a one-parameter swap
    // because the single-sourced store serves both tiers.
    val lmStage = lmDir.map { dirLm =>
      val scored = lmSmoothing match {
        case "sb" => LmIndex
          .serveTrigram(spark, flat(gop), idCol, "_flat", dirLm)
          .withColumnRenamed("mean_s_ppm", "_lm")
        case "kn" => LmIndex
          .serveTrigramKn(spark, flat(gop), idCol, "_flat", dirLm)
          .withColumnRenamed("mean_p_ppm", "_lm")
        case other => throw new IllegalArgumentException(
          s"crawlStages: unknown lmSmoothing '$other' (sb | kn)")
      }
      // stored-LM scoring runs once, not per consumer
      "lm_fluency" -> st.checkpoint(gop.join(
        scored.filter(col("_lm") >= minLmPpm).select(col(idCol)),
        Seq(idCol)), "lm_fluency")
    }
    val afterLm = lmStage.map(_._2).getOrElse(gop)
    val cleaned = st.checkpoint(LineIndex.serve(spark, afterLm, idCol,
        "clean_text", lineDir, maxLineDocs)
      .filter(col("kept_lines") > 0)
      .select(col(idCol), col("clean_text")), "cleaned")
    // stored-index probing runs once, not per consumer
    val deduped = st.checkpoint(cleaned.join(
      DedupIndex.gate(spark, dedupDir, cleaned, idCol, "clean_text")
        .select(col(idCol)),
      Seq(idCol)), "deduped")
    val admitted = deduped.join(
      Importance.score(
          Importance.docBuckets(flat(deduped), idCol, "_flat", 64),
          Importance.storedLambda(spark, impDir), idCol)
        .filter(col("score_ppm") >= minScorePpm)
        .select(col(idCol)),
      Seq(idCol))
    Seq("raw" -> raw, "extracted" -> ex, "encoding" -> enc,
      "gopher" -> gop) ++ lmStage.toSeq ++
      Seq("line_clean" -> cleaned, "dedup" -> deduped,
        "admitted" -> admitted)
  }

  /** [NS] — Gopher quality rules (Rae et al. 2021, Appendix A): the
    * published heuristic gate bundle most pretraining pipelines start
    * from, as per-document native kernels (split/filter/aggregate HOFs
    * — no UDF, whole-stage codegen). Five rules, each an exact integer
    * test so the verdicts hash-match:
    *  - words:     50 ≤ word count ≤ 100 000
    *  - word_len:  3.00 ≤ mean word length ≤ 10.00 (centi-chars)
    *  - symbols:   (# + …) per word < 0.10 (1000·sym < 100·words)
    *  - alpha:     ≥ 80% of words contain a letter (5·alpha ≥ 4·words)
    *  - stopwords: ≥ 2 distinct common stopwords present
    * Returns per-doc counters + one boolean per rule + pass_all —
    * downstream gates filter on the flags, audits aggregate them
    * (q264); q27's quality score RANKS, this bundle GATES with the
    * published thresholds. Empty docs fail the word-count rule rather
    * than dividing by zero. */
  def gopherRules(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val stops = "array('the','be','to','of','and','that','have'," +
      "'with','a','in')"
    df.select(col(idCol), col(textCol).as("_t"))
      .withColumn("_w", expr("filter(split(_t, ' '), x -> length(x) > 0)"))
      .withColumn("n_words", expr("CAST(size(_w) AS BIGINT)"))
      .withColumn("sum_len", expr("aggregate(_w, CAST(0 AS BIGINT), " +
        "(a, x) -> a + length(x))"))
      .withColumn("mean_wl_c", expr(
        "CASE WHEN n_words > 0 THEN (100 * sum_len) div n_words " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("sym_cnt", expr(
        "CAST(length(_t) - length(replace(_t, '#', '')) + " +
          "(length(_t) - length(replace(_t, '...', ''))) div 3 " +
          "AS BIGINT)"))
      .withColumn("alpha_words", expr(
        "CAST(size(filter(_w, x -> x rlike '[a-zA-Z]')) AS BIGINT)"))
      .withColumn("stop_n", expr(
        s"CAST(size(array_intersect(array_distinct(_w), $stops)) " +
          "AS BIGINT)"))
      .withColumn("pass_words",
        expr("n_words >= 50 AND n_words <= 100000"))
      .withColumn("pass_word_len",
        expr("mean_wl_c >= 300 AND mean_wl_c <= 1000"))
      .withColumn("pass_symbols", expr("1000 * sym_cnt < 100 * n_words"))
      .withColumn("pass_alpha", expr("5 * alpha_words >= 4 * n_words"))
      .withColumn("pass_stopwords", expr("stop_n >= 2"))
      .withColumn("pass_all", expr("pass_words AND pass_word_len AND " +
        "pass_symbols AND pass_alpha AND pass_stopwords"))
      .drop("_t", "_w")
  }

  /** [NS] — encoding / mojibake QA: the byte-sanity gate every crawl
    * pipeline runs BEFORE any text heuristic can be trusted (CCNet,
    * Dolma, and RefinedWeb all drop or re-decode such docs; a quality
    * scorer fed mojibake quietly mis-bins whole domains). Per-doc
    * exact-integer signals, no UDF — counting is length-difference
    * arithmetic over native `replace`/`regexp_replace`, so the plan is
    * one codegen'd projection (no shuffle, linear scan):
    *
    *  - n_chars:    codepoint length of the text
    *  - repl_chars: U+FFFD replacement characters — a decoder already
    *    gave up upstream; any occurrence means lost bytes
    *  - ctl_chars:  C0 control chars other than tab/newline/CR, plus
    *    DEL — binary junk masquerading as text
    *  - moji_marks: CP1252-double-decode signatures: lone 'Ã' (U+00C3,
    *    the first byte of every misdecoded 2-byte UTF-8 sequence) and
    *    the 'â€' pair (U+00E2 U+20AC — misdecoded punctuation family:
    *    curly quotes, dashes, ellipsis)
    *  - moji_ppm:   10⁶·moji_marks div n_chars (0 on empty text)
    *  - pass_encoding: repl_chars = 0 AND ctl_chars = 0 AND
    *    moji_ppm < 10000 (1% marker density tolerates legitimate
    *    'Ã'-bearing text — e.g. Portuguese 'não' is clean text whose
    *    marker share stays far below the gate on real documents)
    *
    * DuckDB twin: identical length-difference arithmetic with
    * chr(195)/chr(226)||chr(8364) literals and the same control-char
    * class (regexp_replace ... 'g'). */
  def encodingAudit(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), col(textCol).as("_t"))
      .withColumn("n_chars", expr("CAST(length(_t) AS BIGINT)"))
      .withColumn("repl_chars", expr(
        "CAST(length(_t) - length(replace(_t, '�', '')) AS BIGINT)"))
      .withColumn("ctl_chars",
        (length(col("_t")) - length(regexp_replace(col("_t"),
          "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))).cast("long"))
      .withColumn("moji_marks", expr(
        "CAST(length(_t) - length(replace(_t, 'Ã', '')) + " +
          "(length(_t) - length(replace(_t, 'â€', ''))) div 2 " +
          "AS BIGINT)"))
      .withColumn("moji_ppm", expr(
        "CASE WHEN n_chars > 0 THEN (1000000 * moji_marks) div n_chars " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("pass_encoding", expr(
        "repl_chars = 0 AND ctl_chars = 0 AND moji_ppm < 10000"))
      .drop("_t")

  /** [NS] — context-window fit report: the truncation-loss curve that
    * decides what sequence length a training run actually needs. For
    * each candidate context length L: how many docs fit whole, how
    * many get truncated, and what share of corpus tokens is LOST to
    * truncation (10⁶·Σ max(n_tok−L, 0) div Σ n_tok). The complement
    * of [[paddingWaste]] (short docs waste pad slots; long docs lose
    * tail tokens) — together they bracket the packing decision.
    *
    * Plan: one scan of the (id, n_tok) frame crossJoin'd against the
    * BROADCAST |lens|-row candidate table, one groupBy(ctx_len) — at
    * 100 TB the fact side is read once and the shuffle carries
    * |lens| × partitions rows. Exact integers throughout. */
  def contextFitReport(df: DataFrame, idCol: String, tokCol: String,
      lens: Seq[Long]): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    val cand = lens.toDF("ctx_len")
    df.select(col(idCol), col(tokCol).cast("long").as("_n"))
      .crossJoin(broadcast(cand))
      .groupBy(col("ctx_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("_n") <= col("ctx_len"), 1L).otherwise(0L))
          .as("n_fit"),
        sum(when(col("_n") > col("ctx_len"), 1L).otherwise(0L))
          .as("n_trunc"),
        sum(col("_n")).as("tokens_total"),
        sum(greatest(col("_n") - col("ctx_len"), lit(0L)))
          .as("tokens_lost"))
      .withColumn("lost_ppm", expr(
        "CASE WHEN tokens_total > 0 THEN (1000000 * tokens_lost) div " +
          "tokens_total ELSE CAST(0 AS BIGINT) END"))
  }

  /** [NS] — data-constrained epoch advisor (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"): given per-source
    * UNIQUE token supply and the token budget a mixture policy WANTS
    * from each source, how many epochs does each source repeat — and
    * which sources cross the published ~4-epoch mark beyond which
    * repeated tokens stop adding value. Emits per source:
    *   epochs_ppm        10⁶·wanted div uniq (NULL when uniq = 0)
    *   repeat_gt4        wanted > 4·uniq
    *   effective_tokens  min(wanted, 4·uniq) — value-bearing tokens
    *                     under the 4-epoch cap
    *   excess_tokens     max(wanted − 4·uniq, 0) — budget the policy
    *                     should re-route to unsaturated sources
    * Pure per-row projection over the |sources|-row frame; the heavy
    * lifting (counting tokens, allocating the budget) happens upstream
    * where it is one corpus aggregate. */
  def epochAdvisor(df: DataFrame, srcCol: String, uniqCol: String,
      wantedCol: String): DataFrame =
    df.select(col(srcCol),
        col(uniqCol).cast("long").as("uniq_tokens"),
        col(wantedCol).cast("long").as("wanted_tokens"))
      .withColumn("epochs_ppm", expr(
        "CASE WHEN uniq_tokens > 0 THEN (1000000 * wanted_tokens) div " +
          "uniq_tokens END"))
      .withColumn("repeat_gt4",
        expr("wanted_tokens > 4 * uniq_tokens"))
      .withColumn("effective_tokens",
        expr("least(wanted_tokens, 4 * uniq_tokens)"))
      .withColumn("excess_tokens",
        expr("greatest(wanted_tokens - 4 * uniq_tokens, " +
          "CAST(0 AS BIGINT))"))

  /** [NS] — Gopher REPETITION rules (Rae et al. 2021, Appendix A1,
    * second half): the within-document repetition half of the
    * MassiveText gate, complementing [[gopherRules]]' quality half.
    * Machine-generated and template text repeats itself locally —
    * duplicated lines and a dominant n-gram — long before any
    * corpus-level dedup ([[dedupCorpusLines]]) can see it. Four
    * signals, all exact-integer ppm so verdicts hash-match:
    *  - dup_line_ppm:      10⁶·(lines − distinct lines) div lines
    *  - dup_line_char_ppm: 10⁶·(chars in repeat line occurrences
    *                       beyond the first) div total line chars
    *  - top2_ppm/top3_ppm: 10⁶·(count of the most frequent word
    *                       2-/3-gram × its non-space char length) div
    *                       total word chars (tie → lexicographically
    *                       first gram)
    * `pass_rep` applies the published thresholds (dup-line < 0.30,
    * dup-line-char < 0.20, top-2-gram < 0.20, top-3-gram < 0.18).
    *
    * Plan shape: line stats are per-row HOFs over `split(text, '\n')`
    * (no shuffle); the top-gram stats explode word n-grams ONCE
    * (2- and 3-grams tagged in the same explode), one
    * groupBy(id, n, gram) + one per-doc window, then an id-keyed join
    * back — linear in corpus size, no per-row O(words²) HOF scan, so
    * a 10k-word document costs 10k gram rows, not 10⁸ comparisons.
    * Docs with < 2 words emit 0 for the gram signals. */
  def repetitionSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = df.select(col(idCol), col(textCol).as("_t"))
      .withColumn("_lines", expr(
        "filter(split(_t, '\n'), x -> length(x) > 0)"))
      .withColumn("_w", expr("filter(split(_t, '\\\\s+'), " +
        "x -> length(x) > 0)"))
    val lineStats = base
      .withColumn("n_lines", expr("CAST(size(_lines) AS BIGINT)"))
      .withColumn("_nd", expr("CAST(size(array_distinct(_lines)) " +
        "AS BIGINT)"))
      .withColumn("_lc", expr("aggregate(_lines, CAST(0 AS BIGINT), " +
        "(a, x) -> a + length(x))"))
      .withColumn("_dc", expr("aggregate(array_distinct(_lines), " +
        "CAST(0 AS BIGINT), (a, x) -> a + length(x))"))
      .withColumn("sum_wchars", expr("aggregate(_w, CAST(0 AS BIGINT), " +
        "(a, x) -> a + length(x))"))
      .withColumn("dup_line_ppm", expr("CASE WHEN n_lines > 0 THEN " +
        "(1000000 * (n_lines - _nd)) div n_lines " +
        "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("dup_line_char_ppm", expr("CASE WHEN _lc > 0 THEN " +
        "(1000000 * (_lc - _dc)) div _lc ELSE CAST(0 AS BIGINT) END"))
      .select(col(idCol), col("n_lines"), col("dup_line_ppm"),
        col("dup_line_char_ppm"), col("sum_wchars"))
    val grams = base
      .withColumn("_g", expr(
        "concat(" +
          "CASE WHEN size(_w) >= 2 THEN transform(sequence(2, size(_w)), " +
          "i -> struct(2 AS n, concat(element_at(_w, i - 1), ' ', " +
          "element_at(_w, i)) AS g)) " +
          "ELSE transform(slice(_w, 1, 0), x -> struct(2 AS n, x AS g)) " +
          "END, " +
          "CASE WHEN size(_w) >= 3 THEN transform(sequence(3, size(_w)), " +
          "i -> struct(3 AS n, concat(element_at(_w, i - 2), ' ', " +
          "element_at(_w, i - 1), ' ', element_at(_w, i)) AS g)) " +
          "ELSE transform(slice(_w, 1, 0), x -> struct(3 AS n, x AS g)) " +
          "END)"))
      .select(col(idCol), explode(col("_g")).as("_e"))
      .select(col(idCol), col("_e.n").as("_n"), col("_e.g").as("_gr"))
      .groupBy(col(idCol), col("_n"), col("_gr"))
      .agg(count(lit(1)).as("_cnt"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol), col("_n"))
      .orderBy(col("_cnt").desc, col("_gr"))
    val top = grams
      .withColumn("_rn", row_number().over(win))
      .filter(col("_rn") === 1)
      .withColumn("_gchars",
        expr("CAST(length(replace(_gr, ' ', '')) AS BIGINT)"))
      .groupBy(col(idCol))
      .agg(
        max(when(col("_n") === 2, col("_cnt"))).as("_c2"),
        max(when(col("_n") === 2, col("_gchars"))).as("_l2"),
        max(when(col("_n") === 3, col("_cnt"))).as("_c3"),
        max(when(col("_n") === 3, col("_gchars"))).as("_l3"))
    lineStats.join(top, Seq(idCol), "left")
      .withColumn("top2_ppm", expr("CASE WHEN _c2 IS NOT NULL AND " +
        "sum_wchars > 0 THEN (1000000 * _c2 * _l2) div sum_wchars " +
        "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("top3_ppm", expr("CASE WHEN _c3 IS NOT NULL AND " +
        "sum_wchars > 0 THEN (1000000 * _c3 * _l3) div sum_wchars " +
        "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("pass_rep", expr("dup_line_ppm < 300000 AND " +
        "dup_line_char_ppm < 200000 AND top2_ppm < 200000 AND " +
        "top3_ppm < 180000"))
      .select(col(idCol), col("n_lines"), col("dup_line_ppm"),
        col("dup_line_char_ppm"), col("top2_ppm"), col("top3_ppm"),
        col("pass_rep"))
  }

  /** [NS] — Unicode script-mix audit: per-doc codepoint counts by
    * script block (Latin incl. its 1-supplement/extended ranges,
    * Cyrillic, Han, Greek, Arabic), the dominant script's share, and
    * the OFF-script letter share — the langid complement that catches
    * what a language TAG can't: code-switched documents, wrong-script
    * contamination inside a labeled shard, and homoglyph-spoofed text
    * (Cyrillic 'о' planted in Latin words survives every
    * ASCII-oblivious heuristic but moves `offscript_ppm`). CCNet-class
    * pipelines gate on exactly this before trusting per-lang quality
    * models.
    *
    * Counting is length-difference arithmetic over native
    * regexp_replace (Java ranges here, the same ranges as RE2
    * `\x{...}` classes in the DuckDB twin; both `length`s count
    * codepoints) — one codegen'd projection, no shuffle, no UDF.
    * `mixed` = offscript_ppm ≥ `mixedThresholdPpm` — the non-dominant
    * letter mass, robust to which script is second. Docs with no
    * letters at all report dominant 'none', share 0, not-mixed. */
  def scriptMix(df: DataFrame, idCol: String, textCol: String,
      mixedThresholdPpm: Long = 50000L): DataFrame = {
    def cnt(cls: String) =
      (length(col("_t")) -
        length(regexp_replace(col("_t"), cls, ""))).cast("long")
    df.select(col(idCol), col(textCol).as("_t"))
      .withColumn("n_latin", cnt("[A-Za-zÀ-ɏ]"))
      .withColumn("n_cyrillic", cnt("[Ѐ-ӿ]"))
      .withColumn("n_han", cnt("[一-鿿]"))
      .withColumn("n_greek", cnt("[Ͱ-Ͽ]"))
      .withColumn("n_arabic", cnt("[؀-ۿ]"))
      .withColumn("n_letter", expr(
        "n_latin + n_cyrillic + n_han + n_greek + n_arabic"))
      .withColumn("dom_script", expr(
        "CASE WHEN n_letter = 0 THEN 'none' " +
          "WHEN n_latin >= greatest(n_cyrillic, n_han, n_greek, " +
          "n_arabic) THEN 'latin' " +
          "WHEN n_cyrillic >= greatest(n_han, n_greek, n_arabic) " +
          "THEN 'cyrillic' " +
          "WHEN n_han >= greatest(n_greek, n_arabic) THEN 'han' " +
          "WHEN n_greek >= n_arabic THEN 'greek' ELSE 'arabic' END"))
      .withColumn("dom_n", expr(
        "greatest(n_latin, n_cyrillic, n_han, n_greek, n_arabic)"))
      .withColumn("dom_ppm", expr(
        "CASE WHEN n_letter > 0 THEN (1000000 * dom_n) div n_letter " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("offscript_ppm", expr(
        "CASE WHEN n_letter > 0 THEN " +
          "(1000000 * (n_letter - dom_n)) div n_letter " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("mixed", col("offscript_ppm") >= mixedThresholdPpm)
      .select(col(idCol), col("n_latin"), col("n_cyrillic"),
        col("n_han"), col("n_greek"), col("n_arabic"), col("n_letter"),
        col("dom_script"), col("dom_ppm"), col("offscript_ppm"),
        col("mixed"))
  }

  /** [NS] — readability scoring (Flesch 1948 / Kincaid 1975): the
    * audience-difficulty axis of text quality, orthogonal to the
    * length/stopword heuristics (q27) and the repetition gates (q269)
    * — a curriculum (q276) ordered by reading grade is the classic
    * easy-to-hard schedule, and a "standard prose" band filter drops
    * both word-salad and legalese that pass every other gate.
    *
    * Deterministic counting heuristic, identical in both engines:
    * sentences = non-overlapping runs of [.!?] (min 1 once text has a
    * word), words = runs of ASCII letters, syllables = runs of vowels
    * incl. y (each maximal vowel group ≈ one nucleus — the standard
    * cheap estimator; no silent-e adjustment, documented). Scores in
    * exact milli-units with truncating div:
    * FRE_milli = 206835 − 1015·W div S − 84600·syl div W;
    * FKG_milli = 390·W div S + 11800·syl div W − 15590. Wordless docs
    * emit zeros and band 'empty'. One codegen'd projection — counting
    * is regexp_count arithmetic (len(regexp_extract_all) in the
    * DuckDB twin), no UDF, no shuffle. */
  def readability(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), col(textCol).as("_t"))
      .withColumn("n_words", expr(
        "CAST(regexp_count(_t, '[A-Za-z]+') AS BIGINT)"))
      .withColumn("n_sent", expr(
        "CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "greatest(CAST(regexp_count(_t, '[.!?]+') AS BIGINT), " +
          "CAST(1 AS BIGINT)) END"))
      .withColumn("n_syll", expr(
        "CAST(regexp_count(_t, '[aeiouyAEIOUY]+') AS BIGINT)"))
      .withColumn("fre_milli", expr(
        "CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "206835 - 1015 * n_words div n_sent - " +
          "84600 * n_syll div n_words END"))
      .withColumn("fk_grade_milli", expr(
        "CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "390 * n_words div n_sent + 11800 * n_syll div n_words " +
          "- 15590 END"))
      .withColumn("band", expr(
        "CASE WHEN n_words = 0 THEN 'empty' " +
          "WHEN fre_milli >= 90000 THEN 'very_easy' " +
          "WHEN fre_milli >= 70000 THEN 'easy' " +
          "WHEN fre_milli >= 50000 THEN 'standard' " +
          "WHEN fre_milli >= 30000 THEN 'difficult' " +
          "ELSE 'very_difficult' END"))
      .select(col(idCol), col("n_sent"), col("n_words"), col("n_syll"),
        col("fre_milli"), col("fk_grade_milli"), col("band"))

  /** [NS] — epoch-capped water-filling budget allocation (the UniMax
    * shape, Chung et al. 2023): split a token budget B across sources
    * as evenly as possible subject to a per-source repeat cap —
    * cap_i = supply_i · maxEpochsPpm div 10⁶. The discrete water-fill:
    * sort by cap ascending, saturate the maximal prefix where
    * cap_j·(S−j+1) ≤ B − prefcap_{j−1}, split the remainder L = div
    * evenly over the rest, and hand the integer remainder to the first
    * `rem` unsaturated sources in sort order — every grant an exact
    * integer, Σ grants = min(B, Σ caps) by construction. This is the
    * uniform-first complement of temperature sampling (q277): where
    * temperature OVERSAMPLES small sources into many epochs (the
    * q286 Muennighoff flag), UniMax gives every source an equal share
    * until its epoch cap binds, so no source is repeated past the cap
    * no matter how small.
    *
    * Input is the PRE-AGGREGATED (source, supply) frame — |sources|
    * rows by contract (the corpus rollup is the caller's one
    * corpus-sized pass); the windows here run on that bounded frame.
    *
    * Output: (source, supply, cap, granted, epochs_ppm, saturated)
    * where epochs_ppm = granted·10⁶ div supply. */
  def uniMaxAllocate(df: DataFrame, srcCol: String, supplyCol: String,
      budget: Long, maxEpochsPpm: Long): DataFrame = {
    require(budget >= 0 && maxEpochsPpm > 0,
      s"budget=$budget maxEpochsPpm=$maxEpochsPpm")
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(supplyCol).isNotNull && col(supplyCol) > 0)
      .select(col(srcCol).cast("string").as("source"),
        col(supplyCol).cast("long").as("supply"))
      .withColumn("cap", expr(
        s"cast(cast(supply as decimal(38,0)) * $maxEpochsPpm " +
          "div 1000000 as bigint)"))
    val ord = Window.orderBy(col("cap"), col("source"))
    val all = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = base
      .withColumn("j", row_number().over(ord).cast("long"))
      .withColumn("s_n", count(lit(1)).over(all))
      .withColumn("prefcap", sum(col("cap")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sat_cond", expr(
        s"cast(cap as decimal(38,0)) * (s_n - j + 1) <= " +
          s"cast($budget as decimal(38,0)) - (prefcap - cap)"))
      .withColumn("jmax", coalesce(
        min(when(!col("sat_cond"), col("j"))).over(all) - 1L,
        col("s_n")))
      .withColumn("prefcap_jmax", coalesce(
        max(when(col("j") === col("jmax"), col("prefcap"))).over(all),
        lit(0L)))
    ranked
      .withColumn("rest", col("s_n") - col("jmax"))
      .withColumn("lvl", expr(
        s"CASE WHEN rest > 0 THEN ($budget - prefcap_jmax) div rest " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("rem", expr(
        s"CASE WHEN rest > 0 THEN " +
          s"$budget - prefcap_jmax - lvl * rest " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("grant_n", expr(
        "CASE WHEN j <= jmax THEN cap ELSE " +
          "least(cap, lvl + CASE WHEN j - jmax <= rem THEN 1 " +
          "ELSE 0 END) END"))
      .withColumn("epochs_ppm", expr(
        "cast(cast(grant_n as decimal(38,0)) * 1000000 div supply " +
          "as bigint)"))
      .withColumn("saturated", col("j") <= col("jmax"))
      .select(col("source"), col("supply"), col("cap"),
        col("grant_n").as("granted"), col("epochs_ppm"),
        col("saturated"))
  }

  /** [NS] — Luhn-validated payment-card detection (ISO/IEC 7812
    * mod-10): per-doc counts of digit runs, PAN-shaped candidates
    * (13–19 digits after collapsing space/dash separators), and
    * candidates passing the Luhn checksum — the PRECISION stage on top
    * of [[redactPii]]'s shape regexes (a 16-digit order id matches the
    * shape; only ~10% of random digit strings pass Luhn, and every
    * real card number does). Counts only — candidate text never
    * leaves the operator, so the audit output is itself PII-free.
    *
    * The checksum is a higher-order-function fold (Spark `aggregate`
    * over the digit positions ≡ DuckDB `list_reduce`, the q287
    * convention): from the right, every second digit doubles with the
    * −9 wraparound, total ≡ 0 (mod 10). One explode_outer per doc
    * (runs are rare in prose; candidate volume ≪ corpus) + one
    * groupBy(id) — no UDF anywhere. */
  def luhnScan(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val luhn =
      "aggregate(sequence(1, length(_dg)), 0, (acc, i) -> acc + " +
        "CASE WHEN (length(_dg) - i) % 2 = 1 THEN " +
        "CASE WHEN 2 * cast(substring(_dg, i, 1) as int) > 9 " +
        "THEN 2 * cast(substring(_dg, i, 1) as int) - 9 " +
        "ELSE 2 * cast(substring(_dg, i, 1) as int) END " +
        "ELSE cast(substring(_dg, i, 1) as int) END) % 10 = 0"
    df.select(col(idCol), col(textCol).as("_t"))
      .withColumn("_c", expr(
        "regexp_extract_all(_t, '[0-9][0-9 -]{11,22}[0-9]', 0)"))
      .select(col(idCol), explode_outer(col("_c")).as("_cand"))
      .withColumn("_dg", regexp_replace(col("_cand"), "[ -]", ""))
      .withColumn("_shape", expr(
        "_cand IS NOT NULL AND length(_dg) BETWEEN 13 AND 19"))
      .withColumn("_valid", expr(s"CASE WHEN _shape THEN $luhn " +
        "ELSE false END"))
      .groupBy(col(idCol))
      .agg(
        sum(when(col("_cand").isNotNull, 1L).otherwise(0L))
          .as("n_digit_runs"),
        sum(when(col("_shape"), 1L).otherwise(0L)).as("n_pan_shape"),
        sum(when(col("_valid"), 1L).otherwise(0L)).as("n_luhn_valid"))
      .withColumn("has_pan", col("n_luhn_valid") > 0L)
  }

  /** [NS] — term-blocklist gate (the C4 "bad words" stage, Raffel et
    * al. 2020 §2.2): per doc, how many tokens hit a blocked-term list
    * and whether the doc passes at a hit budget — the content-policy
    * sibling of the DOMAIN blocklist ([[domainGate]]'s semantics are
    * host-suffix; this is token-exact, case-insensitive). The list
    * rides a BROADCAST join against the exploded token stream (the
    * Aho-Corasick use case collapsed to an equi-join because tokens
    * are already split) — one scan, blocklist-sized build side, no
    * per-row regex chain that grows with the list.
    *
    * Output: (id, n_tokens, n_blocked, blocked_ppm, pass) with
    * pass = n_blocked ≤ maxHits; docs with no tokens pass with zeros.
    * Matching is exact-token (lowercased); phrase patterns belong to
    * the q126 phrase machinery, not here. */
  def termBlocklistGate(df: DataFrame, idCol: String, textCol: String,
      blocked: Seq[String], maxHits: Long): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist")
    val sp = df.sparkSession
    import sp.implicits._
    val bl = blocked.map(_.toLowerCase).distinct.toDF("tok")
    val toks = df.select(col(idCol),
        explode(split(lower(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val counts = toks
      .join(broadcast(bl.withColumn("_hit", lit(1L))), Seq("tok"),
        "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_nt"),
        sum(coalesce(col("_hit"), lit(0L))).as("_nb"))
    // token-less docs still gate (with zeros) — mirror of the oracle's
    // LEFT JOIN back to the full id set
    df.select(col(idCol)).join(counts, Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("_nt"), lit(0L)))
      .withColumn("n_blocked", coalesce(col("_nb"), lit(0L)))
      .withColumn("blocked_ppm", expr(
        "CASE WHEN n_tokens > 0 THEN (1000000 * n_blocked) div n_tokens " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("pass", col("n_blocked") <= maxHits)
      .select(col(idCol), col("n_tokens"), col("n_blocked"),
        col("blocked_ppm"), col("pass"))
  }

  /** [NS] — multi-PHRASE blocklist gate: the q323 single-token gate
    * completed for real content policies, whose blocklists are phrase
    * lists. One [[graft.functions.AcExpression.acPhraseCounts]]
    * Aho–Corasick pass per document prices the row at
    * O(tokens + matches) REGARDLESS of phrase count — no per-phrase
    * scan, no regex alternation chain growing with the policy — and the
    * per-phrase count array folds into the gate columns with codegen'd
    * HOFs (no second text pass, no join, no shuffle but the none this
    * projection needs). Token-boundary semantics and case folding live
    * in the automaton (phrase tokens match whole tokens only);
    * overlapping occurrences all count, matching the oracle's
    * token-subsequence positions. Output: (idCol, n_hits,
    * n_phrases_hit, pass) with pass = n_hits ≤ maxHits (inclusive
    * budget, the q323 convention). */
  def phraseBlocklistGate(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], maxHits: Long): DataFrame = {
    require(phrases.nonEmpty, "empty phrase blocklist")
    df.select(col(idCol),
        graft.functions.AcExpression.acPhraseCounts(col(textCol),
          phrases).as("_pc"))
      .withColumn("n_hits", expr(
        "aggregate(_pc, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("n_phrases_hit", expr(
        "CAST(size(filter(_pc, x -> x > 0)) AS BIGINT)"))
      .withColumn("pass", col("n_hits") <= maxHits)
      .select(col(idCol), col("n_hits"), col("n_phrases_hit"),
        col("pass"))
  }

  /** [NS] — Shapley data valuation of sources under the COVERAGE game
    * (Shapley 1953): value of a source coalition = number of distinct
    * units (tokens, URLs, n-grams) it covers. For coverage games the
    * Shapley value has a closed form — a unit covered by k owners
    * hands each exactly 1/k of its credit — so the exact game-theoretic
    * attribution that generically needs 2^n coalition evaluations is
    * ONE groupBy(unit) + one groupBy(owner) here, in exact micro-units
    * (10⁶ div k per unit, truncating). This prices "what does source S
    * uniquely contribute to vocabulary coverage" the way q272's
    * leave-one-out ablation prices a single removal: Shapley also
    * splits the credit for units shared by SOME sources, which
    * leave-one-out reads as worthless.
    *
    * Input: (unit, owner) pairs, duplicates fine (deduped here).
    * Output per owner: n_units covered, uniq_units (k = 1),
    * coverage_ppm of the universe, shapley_u6 (Σ 10⁶ div k — sums to
    * ~|universe|·10⁶ minus truncation), shapley_share_ppm. */
  def shapleyCoverage(df: DataFrame, unitCol: String,
      ownerCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = df
      .filter(col(unitCol).isNotNull && col(ownerCol).isNotNull)
      .select(col(unitCol).as("unit"), col(ownerCol).as("owner"))
      .distinct()
    val k = pairs.groupBy(col("unit")).agg(count(lit(1)).as("k"))
    val all = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    pairs.join(k, Seq("unit"))
      .groupBy(col("owner"))
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("k") === 1L, 1L).otherwise(0L)).as("uniq_units"),
        sum(expr("1000000 div k")).as("shapley_u6"))
      .crossJoin(broadcast(k.agg(count(lit(1)).as("universe"))))
      .withColumn("coverage_ppm", expr(
        "CASE WHEN universe > 0 THEN (1000000 * n_units) div universe " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("_stot", sum(col("shapley_u6")).over(all))
      .withColumn("shapley_share_ppm", expr(
        "CASE WHEN _stot > 0 THEN (1000000 * shapley_u6) div _stot " +
          "END"))
      .select(col("owner"), col("n_units"), col("uniq_units"),
        col("coverage_ppm"), col("shapley_u6"),
        col("shapley_share_ppm"))
  }
}
