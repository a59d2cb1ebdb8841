package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2.8 D1-D5):
  * exact content-hash dedup, n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Scale notes:
  *  - exact: one shuffle on a 128-bit hash; always run first.
  *  - minhashLsh: signature = single groupBy(doc) pass over exploded
  *    shingles (k aggregate columns, map-side partial agg); candidate
  *    generation joins only colliding band buckets — linear in real
  *    near-dup density instead of quadratic in corpus size.
  *  - ngramJaccardPairs: exact verifier; the shared-gram join is
  *    quadratic per bucket, so at scale feed it LSH candidates, not the
  *    whole corpus.
  */
object Dedup {

  /** Distinct word n-gram shingles per document: (idCol, gram). Native
    * expression (graft.functions.WordShingles) — the composed
    * transform/array_distinct form pays interpreted lambdas per gram. */
  def shingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.ShingleExpression.wordShingles(col(textCol), n))
        .as("gram"))

  /** D5 exact — content-hash groups: (keep_id, n_copies, content_hash);
    * survivor = min id per hash. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("content_hash"))

  /** D5 — per-doc MinHash signature: k numeric components. Components
    * 2i and 2i+1 are the two 60-bit halves (hex chars 1-15 and 17-31) of
    * md5(i ":" gram), each min-aggregated over the doc's shingles.
    * Numeric longs instead of md5 hex strings: 8-byte agg state and
    * shuffle rows instead of 32-char strings, and half the md5 calls
    * (two components per digest). One shuffle (groupBy id). */
  def minhashSignature(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k % 2 == 0, s"k must be even (two components per digest): $k")
    val sigCols = (0 until k / 2).flatMap { i =>
      val h = md5(concat(lit(s"$i:"), col("gram")))
      Seq(
        min(conv(substring(h, 1, 15), 16, 10).cast("long")).as(s"s${2 * i}"),
        min(conv(substring(h, 17, 15), 16, 10).cast("long")).as(s"s${2 * i + 1}"))
    }
    sh.groupBy(col(idCol)).agg(sigCols.head, sigCols.tail: _*)
  }

  /** D5 — LSH banding over a numeric signature: (idCol, band, v0..v{r-1})
    * where the band value IS the band's signature rows — a multi-column
    * long equi-join needs no re-hash and stays 8 bytes per component. */
  def lshBands(sig: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band") +: (0 until rows).map(r =>
        col(s"s${b * rows + r}").as(s"v$r")): _*)
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bd"))
      .select(col(idCol) +: col("bd.band").as("band") +:
        (0 until rows).map(r => col(s"bd.v$r").as(s"v$r")): _*)
  }

  /** D5 — MinHash+LSH candidate pairs (doc_a < doc_b, distinct).
    *
    * Signature build is the native per-row expression (graft_minhash):
    * zero shuffles before the band self-join — the only exchange in the
    * whole operator is on the band key. */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    val rows = k / bands
    val sig = df.select(col(idCol),
      graft.functions.MinHashExpression
        .minhashSignature(col(textCol), shingleN, k).as("_sig"))
      .filter(col("_sig").isNotNull)
      .select(col(idCol) +: (0 until k).map(i =>
        element_at(col("_sig"), i + 1).as(s"s$i")): _*)
    // both sides of the band self-join read the band table; eager
    // localCheckpoint materializes it ONCE before the join (a lazy
    // persist lets both branches race to compute every partition twice)
    val bds = lshBands(sig, idCol, k, bands).localCheckpoint()
    val keyCols = "band" +: (0 until rows).map(r => s"v$r")
    val a = bds.withColumnRenamed(idCol, "doc_a")
    val b = bds.withColumnRenamed(idCol, "doc_b")
    a.join(b, keyCols).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** D5 skew path — LSH banding edges with HOT-BUCKET STAR CONTRACTION
    * (round-11; the measured answer to the planted-hot-family stress of
    * `tools/gen_skew.py`). Buckets with ≤ `hotThreshold` members emit
    * every pair, exactly as [[minhashLshCandidates]]; a bucket with
    * m > hotThreshold members emits its m−1 STAR edges through the
    * bucket's minimum id instead of its m(m−1)/2 pairs.
    *
    * Why this is lossless for dedup: within one bucket the all-pairs
    * clique and the hub star connect the SAME member set, so connected
    * components over star edges are IDENTICAL to components over
    * all-pairs edges — q371 pins that claim against q72's from-scratch
    * all-pairs WITH RECURSIVE oracle. What the star deliberately does
    * NOT preserve is the pair LIST: a downstream pairwise verifier sees
    * only hub spokes for hot buckets (the cluster-representative
    * verification trade production dedup pipelines take on heavy
    * families); use [[minhashLshCandidates]] when the full pair set is
    * the product.
    *
    * Scale mechanics: one groupBy over the band table for (size, hub)
    * per bucket, then the self-join runs ONLY over small-bucket rows —
    * the hot band key's shuffle volume drops from quadratic to linear,
    * which is what survives a corpus where 20% of documents share one
    * near-dup family (the "curse of the last reducer" cure; same
    * degree-capping move as [[Graph.triangleCounts]]'s orientation).
    * AQE reuses the band-key exchange between the stats aggregate and
    * the join. */
  def minhashLshStarEdges(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4,
      hotThreshold: Int = 64): DataFrame = {
    require(hotThreshold >= 1, s"hotThreshold >= 1, got $hotThreshold")
    val rows = k / bands
    val sig = df.select(col(idCol),
      graft.functions.MinHashExpression
        .minhashSignature(col(textCol), shingleN, k).as("_sig"))
      .filter(col("_sig").isNotNull)
      .select(col(idCol) +: (0 until k).map(i =>
        element_at(col("_sig"), i + 1).as(s"s$i")): _*)
    val bds = lshBands(sig, idCol, k, bands).localCheckpoint()
    val keyCols = "band" +: (0 until rows).map(r => s"v$r")
    val stats = bds.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_m"), min(col(idCol)).as("_hub"))
    val tagged = bds.join(stats, keyCols)
    val small = tagged.filter(col("_m") <= hotThreshold)
    val smallPairs = small
      .select(keyCols.map(col) :+ col(idCol).as("doc_a"): _*)
      .join(small.select(keyCols.map(col) :+ col(idCol).as("doc_b"): _*),
        keyCols)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val hotSpokes = tagged
      .filter(col("_m") > hotThreshold && col(idCol) =!= col("_hub"))
      .select(col("_hub").as("doc_a"), col(idCol).as("doc_b"))
    smallPairs.unionByName(hotSpokes).distinct()
  }

  /** D5 skew instrument — the band-bucket size PROFILE that prices a
    * corpus's band join BEFORE running it: per distinct bucket size m,
    * the bucket count, the pair volume the all-pairs join would shuffle
    * (m(m−1)/2 per bucket), the edge volume the star contraction would
    * ([[minhashLshStarEdges]]: m−1 when m > hotThreshold, else the
    * pairs), and the is_hot flag. One groupBy over the band table plus
    * a histogram aggregate — vocabulary-sized, never pair-sized, so the
    * instrument itself is safe on exactly the corpora it exists to
    * warn about (contrast q297's pre-round-11 form). Reading: a heavy
    * tail row with pairs_all ≫ edges_star is the planted-family
    * signature; route components/profiles through the star path. */
  def lshBucketProfile(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4,
      hotThreshold: Int = 64): DataFrame = {
    val rows = k / bands
    val sig = df.select(col(idCol),
      graft.functions.MinHashExpression
        .minhashSignature(col(textCol), shingleN, k).as("_sig"))
      .filter(col("_sig").isNotNull)
      .select(col(idCol) +: (0 until k).map(i =>
        element_at(col("_sig"), i + 1).as(s"s$i")): _*)
    val keyCols = "band" +: (0 until rows).map(r => s"v$r")
    lshBands(sig, idCol, k, bands)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("m"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_buckets"))
      // `div`, not `/`: Spark's / on longs is a DOUBLE divide; the pair
      // counts are exact integers (m(m−1) is even)
      .select(col("m").as("bucket_size"), col("n_buckets"),
        expr("m * (m - 1) div 2 * n_buckets").as("pairs_all"),
        expr(s"CASE WHEN m > $hotThreshold THEN (m - 1) * n_buckets " +
          "ELSE m * (m - 1) div 2 * n_buckets END").as("edges_star"),
        (col("m") > hotThreshold).as("is_hot"))
  }

  /** D5 skew instrument — the GROUP-PAIR slice of the band-join volume,
    * computed bucket-arithmetically (q372's move applied to
    * [[pairGroupMatrix]]'s question): per unordered group pair, how
    * many pair-slots the all-pairs band join would shuffle between
    * members of those groups. Per bucket, per group g with cnt_g
    * members: the diagonal contributes cnt_g·(cnt_g−1)/2, a cross cell
    * cnt_a·cnt_b — exact integer arithmetic on per-bucket GROUP COUNTS,
    * so a hot bucket costs |groups-in-bucket|² tiny rows instead of m²
    * materialized pairs. Same reading as q372's `pairs_all`: this is
    * the band-join VOLUME (a pair sharing b buckets counts b times),
    * the pre-flight pricing currency — [[pairGroupMatrix]] over
    * [[minhashLshCandidates]] is the distinct-pair record when the
    * corpus is known un-skewed. Output mirrors [[pairGroupMatrix]]:
    * (group_a, group_b, pair_volume, cross_group, share_ppm). */
  def lshGroupPairVolume(df: DataFrame, idCol: String, textCol: String,
      meta: DataFrame, groupCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = k / bands
    val sig = df.select(col(idCol),
      graft.functions.MinHashExpression
        .minhashSignature(col(textCol), shingleN, k).as("_sig"))
      .filter(col("_sig").isNotNull)
      .select(col(idCol) +: (0 until k).map(i =>
        element_at(col("_sig"), i + 1).as(s"s$i")): _*)
    val keyCols = "band" +: (0 until rows).map(r => s"v$r")
    // per (bucket, group) member counts — the whole corpus collapses to
    // ≤ |buckets|·|groups| rows before anything pair-shaped happens
    val gc = lshBands(sig, idCol, k, bands)
      .join(meta.select(col(idCol), col(groupCol).as("_g")), Seq(idCol))
      .groupBy(keyCols.map(col) :+ col("_g"): _*)
      .agg(count(lit(1)).as("_c"))
      .localCheckpoint() // both sides of the tiny self-join below
    val a = gc.select(keyCols.map(col) :+ col("_g").as("_ga") :+
      col("_c").as("_ca"): _*)
    val b = gc.select(keyCols.map(col) :+ col("_g").as("_gb") :+
      col("_c").as("_cb"): _*)
    val tot = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    a.join(b, keyCols)
      .filter(col("_ga") <= col("_gb"))
      .select(col("_ga").as("group_a"), col("_gb").as("group_b"),
        when(col("_ga") === col("_gb"),
          expr("_ca * (_ca - 1) div 2"))
          .otherwise(col("_ca") * col("_cb")).as("_v"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(sum(col("_v")).as("pair_volume"))
      .filter(col("pair_volume") > 0L)
      .withColumn("cross_group", col("group_a") =!= col("group_b"))
      .withColumn("_tot", sum(col("pair_volume")).over(tot))
      .withColumn("share_ppm", expr("(1000000 * pair_volume) div _tot"))
      .drop("_tot")
  }

  /** D5 skew advisor — pick the star-contraction threshold from the
    * measured [[lshBucketProfile]] instead of a hand-set constant (the
    * q287 band/row-advisor move applied to the hot-bucket cure): the
    * LARGEST threshold whose total edge volume
    * `Σ_{m≤t} pairs(m) + Σ_{m>t} (m−1)·buckets(m)` stays within
    * `budgetPairs`. Larger t = more exact pairs survive (higher
    * fidelity for pair-consuming stages); the budget caps what the
    * band join is allowed to shuffle. Cost is monotone in t, so only
    * the distinct observed bucket sizes need scoring — the whole
    * computation is |distinct sizes| rows of window arithmetic on the
    * profile. When even full contraction (t = 1, every multi-member
    * bucket a star) exceeds the budget, returns t = 1 with
    * `within_budget = false` — the loud "your budget is smaller than
    * the linear floor" verdict. One row:
    * (advised_threshold, edge_volume, budget, within_budget,
    * pairs_volume_full, edges_volume_floor). */
  def advisedHotThreshold(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4,
      budgetPairs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prof = lshBucketProfile(df, idCol, textCol, shingleN, k, bands)
      .select(col("bucket_size"), col("pairs_all"),
        expr("(bucket_size - 1) * n_buckets").as("_spokes"))
    val cum = Window.orderBy(col("bucket_size")).rowsBetween(
      Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    prof
      .withColumn("_tot_spokes", sum(col("_spokes")).over(tot))
      .withColumn("_tot_pairs", sum(col("pairs_all")).over(tot))
      // cost of threshold t = bucket_size: buckets ≤ t keep exact
      // pairs, buckets > t contract to their spokes
      .withColumn("_cost", sum(col("pairs_all")).over(cum) +
        col("_tot_spokes") - sum(col("_spokes")).over(cum))
      .agg(
        max(when(col("_cost") <= budgetPairs, col("bucket_size")))
          .as("_t"),
        max(when(col("_cost") <= budgetPairs, col("_cost"))).as("_c"),
        max(col("_tot_pairs")).as("pairs_volume_full"),
        max(col("_tot_spokes")).as("edges_volume_floor"))
      .select(
        coalesce(col("_t"), lit(1L)).as("advised_threshold"),
        coalesce(col("_c"), col("edges_volume_floor")).as("edge_volume"),
        lit(budgetPairs).as("budget"),
        coalesce(col("_c") <= budgetPairs,
          col("edges_volume_floor") <= budgetPairs).as("within_budget"),
        col("pairs_volume_full"), col("edges_volume_floor"))
  }

  /** Per-doc distinct gram-hash sets as one narrow array column (map-side
    * native expression — no explode/groupBy): (idCol, ghs, n). Docs with
    * no grams are dropped (they join nothing). */
  private def hashedShingleSets(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.ShingleExpression
        .wordShingleHashes(col(textCol), n).as("ghs"))
      .filter(size(col("ghs")) > 0)
      .withColumn("n", size(col("ghs")).cast("long"))

  /** D5 — exact n-gram Jaccard for candidate/all pairs ≥ `minJaccard`:
    * (doc_a, doc_b, shared, jaccard). Jaccard is an int/int division →
    * deterministic double. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    // Count-join form: candidates via shared-gram equi-join, shared counts
    // by aggregation. The per-doc gram set and its size are computed
    // map-side (native array expression; grams travel as 64-bit hashes,
    // 2^-64 collision odds) — the only shuffles are the pair join and its
    // count. Measured faster than the prefix-filtered variant on
    // dense/small-vocabulary corpora; see ngramJaccardPairsPrefixFiltered
    // for the sparse-vocabulary scale path (identical output).
    val base = hashedShingleSets(df, idCol, textCol, shingleN)
      .localCheckpoint()
    val ta = base.select(col(idCol).as("doc_a"), col("n").as("na"),
      explode(col("ghs")).as("gh"))
    val tb = base.select(col(idCol).as("doc_b"), col("n").as("nb"),
      explode(col("ghs")).as("gh"))
    ta.join(tb, Seq("gh")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** PPJoin-style prefix-filtered variant (Xiao et al., WWW'08 — public
    * algorithm): grams ordered by ascending document frequency; a pair
    * with Jaccard ≥ t must share a gram within each side's first
    * (n − ⌈t·n⌉ + 1) grams, so the join touches only the rare-gram
    * prefixes (kills the frequent-gram skew head); candidates verified
    * exactly via sorted-set intersection. Lossless — identical output to
    * [[ngramJaccardPairs]]. Preferable when the gram vocabulary is large
    * and frequency-skewed (real corpora at scale); the count-join wins on
    * small dense vocabularies where prefixes barely prune. */
  def ngramJaccardPairsPrefixFiltered(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    // per-doc gram sets map-side; the exploded view feeds document
    // frequency, the array view feeds verification — no collect_set
    // re-aggregation anywhere. ghs ascending-sorted so verification is a
    // linear primitive merge (graft_sorted_isect), not a per-pair hash set.
    val base = hashedShingleSets(df, idCol, textCol, shingleN)
      .withColumn("ghs", sort_array(col("ghs")))
      .localCheckpoint()
    import org.apache.spark.sql.expressions.Window
    // document frequency WITHOUT a dfreq aggregate + join back: one
    // explicit repartition on the gram hash, then a count window whose
    // ClusteredDistribution(gh) the repartition already satisfies — no
    // second exchange, no sort-merge join of two exploded-gram sides.
    // Each doc's rarity-ordered prefix comes from a per-group
    // sort_array+slice (bounded by the doc's own gram count), NOT a
    // row_number window — no partition-wide sort, map-side combine.
    val tg = base.select(col(idCol), explode(col("ghs")).as("gh"))
      .repartition(col("gh"))
    val prefix = tg
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("gh"))))
        .as("ordered"), count(lit(1)).as("n"))
      .withColumn("lp",
        (col("n") - ceil(lit(minJaccard) * col("n")) + 1).cast("long"))
      .select(col(idCol), col("n"), col("lp"),
        explode(slice(col("ordered"), lit(1), col("lp").cast("int"))).as("pg"))
      .select(col(idCol), col("n"), col("lp"), col("pg.gh").as("gh"))
    // candidate pairs with PPJoin-style pruning BEFORE touching the full
    // gram arrays: the pair aggregation replaces the former distinct
    // (same shuffle), and two filters drop pairs that cannot reach the
    // threshold — length compatibility (t·max ≤ min) and the overlap
    // upper bound pshared + (na−lpa) + (nb−lpb) vs the required overlap
    // ⌈t/(1+t)·(na+nb)⌉ (a shared gram outside both prefixes must sit in
    // one of the suffixes)
    val cand = prefix
      .select(col(idCol).as("doc_a"), col("gh"),
        col("n").as("na"), col("lp").as("lpa"))
      .join(prefix.select(col(idCol).as("doc_b"), col("gh"),
        col("n").as("nb"), col("lp").as("lpb")), Seq("gh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        col("lpa"), col("lpb"))
      .agg(count(lit(1)).as("pshared"))
      .filter(least(col("na"), col("nb")) >=
        ceil(lit(minJaccard) * greatest(col("na"), col("nb"))))
      .filter(col("pshared") + (col("na") - col("lpa")) +
        (col("nb") - col("lpb")) >=
        ceil(lit(minJaccard) / (lit(1.0) + lit(minJaccard)) *
          (col("na") + col("nb"))))
    cand
      .join(base.select(col(idCol).as("doc_a"), col("ghs").as("ga")),
        Seq("doc_a"))
      .join(base.select(col(idCol).as("doc_b"), col("ghs").as("gb")),
        Seq("doc_b"))
      .withColumn("shared", graft.functions.VectorExpressions
        .sortedIntersectSize(col("ga"), col("gb")))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** INCREMENTAL connected-components maintenance: fold a batch of new
    * edges into stored labels without re-running CC over the archive —
    * the lifecycle move (q107/q127/q139) applied to the dedup-cluster
    * graph, whose edge set only grows as a corpus ingests.
    *
    * Quotient-graph argument: contract every archive component to its
    * representative (labels map node→rep, rep = component min id), map
    * the new edges' endpoints through that contraction (unlabeled = new
    * nodes map to themselves), and run CC on the CONTRACTED delta graph
    * — whose node set is {touched reps} ∪ {new nodes}, i.e. O(delta +
    * affected components), never O(archive edges). Components of the
    * union graph are exactly the contraction classes' unions, and min
    * ids survive contraction (a rep IS its component's min), so the
    * composed labels are bit-identical to a from-scratch CC over all
    * edges — which is what lets a query certify this against the SAME
    * oracle SQL as the batch form.
    *
    * Returns (node, rep) over every node that has an edge: archive
    * nodes re-pointed through the delta closure (untouched components
    * keep their rep), new nodes labeled by the delta CC. */
  def ccIncremental(labels: DataFrame, newPairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val l = labels.select(col("node"), col("rep")).localCheckpoint()
    val mapped = newPairs
      .join(l.select(col("node").as(aCol), col("rep").as("_ra")),
        Seq(aCol), "left")
      .join(l.select(col("node").as(bCol), col("rep").as("_rb")),
        Seq(bCol), "left")
      .select(coalesce(col("_ra"), col(aCol)).as("_ca"),
        coalesce(col("_rb"), col(bCol)).as("_cb"))
    val comp = connectedComponents(mapped, "_ca", "_cb")
      .localCheckpoint()
    val updatedOld = l
      .join(comp.select(col("node").as("rep"), col("rep").as("_fr")),
        Seq("rep"), "left")
      .select(col("node"), coalesce(col("_fr"), col("rep")).as("rep"))
    val newNodes = comp
      .join(l.select(col("node")), Seq("node"), "left_anti")
    updatedOld.unionByName(newNodes)
  }

  /** LSH-BLOCKED fuzzy join — [[blockedFuzzyPairs]] with a
    * content-derived blocking key: candidates come from the SimHash
    * Hamming band join (near-identical texts have near-identical
    * signatures), then verify with the same length gate + thresholded
    * banded-DP levenshtein. This is the ER-scaling fix the 10× table
    * demanded: length-band blocks grow with CORPUS size (block volume
    * is quadratic in block size → super-linear, measured 35.6× at 10×
    * on q140's shape), while band-join candidate volume grows with
    * actual near-dup density — the q93 family's ≤-linear profile.
    * The trade is recall semantics: "same band + Hamming ≤ 3" replaces
    * "same length band" as the declared candidate contract (LSH
    * blocking, the standard production choice; Christen 2012).
    *
    * Returns (doc_a, doc_b, hamming, dist), doc_a < doc_b. */
  def lshFuzzyPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, maxBits: Int = 3): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // candidates leave the band join partitioned by (band, key): the hot
    // buckets that produce most pairs land together, so the edit-distance
    // DP below runs on a handful of cores — and AQE cannot split them
    // (skew handling is byte-sized; these partitions are tiny in bytes,
    // heavy in CPU). Spread the verification stage by pair key before
    // attaching texts (guide §2.5: a narrow-row exchange buys an even
    // CPU-bound stage); explicit partition count (cluster-derived, not a
    // constant) so AQE's byte-based coalescing doesn't re-collapse it.
    val cand = simhashHammingPairs(df, idCol, textCol, maxBits)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
    val t = df.select(col(idCol), col(textCol))
    cand
      .join(t.select(col(idCol).as("doc_a"), col(textCol).as("_ta")),
        Seq("doc_a"))
      .join(t.select(col(idCol).as("doc_b"), col(textCol).as("_tb")),
        Seq("doc_b"))
      .filter(abs(length(col("_ta")) - length(col("_tb"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("_ta"), col("_tb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("dist"))
  }

  /** Asymmetric CONTAINMENT join: directional pairs (src, dst) with
    * |grams(src) ∩ grams(dst)| / |grams(src)| ≥ t — "src is nearly
    * contained in dst". The Jaccard family misses these (a paragraph
    * quoted inside a 10× longer doc has tiny Jaccard but containment
    * ≈ 1), and near-inclusion is the training-data leak that matters:
    * a benchmark prompt pasted into a web page.
    *
    * Scale path is the ONE-SIDED prefix filter (the asymmetric member
    * of the PPJoin family): if |A∩B| ≥ ⌈t·|A|⌉ then at most
    * |A| − ⌈t·|A|⌉ of A's grams are outside B, so A's
    * (|A| − ⌈t·|A|⌉ + 1) RAREST grams must hit B — only that prefix of
    * the src side joins against the full dst postings; dst needs no
    * prefix because containment does not bound the dst size. Candidates
    * verify exactly via the sorted-set intersection primitive. Same
    * df-ordering machinery as [[ngramJaccardPairsPrefixFiltered]]
    * (repartition on gram + count window, no second exchange).
    *
    * Returns (doc_src, doc_dst, shared, containment), src ≠ dst. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minContain: Double = 0.8): DataFrame = {
    require(minContain > 0 && minContain <= 1, s"bad threshold $minContain")
    val base = hashedShingleSets(df, idCol, textCol, shingleN)
      .withColumn("ghs", sort_array(col("ghs")))
      .localCheckpoint()
    import org.apache.spark.sql.expressions.Window
    val tg = base.select(col(idCol), explode(col("ghs")).as("gh"))
      .repartition(col("gh"))
    val prefix = tg
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("gh"))))
        .as("ordered"), count(lit(1)).as("n"))
      .withColumn("lp",
        (col("n") - ceil(lit(minContain) * col("n")) + 1).cast("long"))
      .select(col(idCol).as("doc_src"), col("n").as("ns"),
        explode(slice(col("ordered"), lit(1), col("lp").cast("int")))
          .as("pg"))
      .select(col("doc_src"), col("ns"), col("pg.gh").as("gh"))
    val cand = prefix
      .join(tg.select(col(idCol).as("doc_dst"), col("gh")), Seq("gh"))
      .filter(col("doc_src") =!= col("doc_dst"))
      .groupBy(col("doc_src"), col("doc_dst"), col("ns"))
      .agg(count(lit(1)).as("pshared"))
    cand
      .join(base.select(col(idCol).as("doc_src"), col("ghs").as("ga")),
        Seq("doc_src"))
      .join(base.select(col(idCol).as("doc_dst"), col("ghs").as("gb")),
        Seq("doc_dst"))
      .withColumn("shared", graft.functions.VectorExpressions
        .sortedIntersectSize(col("ga"), col("gb")))
      .select(col("doc_src"), col("doc_dst"), col("shared"),
        (col("shared").cast("double") / col("ns")).as("containment"))
      .filter(col("containment") >= minContain)
  }

  /** How [[connectedComponents]] steps its labels each round. */
  sealed trait CcStrategy
  object CcStrategy {
    /** Plain hash-min: one shuffle per round, rounds = diameter. */
    case object HashMin extends CcStrategy
    /** Hash-min plus a pointer-doubling hop: two shuffles per round,
      * O(log diameter) rounds ([[connectedComponentsDoubling]]). */
    case object Doubling extends CcStrategy
    /** Hash-min until the changed-count decay stalls for `stallRounds`
      * rounds, then doubling ([[connectedComponentsHybrid]]). */
    final case class Hybrid(stallRounds: Int) extends CcStrategy
  }

  /** D5 closure — connected components over an undirected near-dup pair
    * list by HASH-MIN label propagation: every node starts labeled with
    * itself; each round a node takes the minimum label in its closed
    * neighborhood; fixpoint when no label changes. The component
    * representative (min doc id, transitively) is the dedup survivor —
    * pairwise min-id survivors under-merge when near-dup relations chain
    * (a~b, b~c but a!~c), this closes them.
    *
    * Scale shape: per round ONE shuffle (neighbor-label groupBy-min with
    * map-side combine) and one driver-synchronous job: labels iterate as a
    * [[Fixpoint]] whose changed-label count is observed on the round's
    * checkpoint action. Rounds = component diameter — small for near-dup
    * clusters (dup groups are dense); `strategy` picks pointer doubling
    * (or the hybrid's automatic escalation to it) when diameters grow.
    *
    * Input: (aCol, bCol) pairs. Output: (node, rep). `maxRounds` caps
    * pathological diameters (a chain of length > maxRounds would return
    * with some labels not yet folded to the true component min — raise the
    * cap, or pre-shortcut with pointer doubling, for adversarial graphs;
    * convergence is exact whenever the fixpoint is reached, which the
    * changed-count detects). */
  def connectedComponents(pairs: DataFrame, aCol: String,
      bCol: String, maxRounds: Int = 100,
      strategy: CcStrategy = CcStrategy.HashMin): DataFrame =
    Stage("Dedup.connectedComponents") { implicit st =>
      // symmetrized, deduped edge list, read every round → pinned.
      // (Measured, not assumed: pre-partitioning edges on the join key is
      // a LOSS here — AQE broadcasts the label side of the per-round join,
      // so edges never shuffle and the upfront repartition is pure
      // overhead.)
      val fwd = pairs.select(col(aCol).as("_a"), col(bCol).as("_b"))
      val edges = st.pin(fwd.unionByName(
          fwd.select(col("_b").as("_a"), col("_a").as("_b")))
        .distinct())
      val init = st.checkpoint(edges.select(col("_a").as("_n")).distinct()
        .select(col("_n"), col("_n").as("_lbl")), "init")
      var doubling = strategy == CcStrategy.Doubling
      var prev = Long.MaxValue // the hybrid's previous changed-count
      var stall = 0
      val res = Fixpoint.iterate(init, maxRounds) { (labels, changed) =>
        strategy match {
          // changed == MaxValue before round 1: nothing observed yet
          case CcStrategy.Hybrid(stallRounds)
              if !doubling && changed != Long.MaxValue =>
            // prev == MaxValue: no earlier count to measure decay against
            // (prev*3 would also overflow there)
            if (prev != Long.MaxValue && changed * 4 >= prev * 3) stall += 1
            else stall = 0
            prev = changed
            if (stall >= stallRounds) {
              doubling = true
              org.slf4j.LoggerFactory.getLogger(getClass).info(
                s"connectedComponents/$strategy: changed-count stalled " +
                  s"at $changed for $stall rounds — escalating to pointer " +
                  "doubling")
            }
          case _ => ()
        }
        if (doubling) doublingNext(edges, labels)
        else hashMinNext(edges, labels)
      }(Fixpoint.Observed(coalesce(sum(when(col("_lbl") < col("_old"), 1L)
        .otherwise(0L)), lit(0L))))
      warnIfUnconverged(s"connectedComponents/$strategy", res.live, maxRounds)
      res.state.select(col("_n").as("node"), col("_lbl").as("rep"))
    }

  /** One hash-min round: labels′ = min over the closed neighborhood, the
    * previous label kept as `_old` for the changed-count. */
  private def hashMinNext(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels, edges("_b") === labels("_n"))
      .select(edges("_a").as("_n"), col("_lbl"))
      .unionByName(labels)
      .groupBy(col("_n")).agg(min(col("_lbl")).as("_lbl2"))
      .join(labels, Seq("_n"))
      .select(col("_n"), col("_lbl2").as("_lbl"), col("_lbl").as("_old"))

  /** One hash-min + pointer-doubling round: the candidate min label is
    * followed one more hop (its own current label) before adoption —
    * one extra self-join shuffle buys O(log d) total rounds.
    *
    * Measured (round 5): the apparent round-4 "regression" of the
    * doubling queries (q55 3.4→5.1 s, q78 3.0→5.0 s) did NOT reproduce
    * under n=3 medians in one JVM — q55 3.0 s, q78 1.9 s, both BELOW
    * their round-3 single-run numbers, with this code untouched in
    * between (and a back-to-back q97 pair in the same session measured
    * 5.0 s then 2.3 s). Cause: single-run bench noise on multi-job
    * iterative queries (scheduler/GC variance across ~log d rounds ×
    * 2 shuffles), not per-round cost — which is why Bench now has the
    * SPARK_GRAFT_BENCH_N median mode. Neither the eager checkpoint nor
    * the byLabel self-join is a measured bottleneck at bench scale. */
  private def doublingNext(edges: DataFrame, labels: DataFrame): DataFrame = {
    val cand = edges
      .join(labels, edges("_b") === labels("_n"))
      .select(edges("_a").as("_n"), col("_lbl"))
      .unionByName(labels)
      .groupBy(col("_n"))
      .agg(min(col("_lbl")).as("_m"))
      .join(labels, Seq("_n"))
    val byLabel = labels
      .select(col("_n").as("_p"), col("_lbl").as("_plbl"))
    cand
      .join(byLabel, cand("_m") === byLabel("_p"), "left")
      .select(col("_n"),
        least(col("_m"), coalesce(col("_plbl"), col("_m"))).as("_lbl"),
        col("_lbl").as("_old"))
  }

  /** Loud signal when a fixpoint loop exits on the round cap instead of
    * convergence: the returned labels are then NOT representatives (an
    * adversarial high-diameter graph under-merges with no other symptom —
    * survivor selection would silently keep near-dups). Callers who need
    * hard guarantees should treat the warning as an error and re-run with
    * a higher cap or the doubling/hybrid variant. */
  private def warnIfUnconverged(op: String, changed: Long,
      maxRounds: Int): Unit =
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$op: maxRounds=$maxRounds hit with $changed labels still " +
          "changing — labels are NOT a fixed point (components may be " +
          "under-merged); raise maxRounds or use " +
          "connectedComponentsHybrid for chain-shaped graphs")

  /** D5 closure, high-diameter scale path: hash-min propagation PLUS a
    * pointer-doubling hop per round (label := label-of-label), so rounds
    * grow with log2(diameter) instead of diameter — the classic
    * path-doubling trick (Shiloach–Vishkin style; see also Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14).
    *
    * Per round: the neighbor-min shuffle of [[connectedComponents]] plus
    * one extra self-join shuffle for the label composition — 2 shuffles
    * per round × O(log d) rounds vs 1 × O(d). For near-dup clusters
    * (dense, shallow) plain hash-min wins; for chain-shaped or
    * adversarial graphs this variant is the one that terminates. Same
    * convergence detection, same output contract: (node, rep). */
  def connectedComponentsDoubling(pairs: DataFrame, aCol: String,
      bCol: String, maxRounds: Int = 50): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxRounds, CcStrategy.Doubling)

  /** D5 closure, ONE entry point for both graph shapes: start with plain
    * hash-min (1 shuffle/round — optimal for the dense, shallow clusters
    * near-dup graphs actually are) and AUTO-ESCALATE to pointer doubling
    * when the changed-count decay stalls — the signature of a chain-
    * shaped/adversarial graph, where hash-min's per-round progress is a
    * constant trickle (each chain advances its min label one hop per
    * round) instead of the geometric collapse dense components show.
    *
    * Stall rule: `stallRounds` consecutive hash-min rounds where the
    * changed-count fails to drop by ≥ 25% (changed·4 ≥ prev·3). Dense
    * dup clusters converge in ≤ diameter ≈ 2–4 rounds and never trip it;
    * a chain trips it after `stallRounds`+1 rounds and finishes in
    * O(log d) doubling rounds. Costs nothing when hash-min wins, bounds
    * rounds at ~stall + log₂(d) when it doesn't. Same contract:
    * (node, rep), exact on convergence, warning on cap. */
  def connectedComponentsHybrid(pairs: DataFrame, aCol: String,
      bCol: String, maxRounds: Int = 100,
      stallRounds: Int = 3): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxRounds,
      CcStrategy.Hybrid(stallRounds))

  /** D5 — 32-bit SimHash signature per doc from distinct-word md5 bits:
    * (idCol, simhash: "0/1" string, msb first). One per-row codegen'd
    * eval (graft.functions.SimHash32) — the former SQL pipeline exploded
    * 32 bit-rows per word through two shuffles for the same output. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.SimHashExpression.simhash32(col(textCol)).as("simhash"))

  /** D5 — 64-bit SimHash signature as a signed long (idCol, simhash64):
    * the Hamming-matching scale form. 32-bit signatures band into 8-bit
    * keys (256 values — dense corpora collide every bucket); 64 bits band
    * into 4×16-bit keys, lossless for Hamming ≤ 3 by pigeonhole and
    * selective even on dense sketches. Upper half == [[simhash]]'s bits. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.SimHashExpression.simhash64(col(textCol)).as("simhash64"))

  /** D5 — banded Hamming-pair join over ANY 64-bit signature column
    * (SimHash text sketches, perceptual image hashes): (doc_a, doc_b,
    * hamming), doc_a < doc_b, Hamming ≤ `maxDist` (< 4). Candidates via
    * 4×16-bit band equi-join — any pair within distance 3 has at least
    * one differing-bits-free band exact (pigeonhole over 4 bands), so
    * banding is lossless; verification is `bit_count(a ^ b)`. The only
    * exchange is the (band, key) join; signatures travel as single
    * longs. */
  def hammingPairs64(sigs: DataFrame, idCol: String, sigCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 4,
      s"4 bands are only lossless for Hamming <= 3, got $maxDist")
    // both sides of the band self-join read this; materialize ONCE (the
    // signature kernel is the expensive map stage — an unpinned plan
    // computes it per side, same rationale as minhashLshCandidates)
    val bands = sigs.select(col(idCol), col(sigCol),
      posexplode(array((0 until 4).map(b =>
        expr(s"shiftrightunsigned(`$sigCol`, ${48 - 16 * b}) & 65535")): _*))
        .as(Seq("band", "key")))
      .localCheckpoint()
    // verification (a per-row bit_count, codegen'd) runs BEFORE the
    // distinct: a pair colliding in several bands is verified that many
    // times for a few cycles each, but the dedup exchange then carries
    // only true matches (≤ 4× the result) instead of every band
    // collision — on dense sketches that's orders of magnitude less data
    bands.alias("x")
      .join(bands.alias("y"), col("x.band") === col("y.band") &&
        col("x.key") === col("y.key") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"),
        expr(s"cast(bit_count(x.`$sigCol` ^ y.`$sigCol`) as bigint)")
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** D5 — SimHash near-dup pairs within Hamming distance `maxDist` (< 4):
    * the 64-bit text signature fed through [[hammingPairs64]]. */
  def simhashHammingPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    hammingPairs64(simhash64(df, idCol, textCol), idCol, "simhash64",
      maxDist)

  /** [NS] — batch twin of the STREAMING first-sight near-dup gate
    * ([[graft.streaming.EventStream.bandFirstSight]]): a doc is admitted
    * iff it is the (tsCol, id)-first CLAIMANT of every one of its four
    * SimHash 16-bit band keys. Claims are per-band and unconditional —
    * a rejected doc's fresh bands are still claimed, which is what makes
    * the rule non-recursive (admission never feeds back into claims) and
    * therefore expressible as one aggregation: claim(band, key) =
    * min(ts, id) over carriers. Any doc within Hamming ≤ 3 of an earlier
    * doc shares ≥ 1 exact band (pigeonhole) and is rejected; band-
    * collision false positives are the documented price of a
    * verification-free gate (the gate exists to bound INGEST cost — the
    * full pair verification is [[simhashHammingPairs]]).
    *
    * Scale shape: one shuffle on (band, key) for the claim argmin, one
    * on id for the conjunction; signatures ride as longs and the band
    * table is pinned once ([[hammingPairs64]]'s rationale). Equals the
    * streaming form under event-time-ordered batch boundaries with
    * unique (or co-batched) timestamps and no TTL eviction inside the
    * window — the funnel's exact contract. Output: admitted (id, ts). */
  def nearDupGateBatch(df: DataFrame, idCol: String, textCol: String,
      tsCol: String): DataFrame = {
    val bands = df.select(col(idCol).cast("long").as("id"),
        col(tsCol).as("ts"),
        graft.functions.SimHashExpression.simhash64(col(textCol))
          .as("sig"))
      .select(col("id"), col("ts"),
        posexplode(array((0 until 4).map(b =>
          expr(s"shiftrightunsigned(sig, ${48 - 16 * b}) & 65535")): _*))
          .as(Seq("band", "key")))
      .localCheckpoint()
    val claims = bands.groupBy(col("band"), col("key"))
      .agg(min(struct(col("ts"), col("id"))).as("w"))
    bands.join(claims, Seq("band", "key"))
      .filter(col("w.id") === col("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bands"), min(col("ts")).as("ts"))
      .filter(col("n_bands") === 4)
      .select(col("id"), col("ts"))
  }

  /** D5 [NS] — INCREMENTAL dedup of a new batch against a standing
    * ARCHIVE: the batch-ingest twin of the streaming q109 gate, and the
    * shape that makes near-dup affordable at 100 TB — a nightly batch
    * must never re-shuffle the archive, only probe it. The archive is
    * touched as two append-only DERIVED tables a production pipeline
    * stores next to the corpus (exactly like the stored ANN index):
    * its distinct content hashes and its distinct MinHash band keys.
    * Both are aggregates, so archive text never crosses an exchange.
    *
    * Admission layers, all deterministic:
    *  1. within-batch exact — keep the min-id copy of each content hash;
    *  2. archive exact — md5 present in the archive hash set → drop;
    *  3. archive near — ANY of the doc's `bands` band keys present in
    *     the archive band table → drop (the LSH contract: ≥ 1 shared
    *     band = duplicate candidate);
    *  4. within-batch near — among survivors, a doc is admitted iff it
    *     is the min-id CLAIMANT of every band key it emits (the same
    *     non-recursive first-sight claim rule as [[nearDupGateBatch]]:
    *     a rejected doc's bands still claim, so admission never feeds
    *     back into claims and one aggregation suffices).
    * Docs too short to shingle have no signature and cannot near-dup:
    * they pass 3–4 subject to the exact layers only.
    *
    * Scale shape: the batch pays one groupBy(id) signature pass plus
    * shuffles on (hash) and (band keys); the archive side ships only
    * `distinct` hash/band aggregates (broadcast-size once the batch is
    * small relative to the corpus — and at worst an equi-join on the
    * band key). Output: admitted incoming rows, original columns. */
  def dedupIncremental(archive: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 8,
      bands: Int = 4): DataFrame = {
    val keyCols = "band" +: (0 until k / bands).map(r => s"v$r")
    dedupIncrementalProbe(
      archive.select(md5(col(textCol)).as("_h")).distinct(),
      bandTable(archive, idCol, textCol, shingleN, k, bands)
        .select(keyCols.map(col): _*).distinct(),
      incoming, idCol, textCol, shingleN, k, bands)
  }

  /** The per-doc MinHash band-key table (idCol, band, v0..v{rows-1}) —
    * the near-dup probe unit shared by [[dedupIncremental]] and the
    * stored [[DedupIndex]]. Docs too short to shingle emit no rows. */
  def bandTable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, bands: Int): DataFrame = lshBands(
    df.select(col(idCol),
        graft.functions.MinHashExpression
          .minhashSignature(col(textCol), shingleN, k).as("_sig"))
      .filter(col("_sig").isNotNull)
      .select(col(idCol) +: (0 until k).map(i =>
        element_at(col("_sig"), i + 1).as(s"s$i")): _*),
    idCol, k, bands)

  /** [[dedupIncremental]]'s core against PRE-DERIVED archive state: a
    * hash set (`_h`) and a band-key set (band, v0..) — either computed
    * from archive text (the one-shot form above) or read back from the
    * stored [[DedupIndex]] (the serve-many form). Duplicate keys in
    * either probe table are harmless: both probes are semi-joins. */
  def dedupIncrementalProbe(archiveHashes: DataFrame,
      archiveBands: DataFrame, incoming: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, k: Int = 8,
      bands: Int = 4): DataFrame = {
    val rows = k / bands
    val keyCols = "band" +: (0 until rows).map(r => s"v$r")
    // 1. within-batch exact: min-id claimant per content hash
    val withH = incoming.withColumn("_h", md5(col(textCol)))
    val exactWinners = withH.groupBy(col("_h"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val inc0 = withH.join(exactWinners, Seq(idCol), "left_semi")
    // 2. archive exact: hash-set probe only — no archive text moves
    val inc1 = inc0.join(archiveHashes, Seq("_h"), "left_anti")
    // 3. archive near: band-key probe
    val iBands = bandTable(inc1, idCol, textCol, shingleN, k, bands)
      .localCheckpoint()
    val archiveHit = iBands.join(archiveBands, keyCols, "left_semi")
      .select(col(idCol)).distinct()
    val inc2 = inc1.join(archiveHit, Seq(idCol), "left_anti")
      .localCheckpoint()
    // 4. within-batch near: first-sight band claims over the survivors
    val iB2 = iBands.join(inc2.select(col(idCol)), Seq(idCol), "left_semi")
    val claims = iB2.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("_w"))
    val wonAll = iB2.join(claims, keyCols)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_nb"),
        count(when(col("_w") === col(idCol), 1)).as("_nw"))
      .filter(col("_nb") === col("_nw"))
      .select(col(idCol))
    val noSig = inc2.select(col(idCol))
      .join(iBands.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
    inc2.join(wonAll.union(noSig), Seq(idCol), "left_semi")
      .select(incoming.columns.map(col).toIndexedSeq: _*)
  }

  /** D5 closure — canonical document selection: collapse each transitive
    * near-dup cluster to its single BEST member (highest `scoreCol`,
    * id-ascending tie-break); rows in no pair survive as their own
    * cluster of one. This is the keep-best end shape of a dedup pass —
    * q72 names the clusters, this picks who lives.
    *
    * Scale: the closure is [[connectedComponentsHybrid]] (1 shuffle per
    * round, O(log d) on chains); the selection itself is ONE shuffle on
    * the component key feeding two window functions over the same
    * partition spec (rank + cluster size share the exchange). Cluster
    * populations are near-dup groups — bounded and small by nature — so
    * no component key can skew a 1000-executor run.
    *
    * Returns the surviving rows of `df` plus `n_dups` (cluster size the
    * survivor represents). */
  def keepBest(df: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: Column, aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val cc = connectedComponentsHybrid(pairs, aCol, bCol)
    val scored = df.withColumn("_score", scoreCol)
      .join(cc.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("_comp", coalesce(col("rep"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_comp"))
    val ranked = scored
      .withColumn("_rn", row_number().over(
        w.orderBy(col("_score").desc, col(idCol).asc)))
      .withColumn("n_dups", count(lit(1)).over(w))
    ranked.filter(col("_rn") === 1)
      .select(df.columns.map(col).toIndexedSeq :+ col("n_dups"): _*)
  }

  /** Blocked fuzzy-match join (the entity-resolution primitive): pairs of
    * rows in the SAME block whose texts are within `maxDist` edits.
    * Blocking keys (e.g. language + a length band) bound the candidate
    * set — the declared contract is "matches within a block", which is
    * what makes the operator linear-ish at 100 TB: the self-join is an
    * equi-join on the block key, never a cross product, and skewed
    * blocks split under AQE like any other equi-join.
    *
    * Three sound gates run before the O(len·maxDist) edit distance, in
    * increasing cost order — none changes the result set, so the oracle
    * can stay the bare quadratic twin:
    *  1. length band |len(a) − len(b)| ≤ maxDist (every edit moves the
    *     length by ≤ 1 — one codegen'd integer compare);
    *  2. character-histogram bound: each edit changes at most two cells
    *     of the [a–z0–9] count vector by one, so L1(hist(a), hist(b)) ≤
    *     2·dist (the "bag distance" filter of the ER literature). The
    *     36-cell vector is computed ONCE per row map-side
    *     (length-after-replace per char), and the per-pair check is a
    *     36-element zip — ~1000× cheaper than the DP band on ~300-char
    *     texts, and it kills almost every non-match pair (measured on
    *     the sf0.1 fixture: 19.5 s → the DP runs only on survivors);
    *  3. Spark's THRESHOLDED levenshtein (banded DP, returns −1 past
    *     the bound) so the full DP matrix is never materialized.
    *
    * Returns (doc_a, doc_b, dist), doc_a < doc_b. */
  def blockedFuzzyPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[Column], maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val blocks = blockCols.zipWithIndex.map { case (c, i) => c.as(s"_blk$i") }
    val keys = blocks.indices.map(i => s"_blk$i")
    // gate alphabet: letters AND digits — an id/version suffix that
    // distinguishes otherwise-identical texts shows up only in digit
    // counts, and a gate blind to them would pass every such pair
    // straight into the DP (measured on the scale10 shard-suffixed
    // fixture: cross-shard twins differ ONLY in digits)
    val hist = array((('a' to 'z') ++ ('0' to '9')).map { ch =>
      (length(col("_txt")) -
        length(replace(col("_txt"), lit(ch.toString), lit("")))).cast("int")
    }: _*)
    val side = df.select(col(idCol).as("_id") +: col(textCol).as("_txt")
      +: blocks: _*).withColumn("_h", hist)
    val a = side.select(col("_id").as("doc_a") +: col("_txt").as("_ta")
      +: col("_h").as("_ha") +: keys.map(col): _*)
    val b = side.select(col("_id").as("doc_b") +: col("_txt").as("_tb")
      +: col("_h").as("_hb") +: keys.map(col): _*)
    a.join(b, keys)
      .filter(col("doc_a") < col("doc_b"))
      .filter(abs(length(col("_ta")) - length(col("_tb"))) <= maxDist)
      .filter(aggregate(zip_with(col("_ha"), col("_hb"),
        (x, y) => abs(x - y)), lit(0), (acc, x) => acc + x)
        <= lit(2 * maxDist))
      .withColumn("dist",
        levenshtein(col("_ta"), col("_tb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** [NS] — LSH (bands × rows) parameter advisor: prices every way to
    * split `totalHashes` MinHash functions into b bands of r rows ON
    * THE MEASURED pair-similarity distribution, instead of eyeballing
    * the textbook S-curve. For a pair with Jaccard s, band collision
    * probability is 1 − (1 − s^r)^b; both powers are computed as
    * TRUNCATING ppm folds (acc·x div 10⁶ per step — identical
    * arithmetic in DuckDB via list_reduce, so values hash-match
    * exactly; max intermediate 10¹² < 2⁶³). Per config:
    *   n_true/n_false   pairs at/below `thresholdPpm` exact Jaccard
    *   recall_ppm       mean capture probability of true pairs
    *   leak_ppm         mean capture probability of below-threshold
    *                    pairs (the wasted-verification budget)
    *   margin_ppm       recall − leak, the config's separating power
    *   recommended      rank-1 by (margin desc, bands asc) — fewer
    *                    bands = fewer hash tables at equal margin
    *
    * `pairJacs` is any frame with a `jac_ppm` column — in practice the
    * candidate-bounded exact-Jaccard table (the q279 machinery), so
    * the advisor costs |candidates| × |configs| rows, never all-pairs.
    * Caveat inherited from q279: candidate pairs over-represent
    * similar pairs, so leak_ppm is an upper bound on the true
    * false-candidate rate — the ranking (margin) is still the right
    * comparator across configs because the bias is config-independent.
    */
  def lshParamAdvisor(pairJacs: DataFrame, totalHashes: Int,
      thresholdPpm: Long): DataFrame = {
    val sp = pairJacs.sparkSession
    import sp.implicits._
    val configs = (1 to totalHashes)
      .filter(totalHashes % _ == 0)
      .map(r => (totalHashes / r, r))
      .toDF("bands", "rows_per_band")
    import org.apache.spark.sql.expressions.Window
    pairJacs.select(col("jac_ppm").cast("long").as("jac_ppm"))
      .crossJoin(broadcast(configs))
      .withColumn("_sr", expr(
        "aggregate(sequence(1, rows_per_band), CAST(1000000 AS BIGINT), " +
          "(a, i) -> (a * jac_ppm) div 1000000)"))
      .withColumn("_p", expr(
        "1000000 - aggregate(sequence(1, bands), " +
          "CAST(1000000 AS BIGINT), " +
          "(a, i) -> (a * (1000000 - _sr)) div 1000000)"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(
        sum(when(col("jac_ppm") >= thresholdPpm, 1L).otherwise(0L))
          .as("n_true"),
        sum(when(col("jac_ppm") < thresholdPpm, 1L).otherwise(0L))
          .as("n_false"),
        sum(when(col("jac_ppm") >= thresholdPpm, col("_p"))
          .otherwise(0L)).as("_pt"),
        sum(when(col("jac_ppm") < thresholdPpm, col("_p"))
          .otherwise(0L)).as("_pf"))
      .withColumn("recall_ppm", expr(
        "CASE WHEN n_true > 0 THEN _pt div n_true " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("leak_ppm", expr(
        "CASE WHEN n_false > 0 THEN _pf div n_false " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("margin_ppm", expr("recall_ppm - leak_ppm"))
      .withColumn("recommended",
        row_number().over(Window.orderBy(
          col("margin_ppm").desc, col("bands").asc)) === 1)
      .select(col("bands"), col("rows_per_band"), col("n_true"),
        col("n_false"), col("recall_ppm"), col("leak_ppm"),
        col("margin_ppm"), col("recommended"))
  }

  /** [NS] — near-dup pair × group contamination matrix: label every
    * candidate pair with its two documents' group values (a split
    * assignment, a source, a language — any `groupCol`) normalized to
    * an unordered (group_a ≤ group_b) cell, and count. Two readouts,
    * same operator:
    *  - split leakage (Lee et al. 2022's train/test dup finding): any
    *    cross-split cell is benchmark contamination a hash split can't
    *    prevent — near-dups land on both sides of ANY id-keyed split;
    *  - cross-source duplication: which sources copy from each other,
    *    the routing signal for where near-dup dedup is worth running
    *    (the pairwise refinement of q240's per-source ROI).
    * `cross_group` flags off-diagonal cells; share_ppm is the cell's
    * exact share of all pairs. The pair set is whatever the caller
    * feeds — raw band candidates give the dedup gate's OWN linkage
    * (what the pipeline would act on), a verified-Jaccard frame gives
    * the stricter reading. Cost: two id-keyed equi-joins of the pair
    * list against the meta frame + one small-cardinality aggregate —
    * linear in pairs, never corpus². */
  def pairGroupMatrix(pairs: DataFrame, meta: DataFrame, idCol: String,
      groupCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    pairs
      .join(meta.select(col(idCol).as("doc_a"), col(groupCol).as("_ga")),
        Seq("doc_a"))
      .join(meta.select(col(idCol).as("doc_b"), col(groupCol).as("_gb")),
        Seq("doc_b"))
      .select(least(col("_ga"), col("_gb")).as("group_a"),
        greatest(col("_ga"), col("_gb")).as("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_group", col("group_a") =!= col("group_b"))
      .withColumn("_tot", sum(col("n_pairs")).over(tot))
      .withColumn("share_ppm", expr("(1000000 * n_pairs) div _tot"))
      .drop("_tot")
  }

  /** Per-document duplicated-span coverage — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * readout at span granularity: what FRACTION of each document's
    * token positions sits inside a `gram`-word span that also occurs
    * in another document. Doc-level dedup (q22–q25) answers "is this
    * document a duplicate"; this answers "how much of every document
    * is boilerplate", which is what decides between dropping docs and
    * cutting spans ([[graft.operators.Curation.dedupSpans]]) — the
    * standard distributed approximation of their suffix-array
    * substring dedup (positional word-gram rolling hashes instead of
    * suffixes; word granularity is also what keeps the explode at
    * tokens-count rows, ~6× below the char-position form this
    * replaced — measured 82 → 12 s at the 10× fixture for the same
    * verdict set).
    *
    * Plan: one per-word-position explode (doc, pos, h) where h is the
    * 60-bit md5 prefix of the joined gram (the q200-digest key
    * convention — an 8-byte shuffle key; a collision merely marks one
    * gram shared, a ppm-level coverage overcount computed IDENTICALLY
    * by both engines) — the hash keys every exchange, document text
    * never shuffles; shared grams via one groupBy(h) HAVING
    * count(DISTINCT doc) > 1; a semi-join keeps covered positions;
    * then classic gaps-and-islands PER DOC (running-max window over
    * that doc's positions — parallel across docs, never global)
    * merges overlapping [pos, pos+gram) intervals so overlapping
    * matches are never double-counted. Output per doc:
    * (len_words, covered, n_islands, coverage_ppm), all-docs left
    * join so clean documents report 0. */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      gram: Int): DataFrame = {
    require(gram >= 2, s"gram must be >= 2, got $gram")
    import org.apache.spark.sql.expressions.Window
    val g = df
      .select(col(idCol), split(col(textCol), " ").as("_w"))
      .select(col(idCol),
        explode(expr(
          s"""transform(sequence(1, greatest(size(_w) - ${gram - 1}, 1)),
              i -> struct(i AS s,
                CAST(conv(substring(md5(concat_ws(' ',
                  slice(_w, i, $gram))), 1, 15), 16, 10) AS BIGINT)
                  AS h))"""))
          .as("p"))
      .select(col(idCol), col("p.s").as("s"), col("p.h").as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val shared = g.groupBy(col("h"))
        .agg(countDistinct(col(idCol)).as("_nd"))
        .filter(col("_nd") > 1)
        .select(col("h"))
      val w = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
      val islands = g.join(shared, Seq("h"), "left_semi")
        .withColumn("e", col("s") + gram)
        .withColumn("runmax", max(col("e")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("ni", when(col("runmax").isNull ||
          col("s") > col("runmax"), 1L).otherwise(0L))
        .withColumn("iid", sum(col("ni")).over(w))
        .groupBy(col(idCol), col("iid"))
        .agg(min(col("s")).cast("long").as("lo"),
          max(col("e")).cast("long").as("hi"))
      val cov = islands.groupBy(col(idCol))
        .agg(sum(col("hi") - col("lo")).as("covered"),
          count(lit(1)).as("n_islands"))
      df.select(col(idCol),
          size(split(col(textCol), " ")).cast("long").as("len_words"))
        .join(cov, Seq(idCol), "left")
        .select(col(idCol), col("len_words"),
          coalesce(col("covered"), lit(0L)).as("covered"),
          coalesce(col("n_islands"), lit(0L)).as("n_islands"),
          expr("CASE WHEN len_words > 0 THEN " +
            "(1000000 * least(coalesce(covered, 0), len_words))" +
            " div len_words ELSE CAST(0 AS BIGINT) END")
            .as("coverage_ppm"))
        .localCheckpoint(true) // result only; outlives the g pin
    } finally g.unpersist(blocking = false)
  }

  /** [NS] — sorted-neighborhood blocking (Hernández & Stolfo 1995):
    * the third candidate-generation strategy in the engine's blocking
    * taxonomy — classic attribute blocks (q140: pair volume quadratic
    * in the block), LSH bands (q144: probabilistic, tunable), and this
    * one: sort the corpus by a composite key and pair each record with
    * its `w−1` successors — pair volume is EXACTLY n·(w−1) no matter
    * how skewed the key (the property classic blocking lacks), at the
    * cost of missing dups the sort key separates (so production runs
    * multi-pass with rotated keys; each pass is this operator).
    *
    * Distribution: the global sort position comes from the two-pass
    * [[Curation.withGlobalRank]] (range partition + broadcast offsets
    * — no single-partition window), and the neighbor join is TWO
    * equi-joins on rank-bucket (bucket = rank div w: same-bucket ∪
    * next-bucket, distance-filtered) — never a theta-join. Output:
    * (a_id, b_id, rank_dist) with a before b in sort order. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      sortCols: Seq[Column], w: Int): DataFrame = {
    require(w >= 2 && w <= 1000, s"window w in [2,1000]: $w")
    val ranked = Curation.withGlobalRank(
        df.select(col(idCol).as("_snId") +: sortCols: _*),
        sortCols, "_rk")
      .select(col("_snId"), col("_rk"))
      .withColumn("_bk", expr(s"_rk div $w"))
      .localCheckpoint(true)
    val right = ranked.select(col("_snId").as("b_id"),
      col("_rk").as("_rb"), col("_bk").as("_bkb"))
    def arm(shift: Int) = ranked
      .withColumn("_probe", col("_bk") + lit(shift.toLong))
      .join(right, col("_probe") === col("_bkb"))
      .filter(col("_rb") - col("_rk") >= 1L &&
        col("_rb") - col("_rk") <= (w - 1).toLong)
      .select(col("_snId").as("a_id"), col("b_id"),
        (col("_rb") - col("_rk")).as("rank_dist"))
    arm(0).unionAll(arm(1))
  }
}
