package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [NS] Multi-dimensional data layout — Z-order (Morton) keys.
  *
  * A 100 TB table is pruned or it is scanned; min/max zone pruning only
  * works on the column the data is SORTED by. Sorting by a Z-order key
  * interleaves the bits of several dimensions so that rows close in the
  * curve are close in EVERY dimension — one sort buys row-group/file
  * pruning for range predicates on each participating column (the
  * technique behind Delta/Iceberg Z-ORDER clustering; public algorithm,
  * Morton 1966). The key is pure per-row bit arithmetic: unrolled
  * shift/mask/add over built-in expressions, fully codegen'd, no UDF,
  * no shuffle — the curve changes WHERE rows land (via the later sort),
  * not how many move.
  *
  * Bit budget: `bits` low bits per dimension, interleaved round-robin
  * (bit i of dim d lands at position i·n + d); n·bits ≤ 62 keeps the
  * key in a positive long. Dimensions must be pre-masked/shifted into
  * [0, 2^bits) by the caller — that normalization (e.g. `& 65535`, or
  * epoch-day offsets) is part of the layout contract and stays visible
  * at the call site. */
object Layout {

  def zorder(dims: Seq[Column], bits: Int): Column = {
    require(dims.nonEmpty, "zorder needs at least one dimension")
    require(bits >= 1 && bits * dims.size <= 62,
      s"bit budget ${bits}×${dims.size} exceeds a positive long")
    val n = dims.size
    val terms = for {
      (c, d) <- dims.zipWithIndex
      i <- 0 until bits
    } yield shiftright(c.cast("long"), i).bitwiseAND(lit(1L)) *
      lit(1L << (i * n + d))
    terms.reduce(_ + _)
  }

  /** The two-dimension form (the common custkey × date case). */
  def zorder2(x: Column, y: Column, bits: Int = 16): Column =
    zorder(Seq(x, y), bits)

  /** Compaction plan: pack each partition's files, in name order, into
    * sequential bins of ~`targetBytes` (the small-files problem — a
    * 100 TB table accreted by streaming ingest ends up with millions of
    * KB-scale files, and every one costs a task + a NameNode/listing
    * entry; compaction rewrites them into target-sized files).
    *
    * This operator PLANS over file METADATA (1 row per file — at 100 TB
    * with 512 MB targets that is ~200k rows, trivially window-able), it
    * does not move bytes. Bin rule: a file opens a new bin when the
    * bytes before it (exclusive prefix sum, per partition, in file-name
    * order) cross the next multiple of `targetBytes` — the greedy
    * streaming rule every table format's compactor (Iceberg/Delta
    * binpack) uses; deterministic, order-stable, and expressible as one
    * window + one groupBy in any engine, so an oracle can replay it.
    * The window partitions by the table partition: compaction never
    * merges across partitions (it would break pruning), which is also
    * exactly what keeps the plan shuffle-bounded.
    *
    * Returns one row per (partition, bin): file count, total bytes, and
    * the first/last file names (the compactor's input manifest). */
  def compactionPlan(files: DataFrame, partCol: String, fileCol: String,
      bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, "targetBytes must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol)).orderBy(col(fileCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    files
      .withColumn("_cum", sum(col(bytesCol)).over(w))
      .withColumn("bin",
        floor((col("_cum") - col(bytesCol)) / lit(targetBytes)).cast("long"))
      .groupBy(col(partCol), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col(bytesCol)).as("bin_bytes"),
        min(col(fileCol)).as("first_file"),
        max(col(fileCol)).as("last_file"))
  }

  /** [NS] — string-encoding advisor: what dictionary + front-coding
    * would save on a string column — distinct ratio (the dictionary
    * case) and the total shared-prefix bytes between SORT-ORDER
    * neighbors of the distinct values (the front-coding / incremental
    * encoding case, the scheme parquet and ORC dictionaries build on).
    * Exact integers: prefix overlap per neighbor pair is computed with
    * a lag window over the DISTINCT-value frame (vocabulary-sized, not
    * data-sized) as the longest common prefix via a binary search-free
    * character walk expressed with substring comparisons — here the
    * aggregate-friendly form: Σ lcp(prev, cur). Output: one row
    * (n_values, n_distinct, distinct_ppm, raw_bytes, dict_bytes,
    * prefix_saved_bytes). */
  def stringEncodingAdvisor(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = df.filter(col(colName).isNotNull)
      .select(col(colName).cast("string").as("_v"))
    val totals = vals.agg(count(lit(1)).as("n_values"),
      sum(length(col("_v"))).as("raw_bytes"))
    val distinctVals = vals.distinct()
    // lcp(prev, cur) = the largest k ≤ min(len) with equal k-prefixes;
    // expressed as a bounded aggregate over positions (both engines
    // walk the same substrings — no UDF): the count of positions i
    // where the i-prefixes match is exactly the lcp because prefix
    // equality is monotone in i.
    val withPrev = distinctVals
      .withColumn("_p", lag(col("_v"), 1).over(Window.orderBy(col("_v"))))
    val lcp = withPrev.filter(col("_p").isNotNull)
      // guard: sequence(1, 0) is DESCENDING in Spark, so empty strings
      // must short-circuit to 0 before the position walk
      .withColumn("_lcp", expr(
        """case when least(length(_v), length(_p)) < 1 then 0 else
           aggregate(sequence(1, least(length(_v), length(_p))),
             0, (acc, i) -> case when substring(_v, 1, i) =
               substring(_p, 1, i) then acc + 1 else acc end) end"""))
      .agg(coalesce(sum(col("_lcp")), lit(0)).cast("long")
        .as("prefix_saved_bytes"))
    val dict = distinctVals.agg(count(lit(1)).as("n_distinct"),
      sum(length(col("_v"))).as("dict_bytes"))
    totals.crossJoin(dict).crossJoin(lcp)
      .select(col("n_values"), col("n_distinct"),
        expr("(1000000 * n_distinct) div n_values").as("distinct_ppm"),
        col("raw_bytes"), col("dict_bytes"), col("prefix_saved_bytes"))
  }

  /** [NS] — data-skipping ADVISOR: how many zone-map buckets a range
    * predicate could prune IF the table were laid out under a candidate
    * sort order — the number a layout decision (plain sort vs
    * [[zorder]] vs leave-as-is) should be made on, measured instead of
    * guessed. The table is bucketed into `bucketRows`-row zones under
    * the candidate order (the two-pass global rank — the physical
    * rewrite is SIMULATED, no data is rewritten); per zone the
    * min/max of the predicate column is what a parquet footer would
    * store; a zone is prunable iff [min,max] misses [lo,hi]. Output:
    * one row — (layout, n_buckets, n_pruned, pruned_ppm, n_rows_hit).
    * At 100 TB the simulation costs one rank sort + one zone
    * aggregate, and answers "is the Z-ORDER rewrite worth it" before
    * paying for it. */
  def pruningEfficiency(df: DataFrame, sortCols: Seq[Column],
      valCol: String, bucketRows: Long, lo: Long, hi: Long,
      label: String)
      : DataFrame = Stage("Layout.pruningEfficiency") { implicit st =>
    require(bucketRows >= 1 && lo <= hi,
      s"bad advisor config: bucketRows=$bucketRows range=[$lo,$hi]")
    val (ranked, _) = Curation.withGlobalRank(
      df.select(col(valCol).cast("long").as("_v") +:
        sortCols.zipWithIndex.map { case (c, i) => c.as(s"_s$i") }: _*),
      sortCols.indices.map(i => col(s"_s$i")) :+ col("_v"), "_rk")
    ranked
      .groupBy(expr(s"_rk div $bucketRows").as("_bucket"))
      .agg(min(col("_v")).as("_mn"), max(col("_v")).as("_mx"),
        sum(when(col("_v").between(lo, hi), 1L).otherwise(0L)).as("_hit"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("_mx") < lo || col("_mn") > hi, 1L).otherwise(0L))
          .as("n_pruned"),
        sum(col("_hit")).as("n_rows_hit"))
      .select(lit(label).as("layout"), col("n_buckets"), col("n_pruned"),
        expr("(1000000 * n_pruned) div n_buckets").as("pruned_ppm"),
        col("n_rows_hit"))
  }
}
