package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [NS] Line-frequency INDEX lifecycle — the stored-artifact treatment
  * ([[AnnIndex]]/[[TextIndex]]/[[LmIndex]]/[[DedupIndex]]) applied to
  * the C4 global-repetition boilerplate stage. [[Curation
  * .dedupCorpusLines]] recounts every line's document frequency from
  * the whole corpus inside every run; at 100 TB the corpus-wide count
  * table is exactly the thing to build ONCE and probe forever — a new
  * crawl batch needs the archive's line frequencies, not the archive.
  *
  *  - [[build]] / [[buildIfAbsent]]: one corpus pass → (_h = md5(line),
  *    _nd = distinct-doc count), range-partitioned and sorted by _h (a
  *    probe's line hashes prune row groups on the sort key). Stored
  *    rows are line-vocabulary-sized, not corpus-sized.
  *  - [[mergeBatch]]: fold a batch of NEW documents in without
  *    re-reading the archive. Batches must be doc-DISJOINT (each
  *    document's lines arrive in exactly one batch — the [[RecModel]]
  *    disjoint-user contract); then per-line distinct-doc counts are
  *    SUMS and the merge is one full outer join that adds the counts
  *    (the stored table read once), one [[Generation.mutate]].
  *  - [[serve]]: clean an incoming batch from the STORED table only —
  *    the archive appears nowhere in the plan. A line the index has
  *    never seen coalesces to zero stored docs and is KEPT (fresh
  *    content is not boilerplate). Built on corpus C and served ON C,
  *    the output is identical to `dedupCorpusLines(C)` by shared-tail
  *    construction ([[Curation.cleanFromLineFreq]]) — q293's oracle is
  *    q227's verbatim.
  */
object LineIndex {

  def tablePath(dir: String): String = Generation.path(dir, "lines")

  def defaultDir(corpusTag: String): String =
    "/tmp/graft_line_index/" + corpusTag.replaceAll("[^A-Za-z0-9._-]", "_")

  private def writeGen(freq: DataFrame, dir: String, gen: Long): Unit =
    freq.repartitionByRange(col("_h"))
      .sortWithinPartitions(col("_h"))
      .write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/lines")

  /** One corpus pass → (_h, _nd) as generation 0. */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    writeGen(Curation.lineFrame(corpus, idCol, textCol)
      .groupBy(col("_h")).agg(countDistinct(col(idCol)).as("_nd")),
      dir, 0L)
    Generation.commitBuild(dir)
  }

  /** [[build]] unless a fingerprint-matching table exists. */
  def buildIfAbsent(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, corpusTag: String): Unit =
    Generation.withFingerprint(dir, corpusTag) {
      build(corpus, idCol, textCol, dir)
    }

  def storedFreq(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.read.schema(StructType(Seq(
        StructField("_h", StringType), StructField("_nd", LongType))))
      .parquet(tablePath(dir))
  }

  /** Fold a doc-disjoint NEW batch into the stored table: distinct-doc
    * counts are sums under the disjointness contract, so untouched
    * lines pass through byte-identical and colliding lines add.
    * `epoch` ≥ 0 arms the replayed-delivery no-op guard. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String, epoch: Long = -1L,
      fenceTag: String = ""): Unit =
    Generation.mutate("LineIndex.mergeBatch", dir, epoch, fenceTag) {
        (st, _) =>
      val bc = st.checkpoint(Curation.lineFrame(batch, idCol, textCol)
        .groupBy(col("_h")).agg(countDistinct(col(idCol)).as("_bnd")), "bc")
      // one read of the stored table; the write's range sample reads
      // the checkpoint, not the stored table again
      val merged = st.checkpoint(storedFreq(spark, dir)
        .join(bc, Seq("_h"), "full_outer")
        .select(col("_h"), (coalesce(col("_nd"), lit(0L)) +
          coalesce(col("_bnd"), lit(0L))).as("_nd")), "merged")
      writeGen(merged, dir, _)
    }

  /** Right-to-be-forgotten removal: distinct-doc line counts are sums
    * under doc-disjointness, so forgetting documents is the exact
    * inverse of [[mergeBatch]] — subtract the removed docs' per-line
    * document counts, drop rows that reach zero. The batch must be a
    * subset of what was indexed (guarded); `epoch` arms the replay
    * no-op guard (subtraction is not idempotent without it). The
    * forget law (decremental ≡ rebuild-on-the-remaining) extended to
    * the line-frequency artifact. */
  def removeBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String, epoch: Long = -1L,
      fenceTag: String = ""): Unit =
    Generation.mutate("LineIndex.removeBatch", dir, epoch, fenceTag) {
        (st, _) =>
      val bc = st.checkpoint(Curation.lineFrame(batch, idCol, textCol)
        .groupBy(col("_h")).agg(countDistinct(col(idCol)).as("_bnd")), "bc")
      val (merged, m) = st.observed(storedFreq(spark, dir)
        .join(bc, Seq("_h"), "left")
        .select(col("_h"),
          (col("_nd") - coalesce(col("_bnd"), lit(0L))).as("_nd")),
        "merged")(count(when(col("_nd") < 0, 1)).as("bad"))
      val bad = m("bad").asInstanceOf[Long]
      require(bad == 0,
        s"LineIndex.removeBatch: $bad line counts would go negative — " +
          "the removal batch is not a subset of the indexed corpus")
      writeGen(merged.filter(col("_nd") > 0), dir, _)
    }

  /** Clean `batch` against the STORED line frequencies only — zero
    * archive scans in the plan; unseen lines are kept. */
  def serve(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String, maxDocs: Long): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    Curation.cleanFromLineFreq(
      Curation.lineFrame(batch, idCol, textCol),
      storedFreq(spark, dir), idCol, maxDocs)
  }
}
