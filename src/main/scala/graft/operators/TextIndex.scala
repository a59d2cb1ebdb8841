package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-retrieval index LIFECYCLE — build once, persist, serve many: the
  * [[AnnIndex]] move applied to the BM25 path. [[Curation.bm25TopK]]
  * composes the right serving plan but re-derives tf/df/dl from the raw
  * corpus inside every query; at scale, index construction is an offline
  * stage and serving must read STORED postings (the reference's
  * skip-if-archived probe, `cmds/archive.py:126-129`, is the same
  * precomputed-state-reused shape).
  *
  *  - [[build]] / [[buildIfAbsent]]: one pass over the corpus → a FULLY
  *    DENORMALIZED postings relation (term, doc_id, tf, dl, df) written
  *    range-partitioned + sorted by term (term predicates prune parquet
  *    row groups via min/max stats — the flat-file analogue of q107's
  *    hive-partitioned codes; a directory per term would be the wrong
  *    layout at vocabulary scale), plus a 1-row (L, N) stats table.
  *    Denormalizing dl and df into each posting costs 2 longs/row and
  *    removes BOTH serving-time joins — the impact-file trade every
  *    production engine takes.
  *  - [[mergeBatch]]: incremental maintenance under the
  *    versioned-generation protocol ([[Generation.mutate]]) — every
  *    merge reads generation K and writes K+1, then atomically advances
  *    the pointer; a replayed streaming epoch is a no-op — exactly-once
  *    index state over at-least-once foreachBatch delivery. Input gen ≠
  *    output gen also means no eager materialization before the write
  *    (Spark never overwrites its own input here).
  *  - [[serveBm25]]: scan the CURRENT generation's postings with the
  *    term predicate PUSHED to the scan, broadcast the 1-row stats,
  *    score with [[Curation.bm25Rank]] (the exact expression tree
  *    [[Curation.bm25TopK]] uses — shared code, so stored-path scores
  *    are bit-identical by construction), one combining exchange on
  *    doc, TakeOrderedAndProject. The corpus text is NEVER read: no
  *    split, no explode, no Generate in the plan (plan-pinned).
  *
  * Scale: postings are the corpus's (doc, term) distinct pairs — large,
  * but the only table serving touches, and only the probed terms' row
  * groups at that. Stopword-class terms are the documented skew: cap or
  * drop df > threshold terms at build (they carry no BM25 signal — idf
  * ≈ 0) exactly as [[Curation.invertedIndex]]'s contract states. At
  * this fixture scale a merge rewrites the whole postings relation; at
  * 100 TB the same plan applies per term-range partition and only
  * ranges containing batch terms get a new generation (the write is
  * already range-partitioned by term to make that split natural).
  */
object TextIndex {

  /** Atomically (re)write an applied-batches ledger file: temp file +
    * ATOMIC_MOVE, so a crash mid-write can never leave a torn ledger
    * (shared by [[AnnIndex.appendIfAbsent]] / [[BqIndex.appendIfAbsent]];
    * same idiom as [[Generation.advance]]). Note the lifecycle-level
    * crash window those callers document: the parquet append commits
    * BEFORE the ledger records the batch, so a crash between the two
    * re-appends the batch on replay — the ledger itself is never torn. */
  private[operators] def writeLedger(path: java.nio.file.Path,
      entries: Set[String]): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, entries.toSeq.sorted.mkString("\n"))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def postingsPath(dir: String): String = Generation.path(dir, "postings")
  def statsPath(dir: String): String = Generation.path(dir, "stats")

  /** Per-corpus location, one directory per corpus tag (same contract as
    * [[AnnIndex.defaultDir]] — concurrent scale factors never clobber). */
  def defaultDir(corpusTag: String): String =
    "/tmp/graft_text_index/" + corpusTag.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Generation `gen`'s stored postings and stats, under the schema
    * [[writeGen]] wrote. */
  private def readGen(spark: SparkSession, dir: String, gen: Long,
      idCol: String): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val postings = spark.read.schema(StructType(Seq(
        StructField("term", StringType), StructField(idCol, LongType),
        StructField("tf", LongType), StructField("dl", LongType),
        StructField("df", LongType))))
      .parquet(s"${Generation.genDir(dir, gen)}/postings")
    (postings, spark.read.schema(StructType(Seq(
        StructField("_L", LongType), StructField("_N", LongType))))
      .parquet(s"${Generation.genDir(dir, gen)}/stats"))
  }

  private def writeGen(postings: DataFrame, stats: DataFrame, dir: String,
      gen: Long, idCol: String): Unit = {
    postings
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col(idCol))
      .write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/postings")
    stats.coalesce(1).write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, gen)}/stats")
  }

  /** One corpus pass → postings + stats as generation 0. Whitespace
    * tokenization with empty tokens dropped, the convention every text
    * operator here shares ([[Curation.invertedIndex]], q83, q104). */
  def build(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = Stage("TextIndex.build") { st =>
    val words = split(col(textCol), " ")
    val dl = df.select(col(idCol),
      size(filter(words, w => length(w) > 0)).cast("long").as("dl"))
    val stats = dl.agg(sum(col("dl")).as("_L"), count(lit(1)).as("_N"))
    val hits = st.checkpoint(df.select(col(idCol), explode(words).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf")), "hits")
    val dfreq = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val postings = hits.join(dfreq, Seq("term"))
      .join(dl, Seq(idCol))
      .select(col("term"), col(idCol), col("tf"), col("dl"), col("df"))
    writeGen(postings, stats, dir, 0L, idCol)
    Generation.commitBuild(dir)
  }

  /** [[build]] unless a fingerprint-matching index already exists — the
    * build-once half: bench repeats and re-verification skip the corpus
    * pass entirely. */
  def buildIfAbsent(df: DataFrame, idCol: String, textCol: String,
      dir: String, corpusTag: String): Unit =
    Generation.withFingerprint(dir, corpusTag) {
      build(df, idCol, textCol, dir)
    }

  /** Incremental maintenance: fold a NEW document batch into the stored
    * index without re-reading the old corpus — the ops-side reason the
    * denormalization is (tf, dl, df) and not a join: tf and dl are
    * per-(doc, term) facts that never change once written, so the only
    * stored rows a batch touches are the df counters of terms THE BATCH
    * CONTAINS (one left join against the batch's term-df table; rows of
    * unseen terms pass through byte-identical), plus the 1-row stats.
    * Contract: batch doc ids are NEW (disjoint from the indexed corpus)
    * — an id-overwriting upsert is [[build]]'s job, not a merge's.
    *
    * `epoch` ≥ 0 enables replay protection: a merge whose epoch is ≤ its
    * writer's fence is a committed delivery replayed by the stream
    * runner and returns without touching state. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, dir: String, epoch: Long = -1L,
      fenceTag: String = ""): Unit =
    Generation.mutate("TextIndex.mergeBatch", dir, epoch, fenceTag) {
        (st, gen) =>
      val (stored, stats) = readGen(spark, dir, gen, idCol)

      val words = split(col(textCol), " ")
      val bdl = batch.select(col(idCol),
        size(filter(words, w => length(w) > 0)).cast("long").as("dl"))
      val bhits = st.checkpoint(
        batch.select(col(idCol), explode(words).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy(col(idCol), col("term"))
          .agg(count(lit(1)).as("tf")), "bhits")
      val bdf = bhits.groupBy(col("term")).agg(count(lit(1)).as("bdf"))

      // stored df per term, read once from the postings themselves (df is
      // constant within a term by construction — max is just a reader)
      val sdf = stored.groupBy(col("term")).agg(max(col("df")).as("sdf"))
      val mergedPostings = stored.drop("df")
        .join(broadcast(bdf), Seq("term"), "left")
        .join(sdf, Seq("term")) // vocab-sized: no broadcast hint, AQE picks
        .select(col("term"), col(idCol), col("tf"), col("dl"),
          (col("sdf") + coalesce(col("bdf"), lit(0L))).as("df"))
        .unionByName(bhits
          .join(bdl, Seq(idCol))
          .join(broadcast(bdf), Seq("term"))
          .join(sdf, Seq("term"), "left")
          .select(col("term"), col(idCol), col("tf"), col("dl"),
            (col("bdf") + coalesce(col("sdf"), lit(0L))).as("df")))
      val mergedStats = stats.crossJoin(broadcast(
          bdl.agg(sum(col("dl")).as("_bL"), count(lit(1)).as("_bN"))))
        .select((col("_L") + col("_bL")).as("_L"),
          (col("_N") + col("_bN")).as("_N"))
      writeGen(mergedPostings, mergedStats, dir, _, idCol)
    }

  /** Decremental maintenance — document DELETION from the stored index,
    * the [[mergeBatch]] inverse and the index half of the
    * right-to-be-forgotten contract (q254 audits the derived tables;
    * a forgotten user's documents must also leave the retrieval index,
    * or search keeps serving them). Cost is O(index + forget-set),
    * never a corpus re-read: the forgotten docs' rows are anti-joined
    * out; each term's df drops by the forgotten docs that contained it
    * (one term-keyed join against the forget rows' term counts — terms
    * the forget set never touched pass through byte-identical); stats
    * drop by the forgotten docs' length/count, read from their own
    * stored rows. A term whose every doc is forgotten vanishes with its
    * rows — no tombstones. Ids absent from the index are no-ops.
    * Writes the next generation + pointer flip ([[mergeBatch]]'s
    * versioned protocol, including epoch replay protection), so a
    * reader never sees a half-forgotten index. Certified decremental ≡
    * rebuild by q267's from-scratch oracle. */
  def removeDocs(spark: SparkSession, ids: DataFrame, idCol: String,
      dir: String, epoch: Long = -1L, fenceTag: String = ""): Unit =
    Generation.mutate("TextIndex.removeDocs", dir, epoch, fenceTag) {
        (st, gen) =>
      val (stored, stats) = readGen(spark, dir, gen, idCol)

      val rm = st.checkpoint(ids.select(col(idCol)).distinct(), "rm")
      val removed = st.checkpoint(
        stored.join(broadcast(rm), Seq(idCol), "left_semi"), "removed")
      val rdf = removed.groupBy(col("term")).agg(count(lit(1)).as("rdf"))
      val newPostings = stored.join(broadcast(rm), Seq(idCol), "left_anti")
        .join(rdf, Seq("term"), "left") // forget-vocab-sized; AQE picks
        .select(col("term"), col(idCol), col("tf"), col("dl"),
          (col("df") - coalesce(col("rdf"), lit(0L))).as("df"))
      val rstats = removed.groupBy(col(idCol)).agg(max(col("dl")).as("dl"))
        .agg(coalesce(sum(col("dl")), lit(0L)).as("_rL"),
          count(lit(1)).as("_rN"))
      val newStats = stats.crossJoin(broadcast(rstats))
        .select((col("_L") - col("_rL")).as("_L"),
          (col("_N") - col("_rN")).as("_N"))
      writeGen(newPostings, newStats, dir, _, idCol)
    }

  // ---- positional index (phrase serving) ----------------------------

  def posPostingsPath(dir: String): String =
    Generation.path(dir, "pospostings")

  /** One corpus pass → flat positional postings (term, id, pos) as
    * generation 0, range-partitioned and sorted by term so a phrase
    * query's `term IN (...)` predicate prunes to the phrase terms' row
    * groups. Positions are the 1-based ORIGINAL split offsets (empty
    * tokens shift neighbors), [[Curation.positionalIndex]]'s q123
    * convention — the stored index and the from-scratch oracle agree on
    * every offset by construction. */
  def buildPositional(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = {
    df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("_p", "term")))
      .filter(length(col("term")) > 0)
      .select(col("term"), col(idCol), (col("_p") + 1).cast("long").as("pos"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions(col("term"), col(idCol), col("pos"))
      .write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, 0L)}/pospostings")
    Generation.commitBuild(dir)
  }

  /** [[buildPositional]] unless a fingerprint-matching index exists. */
  def buildPositionalIfAbsent(df: DataFrame, idCol: String,
      textCol: String, dir: String, corpusTag: String): Unit =
    Generation.withFingerprint(dir, corpusTag) {
      buildPositional(df, idCol, textCol, dir)
    }

  /** Incremental positional maintenance — the strongest case of the
    * facts-never-change argument: a (doc, term, pos) row is immutable
    * and carries NO cross-document counters (unlike [[mergeBatch]]'s df
    * column), so folding a NEW document batch in is a pure partitioned
    * APPEND into the current generation — zero stored rows read, zero
    * rewritten, O(batch) total. Contract: batch doc ids are new;
    * `epoch` ≥ 0 gives the same replayed-delivery no-op protection as
    * [[mergeBatch]] (the pointer keeps its generation, only the fence
    * advances: [[Generation.append]]). */
  def mergePositionalBatch(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, dir: String,
      epoch: Long = -1L, fenceTag: String = ""): Unit =
    Generation.append("TextIndex.mergePositionalBatch", dir, epoch,
        fenceTag) { gen =>
      batch.select(col(idCol),
          posexplode(split(col(textCol), " ")).as(Seq("_p", "term")))
        .filter(length(col("term")) > 0)
        .select(col("term"), col(idCol),
          (col("_p") + 1).cast("long").as("pos"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"), col(idCol), col("pos"))
        .write.mode("append")
        .parquet(s"${Generation.genDir(dir, gen)}/pospostings")
    }

  /** Exact phrase search from the STORED positional index —
    * [[Curation.phraseSearch]]'s anchor-vote algebra with the corpus
    * explode replaced by a postings scan: `term IN (phrase)` is pushed
    * to the parquet reader, so the plan reads |phrase| posting lists
    * and NOTHING else — zero corpus scans, zero tokenization
    * (plan-gated in PlanQualitySpec). Identical results to the
    * from-scratch operator by construction: stored `pos` is the same
    * 1-based offset, and anchor/vote/count is the same algebra over
    * (id, pos, slot). */
  def servePhrase(spark: SparkSession, dir: String, idCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "servePhrase: empty phrase")
    import org.apache.spark.sql.types._
    val p = spark.read.schema(StructType(Seq(
        StructField("term", StringType), StructField(idCol, LongType),
        StructField("pos", LongType))))
      .parquet(posPostingsPath(dir))
    val slotsOf: Map[String, Seq[Int]] =
      phrase.zipWithIndex.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val slotArr = slotsOf.foldLeft(lit(null).cast("array<int>")) {
      case (acc, (t, is)) =>
        when(col("term") === t, array(is.map(lit(_)): _*)).otherwise(acc)
    }
    p.filter(col("term").isin(phrase.distinct: _*))
      .select(col(idCol), col("pos"), explode(slotArr).as("slot"))
      .groupBy(col(idCol),
        (col("pos") - 1 - col("slot")).cast("long").as("anchor"))
      .agg(countDistinct(col("slot")).as("ns"))
      .filter(col("ns") === phrase.length)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        (min(col("anchor")) + 1).as("first_pos"))
  }

  /** BM25 top-k from the STORED index: postings scan (term predicate
    * pushed — only the query terms' row groups are decoded), 1-row stats
    * broadcast, [[Curation.bm25Rank]]'s shared scoring tail. Explicit
    * schemas: the format is ours and versioned, so serving never pays
    * per-query footer inference (the [[AnnIndex.serve]] convention). */
  def serveBm25(spark: SparkSession, dir: String, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val postings = spark.read.schema(StructType(Seq(
        StructField("term", StringType), StructField(idCol, LongType),
        StructField("tf", LongType), StructField("dl", LongType),
        StructField("df", LongType))))
      .parquet(postingsPath(dir))
    val stats = spark.read.schema(StructType(Seq(
        StructField("_L", LongType), StructField("_N", LongType))))
      .parquet(statsPath(dir))
    Curation.bm25Rank(
      postings.filter(col("term").isin(terms: _*))
        .crossJoin(broadcast(stats)),
      idCol, k)
  }
}
