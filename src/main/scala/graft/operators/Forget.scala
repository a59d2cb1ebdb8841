package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** [NS] Cross-artifact right-to-be-forgotten ORCHESTRATOR — the one
  * button a real RTBF request needs. Individual forget certificates
  * exist per stored lifecycle (tables q254, text q267, ANN q268, BQ
  * q330, trigram LM q347, line index q348, dedup q349, recommender
  * q351, importance q352, moments q361), but a purge request is "these ids,
  * EVERYWHERE": before this object a user had to know every entry
  * point and call each in the right shape ([[LmIndex]] and
  * [[LineIndex]] need the forgotten docs' TEXT for count subtraction;
  * [[TextIndex]]/[[DedupIndex]]/[[AnnIndex]]/[[BqIndex]] need only
  * ids; [[Importance]] needs the docs' bucket counts plus the target
  * predicate). [[purgeDocs]] fans one forgotten-docs frame out to
  * every registered artifact; [[certificate]] reads back one summary
  * row per artifact (row count, count mass, order-independent 60-bit
  * key xor — the q66/q188 certification convention) so an auditor
  * gets ONE table proving what each store now holds.
  *
  * Epoch semantics: the count-subtraction artifacts (trigram, line,
  * importance, moments) and the per-doc generation artifacts (text,
  * dedup) ride their own pointer's replay guard — a replayed `epoch`
  * is a no-op everywhere at once. The plain anti-join artifacts (ANN,
  * BQ) are idempotent by construction and need no guard. A crash
  * mid-fan-out is safe to re-run for the same reason: completed
  * artifacts replay as no-ops (guarded) or as identical rewrites
  * (idempotent).
  *
  * Fence NAMESPACING (round-10 fix): purge epochs ride a TAGGED fence
  * (`fenceTag`, default "purge") on each artifact's pointer, DISJOINT
  * from the default fence the artifact's ingest stream advances through
  * its merge. Spark epochIds are per-checkpoint counters,
  * so without the namespace a deletion stream restarting at epoch 0
  * against an artifact whose ingest stream had reached epoch 5 would
  * silently no-op every purge (an RTBF request dropped with no
  * error), and a high-epoch purge would silently drop later ingest
  * merges. With tags, each writer replays against its own counter;
  * run multiple deletion streams against one artifact only with
  * distinct `fenceTag`s.
  *
  * Streaming purge intake: RTBF requests arrive as a stream in
  * production (the deletion queue); each micro-batch of forgotten-doc
  * rows fans out through [[purgeDocs]] with Spark's epoch id as
  * `epoch`: `.foreachBatch(Hookup(spark)((batch, epochId) =>
  * purgeDocs(spark, batch, idCol, targets, epochId)))`. An
  * at-least-once redelivery after a restart is then a no-op on every
  * guarded artifact and an identical rewrite on the idempotent ones;
  * [[graft.streaming.Hookup]] runs each epoch on `spark`, so a
  * restarted stream reuses its compiled classes.
  *
  * [[TokenizerIndex]] is deliberately NOT a target: BPE merge rules
  * are an argmax chain, not a sum — no local inverse exists, so its
  * documented forget policy is a rebuild on the remaining corpus (see
  * the rebuild-only note on [[TokenizerIndex]]).
  *
  * Scale: the fan-out's cost is the sum of the individual forgets —
  * each is artifact-sized (one broadcast anti-join or one count
  * subtraction), never corpus-sized; nothing here adds a corpus read.
  */
object Forget {

  /** A stored artifact registered for the purge fan-out. */
  sealed trait Target { def name: String }
  /** Inverted text index at `dir`, postings keyed by `idCol`. */
  final case class TextTarget(dir: String, idCol: String)
      extends Target { val name = "text_index" }
  /** Dedup hash/band archive index at `dir` (v2 per-doc layout). */
  final case class DedupTarget(dir: String, k: Int = 8, bands: Int = 4)
      extends Target { val name = "dedup_index" }
  /** Stored (w1,w2,w3,c3) trigram LM at `dir`; needs doc text. */
  final case class TrigramTarget(dir: String, textCol: String)
      extends Target { val name = "trigram_lm" }
  /** Stored line-frequency table at `dir`; needs doc text. */
  final case class LineTarget(dir: String, textCol: String)
      extends Target { val name = "line_index" }
  /** Stored importance count table at `dir`; needs the docs' bucket
    * counts, so carries the full build geometry + target predicate. */
  final case class ImportanceTarget(dir: String, textCol: String,
      buckets: Int, targetPred: Column, carryCols: Seq[String] = Nil)
      extends Target { val name = "importance" }
  /** IVF-PQ code table at `dir`, keyed by `idCol` (vector ids). */
  final case class AnnTarget(dir: String, idCol: String)
      extends Target { val name = "ann_index" }
  /** Binary-quantization code table at `dir` (vec_id keyed). */
  final case class BqTarget(dir: String)
      extends Target { val name = "bq_index" }
  /** Aggregate materialized view at `dir` ([[AggView]]): a purge is a
    * CDC batch of ALL-RETRACTION rows — the forgotten frame must be
    * the entities' ORIGINAL fact rows (the count-artifact subset
    * contract), and Σ-delta state absorbs them exactly, groups
    * reaching zero leaving the state. */
  final case class AggViewTarget(dir: String, keyCols: Seq[String],
      valueScaled: Column) extends Target { val name = "agg_view" }
  /** Stored moment state at `dir` ([[MomentsState]]): the drift
    * monitor's power sums subtract the forgotten entities' fact rows
    * exactly (same subset contract as the other count artifacts —
    * the forgotten frame must carry `keyCol` and `valCol`). Without
    * this registration a purged user's STATISTICS survive an
    * orchestrated RTBF purge unless the caller knows to call
    * [[MomentsState.removeBatch]] separately — exactly the
    * know-every-entry-point failure this object exists to kill. */
  final case class MomentsTarget(dir: String, keyCol: String,
      valCol: String) extends Target { val name = "moments" }
  /** Stored ANALYZE statistics at `dir` ([[StatsIndex]]): the planner's
    * CMS cells subtract the forgotten entities' fact rows exactly (the
    * same subset contract — the forgotten frame must carry `keyCol`'s
    * ORIGINAL rows). Without this registration a purged user's traffic
    * keeps shaping frequency and join-size ESTIMATES after every other
    * artifact forgot them — statistics are also derived data. */
  final case class StatsTarget(dir: String, keyCol: String, depth: Int,
      width: Int) extends Target { val name = "stats_index" }
  /** Stored co-occurrence recommender at `dir` ([[RecModel]]): the
    * forgotten USERS' trained interactions subtract their pair counts
    * exactly (the cap is user-local, so counts are additive over
    * disjoint user sets) and their anchor rows anti-join out — without
    * this the model keeps recommending FROM purged users' tastes. The
    * forgotten frame must carry `userCol` and `itemCol` (the users'
    * ORIGINAL trained interaction rows — the subset contract). */
  final case class RecTarget(dir: String, userCol: String,
      itemCol: String, capM: Int) extends Target { val name = "rec_model" }

  /** Purge the `forgotten` docs from every target. `forgotten` must be
    * the docs' ORIGINAL rows (id + text + carry columns) — the count
    * artifacts subtract derived counts, so they need what was trained,
    * not just ids ([[LmIndex.removeTrigramBatch]]'s subset contract).
    * Vector targets (ANN/BQ) interpret the SAME id set as vector ids —
    * the fixture convention that a purged entity's document and
    * embedding share one id; ids absent from a store are no-ops. */
  def purgeDocs(spark: SparkSession, forgotten: DataFrame,
      idCol: String, targets: Seq[Target], epoch: Long = -1L,
      fenceTag: String = "purge"): Unit = Stage("Forget.purgeDocs") { st =>
    // one eager materialization: every artifact must subtract the SAME
    // rows even if the input plan is nondeterministic under retry
    val f = st.checkpoint(forgotten, "f")
    val ids = st.checkpoint(f.select(col(idCol)).distinct(), "ids")
    targets.foreach {
      case TextTarget(dir, tid) =>
        TextIndex.removeDocs(spark, ids.select(col(idCol).as(tid)),
          tid, dir, epoch, fenceTag)
      case DedupTarget(dir, k, b) =>
        DedupIndex.removeDocs(spark, dir, ids, idCol, k, b, epoch,
          fenceTag)
      case TrigramTarget(dir, tc) =>
        LmIndex.removeTrigramBatch(spark, f, idCol, tc, dir, epoch,
          fenceTag)
      case LineTarget(dir, tc) =>
        LineIndex.removeBatch(spark, f, idCol, tc, dir, epoch,
          fenceTag)
      case ImportanceTarget(dir, tc, b, pred, carry) =>
        Importance.removeBatch(spark,
          Importance.docBuckets(f, idCol, tc, b, carry), pred, dir,
          epoch, fenceTag)
      case AnnTarget(dir, vid) =>
        AnnIndex.removeVectors(spark, dir,
          ids.select(col(idCol).as(vid)), vid)
      case BqTarget(dir) =>
        BqIndex.removeIds(spark, dir, ids)
      case AggViewTarget(dir, keys, v) =>
        AggView.mergeCdc(spark, f.withColumn("_op", lit("D")), keys, v,
          "_op", dir, epoch, fenceTag)
      case MomentsTarget(dir, kc, vc) =>
        MomentsState.removeBatch(spark, f, kc, vc, dir, epoch,
          fenceTag)
      case StatsTarget(dir, kc, depth, width) =>
        StatsIndex.removeBatch(spark, f, kc, dir, depth, width, epoch,
          fenceTag)
      case RecTarget(dir, uc, ic, capM) =>
        RecModel.removeBatch(spark, f, uc, ic, capM, 1L, dir, epoch,
          fenceTag)
    }
  }

  /** The house 60-bit order-independent digest (q66/q188/q333). */
  private def xor60(sqlExpr: String): String =
    s"bit_xor(cast(conv(substring(md5($sqlExpr), 1, 15), 16, 10) AS BIGINT))"

  private def row(spark: SparkSession, name: String, frame: DataFrame,
      massCol: Column, keyExpr: String,
      keyFrame: DataFrame => DataFrame = identity): DataFrame = {
    val agg = frame.agg(count(lit(1)).as("n_rows"),
      coalesce(massCol, lit(0L)).cast("long").as("mass"))
    val kx = keyFrame(frame).agg(
      coalesce(expr(xor60(keyExpr)), lit(0L)).as("key_xor"))
    agg.crossJoin(broadcast(kx))
      .select(lit(name).as("artifact"), col("n_rows"), col("mass"),
        col("key_xor"))
  }

  /** One row per target from the CURRENT stored state: (artifact,
    * n_rows, mass, key_xor). Per artifact — text: postings rows /
    * Σtf / xor over surviving doc ids; dedup: hash rows / band rows /
    * xor over surviving doc ids; trigram: rows / Σc3 / xor over the
    * trigram keys; line: rows / Σnd / xor over the line hashes;
    * importance: bucket rows / Σcr / xor over full (bucket,cr,ct)
    * rows; ann: code rows / distinct vectors / xor over vector ids;
    * bq: code rows / same / xor over vector ids. Everything is stored
    * state only — no corpus read; the q350 oracle recomputes the same
    * digests from the remaining corpus from scratch, so a green row
    * proves each store equals its remaining-only rebuild. */
  def certificate(spark: SparkSession,
      targets: Seq[Target]): DataFrame =
    targets.map {
      case TextTarget(dir, tid) =>
        val p = spark.read.parquet(TextIndex.postingsPath(dir))
        row(spark, "text_index", p, sum(col("tf")),
          s"cast($tid as string)",
          f => f.select(col(tid)).distinct())
      case DedupTarget(dir, _, _) =>
        val h = spark.read.parquet(DedupIndex.hashesPath(dir))
        val b = spark.read.parquet(DedupIndex.bandsPath(dir))
        h.agg(count(lit(1)).as("n_rows"))
          .crossJoin(broadcast(
            b.agg(count(lit(1)).cast("long").as("mass"))))
          .crossJoin(broadcast(h.select(col("_id")).distinct().agg(
            coalesce(expr(xor60("cast(_id as string)")), lit(0L))
              .as("key_xor"))))
          .select(lit("dedup_index").as("artifact"), col("n_rows"),
            col("mass"), col("key_xor"))
      case TrigramTarget(dir, _) =>
        row(spark, "trigram_lm",
          spark.read.parquet(LmIndex.trigramPath(dir)),
          sum(col("c3")), "concat_ws(' ', w1, w2, w3)")
      case LineTarget(dir, _) =>
        row(spark, "line_index", LineIndex.storedFreq(spark, dir),
          sum(col("_nd")), "_h")
      case ImportanceTarget(dir, _, _, _, _) =>
        row(spark, "importance", Importance.storedCounts(spark, dir),
          sum(col("cr")), "concat_ws(':', bucket, cr, ct)")
      case AnnTarget(dir, vid) =>
        val c = spark.read.parquet(AnnIndex.codesPath(dir))
        row(spark, "ann_index", c, countDistinct(col(vid)),
          s"cast($vid as string)",
          f => f.select(col(vid)).distinct())
      case BqTarget(dir) =>
        val c = BqIndex.codes(spark, dir)
        row(spark, "bq_index", c, count(lit(1)),
          "cast(vec_id as string)")
      case AggViewTarget(dir, keys, _) =>
        val s = AggView.serve(spark, dir)
        row(spark, "agg_view", s, sum(col("cnt")),
          "concat_ws(':', " + (keys ++ Seq("cnt", "vsum"))
            .map(k => s"cast($k as string)").mkString(", ") + ")")
      case MomentsTarget(dir, _, _) =>
        // group rows / Σn (the folded fact-row count) / xor over the
        // full (key, n, S1..S4) row — sums included, so a corrupted
        // subtraction can't hide behind a surviving key set
        row(spark, "moments", MomentsState.storedSums(spark, dir),
          sum(col("n")),
          "concat_ws(':', _k, n, s1, s2, s3, s4)")
      case StatsTarget(dir, _, _, _) =>
        // cell rows / Σcnt (the folded fact-row mass, depth× counted) /
        // xor over the full (h, cell, cnt) row — counts included, so a
        // corrupted decrement can't hide behind a surviving cell set
        row(spark, "stats_index", StatsIndex.storedCells(spark, dir),
          sum(col("cnt")), "concat_ws(':', h, cell, cnt)")
      case RecTarget(dir, uc, _, _) =>
        // sims rows / Σn_users / xor over the full sims rows UNION the
        // anchor rows — both stored relations certified in one digest,
        // so neither a bad count subtraction nor a surviving anchor
        // can hide
        val sims = spark.read.parquet(RecModel.simsPath(dir))
        val anchors = spark.read.parquet(RecModel.anchorsPath(dir))
        val keyed = sims
          .select(expr("concat_ws(':', 's', anchor, nb, n_users)")
            .as("_key"))
          .unionByName(anchors.select(
            expr(s"concat_ws(':', 'a', $uc, anchor)").as("_key")))
        sims.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("n_users")), lit(0L)).cast("long")
              .as("mass"))
          .crossJoin(broadcast(keyed.agg(
            coalesce(expr(xor60("_key")), lit(0L)).as("key_xor"))))
          .select(lit("rec_model").as("artifact"), col("n_rows"),
            col("mass"), col("key_xor"))
    }.reduce(_.unionByName(_))
}
