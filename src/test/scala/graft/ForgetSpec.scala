package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-artifact RTBF orchestrator (q350/q363/q368): one purgeDocs
  * call must equal the individual per-artifact removers row for row
  * (certificate comparison over NINE artifact classes incl. ANN, the
  * moments state, and the recommender), a replayed epoch must leave
  * every store untouched, and purge epochs must ride their OWN tagged
  * fence so a deletion stream never collides with an ingest stream's
  * epoch counter on the same artifact. */
class ForgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("purgeDocs composite == the individual removers (certificates " +
      "identical across 10 artifact classes); replayed epoch is a no-op") {
    import spark.implicits._
    import graft.operators._

    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", 11L),
      (2L, "beta gamma delta epsilon zeta eta", "en", 23L),
      (3L, "one two three four five six", "de", 5L),
      (4L, "alpha beta gamma delta epsilon", "en", 17L), // exact twin of 1
      (5L, "totally different words here now too", "de", 2L)
    ).toDF("doc_id", "text", "lang", "score")
    // binaryQuantize's contract is exactly-64-dim vectors
    val emb = (1L to 5L).map(i => (i, Array.tabulate(64)(j =>
      (((i * 31 + j * 17) % 13) - 6).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    // hand-made IVF-PQ code rows: (vec_id, sub, code, centroid) — the
    // removal path only touches the codes table, so a fake exercises it
    val annCodes = Seq(
      (1L, 0, 3, 0), (1L, 1, 2, 0), (2L, 0, 1, 1), (2L, 1, 0, 1),
      (3L, 0, 2, 0), (3L, 1, 1, 0), (4L, 0, 3, 1), (4L, 1, 2, 1),
      (5L, 0, 0, 0), (5L, 1, 3, 0)
    ).toDF("vec_id", "sub", "code", "centroid")
    val gone = docs.filter($"doc_id".isin(2L, 4L))
    val ids = gone.select($"doc_id")

    def buildAll(): (String, String, String, String, String, String,
        String, String, String, String) = {
      val (t, dd, tri, ln, imp, bq, ann, mom, rec, sts) = (tmp("f_text"),
        tmp("f_dedup"), tmp("f_tri"), tmp("f_line"), tmp("f_imp"),
        tmp("f_bq"), tmp("f_ann"), tmp("f_mom"), tmp("f_rec"),
        tmp("f_stats"))
      TextIndex.build(docs, "doc_id", "text", t)
      DedupIndex.build(docs, "doc_id", "text", 3, 8, 4, dd)
      LmIndex.buildTrigram(docs, "doc_id", "text", tri)
      LineIndex.build(docs, "doc_id", "text", ln)
      Importance.buildModel(
        Importance.docBuckets(docs, "doc_id", "text", 8, Seq("lang")),
        col("lang") === "en", 8, imp)
      BqIndex.build(spark, bq, emb, "vec_id", "embedding")
      annCodes.write.mode("overwrite").partitionBy("centroid")
        .parquet(AnnIndex.codesPath(ann))
      MomentsState.build(docs, "lang", "score", mom)
      // rec fixture: each doc id is a "user" with its score as the one
      // trained item — degenerate pairs (none), but the anchor purge
      // and the subset contract are fully exercised; q368 covers the
      // multi-interaction shape on real events
      RecModel.build(docs, "doc_id", "score", 8, 1L, rec)
      StatsIndex.build(docs, "lang", sts, 4, 16)
      (t, dd, tri, ln, imp, bq, ann, mom, rec, sts)
    }
    def targetsOf(t: String, dd: String, tri: String, ln: String,
        imp: String, bq: String, ann: String,
        mom: String, rec: String, sts: String): Seq[Forget.Target] = Seq(
      Forget.TextTarget(t, "doc_id"),
      Forget.DedupTarget(dd),
      Forget.TrigramTarget(tri, "text"),
      Forget.LineTarget(ln, "text"),
      Forget.ImportanceTarget(imp, "text", 8, col("lang") === "en",
        Seq("lang")),
      Forget.BqTarget(bq),
      Forget.AnnTarget(ann, "vec_id"),
      Forget.MomentsTarget(mom, "lang", "score"),
      Forget.RecTarget(rec, "doc_id", "score", 8),
      Forget.StatsTarget(sts, "lang", 4, 16))

    // A: one orchestrated purge
    val (ta, dda, tria, lna, impa, bqa, anna, moma, reca, stsa) =
      buildAll()
    val targetsA = targetsOf(ta, dda, tria, lna, impa, bqa, anna,
      moma, reca, stsa)
    Forget.purgeDocs(spark, gone, "doc_id", targetsA, epoch = 0L)

    // B: the ten individual entry points, called by hand
    val (tb, ddb, trib, lnb, impb, bqb, annb, momb, recb, stsb) =
      buildAll()
    TextIndex.removeDocs(spark, ids, "doc_id", tb, epoch = 0L)
    DedupIndex.removeDocs(spark, ddb, ids, "doc_id", epoch = 0L)
    LmIndex.removeTrigramBatch(spark, gone, "doc_id", "text", trib,
      epoch = 0L)
    LineIndex.removeBatch(spark, gone, "doc_id", "text", lnb,
      epoch = 0L)
    Importance.removeBatch(spark,
      Importance.docBuckets(gone, "doc_id", "text", 8, Seq("lang")),
      col("lang") === "en", impb, epoch = 0L)
    BqIndex.removeIds(spark, bqb, ids)
    AnnIndex.removeVectors(spark, annb,
      ids.select($"doc_id".as("vec_id")), "vec_id")
    MomentsState.removeBatch(spark, gone, "lang", "score", momb,
      epoch = 0L)
    RecModel.removeBatch(spark, gone, "doc_id", "score", 8, 1L, recb,
      epoch = 0L)
    StatsIndex.removeBatch(spark, gone, "lang", stsb, 4, 16,
      epoch = 0L)

    def cert(ts: Seq[Forget.Target]) =
      Forget.certificate(spark, ts).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
    val a = cert(targetsA)
    val b = cert(targetsOf(tb, ddb, trib, lnb, impb, bqb, annb, momb,
      recb, stsb))
    assert(a === b, "composite purge must equal the individual removers")
    // the moments artifact: survivors are docs {1,3,5} -> en keeps only
    // doc 1 (n=1), de keeps docs 3,5 (n=2) -> 2 group rows, mass 3
    val momRow = a.find(_._1 == "moments").get
    assert(momRow._2 === 2L && momRow._3 === 3L,
      "purged cohort's statistics must leave the moments state")
    // the ANALYZE artifact: 3 surviving rows (en:1, de:2) × 4 depths
    val stsRow = a.find(_._1 == "stats_index").get
    assert(stsRow._3 === 12L,
      "purged rows must leave the planner's CMS cells")

    // sanity on the certified content: every per-doc artifact's id xor
    // is the xor over the SURVIVORS {1, 3, 5}
    val xor135 = spark.sql("SELECT bit_xor(cast(conv(substring(" +
      "md5(cast(id as string)), 1, 15), 16, 10) AS BIGINT)) FROM " +
      "VALUES (1), (3), (5) AS t(id)").collect()(0).getLong(0)
    val byName = a.map(r => r._1 -> r).toMap
    for (n <- Seq("text_index", "dedup_index", "bq_index", "ann_index"))
      assert(byName(n)._4 === xor135, s"$n survivor-id xor")
    // the shared-text twin: doc 1 survives although its exact twin 4
    // was purged — dedup keeps exactly 3 hash rows (1, 3, 5)
    assert(byName("dedup_index")._2 === 3L)

    // replay the SAME epoch: guarded artifacts no-op, idempotent ones
    // rewrite identically — the certificate must not move
    Forget.purgeDocs(spark, gone, "doc_id", targetsA, epoch = 0L)
    assert(cert(targetsA) === a, "replayed purge must not move state")
  }

  test("fence namespacing: purge epochs ride their own tagged fence — " +
      "a deletion stream restarting at epoch 0 still purges an " +
      "artifact whose ingest stream reached epoch 5, its replay " +
      "no-ops on its own tag, and a high-epoch purge does not block " +
      "later ingest merges") {
    import spark.implicits._
    import graft.operators._

    val base = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val dir = tmp("fence_text")
    TextIndex.build(base, "doc_id", "text", dir)
    // the documented production shape: an ingest stream advanced the
    // DEFAULT fence on this artifact to 5
    TextIndex.mergeBatch(spark,
      Seq((3L, "eta theta iota")).toDF("doc_id", "text"),
      "doc_id", "text", dir, epoch = 5L)
    def docsIn: Set[Long] = spark.read
      .parquet(TextIndex.postingsPath(dir))
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(docsIn === Set(1L, 2L, 3L))

    // deletion stream's checkpoint starts at epoch 0: under the old
    // shared scalar fence this purge silently no-oped (0 <= 5) — the
    // RTBF request was DROPPED with no error
    Forget.purgeDocs(spark, base.filter($"doc_id" === 1L), "doc_id",
      Seq(Forget.TextTarget(dir, "doc_id")), epoch = 100L)
    assert(docsIn === Set(2L, 3L),
      "purge must land despite the ingest fence being ahead")

    // the purge's HIGH epoch (100) lives on the purge tag only — a
    // later ingest merge at epoch 6 must still apply (the old scalar
    // would have silently dropped it: 6 <= 100)
    TextIndex.mergeBatch(spark,
      Seq((4L, "kappa lambda mu")).toDF("doc_id", "text"),
      "doc_id", "text", dir, epoch = 6L)
    assert(docsIn === Set(2L, 3L, 4L),
      "ingest after a high-epoch purge must still apply")

    // replay of the purge epoch on its own tag: no-op
    Forget.purgeDocs(spark, base.filter($"doc_id" === 2L), "doc_id",
      Seq(Forget.TextTarget(dir, "doc_id")), epoch = 100L)
    assert(docsIn === Set(2L, 3L, 4L),
      "replayed purge epoch must no-op on the purge tag")

    // a SECOND deletion stream with its own tag replays independently
    Forget.purgeDocs(spark, base.filter($"doc_id" === 2L), "doc_id",
      Seq(Forget.TextTarget(dir, "doc_id")), epoch = 0L,
      fenceTag = "purge:legal")
    assert(docsIn === Set(3L, 4L),
      "a distinct stream tag must carry its own epoch counter")
  }

  test("foreachBatchPurge: streamed deletion requests purge exactly " +
      "once across a full restart — final state equals the one-shot " +
      "purge of all requests") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    import graft.operators._

    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en"),
      (2L, "beta gamma delta epsilon zeta eta", "en"),
      (3L, "one two three four five six", "de"),
      (4L, "seven eight nine ten eleven twelve", "en"),
      (5L, "totally different words here now too", "de")
    ).toDF("doc_id", "text", "lang")

    def buildThree(): (String, String, String) = {
      val (t, dd, tri) = (tmp("fs_text"), tmp("fs_dedup"), tmp("fs_tri"))
      TextIndex.build(docs, "doc_id", "text", t)
      DedupIndex.build(docs, "doc_id", "text", 3, 8, 4, dd)
      LmIndex.buildTrigram(docs, "doc_id", "text", tri)
      (t, dd, tri)
    }
    def targetsOf(t: String, dd: String, tri: String) = Seq(
      Forget.TextTarget(t, "doc_id"),
      Forget.DedupTarget(dd),
      Forget.TrigramTarget(tri, "text"))

    val (ta, dda, tria) = buildThree() // streamed
    val (tb, ddb, trib) = buildThree() // one-shot twin
    val targetsA = targetsOf(ta, dda, tria)

    val srcDir = tmp("fs_src")
    val ckpt = tmp("fs_ckpt")
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING")
        .json(srcDir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((b: DataFrame, e: Long) =>
          Forget.purgeDocs(spark, b, "doc_id", targetsA, e))
        .start()
      q.awaitTermination()
    }
    // epoch 1: purge doc 2; FULL restart; epoch 2: purge doc 4
    docs.filter($"doc_id" === 2L).coalesce(1)
      .write.mode("append").json(srcDir)
    runOnce()
    docs.filter($"doc_id" === 4L).coalesce(1)
      .write.mode("append").json(srcDir)
    runOnce()

    Forget.purgeDocs(spark, docs.filter($"doc_id".isin(2L, 4L)),
      "doc_id", targetsOf(tb, ddb, trib), epoch = 0L)

    def cert(ts: Seq[Forget.Target]) =
      Forget.certificate(spark, ts).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
    assert(cert(targetsA) === cert(targetsOf(tb, ddb, trib)),
      "streamed purge must equal the one-shot purge of all requests")
    // a rerun with no new files replays nothing — state must not move
    val before = cert(targetsA)
    runOnce()
    assert(cert(targetsA) === before,
      "an empty replay must not move state")
  }
}
