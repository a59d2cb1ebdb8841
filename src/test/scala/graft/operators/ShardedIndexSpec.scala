package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The HRW-sharded DedupIndex layout (round-13 stretch: placement
  * applied to a stored artifact):
  *  - gateSharded admits exactly what the flat gate admits — partition
  *    pruning by probe-key shard is lossless for the semi-join probes;
  *  - a single-doc probe's plan carries `shard IN (…)` partition
  *    filters on BOTH stored scans, with ≤ bands + 1 shards named;
  *  - reshardSharded certifies zero illegal moves on the real stored
  *    rows and the gate survives the reshard unchanged.
  */
class ShardedIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(t: String) =
    java.nio.file.Files.createTempDirectory(t).toString

  private val archive = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "completely unrelated words about spark catalyst planning"),
    (3L, "a corpus of documents needs deduplication before training"),
    (4L, "the quick brown fox jumps over the lazy dog again and again"),
    (5L, "yet another entirely different document about engine design")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    (10L, "the quick brown fox jumps over the lazy dog again and again"),
    (11L, "fresh material nothing in the archive has ever mentioned yet"),
    (12L, "a corpus of documents needs deduplication before training too"),
    (13L, "fresh material nothing in the archive has ever mentioned yet")
  ).toDF("doc_id", "text")

  test("gateSharded admits exactly what the flat gate admits") {
    val flat = tmp("dedup_flat"); val sh = tmp("dedup_sh")
    DedupIndex.build(archive, "doc_id", "text", 3, 8, 4, flat)
    DedupIndex.buildSharded(archive, "doc_id", "text", 3, 8, 4, sh, 16)
    val a = DedupIndex.gate(spark, flat, batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val b = DedupIndex.gateSharded(spark, sh, batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(b === a, "physical sharding must change nothing semantic")
    assert(a.contains(11L) && !a.contains(10L),
      "fixture sanity: exact dup drops, fresh doc admits")
  }

  test("single-doc probe: both stored scans are partition-pruned to " +
      "the probe's own shards (<= bands + 1 of 16)") {
    val sh = tmp("dedup_sh_prune")
    DedupIndex.buildSharded(archive, "doc_id", "text", 3, 8, 4, sh, 16)
    val one = Seq((99L,
      "a single probe document with its own words entirely")).toDF(
      "doc_id", "text")
    val (hashes, bandKeys) = DedupIndex.prunedStored(spark, sh, one,
      "doc_id", "text", 3, 8, 4)
    for ((df, name) <- Seq((hashes, "hashes"), (bandKeys, "bands"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"),
        s"$name scan must be partition-pruned:\n$plan")
      // a one-shard probe collapses isin to equality; both shapes are
      // literal partition predicates
      assert("\\(?shard#\\d+L?\\)? (= \\d+|IN \\()".r
        .findFirstIn(plan).isDefined,
        s"$name scan must prune by the probe's shard literals:\n$plan")
    }
    // the probe's own key set bounds the shards named: 4 band keys +
    // 1 hash = at most 5 of the 16 partitions are readable, and the
    // pruned reads see strictly less data than the full tables
    val bandShards = Shard.rendezvousAssign(
        Dedup.bandTable(one, "doc_id", "text", 3, 8, 4)
          .withColumn("_sk", concat_ws(":", col("band"), col("v0"),
            col("v1"))),
        "_sk", 16).select("shard").distinct().count()
    assert(bandShards <= 4L)
    val fullBands = spark.read.parquet(DedupIndex.bandsShPath(sh))
    assert(bandKeys.count() < fullBands.count(),
      "pruning must actually drop other shards' rows on this fixture")
    // and the end-to-end sharded gate still admits the novel doc
    assert(DedupIndex.gateSharded(spark, sh, one, "doc_id", "text")
      .count() === 1L)
  }

  test("appendSharded: an admitted batch's keys fold into the shard " +
      "partitions so its twins drop next batch (the flat append law)") {
    val sh = tmp("dedup_sh_append")
    DedupIndex.buildSharded(archive, "doc_id", "text", 3, 8, 4, sh, 8)
    val admitted = batch.filter($"doc_id" === 11L)
    DedupIndex.appendSharded(admitted, "doc_id", "text", 3, 8, 4, sh)
    val next = Seq(
      (20L, "fresh material nothing in the archive has ever mentioned yet"),
      (21L, "a third topic entirely with its own distinct vocabulary here")
    ).toDF("doc_id", "text")
    val got = DedupIndex.gateSharded(spark, sh, next, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(!got.contains(20L),
      "exact twin of the appended doc must drop via the sharded probe")
    assert(got.contains(21L), "genuinely new doc must survive")
    // appended rows landed in correctly-named partitions: re-reading
    // with the doc's own shard filter finds its hash row
    val (hashes, _) = DedupIndex.prunedStored(spark, sh, admitted,
      "doc_id", "text", 3, 8, 4)
    assert(hashes.filter($"_id" === 11L).count() === 1L)
  }

  test("removeDocsSharded: a purged doc's twin is ADMITTED afterwards; " +
      "a survivor's shared text keeps gating; replays no-op") {
    val sh = tmp("dedup_sh_forget")
    // docs 1 and 4 share text; purge 1 only — 4 must keep gating twins
    DedupIndex.buildSharded(archive, "doc_id", "text", 3, 8, 4, sh, 8)
    val twins = Seq(
      (30L, "the quick brown fox jumps over the lazy dog again and again"),
      (31L, "completely unrelated words about spark catalyst planning")
    ).toDF("doc_id", "text")
    val pre = DedupIndex.gateSharded(spark, sh, twins, "doc_id", "text")
      .count()
    assert(pre === 0L, "both twins blocked before the purge")
    DedupIndex.removeDocsSharded(spark, sh,
      Seq(1L, 2L).toDF("doc_id"), "doc_id", epoch = 1L, fenceTag = "rtbf")
    val post = DedupIndex.gateSharded(spark, sh, twins, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(!post.contains(30L),
      "survivor doc 4 shares the text — its twin must keep dropping")
    assert(post.contains(31L),
      "doc 2's text is fully purged — its twin must be ADMITTED")
    // replayed epoch: no-op (generation unchanged)
    val gen = Generation.current(sh)
    DedupIndex.removeDocsSharded(spark, sh,
      Seq(4L).toDF("doc_id"), "doc_id", epoch = 1L, fenceTag = "rtbf")
    assert(Generation.current(sh) === gen)
  }

  test("reshardSharded keeps the replay fence: a re-delivered removal " +
      "stays a no-op after the reshard") {
    val sh = tmp("dedup_sh_reshard_fence")
    DedupIndex.buildSharded(archive, "doc_id", "text", 3, 8, 4, sh, 8)
    val purge = Seq(2L).toDF("doc_id")
    DedupIndex.removeDocsSharded(spark, sh, purge, "doc_id", epoch = 5L)
    DedupIndex.reshardSharded(spark, sh, nTo = 10)
    assert(Generation.fenceOf(sh, "") === 5L,
      "the reshard must carry the untagged fence through")
    val gen = Generation.current(sh)
    DedupIndex.removeDocsSharded(spark, sh, purge, "doc_id", epoch = 5L)
    assert(Generation.current(sh) === gen,
      "a replay of epoch 5 must not write a generation")
  }

  test("reshardSharded 8 -> 10: zero illegal moves per table, movement " +
      "near the HRW floor, gate unchanged across the flip") {
    val sh = tmp("dedup_sh_reshard")
    DedupIndex.buildSharded(archive, "doc_id", "text", 3, 8, 4, sh, 8)
    val before = DedupIndex.gateSharded(spark, sh, batch, "doc_id",
      "text").select("doc_id").as[Long].collect().toSet
    val cert = DedupIndex.reshardSharded(spark, sh, nTo = 10)
      .collect().map(r => r.getAs[String]("table_name") -> r).toMap
    assert(cert.keySet === Set("bands", "hashes"))
    for ((t, r) <- cert) {
      assert(r.getAs[Long]("illegal_moves") === 0L,
        s"$t: a row moved between two surviving shards")
      assert(r.getAs[Long]("expected_moved_ppm") === 200000L)
      assert(r.getAs[Long]("n_moved") <= r.getAs[Long]("n_total"))
    }
    // bands: 5 archive docs x 4 band rows (dup texts share keys but
    // rows are per-doc) = 20 rows
    assert(cert("bands").getAs[Long]("n_total") === 20L)
    assert(cert("hashes").getAs[Long]("n_total") === 5L)
    assert(DedupIndex.storedShards(sh) === 10)
    val after = DedupIndex.gateSharded(spark, sh, batch, "doc_id",
      "text").select("doc_id").as[Long].collect().toSet
    assert(after === before,
      "resharding is physical: admissions must not change")
  }
}
