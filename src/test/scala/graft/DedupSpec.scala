package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, sum}
import graft.operators.Dedup

/** D5 — the two Jaccard implementations (count-join vs PPJoin prefix
  * filter) must be semantically identical; plus LSH recall vs the exact
  * pairs. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("doc_a", "doc_b", "shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("prefix-filtered Jaccard ≡ count-join Jaccard (lossless filter)") {
    val docs = Tables.documents(spark, sf)
    val a = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
    val b = pairSet(Dedup.ngramJaccardPairsPrefixFiltered(docs, "doc_id", "text"))
    assert(a.nonEmpty)
    assert(a === b)
  }

  test("MinHash LSH candidates cover most true near-dup pairs (recall)") {
    val docs = Tables.documents(spark, sf)
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      minJaccard = 0.7).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = truth.count(cand.contains).toDouble / truth.size
    assert(recall >= 0.8, s"LSH recall $recall over ${truth.size} true pairs")
  }

  test("connectedComponents: chains close transitively, components split") {
    import spark.implicits._
    // 1-2, 2-3, 3-4 chain (diameter 3 forces multiple propagation rounds);
    // 10-11 separate; pair order/direction must not matter
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val reps = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: maxRounds caps propagation; default converges") {
    import spark.implicits._
    // path 1-2-3-4-5: hash-min needs diameter-1 rounds to fold node 5 to 1
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val capped = Dedup.connectedComponents(path, "doc_a", "doc_b", maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped(5L) === 4L) // one round: label moved one hop, not to the min
    val full = Dedup.connectedComponents(path, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.values.toSet === Set(1L))
  }

  test("connectedComponentsDoubling: log-round convergence on a long path") {
    import spark.implicits._
    // path 1..33 (diameter 32): hash-min needs 32 rounds; doubling needs
    // ~log2(32). Cap both at 10 — only the doubling variant converges.
    val path = (1L until 33L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val plain = Dedup.connectedComponents(path, "doc_a", "doc_b",
      maxRounds = 10).collect().map(r => r.getLong(1)).toSet
    assert(plain.size > 1) // capped: not yet folded to one label
    val doubled = Dedup.connectedComponentsDoubling(path, "doc_a", "doc_b",
      maxRounds = 10).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(doubled.size === 33)
    assert(doubled.values.toSet === Set(1L))
    // split components stay split
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val reps = Dedup.connectedComponentsDoubling(two, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponentsHybrid: escalates on chains within the round " +
      "budget, stays cheap on dense clusters") {
    import spark.implicits._
    // path 1..65 (diameter 64): plain hash-min needs 64 rounds; the
    // hybrid must detect the constant changed-count trickle and finish
    // in stall-detection + O(log d) rounds — well under a cap of 20
    val path = (1L until 65L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val hybrid = Dedup.connectedComponentsHybrid(path, "doc_a", "doc_b",
      maxRounds = 20).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hybrid.size === 65)
    assert(hybrid.values.toSet === Set(1L))
    // a dense clique converges in hash-min's first rounds without ever
    // escalating (nothing to assert about internals — just exactness)
    val clique = (for { a <- 1L to 6L; b <- (a + 1) to 6L } yield (a, b))
      .toDF("doc_a", "doc_b")
    val dense = Dedup.connectedComponentsHybrid(clique, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dense === (1L to 6L).map(_ -> 1L).toMap)
  }

  test("connected components: empty edge sets and self-loops degrade " +
      "gracefully in both variants") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty, "doc_a", "doc_b").count() === 0)
    assert(Dedup.connectedComponentsDoubling(empty, "doc_a", "doc_b")
      .count() === 0)
    val self = Seq((7L, 7L)).toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(self, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((7L, 7L)))
    assert(Dedup.connectedComponentsDoubling(self, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((7L, 7L)))
  }

  test("simhashHammingPairs ≡ brute-force bit_count pairs (lossless banding)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val banded = Dedup.simhashHammingPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = Dedup.simhash64(docs, "doc_id", "text")
    val brute = sigs.alias("x")
      .join(sigs.alias("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("cast(bit_count(x.simhash64 ^ y.simhash64) as bigint)").as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty)
    assert(banded === brute)
  }

  test("simhash signatures: identical docs collide, length 32") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L).length === 32)
    assert(sigs(1L) !== sigs(3L))
  }

  test("dedupIncremental: each admission layer behaves on a constructed " +
      "archive/batch split") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val archive = Seq(
      (1L, base),                       // exact twin of batch doc 10
      (2L, "completely unrelated words about spark catalyst planning")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                      // layer 2: exact dup of archive
      (11L, base + " extra"),           // layer 3: near-dup of archive (shares bands)
      (12L, "novel sentences that resemble nothing stored before today ok"),
      (13L, "novel sentences that resemble nothing stored before today ok"),
      // 13 = exact twin of 12 → layer 1 drops it (min-id 12 survives)
      (14L, "novel sentences that resemble nothing stored before now ok"),
      // 14 shares most trigrams with 12 → within-batch band claim
      // (layer 4) admits only the min-id carrier 12
      (15L, "ab")                       // too short to shingle: no signature
    ).toDF("doc_id", "text")
    val admitted = Dedup.dedupIncremental(archive, incoming, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(!admitted.contains(10L), "archive exact dup must drop")
    assert(!admitted.contains(11L), "archive near dup must drop")
    assert(admitted.contains(12L), "first novel doc must survive")
    assert(!admitted.contains(13L), "within-batch exact twin must drop")
    assert(!admitted.contains(14L), "within-batch near twin must drop")
    assert(admitted.contains(15L), "unshingleable doc passes the near layers")
  }

  test("DedupIndex lifecycle: stored gate == one-shot form; append folds " +
      "an admitted batch in so its twins are dropped next batch") {
    import spark.implicits._
    import graft.operators.DedupIndex
    val archive = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely unrelated words about spark catalyst planning")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "fresh material nothing in the archive has ever mentioned yet")
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      // near-twin of ADMITTED batch1 doc 11 — only the appended index
      // can know about it
      (20L, "fresh material nothing in the archive has ever mentioned now"),
      (21L, "a third topic entirely with its own distinct vocabulary here")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dedup_idx").toString
    DedupIndex.build(archive, "doc_id", "text", 3, 8, 4, dir)

    val stored = DedupIndex.gate(spark, dir, batch1, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val oneShot = Dedup.dedupIncremental(archive, batch1, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(stored === oneShot)
    assert(stored === Set(11L), "10 is an archive exact dup; 11 is fresh")

    val admitted1 = batch1.filter($"doc_id" === 11L)
    DedupIndex.append(admitted1, "doc_id", "text", 3, 8, 4, dir)
    val second = DedupIndex.gate(spark, dir, batch2, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(!second.contains(20L),
      "near-twin of an appended batch-1 doc must drop")
    assert(second.contains(21L), "genuinely new doc must survive")
  }

  test("DedupIndex.removeDocs: a purged doc's twin is ADMITTED after the " +
      "forget (the RTBF point); a survivor's shared text keeps gating; " +
      "replayed epochs are no-ops") {
    import spark.implicits._
    import graft.operators.DedupIndex
    val shared = "identical text held by two distinct archive documents ok"
    val archive = Seq(
      // this sentence's "yet"→"now" twin is a KNOWN band collision
      // (the lifecycle test above relies on the same pair)
      (1L, "fresh material nothing in the archive has ever mentioned yet"),
      (2L, shared),
      (3L, shared),
      (4L, "completely unrelated words about spark catalyst planning")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dedup_forget").toString
    DedupIndex.build(archive, "doc_id", "text", 3, 8, 4, dir)

    // twin of doc 1 (near) and of doc 2/3 (exact): both rejected pre-purge
    val twins = Seq(
      (10L, "fresh material nothing in the archive has ever mentioned now"),
      (11L, shared)).toDF("doc_id", "text")
    val pre = DedupIndex.gate(spark, dir, twins, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(pre === Set.empty[Long])

    // purge docs 1 and 2 (epoch 0)
    DedupIndex.removeDocs(spark, dir,
      Seq(1L, 2L).toDF("doc_id"), "doc_id", epoch = 0L)
    val post = DedupIndex.gate(spark, dir, twins, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    // doc 1 fully forgotten → its twin is now ADMITTED (the whole point:
    // the archive no longer retains anything derived from the purged doc)
    assert(post.contains(10L),
      "twin of a fully forgotten doc must be admitted after the purge")
    // doc 3 SURVIVES with the same text as purged doc 2 → its rows still
    // gate the exact twin, exactly as a remaining-only rebuild would
    assert(!post.contains(11L),
      "text shared with a surviving doc must keep gating")

    // decremental ≡ remaining-only rebuild, row for row, both tables
    val rebuilt = java.nio.file.Files
      .createTempDirectory("graft_dedup_forget_rb").toString
    DedupIndex.build(archive.filter(!$"doc_id".isin(1L, 2L)),
      "doc_id", "text", 3, 8, 4, rebuilt)
    def rows(d: String) = (
      spark.read.parquet(DedupIndex.hashesPath(d))
        .collect().map(_.toSeq).toSet,
      spark.read.parquet(DedupIndex.bandsPath(d))
        .collect().map(_.toSeq).toSet)
    assert(rows(dir) === rows(rebuilt))

    // replayed epoch (≤ last applied) must not touch state
    val before = rows(dir)
    DedupIndex.removeDocs(spark, dir,
      Seq(3L).toDF("doc_id"), "doc_id", epoch = 0L)
    assert(rows(dir) === before, "replayed epoch must be a no-op")
    // ids absent from the index are harmless no-ops on content
    DedupIndex.removeDocs(spark, dir,
      Seq(999L).toDF("doc_id"), "doc_id", epoch = 1L)
    assert(rows(dir) === before)
  }

  test("DedupIndex.compact: a pure physical rewrite — duplicate " +
      "appended key rows collapse, gate results byte-identical") {
    import spark.implicits._
    import graft.operators.DedupIndex
    val archive = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely unrelated words about spark catalyst planning")
    ).toDF("doc_id", "text")
    val extra = Seq(
      (3L, "a third topic entirely with its own distinct vocabulary here")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dedup_compact").toString
    DedupIndex.build(archive, "doc_id", "text", 3, 8, 4, dir)
    // append the same batch twice: append-only design duplicates rows
    DedupIndex.append(extra, "doc_id", "text", 3, 8, 4, dir)
    DedupIndex.append(extra, "doc_id", "text", 3, 8, 4, dir)
    val probe = Seq(
      (10L, "a third topic entirely with its own distinct vocabulary here"),
      (11L, "never before seen material with fresh tokens all around us")
    ).toDF("doc_id", "text")
    def gateIds() = DedupIndex.gate(spark, dir, probe, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    def hashRows() = spark.read
      .parquet(DedupIndex.hashesPath(dir)).count()
    val (gBefore, nBefore) = (gateIds(), hashRows())
    assert(nBefore === 4L, "double append must have duplicated doc 3")
    DedupIndex.compact(spark, dir, epoch = 5L)
    assert(hashRows() === 3L, "compaction must collapse duplicates")
    assert(gateIds() === gBefore,
      "compaction must not change gate semantics")
    assert(gBefore === Set(11L))
    // replayed epoch: no-op (no new generation)
    val gen = graft.operators.Generation.current(dir)._1
    DedupIndex.compact(spark, dir, epoch = 5L)
    assert(graft.operators.Generation.current(dir)._1 === gen)
  }

  test("keepBest: one survivor per transitive cluster, best score wins, " +
      "singletons ride through") {
    import spark.implicits._
    // cluster {1,2,3} via chain 1-2, 2-3; cluster {10,11}; 99 untouched
    val docs = Seq(
      (1L, "short"), (2L, "the longest text of them all"), (3L, "mid text"),
      (10L, "same len"), (11L, "same ln2"), (99L, "alone")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.keepBest(docs, pairs, "doc_id",
        org.apache.spark.sql.functions.length($"text").cast("long"))
      .select("doc_id", "n_dups")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(
      2L -> 3L,   // longest of {1,2,3}
      10L -> 2L,  // tie on length 8 → lower id
      99L -> 1L)) // singleton survives as its own cluster
  }

  test("blockedFuzzyPairs: matches inside blocks only, exact distances, " +
      "length gate excludes far pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "abcd", "en"), (2L, "abce", "en"),   // dist 1, same block
      (3L, "abcd", "fr"),                       // same text, other block
      (4L, "abcdxx", "en"),                     // dist 2 from 1 within gate
      (5L, "zzzzzzzzzz", "en"),                 // far: dist > 2
      (6L, "ab", "en"))                         // len gate: |4-2| = 2 ≤ 2
      .toDF("doc_id", "text", "lang")
    val got = Dedup.blockedFuzzyPairs(docs, "doc_id", "text",
        Seq(col("lang")), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (1L, 2L) -> 1L, (1L, 4L) -> 2L, (1L, 6L) -> 2L,
      (2L, 6L) -> 2L)) // (2,4) is dist 3: no 'e' in abcdxx, len diff 2
    // cross-block pair (1,3) absent despite identical text; far pair (5)
    // absent; the declared contract is matches WITHIN a block
    assert(!got.contains((1L, 3L)) && !got.keys.exists(_._2 == 5L))
  }

  test("containmentPairs: directional — the quoted doc scores 1.0 toward " +
      "its host, the host scores low back") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon"
    val b = a + " zeta eta theta iota kappa lambda mu"
    val c = "one two three four five six seven"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, minContain = 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // a has 3 trigrams, all inside b (10 trigrams): containment 3/3 = 1.0
    // one direction only; c is unrelated
    assert(got === Map((1L, 2L) -> ((3L, 1.0))))
  }

  test("lshFuzzyPairs: signature blocking admits the near-twin, " +
      "unrelated text never reaches the DP") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      // repeated word: DISTINCT word set unchanged → identical SimHash
      // (hamming 0, always banded together), 6 char edits apart
      (2L, base + " alpha"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val got = Dedup.lshFuzzyPairs(docs, "doc_id", "text", maxDist = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got === Map((1L, 2L) -> 6L), s"got $got")
  }

  test("ccIncremental: delta fold equals from-scratch CC — merge of two " +
      "archive components, a brand-new component, and a rep change when " +
      "a smaller-id node joins") {
    import spark.implicits._
    val archive = Seq((1L, 2L), (5L, 6L), (10L, 11L)).toDF("doc_a", "doc_b")
    val delta = Seq(
      (2L, 5L),   // merges archive components {1,2} and {5,6}
      (7L, 8L),   // entirely new component
      (9L, 10L))  // new node with a SMALLER id than its component's rep
      .toDF("doc_a", "doc_b")
    val labels0 = Dedup.connectedComponents(archive, "doc_a", "doc_b")
    val inc = Dedup.ccIncremental(labels0, delta, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(
        archive.unionByName(delta), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === scratch, s"inc=$inc scratch=$scratch")
    assert(inc(11L) === 9L, "rep must drop to the new smaller id")
    assert(inc(6L) === 1L, "merged component takes the global min rep")
  }

  test("LSH recall audit accounting (q164 shape): found+missed == |truth|, " +
      "found+extra == |candidates|, and recall reflects the partition") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // twins (J=1, banding must catch) + a disjoint pair (no truth, no
    // candidates) + a doc sharing half its grams with a twin (borderline)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta other words here now"),
      (4L, "completely different tokens entirely unrelated text")
    ).toDF("doc_id", "text")
    val truth = Dedup.ngramJaccardPairsPrefixFiltered(docs, "doc_id",
      "text", shingleN = 3, minJaccard = 0.5).select("doc_a", "doc_b")
    val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text",
      shingleN = 3, k = 8, bands = 4).select("doc_a", "doc_b")
    val nTruth = truth.count(); val nCand = cand.count()
    val m = truth.withColumn("t", lit(1))
      .join(cand.withColumn("c", lit(1)), Seq("doc_a", "doc_b"),
        "full_outer")
    val found = m.filter($"t".isNotNull && $"c".isNotNull).count()
    val missed = m.filter($"t".isNotNull && $"c".isNull).count()
    val extra = m.filter($"t".isNull).count()
    assert(found + missed === nTruth)
    assert(found + extra === nCand)
    // the J=1 twin pair is truth AND candidate (identical signatures)
    assert(m.filter($"doc_a" === 1L && $"doc_b" === 2L &&
      $"t".isNotNull && $"c".isNotNull).count() === 1L)
    // the disjoint doc appears nowhere
    assert(m.filter($"doc_a" === 4L || $"doc_b" === 4L).count() === 0L)
  }

  test("noveltyGrade: exact copies grade (true, 4), disjoint-vocabulary " +
      "docs grade (false, 0), and gate admission implies grade zero") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_novelty_spec").toString
    val archive = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // exact copy of 1
      (101L, "red green blue yellow purple orange")  // disjoint vocab
    ).toDF("doc_id", "text")
    graft.operators.DedupIndex.build(archive, "doc_id", "text",
      shingleN = 3, k = 8, bands = 4, dir = dir)
    val g = graft.operators.DedupIndex.noveltyGrade(spark, dir, batch,
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1),
        r.getLong(2)))).toMap
    assert(g(100L) === ((true, 4L)), g)
    assert(g(101L) === ((false, 0L)), g)
    // duplicate stored hashes (append of re-archived content) must not
    // multiply graded rows — the left join dedups the hash table
    graft.operators.DedupIndex.append(archive, "doc_id", "text",
      shingleN = 3, k = 8, bands = 4, dir = dir)
    val g2 = graft.operators.DedupIndex.noveltyGrade(spark, dir, batch,
      "doc_id", "text").collect()
    assert(g2.length === 2, g2.toSeq)
    assert(g2.map(r => r.getLong(0) -> ((r.getBoolean(1),
      r.getLong(2)))).toMap === g)
    // law on real data: every gate-admitted doc grades (false, 0) —
    // the archive layers of the gate are exactly the grade's two probes
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val fdir = java.nio.file.Files
      .createTempDirectory("graft_novelty_fix").toString
    graft.operators.DedupIndex.build(
      docs.filter($"doc_id" % 5 =!= 0), "doc_id", "text", 3, 8, 4, fdir)
    val inc = docs.filter($"doc_id" % 5 === 0)
    val admitted = graft.operators.DedupIndex.gate(spark, fdir, inc,
      "doc_id", "text").select("doc_id").as[Long].collect().toSet
    val grades = graft.operators.DedupIndex.noveltyGrade(spark, fdir,
        inc, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1),
        r.getLong(2)))).toMap
    assert(admitted.nonEmpty)
    assert(admitted.forall(id => grades(id) == ((false, 0L))),
      admitted.filterNot(id => grades(id) == ((false, 0L))).take(5))
  }

  test("dupSpanCoverage: shared spans counted once through overlap " +
      "merging, clean and short docs report zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),  // shares its first 8-word gram w/ 2
      (2L, "a b c d e f g h"),      // fully covered by doc 1's prefix
      (3L, "q r s"),                // short, unique whole-text gram
      (5L, "0 1 2 3 4 5 6 7 8 9"),  // identical twins: all 3 grams
      (6L, "0 1 2 3 4 5 6 7 8 9"))  //   shared; intervals merge to ONE
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .dupSpanCoverage(docs, "doc_id", "text", gram = 8)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(1L) === ((10L, 8L, 1L, 800000L)), got(1L).toString)
    assert(got(2L) === ((8L, 8L, 1L, 1000000L)))
    assert(got(3L) === ((3L, 0L, 0L, 0L)))
    // twins: intervals [1,9),[2,10),[3,11) merge to [1,11) → covered =
    // len, ONE island — double counting would report 24
    assert(got(5L) === ((10L, 10L, 1L, 1000000L)), got(5L).toString)
    assert(got(6L) === ((10L, 10L, 1L, 1000000L)))
  }

  test("lshParamAdvisor: hand-computed truncating S-curve folds; " +
      "recall falls with rows-per-band; best margin recommended") {
    import spark.implicits._
    // one true pair (0.7 ≥ 0.5) and one false pair (0.2), 4 hashes →
    // configs (4,1), (2,2), (1,4); every capture prob hand-folded with
    // acc·x div 1e6 truncation per step
    val jacs = Seq(700000L, 200000L).toDF("jac_ppm")
    val got = graft.operators.Dedup.lshParamAdvisor(jacs, 4, 500000L)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getBoolean(7))))
      .toMap
    // (4,1): p(0.7) = 1e6 − 0.3⁴-fold = 991900; p(0.2) = 590400
    assert(got((4, 1)) ===
      ((1L, 1L, 991900L, 590400L, 401500L, false)))
    // (2,2): s_r(0.7) = 490000 → p = 739900; s_r(0.2) = 40000 → 78400
    assert(got((2, 2)) ===
      ((1L, 1L, 739900L, 78400L, 661500L, true)))
    // (1,4): p = s_r itself: 240100 vs 1600
    assert(got((1, 4)) ===
      ((1L, 1L, 240100L, 1600L, 238500L, false)))
    // more rows per band → stricter: recall monotone non-increasing
    assert(got((4, 1))._3 >= got((2, 2))._3 &&
      got((2, 2))._3 >= got((1, 4))._3)
  }

  test("pairGroupMatrix: unordered cells, cross flag, exact shares; " +
      "label order never splits a cell") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    // 3 is in group y; (1,3) sees (x,y), (2,3) sees... meta joined per
    // side, so both cross pairs must land in the SAME (x,y) cell
    val meta = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "g")
    val got = graft.operators.Dedup
      .pairGroupMatrix(pairs, meta, "doc_id", "g")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3), r.getLong(4))))
      .toMap
    assert(got.size === 2)
    assert(got(("x", "x")) === ((1L, false, 333333L)))
    assert(got(("x", "y")) === ((2L, true, 666666L)))
  }

  test("sortedNeighborhoodPairs: every record pairs with exactly its " +
      "w-1 sort successors — including across rank buckets — and pair " +
      "volume is skew-independent") {
    import spark.implicits._
    // sort by value: ids in sort order are 10,20,30,40,50,60
    val df = Seq((40L, 4L), (10L, 1L), (60L, 6L), (20L, 2L),
      (50L, 5L), (30L, 3L)).toDF("id", "v").repartition(4)
    val got = graft.operators.Dedup.sortedNeighborhoodPairs(
        df, "id", Seq($"v", $"id"), w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val expected = (for {
      i <- 1 to 6; d <- 1 to 2; if i + d <= 6
    } yield (i * 10L, (i + d) * 10L, d.toLong)).toSet
    assert(got === expected,
      s"missing ${expected -- got}, extra ${got -- expected}")
    // volume formula: n(w−1) − tail shortfall = 6·2 − (2+1) = 9
    assert(got.size === 9)
  }

  test("DedupIndex geometry guard: removeDocs/compact with the wrong " +
      "k/bands fail loudly (meta fingerprint + band-table footer) " +
      "instead of silently persisting a truncated rewrite; the right " +
      "geometry still rewrites") {
    import spark.implicits._
    import graft.operators.DedupIndex
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six"),
      (3L, "totally different words here now too"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("dedup_geom").toString
    DedupIndex.build(docs, "doc_id", "text", 3, 8, 4, dir)
    // wrong k: readStored's explicit schema would read v2..v3 as null
    // and a rewrite would persist the damage — must refuse instead
    val e1 = intercept[IllegalArgumentException] {
      DedupIndex.removeDocs(spark, dir, Seq(1L).toDF("doc_id"),
        "doc_id", k = 16, bands = 4)
    }
    assert(e1.getMessage.contains("built with k=8"))
    val e2 = intercept[IllegalArgumentException] {
      DedupIndex.compact(spark, dir, k = 8, bands = 2)
    }
    assert(e2.getMessage.contains("built with k=8"))
    // a legacy index without the meta file is still protected by the
    // parquet-footer column check
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "_graft_dedup_meta.json"))
    val e3 = intercept[IllegalArgumentException] {
      DedupIndex.removeDocs(spark, dir, Seq(1L).toDF("doc_id"),
        "doc_id", k = 16, bands = 4)
    }
    assert(e3.getMessage.contains("geometry mismatch"))
    // the true geometry still rewrites (and actually forgets)
    DedupIndex.removeDocs(spark, dir, Seq(1L).toDF("doc_id"),
      "doc_id", k = 8, bands = 4)
    val left = spark.read.parquet(DedupIndex.hashesPath(dir))
      .select($"_id").as[Long].collect().toSet
    assert(left === Set(2L, 3L))
  }

  test("minhashLshStarEdges: hot buckets contract to linear hub stars, " +
      "small buckets stay all-pairs, components are UNCHANGED") {
    import spark.implicits._
    // planted hot family: 40 near-dups of one 60-token template (each
    // doc swaps one rotating token), plus 30 distinct background docs —
    // the gen_skew.py shape at spec scale
    val tmpl = (0 until 60).map(i => s"hot$i")
    val hot = (0 until 40).map { i =>
      val toks = tmpl.updated(i % 60, s"u$i")
      (100L + i, toks.mkString(" "))
    }
    val bg = (0 until 30).map(i =>
      (500L + i, (0 until 30).map(j => s"bg${i}_$j").mkString(" ")))
    val docs = (hot ++ bg).toDF("doc_id", "text")
    val allPairs = Dedup.minhashLshCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
        hotThreshold = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the hot family collides on most band keys: all-pairs is
    // quadratic (~40*39/2), the star is linear (~39 spokes + noise)
    assert(allPairs.size > 500,
      s"fixture must produce a quadratic pair set, got ${allPairs.size}")
    assert(star.size < 120,
      s"star contraction must be linear in the hot family, got ${star.size}")
    assert(star.subsetOf(allPairs),
      "every star edge is one of the all-pairs edges (hub is a member)")
    // the theorem: components over star edges == components over pairs
    def comps(edges: Set[(Long, Long)]): Map[Long, Long] =
      Dedup.connectedComponents(edges.toSeq.toDF("doc_a", "doc_b"),
        "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(star) === comps(allPairs),
      "star contraction must never change the transitive components")
    // threshold above every bucket size: star degenerates to all-pairs
    val wide = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
        hotThreshold = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide === allPairs,
      "an unreachable threshold must reproduce the classic pair set")
  }

  test("advisedHotThreshold: largest budget-feasible threshold on a " +
      "planted-hot-family corpus; loud floor verdict; no-op on big budget") {
    import spark.implicits._
    // same skew shape as the star test: one ~40-member hot family
    val tmpl = (0 until 60).map(i => s"hot$i")
    val hot = (0 until 40).map { i =>
      (100L + i, tmpl.updated(i % 60, s"u$i").mkString(" "))
    }
    val bg = (0 until 30).map(i =>
      (500L + i, (0 until 30).map(j => s"bg${i}_$j").mkString(" ")))
    val docs = (hot ++ bg).toDF("doc_id", "text")
    val prof = Dedup.lshBucketProfile(docs, "doc_id", "text").collect()
    val totPairs = prof.map(_.getAs[Long]("pairs_all")).sum
    val maxBucket = prof.map(_.getAs[Long]("bucket_size")).max
    assert(totPairs > 500, s"fixture must be quadratic, got $totPairs")

    // tight budget: the hot buckets MUST be contracted — advised
    // threshold lands below the hot family size and the resulting
    // star edge set stays within the priced volume
    val tight = Dedup.advisedHotThreshold(docs, "doc_id", "text",
      budgetPairs = 200L).collect()(0)
    val tightT = tight.getAs[Long]("advised_threshold")
    val tightVol = tight.getAs[Long]("edge_volume")
    assert(tightT < maxBucket,
      s"a 200-pair budget must contract the ~40-member buckets, " +
        s"advised t=$tightT (max bucket $maxBucket)")
    assert(tightVol <= 200L && tight.getAs[Boolean]("within_budget"))
    val starEdges = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
      hotThreshold = tightT.toInt).count()
    assert(starEdges <= tightVol,
      "distinct star edges can never exceed the priced per-bucket volume")
    // the theorem holds at the ADVISED threshold too
    val ccStar = Dedup.connectedComponents(
      Dedup.minhashLshStarEdges(docs, "doc_id", "text",
        hotThreshold = tightT.toInt), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccAll = Dedup.connectedComponents(
      Dedup.minhashLshCandidates(docs, "doc_id", "text"),
      "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccStar === ccAll)

    // generous budget: nothing to contract — threshold = max bucket
    // size, volume = the full pair volume
    val wide = Dedup.advisedHotThreshold(docs, "doc_id", "text",
      budgetPairs = totPairs + 1L).collect()(0)
    assert(wide.getAs[Long]("advised_threshold") === maxBucket)
    assert(wide.getAs[Long]("edge_volume") === totPairs)
    assert(wide.getAs[Long]("pairs_volume_full") === totPairs)

    // budget below the linear floor: t=1 with the loud false verdict
    val impossible = Dedup.advisedHotThreshold(docs, "doc_id", "text",
      budgetPairs = 1L).collect()(0)
    assert(impossible.getAs[Long]("advised_threshold") === 1L)
    assert(!impossible.getAs[Boolean]("within_budget"))
    assert(impossible.getAs[Long]("edge_volume") ===
      impossible.getAs[Long]("edges_volume_floor"))
  }

  test("lshGroupPairVolume: bucket arithmetic reproduces the profile's " +
      "total volume, sliced by group, without materializing a pair") {
    import spark.implicits._
    val tmpl = (0 until 60).map(i => s"hot$i")
    val hot = (0 until 40).map { i =>
      (100L + i, tmpl.updated(i % 60, s"u$i").mkString(" "))
    }
    val bg = (0 until 30).map(i =>
      (500L + i, (0 until 30).map(j => s"bg${i}_$j").mkString(" ")))
    val docs = (hot ++ bg).toDF("doc_id", "text")
    val meta = docs.select(col("doc_id"),
      (col("doc_id") % 3).cast("string").as("g"))
    val vol = Dedup.lshGroupPairVolume(docs, "doc_id", "text", meta, "g")
      .collect()
    val profTotal = Dedup.lshBucketProfile(docs, "doc_id", "text")
      .agg(sum(col("pairs_all"))).collect()(0).getLong(0)
    // slicing by group must conserve the total band-join volume
    assert(vol.map(_.getAs[Long]("pair_volume")).sum === profTotal)
    // volume is an upper bound on distinct pairs (a pair sharing b
    // buckets counts b times)
    val distinctPairs = Dedup.minhashLshCandidates(docs, "doc_id", "text")
      .count()
    assert(profTotal >= distinctPairs)
    // ppm shares: integer-floor parts of one million
    val ppm = vol.map(_.getAs[Long]("share_ppm")).sum
    assert(ppm <= 1000000L && ppm > 1000000L - vol.length)
    // every cell is canonically ordered and flagged
    assert(vol.forall(r => r.getAs[String]("group_a") <=
      r.getAs[String]("group_b")))
    assert(vol.forall(r => (r.getAs[String]("group_a") !=
      r.getAs[String]("group_b")) === r.getAs[Boolean]("cross_group")))
  }
}
