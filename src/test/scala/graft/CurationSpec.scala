package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation

/** [NS] training-data curation: deterministic splits, chunking,
  * decontamination. */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("assignSplit is deterministic, total, and ~80/10/10") {
    val df = (1L to 10000L).toDF("id")
    val splits = Curation.assignSplit(df, "id")
    val counts = splits.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 10000L)
    assert(counts("train") > 7500 && counts("train") < 8500, counts)
    assert(counts("val") > 700 && counts("val") < 1300, counts)
    assert(counts("test") > 700 && counts("test") < 1300, counts)
    // repartitioning must not move a single row between splits
    val again = Curation.assignSplit(df.repartition(13), "id")
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === counts)
  }

  test("chunk covers the text with the given stride; empty docs drop out") {
    val df = Seq((1L, "a" * 250), (2L, "b" * 100), (3L, "")).toDF("id", "text")
    val ch = Curation.chunk(df, "id", "text", size = 200, stride = 100)
      .select($"id", $"chunk_idx", $"chunk_len").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(ch === Array((1L, 0, 200L), (1L, 1, 150L), (1L, 2, 50L),
      (2L, 0, 100L)))
    // overlap reconstruction: consecutive chunks share size-stride chars
    val c1 = Curation.chunk(df.filter($"id" === 1), "id", "text", 200, 100)
      .orderBy("chunk_idx").select("chunk").as[String].collect()
    assert(c1(0).substring(100) === c1(1).substring(0, 100))
  }

  test("sampleByHash: deterministic, rate-proportional, repartition-stable") {
    val df = (1L to 10000L).toDF("id")
      .withColumn("rate", lit(30))
    val kept = Curation.sampleByHash(df, "id", $"rate")
    val n = kept.count()
    assert(n > 2500 && n < 3500, n) // ~30%
    // same rows regardless of partitioning
    val again = Curation.sampleByHash(df.repartition(17), "id", $"rate")
    assert(again.select("id").as[Long].collect().sorted
      === kept.select("id").as[Long].collect().sorted)
    // rate 0 keeps nothing; rate 100 keeps everything
    assert(Curation.sampleByHash(df, "id", lit(0)).count() === 0)
    assert(Curation.sampleByHash(df, "id", lit(100)).count() === 10000)
  }

  test("writeShards: membership is a pure function of the id; files bounded") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val df = (1L to 5000L).toDF("id").withColumn("payload", md5($"id".cast("string")))
    Curation.writeShards(df, "id", dir, shards = 8, maxRecordsPerFile = 200)
    val back = spark.read.parquet(dir)
    assert(back.count() === 5000)
    // every row sits in the shard its id hashes to
    val misplaced = back.filter(
      $"shard" =!= Curation.hashBucket($"id", 8)).count()
    assert(misplaced === 0)
    // all shards materialized as directories; files bounded by the cap
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.length === 8)
    val biggest = shardDirs.flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).count()).max
    assert(biggest <= 200)
    // re-writing is idempotent: same membership, same counts per shard
    val counts1 = back.groupBy("shard").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Curation.writeShards(df, "id", dir, shards = 8, maxRecordsPerFile = 200)
    val counts2 = spark.read.parquet(dir).groupBy("shard").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts1 === counts2)
  }

  test("packChunks: packs respect the budget; assignment is deterministic") {
    val chunks = Seq(
      (1L, 0, 150L), (1L, 1, 150L), (2L, 0, 150L), (3L, 0, 90L),
      (4L, 0, 150L), (5L, 0, 150L), (6L, 0, 150L)
    ).toDF("doc_id", "chunk_idx", "chunk_len")
    val packed = Curation.packChunks(chunks, "doc_id", "chunk_idx",
      "chunk_len", ctxLen = 300, shards = 1)
    val byPack = packed.groupBy("pack_id")
      .agg(sum($"chunk_len").as("len"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // greedy cumsum: no pack exceeds budget + one chunk's length
    assert(byPack.forall(_._2 <= 300 + 150), byPack.toSeq)
    assert(byPack.map(_._3).sum === 7)
    // same input partitioned differently → identical packs
    val again = Curation.packChunks(chunks.repartition(5), "doc_id",
      "chunk_idx", "chunk_len", ctxLen = 300, shards = 1)
      .select("doc_id", "chunk_idx", "pack_id").collect().toSet
    assert(again === packed.select("doc_id", "chunk_idx", "pack_id")
      .collect().toSet)
  }

  test("fuzzyNormalize: argmin with term tie-break, empty word, lexicon " +
      "miss keeps the row with nulls") {
    val lex = Seq("cat", "car", "dog")
    val df = Seq(
      (1L, "cat"),   // exact hit, dist 0
      (2L, "cap"),   // dist 1 to BOTH cat and car → tie → "car" (term order)
      (3L, ""),      // empty word: levenshtein("", t) = len(t) → "car"/"cat" tie at 3 → "car"
      (4L, "elephant") // nothing within maxDist → miss
    ).toDF("id", "w")
    val out = Curation.fuzzyNormalize(df, "w", lex, maxDist = 3)
      .select("id", "best_term", "dist").collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) === (Some("cat"), Some(0L)))
    assert(out(2L) === (Some("car"), Some(1L)))
    assert(out(3L) === (Some("car"), Some(3L)))
    assert(out(4L) === (None, None)) // row kept, both columns null
    assert(out.size === 4)
  }

  test("fuzzyNormalize: length-band prefilter is lossless for dist ≤ maxDist") {
    // |len(w) − len(t)| ≤ dist always, so banding can only drop terms that
    // could never win under maxDist — argmin must equal the unfiltered one
    val lex = Seq("a", "ab", "abc", "abcd", "abcde", "xyzzy", "q")
    val words = Seq("a", "abe", "abcdef", "zz", "xyzy", "qq").zipWithIndex
      .map { case (w, i) => (i.toLong, w) }
    val df = words.toDF("id", "w")
    val banded = Curation.fuzzyNormalize(df, "w", lex, maxDist = 2)
      .select("id", "best_term", "dist").collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    // reference: plain JVM argmin with the same (dist, term) ordering
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    words.foreach { case (id, w) =>
      val cands = lex.map(t => (lev(w, t), t)).filter(_._1 <= 2)
      val expect =
        if (cands.isEmpty) (None, None)
        else { val m = cands.min; (Some(m._2), Some(m._1.toLong)) }
      assert(banded(id) === expect, s"word $w")
    }
  }

  test("oovGate: relative vocab floor, exact integer threshold, " +
      "gram-less docs absent") {
    val ref = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a b e"))
      .toDF("doc_id", "text")
    // vocab at denom=1: df >= |ref|=3 -> only "a b" (df 3) survives
    val probe = Seq((10L, "a b x"), (11L, "z")).toDF("doc_id", "text")
    def run(pct: Int) = Curation.oovGate(ref, probe, "doc_id", "text",
        vocabDenom = 1, maxOovPct = pct)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // doc 10: bigrams {a b, b x} -> 1 OOV of 2; doc 11: no bigram -> absent
    val at40 = run(40)
    assert(at40 === Map(10L -> ((2L, 1L, true)))) // 100 > 80
    val at50 = run(50)
    assert(at50 === Map(10L -> ((2L, 1L, false)))) // 100 > 100 is false
  }

  test("linearModelScore: exact integer w·x + b, mismatched shapes refused") {
    val df = Seq((1L, 10L, 3L), (2L, 0L, 7L)).toDF("id", "f1", "f2")
    val out = df.withColumn("s", Curation.linearModelScore(
        Seq(col("f1"), col("f2")), Seq(2L, -5L), 4L))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out === Map(1L -> (2 * 10 - 5 * 3 + 4).toLong,
      2L -> (2 * 0 - 5 * 7 + 4).toLong))
    intercept[IllegalArgumentException] {
      Curation.linearModelScore(Seq(col("f1")), Seq(1L, 2L), 0L)
    }
  }

  test("fuzzyNormalize refuses inputs that already carry its output " +
      "columns instead of silently clobbering them") {
    val df = Seq((1L, "cat", "precious")).toDF("id", "w", "dist")
    val e = intercept[IllegalArgumentException] {
      Curation.fuzzyNormalize(df, "w", Seq("cat"), maxDist = 1)
    }
    assert(e.getMessage.contains("dist"))
  }

  test("dedupSpans: global first occurrence wins, within-doc repeats cut, " +
      "all-boilerplate docs vanish, partial tail segments kept") {
    val docs = Seq(
      (1L, "a b c d"),      // segs (n=2): "a b", "c d" — both first
      (2L, "a b x y"),      // "a b" is doc 1's → cut; keeps "x y"
      (3L, "p q p q"),      // within-doc repeat → keeps first "p q"
      (4L, "a b c d"),      // everything already seen → doc vanishes
      (5L, "x y z")         // "x y" is doc 2's → cut; partial tail "z" kept
    ).toDF("doc_id", "text")
    val out = Curation.dedupSpans(docs, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out === Map(
      1L -> (("a b c d", 2L)),
      2L -> (("x y", 1L)),
      3L -> (("p q", 1L)),
      5L -> (("z", 1L))))
  }

  test("dedupSpans edge cases: segment wider than any doc degrades to " +
      "whole-doc exact dedup; fuzzyNormalize maxDist=0 is exact match") {
    // n larger than every doc: one segment per doc → global exact dedup
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "z")).toDF("doc_id", "text")
    val out = Curation.dedupSpans(docs, "doc_id", "text", n = 100)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "x y", 3L -> "z")) // doc 2 vanishes entirely
    // maxDist = 0: only byte-exact lexicon hits match, all else is a miss
    val words = Seq((1L, "cat"), (2L, "cap")).toDF("id", "w")
    val exact = Curation.fuzzyNormalize(words, "w", Seq("cat"), maxDist = 0)
      .select("id", "best_term").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(exact === Map(1L -> Some("cat"), 2L -> None))
  }

  test("redactPii replaces emails, URLs, and phones; plain text untouched") {
    val rows = Seq(
      "mail me at a.b+c@ex-ample.co.uk now",
      "see https://x.io/p?q=1&r=2 and http://y.z/",
      "call 555-123-4567 or 555 987 6543",
      "nothing to redact here @ all, 12-34-56 stays").toDF("t")
    val got = rows.select(Curation.redactPii($"t")).as[String].collect()
    assert(got(0) === "mail me at <EMAIL> now")
    assert(got(1) === "see <URL> and <URL>")
    assert(got(2) === "call <PHONE> or <PHONE>")
    assert(got(3) === "nothing to redact here @ all, 12-34-56 stays")
  }

  test("crossCorpusLeakage flags planted overlap, ignores boilerplate") {
    val boiler = "the quick brown fox jumps over the lazy dog again"
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, boiler), (4L, boiler), (6L, boiler)
    ).toDF("doc_id", "text")
    val test0 = Seq(
      // shares a 7-word run with doc 0 → 3 distinct 5-grams
      (1L, "alpha beta gamma delta epsilon zeta eta xx yy zz"),
      (3L, "totally different words with no overlap at all here"),
      (5L, boiler) // overlaps only boilerplate (df > dfMax) → not flagged
    ).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val flagged = Curation.crossCorpusLeakage(train, test0, "doc_id", "text",
        n = 5, minShared = 3, dfMax = 2)
      .select("test_doc").as[Long].collect()
    assert(flagged === Array(1L))
    // the call-scoped shingle pin must not leak into the session: the only
    // block entry the call may add is the returned result's own
    // localCheckpoint; a dangling train-shingle persist would be a second
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).size <= 1,
      s"leaked persisted RDDs beyond the result checkpoint: ${after -- before}")
  }

  test("exactOutliers: degenerate groups — empty input, singleton, " +
      "constant values never flag") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("grp", "v")
    assert(Curation.exactOutliers(empty, "grp", "v").count() === 0)
    // singleton: dev = n·x − S = 0 and spread = 0, so 0 > 0 is false
    val single = Seq(("a", 42L)).toDF("grp", "v")
    assert(Curation.exactOutliers(single, "grp", "v")
      .collect().map(_.getAs[Boolean]("is_out")).toSeq === Seq(false))
    // constant group: zero variance, no row may flag (strict inequality)
    val const = Seq.fill(5)(("c", -7L)).toDF("grp", "v")
    assert(Curation.exactOutliers(const, "grp", "v")
      .collect().forall(!_.getAs[Boolean]("is_out")))
  }

  test("exactOutliers: decimal overflow RAISES instead of silently " +
      "nulling the flag; null inputs keep a null flag") {
    import spark.implicits._
    // n·max|x| ≈ 4·10¹⁸ per value → dev² ≈ 10³⁸⁺ overflows decimal(38,0).
    // Under ANSI (Spark 4 default) the arithmetic itself raises; under
    // non-ANSI the products go NULL and the operator's own raise_error
    // guard fires — either way the caller gets an ERROR, never a silent
    // is_out = NULL counted as not-outlier
    val big = Seq(("g", Long.MaxValue / 2), ("g", Long.MaxValue / 3),
      ("g", 7L), ("g", -Long.MaxValue / 2)).toDF("grp", "v")
    val ex = intercept[Exception] {
      Curation.exactOutliers(big, "grp", "v").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null &&
      (m.contains("overflow") || m.contains("Decimal(38") ||
        m.contains("NUMERIC_VALUE_OUT_OF_RANGE"))), ex)
    // a NULL value is a null flag, not an error (SQL comparison semantics)
    val withNull = Seq(("a", Some(1L)), ("a", Some(2L)), ("a", None))
      .toDF("grp", "v")
    val flags = Curation.exactOutliers(withNull, "grp", "v")
      .select("v", "is_out").collect()
      .map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
    assert(flags(None) === None)
    assert(flags(Some(1L)).isDefined && flags(Some(2L)).isDefined)
  }

  test("bpeMerges: greedy run-parity apply — overlapping matches merge " +
      "at alternating positions, round 2 sees round 1's rebuilt symbols") {
    // vocab: "aaaa" ×2, "bb" ×1. Round 1: (a,a) count 3·2=6 beats (b,b) 1;
    // greedy apply turns "aaaa" into [aa, aa] (positions 0-1 and 2-3 — a
    // sequential fold and the run-parity rule agree). Round 2: (aa,aa)
    // count 2 beats (b,b) 1 — only correct if the apply actually rebuilt.
    val docs = Seq((1L, "aaaa aaaa bb")).toDF("doc_id", "text")
    val rules = Curation.bpeMerges(docs, "text", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(rules.toSeq === Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L)))
  }

  test("bpeTokenCounts: doc token count reflects both merge rounds") {
    // after (a,a) then (aa,aa): "aaaa" encodes to 1 token, "bb" stays 2
    val docs = Seq((1L, "aaaa aaaa bb")).toDF("doc_id", "text")
    val counts = Curation.bpeTokenCounts(docs, "doc_id", "text", rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(counts.toSeq === Seq((1L, 4L)))
  }

  test("cdcChunks: boundaries match the md5 cut rule; chunks tile the doc") {
    import spark.implicits._
    val text = (1 to 400).map(i => ('a' + i % 26).toChar).mkString
    val out = Curation.cdcChunks(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", w = 8, maskBits = 4)
      .orderBy("chunk_idx").collect()
    // Scala reference: same md5-slice cut rule
    def h(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val cuts = (8 to text.length)
      .filter(i => i < text.length && h(text.substring(i - 8, i)) % 16 == 0)
    val bounds = (0 +: cuts) zip (cuts :+ text.length)
    assert(out.length === bounds.length && bounds.length > 1)
    out.zip(bounds).foreach { case (r, (s, e)) =>
      assert(r.getLong(2) === (e - s).toLong)
    }
    assert(out.map(_.getLong(2)).sum === text.length.toLong,
      "chunks must tile the doc exactly")
  }

  test("cdcChunks: content-defined shift invariance — a prefix edit " +
      "leaves the shared tail's chunk hashes intact (fixed-size chunking " +
      "would shift every boundary)") {
    import spark.implicits._
    // seeded: deterministic across runs, aperiodic so the tail has real
    // 8-gram variety (a periodic tail can dodge every cut)
    val rnd = new scala.util.Random(42)
    val tail400 = (1 to 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val a = "common head " + tail400
    val b = "EDITED-PREFIX-OF-DIFFERENT-LENGTH " + tail400
    val chunks = Curation.cdcChunks(
        Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text",
        w = 8, maskBits = 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(3)).toSet).toMap
    val shared = chunks(1L).intersect(chunks(2L))
    // the 400-char shared tail at maskBits=4 (expected chunk ≈ 16 chars)
    // re-synchronizes after the edit: many identical chunk hashes survive
    assert(shared.size >= 5,
      s"only ${shared.size} shared chunk hashes after a prefix edit")
  }

  test("packShards: every row assigned, per-shard size spread bounded by " +
      "the largest item, assignment invariant under input partitioning") {
    val rnd = new scala.util.Random(5)
    // skewed sizes: a few giants + a long tail, the case hash sharding
    // loses on
    val rows = (1L to 500L).map(i =>
      (i, if (i <= 5) 5000L + rnd.nextInt(3000) else 10L + rnd.nextInt(200)))
    val df = rows.toDF("id", "sz")
    val packed = Curation.packShards(df, "id", "sz", 8)
    assert(packed.count() === 500)
    val totals = packed.groupBy("shard").agg(sum($"sz").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(totals.keySet === (0L to 7L).toSet, totals)
    val maxItem = rows.map(_._2).max
    assert(totals.values.max - totals.values.min <= maxItem,
      s"spread ${totals.values.max - totals.values.min} > largest item " +
        s"$maxItem: $totals")
    // the serpentine rank is a pure function of (size, id): physical
    // partitioning of the input must not move any row between shards
    val again = Curation.packShards(df.repartition(17), "id", "sz", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val first = packed.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again === first)
  }

  test("epochExpand: w copies per row, weight-0 rows leave the mixture, " +
      "ord is unique and deterministic") {
    import spark.implicits._
    val df = Seq((1L, 3), (2L, 1), (3L, 0)).toDF("doc_id", "w")
    val out = Curation.epochExpand(df, "doc_id", $"w")
      .select("doc_id", "epoch_idx", "ord").collect()
    val byDoc = out.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byDoc === Map(1L -> 3, 2L -> 1)) // doc 3 dropped
    assert(out.map(_.getString(2)).distinct.length === out.length,
      "ord keys must be unique")
    // deterministic: same expansion twice gives the same order keys
    val again = Curation.epochExpand(df, "doc_id", $"w")
      .select("ord").collect().map(_.getString(0)).sorted
    assert(again === out.map(_.getString(2)).sorted)
  }

  test("phraseSearch: consecutive-only matches, overlapping hits counted, " +
      "REPEATED phrase terms vote for every slot they occupy") {
    import spark.implicits._
    val df = Seq(
      (1L, "x table hash y table hash"), // two clean hits
      (2L, "table y hash"),              // both words, never adjacent
      (3L, "hash table"),                // reversed — no hit
      (4L, "go go go"),                  // repeated-term phrase fodder
      (5L, "go go")                      // exactly one "go go go"? no — too short
    ).toDF("doc_id", "text")
    val bi = Curation.phraseSearch(df, "doc_id", "text",
        Seq("table", "hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(bi === Array((1L, 2L, 2L)), bi.mkString(","))
    // repeated term: "go go go" contains "go go go" once ("go go" twice)
    val tri = Curation.phraseSearch(df, "doc_id", "text",
        Seq("go", "go", "go"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(tri === Array((4L, 1L, 1L)), tri.mkString(","))
    val dup = Curation.phraseSearch(df, "doc_id", "text", Seq("go", "go"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(dup === Array((4L, 2L, 1L), (5L, 1L, 1L)), dup.mkString(","))
  }

  test("TextIndex: stored-postings BM25 equals the from-scratch path " +
      "row-for-row, and a second buildIfAbsent skips the corpus pass") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = "/tmp/graft_text_index_spec"
    // force a clean build for the spec (defaultDir is fingerprint-guarded)
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    graft.operators.TextIndex.buildIfAbsent(docs, "doc_id", "text", dir,
      corpusTag = "spec")
    val terms = Seq("spark", "dup", "window", "merge")
    val stored = graft.operators.TextIndex
      .serveBm25(spark, dir, "doc_id", terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val scratch = Curation.bm25TopK(docs, "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stored === scratch)
    // idempotence: the meta fingerprint short-circuits the second build
    val mtime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "_graft_index_meta.json"))
    graft.operators.TextIndex.buildIfAbsent(docs, "doc_id", "text", dir,
      corpusTag = "spec")
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "_graft_index_meta.json")) === mtime)
  }

  test("TextIndex.mergeBatch: df counters exact for terms only-in-stored, " +
      "only-in-batch, and in-both; stats accumulate; old tf/dl untouched") {
    import spark.implicits._
    val dir = "/tmp/graft_text_index_merge_spec"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val base = Seq((1L, "alpha beta"), (2L, "alpha gamma gamma"))
      .toDF("doc_id", "text")
    val batch = Seq((3L, "beta beta delta")).toDF("doc_id", "text")
    graft.operators.TextIndex.build(base, "doc_id", "text", dir)
    graft.operators.TextIndex.mergeBatch(spark, batch, "doc_id", "text", dir)
    val post = spark.read.parquet(
        graft.operators.TextIndex.postingsPath(dir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2))
    assert(post === Array(
      ("alpha", 1L, 1L, 2L, 2L),   // only-in-stored: df unchanged
      ("alpha", 2L, 1L, 3L, 2L),
      ("beta", 1L, 1L, 2L, 2L),    // in-both: stored row df bumped 1→2
      ("beta", 3L, 2L, 3L, 2L),    // batch row sees stored df too
      ("delta", 3L, 1L, 3L, 1L),   // only-in-batch
      ("gamma", 2L, 2L, 3L, 1L)
    ), post.mkString("\n"))
    val st = spark.read.parquet(graft.operators.TextIndex.statsPath(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(st === Array((8L, 3L))) // L: 2+3+3, N: 2+1
  }

  test("TextIndex.removeDocs: rows anti-joined out, df decremented, " +
      "fully-forgotten terms vanish, stats shrink, replay is a no-op") {
    import spark.implicits._
    val dir = "/tmp/graft_text_index_remove_spec"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val base = Seq((1L, "alpha beta"), (2L, "alpha gamma gamma"),
      (3L, "beta beta delta")).toDF("doc_id", "text")
    graft.operators.TextIndex.build(base, "doc_id", "text", dir)
    graft.operators.TextIndex.removeDocs(spark,
      Seq(3L, 99L).toDF("doc_id"), "doc_id", dir, epoch = 1L)
    def post() = spark.read.parquet(
        graft.operators.TextIndex.postingsPath(dir))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2))
    val got = post()
    assert(got === Array(
      ("alpha", 1L, 1L, 2L, 2L),  // untouched term: df intact
      ("alpha", 2L, 1L, 3L, 2L),
      ("beta", 1L, 1L, 2L, 1L),   // doc 3 forgotten: df 2→1
      ("gamma", 2L, 2L, 3L, 1L)   // delta vanished with its only doc
    ), got.mkString("\n"))
    val st = spark.read.parquet(graft.operators.TextIndex.statsPath(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(st === Array((5L, 2L))) // L: 8−3, N: 3−1 (id 99 a no-op)
    // replayed epoch must not touch state
    graft.operators.TextIndex.removeDocs(spark,
      Seq(1L).toDF("doc_id"), "doc_id", dir, epoch = 1L)
    assert(post() === got, "replayed epoch altered the index")
  }

  test("TextIndex positional: stored-positions phrase search equals the " +
      "from-scratch path; append-merge ≡ one-pass build; replayed " +
      "epochs are no-ops") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = "/tmp/graft_text_pos_spec"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val phrase = Seq("table", "hash")
    def asTuples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
    // append ∘ build == build on the union, byte-for-byte results
    graft.operators.TextIndex.buildPositional(
      docs.filter($"doc_id" % 10 =!= 0), "doc_id", "text", dir)
    graft.operators.TextIndex.mergePositionalBatch(spark,
      docs.filter($"doc_id" % 10 === 0), "doc_id", "text", dir, epoch = 1L)
    val served = asTuples(graft.operators.TextIndex.servePhrase(
      spark, dir, "doc_id", phrase))
    val scratch = asTuples(Curation.phraseSearch(
      docs, "doc_id", "text", phrase))
    assert(served === scratch)
    assert(served.nonEmpty)
    // a replayed epoch must not double-append (doubled rows would double
    // n_hits through the anchor votes)
    graft.operators.TextIndex.mergePositionalBatch(spark,
      docs.filter($"doc_id" % 10 === 0), "doc_id", "text", dir, epoch = 1L)
    assert(asTuples(graft.operators.TextIndex.servePhrase(
      spark, dir, "doc_id", phrase)) === scratch)
  }

  test("LmIndex: stored-model scoring equals the in-query path; " +
      "merge ∘ build ≡ build on the union; replayed epochs no-op") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = "/tmp/graft_lm_spec"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val train = docs.filter($"doc_id" % 10 =!= 0)
    val probe = docs.filter($"doc_id" % 10 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    graft.operators.LmIndex.build(
      train.filter($"doc_id" % 5 =!= 4), "doc_id", "text", dir)
    graft.operators.LmIndex.mergeBatch(spark,
      train.filter($"doc_id" % 5 === 4), "doc_id", "text", dir,
      epoch = 1L)
    val served = rows(graft.operators.LmIndex.serve(
      spark, probe, "doc_id", "text", dir))
    val scratch = rows(graft.operators.Curation.bigramLmScore(
      train, probe, "doc_id", "text"))
    assert(served === scratch)
    assert(served.nonEmpty)
    // replayed epoch: counts must not double (doubling c2 AND c1 would
    // cancel in most ratios — the truncated div makes it visible, and
    // the stored row count would still change; check both)
    val nRows = spark.read.parquet(
      graft.operators.LmIndex.modelPath(dir)).count()
    graft.operators.LmIndex.mergeBatch(spark,
      train.filter($"doc_id" % 5 === 4), "doc_id", "text", dir,
      epoch = 1L)
    assert(spark.read.parquet(
      graft.operators.LmIndex.modelPath(dir)).count() === nRows)
    assert(rows(graft.operators.LmIndex.serve(
      spark, probe, "doc_id", "text", dir)) === scratch)
  }

  test("trigramLmScore: hand-computed stupid backoff — seen trigram, " +
      "bigram backoff, unigram backoff, never-seen word, short docs " +
      "absent") {
    import spark.implicits._
    // train counts: trigrams {a b c:2, b c d:1, c d a:1}; derived
    // marginals: c12(a,b)=2, c12(b,c)=1, c12(c,d)=1; c23(b,c)=2,
    // c23(c,d)=1, c23(d,a)=1; c2(b)=2, c2(c)=1, c2(d)=1; unigrams
    // c3u(c)=2, c3u(d)=1, c3u(a)=1, N=4
    val train = Seq(
      (1L, "a b c d a"),  // trigrams: abc, bcd, cda
      (2L, "a b c")       // trigram: abc
    ).toDF("doc_id", "text")
    val probe = Seq(
      (10L, "a b c"),     // seen trigram: s3 = 1e6*2 div 2 = 1000000
      (11L, "x b c"),     // unseen tri, bigram backoff (b,c):
                          //   s2 = 400000*2 div 2 = 400000
      (12L, "x y c"),     // unigram backoff on c: 160000*2 div 4 = 80000
      (13L, "x y z"),     // never seen anywhere: 0
      (14L, "a b")        // < 3 tokens: absent
    ).toDF("doc_id", "text")
    val got = graft.operators.Curation.trigramLmScore(
        train, probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    assert(got === Seq(
      (10L, 1L, 1L, 0L, 0L, 1000000L),
      (11L, 1L, 0L, 1L, 0L, 400000L),
      (12L, 1L, 0L, 0L, 1L, 80000L),
      (13L, 1L, 0L, 0L, 0L, 0L)))
  }

  test("knTrigramScore: hand-worked interpolated Kneser-Ney — seen " +
      "trigram, context-only backoff, unseen-context fallback, and " +
      "the distribution property (sum over the vocab ≈ 1e6, " +
      "truncation-tight)") {
    import spark.implicits._
    // model trigrams: abc:2, bcd:1, cda:1 → hand-derived (see q342):
    // p(c|a,b)=812499, p(a|a,b)=p(d|a,b)=93749, p(b|a,b)=0;
    // unseen context z z → full fallback to p1: p(c|z,z)=333333
    val train = Seq((1L, "a b c d a"), (2L, "a b c"))
      .toDF("doc_id", "text")
    val probe = Seq((10L, "a b c"), (11L, "a b a"), (12L, "a b d"),
      (13L, "a b b"), (14L, "z z c")).toDF("doc_id", "text")
    val got = graft.operators.Curation.knTrigramScore(
        train, probe, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(10L -> 812499L, 11L -> 93749L, 12L -> 93749L,
      13L -> 0L, 14L -> 333333L))
    // distribution: the four vocab continuations of context (a,b) sum
    // to 1e6 minus accumulated truncation (< 1 per division chain)
    val mass = Seq(10L, 11L, 12L, 13L).map(got).sum
    assert(mass <= 1000000L && mass >= 1000000L - 8L,
      s"KN mass over the vocab drifted: $mass")
  }

  test("LmIndex trigram tier: stored-model scoring equals the " +
      "in-query path; merge ∘ build ≡ build on the union; replayed " +
      "epochs no-op") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = "/tmp/graft_lm3_spec"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    val train = docs.filter($"doc_id" % 10 =!= 0)
    val probe = docs.filter($"doc_id" % 10 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
        .sortBy(_._1).toSeq
    graft.operators.LmIndex.buildTrigram(
      train.filter($"doc_id" % 5 =!= 4), "doc_id", "text", dir)
    graft.operators.LmIndex.mergeTrigramBatch(spark,
      train.filter($"doc_id" % 5 === 4), "doc_id", "text", dir,
      epoch = 1L)
    val served = rows(graft.operators.LmIndex.serveTrigram(
      spark, probe, "doc_id", "text", dir))
    val scratch = rows(graft.operators.Curation.trigramLmScore(
      train, probe, "doc_id", "text"))
    assert(served === scratch)
    assert(served.nonEmpty)
    val nRows = spark.read.parquet(
      graft.operators.LmIndex.trigramPath(dir)).count()
    graft.operators.LmIndex.mergeTrigramBatch(spark,
      train.filter($"doc_id" % 5 === 4), "doc_id", "text", dir,
      epoch = 1L)
    assert(spark.read.parquet(
      graft.operators.LmIndex.trigramPath(dir)).count() === nRows)
    assert(rows(graft.operators.LmIndex.serveTrigram(
      spark, probe, "doc_id", "text", dir)) === scratch)
  }

  test("LmIndex trigram forget: decremental removal equals a " +
      "remaining-only rebuild code-for-code; replays no-op; " +
      "over-removal fails loudly instead of persisting a corrupt model") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files
      .createTempDirectory("lm3_forget").toString
    val train = docs.filter($"doc_id" % 10 =!= 0)
    val probe = docs.filter($"doc_id" % 10 === 0)
    graft.operators.LmIndex.buildTrigram(train, "doc_id", "text", dir)
    graft.operators.LmIndex.removeTrigramBatch(spark,
      train.filter($"doc_id" % 5 === 4), "doc_id", "text", dir,
      epoch = 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(graft.operators.LmIndex.serveTrigram(spark, probe,
        "doc_id", "text", dir)) ===
      rows(graft.operators.Curation.trigramLmScore(
        train.filter($"doc_id" % 5 =!= 4), probe, "doc_id", "text")),
      "forget must equal the remaining-only rebuild")
    // replayed removal epoch: state untouched
    val before = graft.operators.Generation.current(dir)
    graft.operators.LmIndex.removeTrigramBatch(spark,
      train.filter($"doc_id" % 5 === 4), "doc_id", "text", dir,
      epoch = 1L)
    assert(graft.operators.Generation.current(dir) === before)
    // over-removal: subtracting more copies than the model holds
    val tiny = java.nio.file.Files
      .createTempDirectory("lm3_guard").toString
    graft.operators.LmIndex.buildTrigram(
      Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text", tiny)
    graft.operators.LmIndex.removeTrigramBatch(spark,
      Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text", tiny)
    intercept[IllegalArgumentException] {
      graft.operators.LmIndex.removeTrigramBatch(spark,
        Seq((2L, "a b c"), (5L, "a b c")).toDF("doc_id", "text"),
        "doc_id", "text", tiny)
    }
  }

  test("LineIndex forget: decremental doc-count removal equals a " +
      "remaining-only rebuild; replays no-op; over-removal guarded") {
    import spark.implicits._
    import graft.operators.LineIndex
    val all4 = Seq((1L, "alpha\nboiler"), (2L, "beta\nboiler"),
      (3L, "gamma\nboiler"), (4L, "delta\nboiler"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("li_forget").toString
    LineIndex.build(all4, "doc_id", "text", dir)
    LineIndex.removeBatch(spark,
      all4.filter($"doc_id" <= 2), "doc_id", "text", dir, epoch = 1L)
    def freq(d: String) = LineIndex.storedFreq(spark, d)
      .collect().map(_.toString).sorted.toSeq
    val scratch = java.nio.file.Files
      .createTempDirectory("li_forget_s").toString
    LineIndex.build(all4.filter($"doc_id" > 2), "doc_id", "text",
      scratch)
    assert(freq(dir) === freq(scratch),
      "forget must equal the remaining-only rebuild")
    val before = graft.operators.Generation.current(dir)
    LineIndex.removeBatch(spark, all4.filter($"doc_id" <= 2),
      "doc_id", "text", dir, epoch = 1L)
    assert(graft.operators.Generation.current(dir) === before)
    intercept[IllegalArgumentException] {
      LineIndex.removeBatch(spark, all4, "doc_id", "text", dir)
    }
  }

  test("curationExplain: verdicts partition the corpus and their " +
      "totals equal the funnel's stage deltas exactly") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val verdicts = Curation.curationExplain(docs)
      .groupBy($"verdict").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    val f = Curation.curationFunnel(docs)
      .agg(sum($"n_raw"), sum($"n_quality"), sum($"n_unique"),
        sum($"n_neardup"), sum($"n_train"), sum($"n_clean"),
        sum($"n_budget"))
      .collect().head
    val Seq(raw, q, u, sv, tr, cl, b) =
      (0 to 6).map(f.getLong)
    assert(verdicts.values.sum === raw, verdicts)
    assert(verdicts("quality") === raw - q, verdicts)
    assert(verdicts("duplicate") === q - u, verdicts)
    assert(verdicts("near_dup") === u - sv, verdicts)
    assert(verdicts("test_split") === sv - tr, verdicts)
    assert(verdicts("leaky") === tr - cl, verdicts)
    assert(verdicts("over_budget") === cl - b, verdicts)
    assert(verdicts("kept") === b, verdicts)
  }

  test("TokenizerIndex: stored-rule encoding ≡ train-and-encode on the " +
      "training corpus; the shipped artifact encodes UNSEEN words by " +
      "the same greedy run-parity; rebuilds are fingerprint-skipped") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tok_spec").toString
    graft.operators.TokenizerIndex.buildIfAbsent(docs, "text",
      rounds = 2, dir = dir, corpusTag = "spec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val served = rows(graft.operators.TokenizerIndex.serve(
      spark, docs, "doc_id", "text", dir))
    val scratch = rows(Curation.bpeTokenCounts(docs, "doc_id", "text",
      rounds = 2))
    assert(served.nonEmpty && (served.toSeq === scratch.toSeq))
    // fingerprint: a second build invocation must not retrain
    val mtime = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "_graft_index_meta.json"))
    graft.operators.TokenizerIndex.buildIfAbsent(docs, "text",
      rounds = 2, dir = dir, corpusTag = "spec")
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(dir, "_graft_index_meta.json")) === mtime)
    // hand case on a fresh artifact: rules (a,a) then (a,b); the unseen
    // corpus "aab aaa b" encodes 2 + 2 + 1 = 5 tokens
    val d2 = java.nio.file.Files
      .createTempDirectory("graft_tok_hand").toString
    graft.operators.TokenizerIndex.build(
      Seq("aa aa ab").toDF("text"), "text", rounds = 2, dir = d2)
    val enc = graft.operators.TokenizerIndex.serve(spark,
        Seq((7L, "aab aaa b")).toDF("id", "text"), "id", "text", d2)
      .collect().head
    assert((enc.getLong(0), enc.getLong(1)) === ((7L, 5L)))
  }

  test("bm25TopK: a doc repeating a rare term outranks stopword-heavy " +
      "docs, and scores are reproducible across partitionings") {
    import spark.implicits._
    val df = Seq(
      (1L, "rare rare rare common"),
      (2L, "common common common common common common"),
      (3L, "rare common filler filler"),
      (4L, "filler filler filler filler")
    ).toDF("doc_id", "text")
    val r = Curation.bm25TopK(df, "doc_id", "text",
        Seq("rare", "common"), 4)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.head._1 === 1L, r.mkString(","))     // tf-boosted rare term wins
    assert(r.map(_._1).take(2).contains(3L), r.mkString(",")) // rare beats pure-common
    val again = Curation.bm25TopK(df.repartition(7), "doc_id", "text",
        Seq("rare", "common"), 4)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(again === r, "scores must be partition-independent")
  }

  // ---- temporalSplit / leaveLastOut ----

  test("temporalSplit: embargo band excluded from both sides, " +
      "boundaries are train-exclusive / test-inclusive") {
    val df = Seq(89L, 90L, 95L, 99L, 100L, 150L).toDF("us")
    val got = Curation.temporalSplit(df, "us", cutoffUs = 100L,
        embargoUs = 10L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(89L) == "train")   // < cutoff - embargo
    assert(got(90L) == "embargo") // exactly at cutoff - embargo
    assert(got(95L) == "embargo")
    assert(got(99L) == "embargo")
    assert(got(100L) == "test")   // exactly at cutoff
    assert(got(150L) == "test")
  }

  test("leaveLastOut: latest per key is test (ties by id), singleton " +
      "keys contribute test-only") {
    val df = Seq((1L, 10L, 100L), (1L, 20L, 101L), (1L, 20L, 102L),
      (2L, 5L, 103L)).toDF("k", "ts", "id")
    val got = Curation.leaveLastOut(df, "k", "ts", "id")
      .collect().map(r => r.getLong(2) -> r.getString(3)).toMap
    assert(got(102L) == "test")  // ts tie 20 -> larger id wins
    assert(got(101L) == "train")
    assert(got(100L) == "train")
    assert(got(103L) == "test")  // singleton user: test, no train rows
  }

  // ---- balancedSample ----

  test("balancedSample: big classes capped exactly, small classes pass " +
      "whole, membership invariant under partitioning and under other " +
      "classes' growth") {
    val df = ((1L to 100L).map(i => ("big", i)) ++
      (201L to 210L).map(i => ("small", i))).toDF("c", "id")
    def kept(d: org.apache.spark.sql.DataFrame) = Curation
      .balancedSample(d, "c", "id", cap = 20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = kept(df)
    assert(got.count(_._1 == "big") == 20)
    assert(got.count(_._1 == "small") == 10)
    assert(kept(df.repartition(7)) == got)
    // growing the OTHER class must not change big's survivors
    val grown = df.unionByName(
      (300L to 350L).map(i => ("small", i)).toDF("c", "id"))
    assert(kept(grown).filter(_._1 == "big") == got.filter(_._1 == "big"))
  }

  // ---- curationExport ----

  test("curationExport: manifest mass equals the funnel's budget stage, " +
      "shards are total and partition-invariant") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val manifest = Curation.curationExport(docs, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(manifest.forall(m => m._1 >= 0 && m._1 < 4))
    val funnel = Curation.curationFunnel(docs).collect()
      .map(_.getAs[Long]("n_budget")).sum
    assert(manifest.map(_._2).sum == funnel,
      "manifest doc mass must equal the funnel budget stage")
    val again = Curation.curationExport(docs.repartition(7), shards = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == manifest.toSeq,
      "manifest (incl. digests) must be partition-invariant")
  }

  // ---- spellCorrect (SymSpell symmetric deletes) ----

  test("spellCorrect: substitution/insertion/deletion/identity all " +
      "resolve; frequency breaks ambiguity; distance-2 words are " +
      "rejected despite shared delete forms") {
    val vocab = Seq(("hello", 100L), ("help", 80L), ("hell", 10L),
      ("world", 50L), ("word", 60L), ("ab", 5L), ("ac", 7L))
      .toDF("w", "freq")
    val qs = Seq(
      "hallo",  // substitution → hello
      "helloo", // insertion → hello
      "hllo",   // deletion → hello
      "help",   // identity (exact vocab word)
      "word",   // identity beats neighbors despite shared forms
      "a",      // delete form of both ab and ac → freq argmax ac
      "zzz"     // no candidate at distance ≤1 → absent from output
    ).toDF("q")
    val got = Curation.spellCorrect(vocab, "w", "freq", qs, "q")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("hallo")._1 == "hello")
    assert(got("helloo")._1 == "hello")
    assert(got("hllo")._1 == "hello")
    assert(got("help")._1 == "help")
    assert(got("word")._1 == "word")
    assert(got("a") == (("ac", 7L, 2L))) // both candidates, freq wins
    assert(!got.contains("zzz"))
    // "hllo" shares the delete form "hll" with "hell", but
    // lev(hllo, hell) = 2 — the levenshtein verify must reject it, so
    // hello is the ONLY candidate
    assert(got("hllo")._3 == 1L,
      s"unexpected candidate count: ${got("hllo")}")
  }

  // ---- prioritySample (weighted sampling without replacement) ----

  test("prioritySample: exactly k rows, est_weight = max(w, τ), every " +
      "kept priority above τ, invariant under partitioning") {
    val df = (1L to 500L).map(i => (i, (i % 37) + 1)).toDF("id", "w")
    val got = Curation.prioritySample(df, "id", "w", k = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(got.length == 100)
    val tau = got.head._4
    assert(got.forall(_._4 == tau), "τ is a single broadcast scalar")
    assert(tau > 0.0)
    assert(got.forall { case (_, w, pri, t, est) =>
      pri > t && est == math.max(w, t) })
    val again = Curation.prioritySample(df.repartition(7), "id", "w", 100)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(again === got, "the sample is a pure function of the row set")
  }

  test("prioritySample: subset-sum estimator lands near the true total " +
      "weight on this deterministic draw") {
    val df = (1L to 2000L).map(i => (i, (i % 97) + 1)).toDF("id", "w")
    val trueTotal = (1L to 2000L).map(i => (i % 97) + 1).sum.toDouble
    val est = Curation.prioritySample(df, "id", "w", k = 400)
      .agg(sum(col("est_weight"))).collect().head.getDouble(0)
    assert(math.abs(est - trueTotal) / trueTotal < 0.15,
      s"estimate $est vs true $trueTotal")
  }

  test("curationFunnel: stage counts are monotone non-increasing, the " +
      "budget cap holds per source, and the funnel is partition-invariant") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Curation.curationFunnel(docs).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val seq = Seq("n_raw", "n_quality", "n_unique", "n_neardup",
        "n_train", "n_clean", "n_budget").map(c => r.getAs[Long](c))
      assert(seq.sliding(2).forall(w => w(0) >= w(1)),
        s"non-monotone funnel for ${r.getString(0)}: $seq")
      assert(r.getAs[Long]("chars_budget") <= 500L,
        s"budget cap violated for ${r.getString(0)}")
    }
    val again = Curation.curationFunnel(docs.repartition(7)).collect()
    assert(again.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq,
      "funnel counts must not depend on partitioning")
  }

  test("prioritySample: population ≤ k ships every row with τ=0 and " +
      "est_weight = w") {
    val df = Seq((1L, 5L), (2L, 9L), (3L, 1L)).toDF("id", "w")
    val got = Curation.prioritySample(df, "id", "w", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(3),
        r.getDouble(4))).sortBy(_._1)
    assert(got.length == 3)
    assert(got.forall { case (_, w, tau, est) => tau == 0.0 && est == w })
  }

  test("extractText: a template page loses everything, a content page " +
      "keeps exactly its prose with entities decoded and script gone") {
    val template = "<html><head><style>a{x:1}</style>" +
      "<script>if(a<b){track();}</script></head><body>" +
      "<div><a href=\"/\">home</a> | <a href=\"/a\">about us</a> | " +
      "<a href=\"/c\">contact page</a></div>" +
      "<ul><li><a href=\"/p1\">first product page</a></li>" +
      "<li><a href=\"/p2\">second product page</a></li></ul>" +
      "<div>ok</div></body></html>"
    val content = "<html><body><div><a href=\"/\">home</a> | " +
      "<a href=\"/a\">about</a> | <a href=\"/c\">contact</a></div>" +
      "<h1>Why the merge   was slow</h1>" +
      "<p>The shuffle wrote &quot;ninety&quot; gigabytes &amp; the " +
      "join spilled to disk before the fix.</p>" +
      "<p>See the <a href=\"/doc\">tuning guide</a> for the full " +
      "partitioning story and the broadcast threshold details.</p>" +
      "</body></html>"
    val out = Curation.extractText(
      Seq((1L, template), (2L, content)).toDF("id", "html"), "id", "html")
      .orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // template: nav + two product-link lines die by link density, "ok"
    // dies by min-words/min-chars, script/style content never surfaces
    assert(out(0) === ((1L, "", 0L, 4L)))
    // content: h1 (ws collapsed), prose with decoded entities, and the
    // mixed prose+link line (link density below the gate) survive; only
    // the nav bar is dropped
    assert(out(1)._2 ===
      "Why the merge was slow\n" +
        "The shuffle wrote \"ninety\" gigabytes & the join spilled to " +
        "disk before the fix.\n" +
        "See the tuning guide for the full partitioning story and the " +
        "broadcast threshold details.")
    assert(out(1)._3 === 3L && out(1)._4 === 1L)
    assert(!out.exists(_._2.contains("track")))
  }

  test("parseUrl: fields extracted exactly; malformed URLs yield empty " +
      "strings and zero depth, never nulls") {
    val df = Seq(
      (1L, "https://a.b.example.com/en/p/doc1"),
      (2L, "http://example.de"),
      (3L, "not a url at all"),
      (4L, "ftp://x.example.org/")
    ).toDF("id", "url")
    val p = Curation.parseUrl(df, "url").orderBy($"id")
      .select("scheme", "host", "domain", "tld", "path", "path_depth",
        "is_https")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getLong(5), r.getBoolean(6)))
    assert(p(0) === (("https", "a.b.example.com", "example.com", "com",
      "/en/p/doc1", 3L, true)))
    assert(p(1) === (("http", "example.de", "example.de", "de", "", 0L,
      false)))
    assert(p(2) === (("", "", "", "", "", 0L, false)))
    assert(p(3) === (("ftp", "x.example.org", "example.org", "org", "/",
      1L, false)))
  }

  test("domainGate: blocking a domain blocks its subdomains by label " +
      "boundary — sibling hosts sharing a substring do NOT match") {
    val df = Seq(
      (1L, "spam.example"), (2L, "cdn.spam.example"),
      (3L, "notspam.example"),        // substring, not a subdomain
      (4L, "spam.example.org"),       // different registrable domain
      (5L, "ok.example")
    ).toDF("id", "host")
    val got = Curation.domainGate(df, "host", Seq("spam.example"))
      .orderBy($"id").select("blocked").collect().map(_.getBoolean(0))
    assert(got.toSeq === Seq(true, true, false, false, false))
  }

  test("bigramLmScore: hand-computed conditionals, OOV bigrams score " +
      "zero, short docs are absent") {
    // train bigram counts: (a,b)=3, (b,a)=1, (a,c)=1, (b,b)=1;
    // contexts: c(a,.)=4, c(b,.)=2 -> p(b|a)=750000, p(c|a)=250000,
    // p(a|b)=p(b|b)=500000
    val train = Seq((1L, "a b"), (2L, "a b"), (3L, "a b a c"),
      (4L, "b b")).toDF("doc_id", "text")
    // probe: known bigrams, one OOV bigram ("c a"), one single token
    val probe = Seq(
      (10L, "a b b"),    // (a b)=750000, (b b)=500000 -> mean 625000
      (11L, "c a c"),    // (c a)=OOV 0, (a c)=250000  -> mean 125000
      (12L, "z")         // no bigrams: absent
    ).toDF("doc_id", "text")
    val got = Curation.bigramLmScore(train, probe, "doc_id", "text")
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((10L, 2L, 625000L), (11L, 2L, 125000L)))
    // "a b a c" contributes the interior (b a) bigram too: check p(a|b)
    // leaked nowhere — probe "b a" scores c(b a)=1 over c(b .)=2
    val ba = Curation.bigramLmScore(train,
        Seq((13L, "b a")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert((ba.getLong(1), ba.getLong(2)) === ((1L, 500000L)))
  }

  test("dedupCorpusLines: a line repeated across more than maxDocs " +
      "documents vanishes everywhere, order survives, all-boilerplate " +
      "docs become empty") {
    val boiler = "accept cookies to continue"
    val df = Seq(
      (1L, s"alpha body one\n$boiler\nomega tail one"),
      (2L, s"$boiler\nbeta body two"),
      (3L, s"gamma body three\n$boiler"),
      (4L, boiler),               // nothing but boilerplate
      (5L, "")                    // no lines at all: absent from output
    ).toDF("id", "text")
    val got = Curation.dedupCorpusLines(df, "id", "text", maxDocs = 2L)
      .orderBy($"id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, "alpha body one\nomega tail one", 2L, 1L),
      (2L, "beta body two", 1L, 1L),
      (3L, "gamma body three", 1L, 1L),
      (4L, "", 0L, 1L)))
    // at maxDocs = 4 the same line is frequent-but-allowed: kept
    val loose = Curation.dedupCorpusLines(df, "id", "text", maxDocs = 4L)
      .filter($"id" === 4L).collect().head
    assert(loose.getString(1) === boiler)
  }

  test("extractText: <br> splits lines, gate thresholds are exact " +
      "boundaries, pure-markup lines are structure not boilerplate") {
    val page = "<p>one two three four five six seven</p>" +
      "<p>alpha beta gamma<br>x y</p><div></div><p>  </p>"
    val r = Curation.extractText(
        Seq((7L, page)).toDF("id", "html"), "id", "html",
        minWords = 3, minChars = 10)
      .collect().head
    // "alpha beta gamma" (16 chars, 3 words) passes both exact bounds;
    // "x y" fails; the empty div and blank p are not counted as dropped
    assert(r.getString(1) ===
      "one two three four five six seven\nalpha beta gamma")
    assert(r.getLong(2) === 2L && r.getLong(3) === 1L)
  }

  test("gopherRules: each rule binds on its own hand-built failure") {
    import spark.implicits._
    val good = "the and " + Seq.fill(58)("word").mkString(" ")
    val short = "the and tiny"
    val sym = good + " " + Seq.fill(7)("#").mkString(" ")
    val numeric = "the and " + Seq.fill(58)("12345").mkString(" ")
    val longw = "the and " + Seq.fill(58)("x" * 30).mkString(" ")
    val docs = Seq((1L, good), (2L, short), (3L, sym), (4L, numeric),
      (5L, longw)).toDF("doc_id", "text")
    val got = graft.operators.Curation
      .gopherRules(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(r.fieldIndex("pass_words")),
        r.getBoolean(r.fieldIndex("pass_word_len")),
        r.getBoolean(r.fieldIndex("pass_symbols")),
        r.getBoolean(r.fieldIndex("pass_alpha")),
        r.getBoolean(r.fieldIndex("pass_stopwords")),
        r.getBoolean(r.fieldIndex("pass_all")))))
      .toMap
    assert(got(1L) === ((true, true, true, true, true, true)), "good")
    assert(got(2L)._1 === false, "short doc fails word count")
    assert(got(3L) === ((true, true, false, true, true, false)), "symbols")
    assert(got(4L) === ((true, true, true, false, true, false)), "alpha")
    assert(got(5L) === ((true, false, true, true, true, false)), "wordlen")
  }

  test("withEquiBuckets: populations differ by at most 1, buckets " +
      "follow the order, ties split by the tiebreak") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 10 rows over 4 buckets -> sizes 3,2,3,2 (rank*4 div 10);
    // heavy ties on v exercise the deterministic tiebreak
    val df = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 1L), (5L, 1L),
      (6L, 9L), (7L, 9L), (8L, 2L), (9L, 7L), (10L, 5L)).toDF("id", "v")
    val got = Curation.withEquiBuckets(df,
        Seq(col("v").asc, col("id").asc), 4, "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expectedOrder = Seq((4L, 1L), (5L, 1L), (8L, 2L), (1L, 5L),
      (2L, 5L), (3L, 5L), (10L, 5L), (9L, 7L), (6L, 9L), (7L, 9L))
    val byId = got.map(r => (r._1, r._2) -> r._3).toMap
    val bins = expectedOrder.zipWithIndex.map { case (k, rk) =>
      val want = rk * 4 / 10
      assert(byId(k) === want.toLong, s"row $k at rank $rk")
      want
    }
    val sizes = bins.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes === Map(0 -> 3, 1 -> 2, 2 -> 3, 3 -> 2))
  }

  test("repetitionSignals: dup-line ppm, top-ngram ppm, ties, and " +
      "degenerate docs match hand arithmetic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b\na b\na b\nc d"), // template page: repeated lines
      (2L, "one two three four five six"), // unique words, one line
      (3L, "hello"), // single word: no n-grams
      (4L, "")) // empty
      .toDF("doc_id", "text")
    val got = Curation.repetitionSignals(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    // doc 1: 4 lines, 2 distinct -> dup 2/4; chars 12 vs 6 dup;
    // words a b a b a b c d (8 chars): top 2-gram "a b" x3 (glen 2)
    // -> 750000; 3-grams "a b a" x2 ties "b a b" x2, lexicographic
    // first wins -> 2*3/8 = 750000; fails the gate
    assert(got(1L) === ((4L, 500000L, 500000L, 750000L, 750000L, false)))
    // doc 2: all grams count 1, tie -> lexicographically first
    // ("five six", 7 chars of 22) = 318181 ppm
    assert(got(2L)._1 === 1L)
    assert(got(2L)._2 === 0L)
    assert(got(2L)._4 === 318181L)
    // doc 3: no 2-grams -> zero gram signals, passes
    assert(got(3L) === ((1L, 0L, 0L, 0L, 0L, true)))
    // doc 4: empty -> all zeros, passes (nothing repeats)
    assert(got(4L) === ((0L, 0L, 0L, 0L, 0L, true)))
  }

  test("paddingWaste: hand-computed waste for both orderings; " +
      "sorted batches pad less") {
    import spark.implicits._
    // token counts by doc_id order: 5, 3, 9, 2, 7; batches of 2
    val df = Seq((1L, 5L), (2L, 3L), (3L, 9L), (4L, 2L), (5L, 7L))
      .toDF("doc_id", "n_tok")
    val got = Curation.paddingWaste(df, "doc_id", "n_tok", 2)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // sorted desc: [9,7] [5,3] [2] -> padded 18+10+2 = 30, sum 26,
    // waste = 1e6*4 div 30 = 133333
    assert(got("sorted_desc") === ((3L, 26L, 30L, 133333L)))
    // arrival: [5,3] [9,2] [7] -> padded 10+18+7 = 35, waste = 1e6*9 div 35
    assert(got("arrival") === ((3L, 26L, 35L, 257142L)))
    assert(got("sorted_desc")._4 < got("arrival")._4)
  }

  test("encodingAudit: each failure mode binds alone — U+FFFD, control " +
      "chars, mojibake density; clean and lightly-accented text passes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a perfectly clean document with words"),
      (2L, "truncated bytes here � and � again"),
      (3L, "binary junk\u0000embedded\u0007here"),
      (4L, "tabs\tand\nnewlines\rare fine"),
      (5L, "Ã©Ã¨Ã¤ â€œheavyâ€ mojibake"),
      (6L, "não é mojibake: real Portuguese text that is " +
        "long enough that one stray Ã marker stays under the " +
        "one percent density gate " + ("padding words " * 8)),
      (7L, ""))
      .toDF("doc_id", "text")
    val got = Curation.encodingAudit(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap

    // clean doc: all zero, passes
    assert(got(1L) === ((37L, 0L, 0L, 0L, 0L, true)))
    // U+FFFD counted exactly, fails on repl alone
    assert(got(2L)._2 === 2L && got(2L)._3 === 0L && !got(2L)._6)
    // NUL + BEL counted, fails on ctl alone
    assert(got(3L)._3 === 2L && got(3L)._2 === 0L && !got(3L)._6)
    // tab/newline/CR are NOT control failures
    assert(got(4L)._3 === 0L && got(4L)._6)
    // heavy mojibake: 3 'Ã' + 2 'â€' = 5 marks over a short string fails
    // the 1% density gate
    assert(got(5L)._4 === 5L && got(5L)._5 >= 10000L && !got(5L)._6)
    // one stray 'Ã' in long legitimate text stays under the gate
    assert(got(6L)._4 === 1L && got(6L)._5 < 10000L && got(6L)._6)
    // empty text: zero everything, passes (no division by zero)
    assert(got(7L) === ((0L, 0L, 0L, 0L, 0L, true)))
  }

  test("contextFitReport: hand-computed fit/truncation/loss at two " +
      "candidate lengths") {
    import spark.implicits._
    val df = Seq((1L, 5L), (2L, 10L), (3L, 20L)).toDF("doc_id", "n_tok")
    val got = Curation.contextFitReport(df, "doc_id", "n_tok",
      Seq(8L, 16L)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // L=8: only the 5-token doc fits; lost = 2 + 12 = 14 of 35 tokens
    assert(got(8L) === ((3L, 1L, 2L, 35L, 14L, 400000L)))
    // L=16: 5 and 10 fit; lost = 4; 1e6*4 div 35 = 114285
    assert(got(16L) === ((3L, 2L, 1L, 35L, 4L, 114285L)))
  }

  test("epochAdvisor: repeat factor, 4-epoch flag, effective/excess " +
      "split; zero-supply source is NULL-epochs but fully excess") {
    import spark.implicits._
    val df = Seq(("a", 10L, 50L), ("b", 100L, 200L), ("c", 0L, 5L))
      .toDF("source", "uniq", "wanted")
    val got = Curation.epochAdvisor(df, "source", "uniq", "wanted")
      .collect()
      .map(r => r.getString(0) -> ((
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getBoolean(4), r.getLong(5), r.getLong(6))))
      .toMap
    // a: 5 epochs — over the cap; 40 tokens carry value, 10 wasted
    assert(got("a") === ((5000000L, true, 40L, 10L)))
    // b: 2 epochs — under the cap, everything effective
    assert(got("b") === ((2000000L, false, 200L, 0L)))
    // c: no unique supply — epochs undefined, all 5 wanted tokens excess
    assert(got("c") === ((-1L, true, 0L, 5L)))
  }

  test("LineIndex lifecycle: stored serve == in-query dedupCorpusLines; " +
      "disjoint-batch merge == rebuild; replay no-op; unseen lines kept") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.operators.LineIndex
    val dir = Files.createTempDirectory("graft_lineidx").toString
    val a = Seq((1L, "keep1\nboiler"), (2L, "keep2\nboiler"))
      .toDF("doc_id", "text")
    LineIndex.build(a, "doc_id", "text", dir)

    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // built on A, served on A: equals the in-query operator
    assert(dump(LineIndex.serve(spark, a, "doc_id", "text", dir, 1L)) ===
      dump(Curation.dedupCorpusLines(a, "doc_id", "text", 1L)))

    // doc-disjoint merge equals a from-scratch rebuild of A ∪ B
    val b = Seq((3L, "keep3\nboiler")).toDF("doc_id", "text")
    LineIndex.mergeBatch(spark, b, "doc_id", "text", dir, epoch = 1L)
    val scratch = Files.createTempDirectory("graft_lineidx_s").toString
    LineIndex.build(a.unionByName(b), "doc_id", "text", scratch)
    assert(dump(LineIndex.storedFreq(spark, dir)) ===
      dump(LineIndex.storedFreq(spark, scratch)),
      "merged table must equal the rebuilt table")

    // replayed epoch: generation must not advance, table unchanged
    val genBefore = graft.operators.Generation.current(dir)._1
    LineIndex.mergeBatch(spark, b, "doc_id", "text", dir, epoch = 1L)
    assert(graft.operators.Generation.current(dir)._1 === genBefore,
      "replayed epoch must be a no-op")

    // serving fresh content: unseen line kept, stored boilerplate dropped
    val probe = Seq((9L, "fresh\nboiler")).toDF("doc_id", "text")
    val got = LineIndex.serve(spark, probe, "doc_id", "text", dir, 1L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((9L, "fresh", 1L, 1L)))
  }

  test("scriptMix: planted homoglyph trips the mixed flag, dominant " +
      "script classified per block, letterless doc reports 'none', " +
      "ties resolve by the documented priority order") {
    import spark.implicits._
    val cyrO = "о" // Cyrillic small o — the classic Latin homoglyph
    val docs = Seq(
      (1L, "plain latin words only"),
      // 19 Latin letters + 1 Cyrillic homoglyph = exactly 50000 ppm off
      (2L, "abcdefghij klmnopqrs" + cyrO),
      (3L, "你好世界 ok"),       // Han dominant, 2 latin
      (4L, "12345 .,!? 67890"),                   // no letters at all
      (5L, "abбв")                      // 2 latin vs 2 cyrillic tie
    ).toDF("doc_id", "text")
    val r = graft.operators.Curation.scriptMix(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap

    assert(r(1L).getAs[String]("dom_script") === "latin")
    assert(r(1L).getAs[Long]("dom_ppm") === 1000000L)
    assert(!r(1L).getAs[Boolean]("mixed"))

    assert(r(2L).getAs[Long]("n_latin") === 19L)
    assert(r(2L).getAs[Long]("n_cyrillic") === 1L)
    assert(r(2L).getAs[Long]("offscript_ppm") === 50000L)
    assert(r(2L).getAs[Boolean]("mixed"),
      "one homoglyph in 20 letters sits exactly at the 5% gate")

    assert(r(3L).getAs[String]("dom_script") === "han")
    assert(r(3L).getAs[Long]("n_han") === 4L)
    assert(r(3L).getAs[Long]("n_latin") === 2L)

    assert(r(4L).getAs[String]("dom_script") === "none")
    assert(r(4L).getAs[Long]("n_letter") === 0L)
    assert(r(4L).getAs[Long]("dom_ppm") === 0L)
    assert(!r(4L).getAs[Boolean]("mixed"))

    assert(r(5L).getAs[String]("dom_script") === "latin",
      "2-2 tie resolves latin-first by the documented CASE order")
    assert(r(5L).getAs[Long]("offscript_ppm") === 500000L)
  }

  test("readability: hand-computed FRE/FKG in milli-units, unterminated " +
      "text counts one sentence, wordless doc reads 'empty'") {
    import spark.implicits._
    val docs = Seq(
      // 6 words, 2 sentences, 6 vowel groups:
      // FRE = 206835 - 1015*3 - 84600*1 = 119190 (very_easy)
      // FKG = 390*3 + 11800*1 - 15590 = -2620
      (1L, "The cat sat. It ran fast!"),
      // no terminal punctuation: sentences floor to 1; 2 words,
      // 3 vowel groups: FRE = 206835 - 2030 - 126900 = 77905 (easy)
      (2L, "hello world"),
      (3L, "1234 --- 5678")
    ).toDF("doc_id", "text")
    val r = graft.operators.Curation.readability(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert((r(1L).getLong(1), r(1L).getLong(2), r(1L).getLong(3)) ===
      ((2L, 6L, 6L)))
    assert(r(1L).getLong(4) === 119190L)
    assert(r(1L).getLong(5) === -2620L)
    assert(r(1L).getString(6) === "very_easy")
    assert((r(2L).getLong(1), r(2L).getLong(4), r(2L).getString(6)) ===
      ((1L, 77905L, "easy")))
    assert((r(3L).getLong(2), r(3L).getLong(4), r(3L).getString(6)) ===
      ((0L, 0L, "empty")))
  }

  test("uniMaxAllocate: hand-traced water-fill — prefix saturates at " +
      "its cap, the rest split the level, remainder goes to the first " +
      "unsaturated source, over-budget grants everyone their cap") {
    import spark.implicits._
    // supplies 10/20/100, 2-epoch caps 20/40/200
    val sup = Seq(("a", 10L), ("b", 20L), ("c", 100L))
      .toDF("src", "supply")
    def run(budget: Long) = graft.operators.Curation
      .uniMaxAllocate(sup, "src", "supply", budget, 2000000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    // budget 90: a saturates (cap 20 ≤ level), b/c split 70 → 35 each
    val r90 = run(90L)
    assert(r90("a") === ((20L, 20L, 2000000L, true)))
    assert(r90("b") === ((40L, 35L, 1750000L, false)))
    assert(r90("c") === ((200L, 35L, 350000L, false)))
    assert(r90.values.toSeq.map(_._2).sum === 90L, "budget fully spent")
    // budget 91: the 1-token remainder goes to b (first unsaturated
    // in cap order), never c
    val r91 = run(91L)
    assert((r91("b")._2, r91("c")._2) === ((36L, 35L)))
    // budget over total cap: everyone gets exactly their cap
    val big = run(1000L)
    assert(big.values.toSeq.map(_._2).sum === 260L)
    assert(big.forall { case (_, (cap, g, _, sat)) => g === cap && sat })
  }

  test("luhnScan: the classic test PAN validates plain and separated, " +
      "a near-miss digit fails the checksum, short runs fail shape, " +
      "digitless docs report zeros") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay with 4111111111111111 today"),        // Luhn-valid
      (2L, "card 4111 1111 1111 1111 on file"),       // separated, valid
      (3L, "ref 4111111111111112 thanks"),            // checksum fails
      // 14-char run but only 12 digits once separators collapse:
      // candidate matched, shape fails
      (4L, "order 1234 5678 9012 shipped"),
      (5L, "no digits at all here")
    ).toDF("doc_id", "text")
    val r = graft.operators.Curation.luhnScan(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getBoolean(4))))
      .toMap
    assert(r(1L) === ((1L, 1L, 1L, true)))
    assert(r(2L) === ((1L, 1L, 1L, true)),
      "space-separated PAN collapses and validates")
    assert(r(3L) === ((1L, 1L, 0L, false)),
      "last-digit twiddle must fail the checksum")
    assert(r(4L) === ((1L, 0L, 0L, false)))
    assert(r(5L) === ((0L, 0L, 0L, false)))
  }

  test("shapleyCoverage: 1/k credit split hand-checked, duplicates " +
      "deduped, efficiency holds up to per-unit truncation") {
    import spark.implicits._
    // units: a∈{A,B}, b∈{A}, c∈{A,B,C}, d∈{C}; (A,a) duplicated
    val pairs = Seq(("a", "A"), ("a", "A"), ("a", "B"), ("b", "A"),
      ("c", "A"), ("c", "B"), ("c", "C"), ("d", "C"))
      .toDF("unit", "owner").repartition(3)
    val r = graft.operators.Curation
      .shapleyCoverage(pairs, "unit", "owner")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4),
          x.getLong(5)))).toMap
    assert(r("A") === ((3L, 1L, 750000L, 1833333L, 458333L)))
    assert(r("B") === ((2L, 0L, 500000L, 833333L, 208333L)))
    assert(r("C") === ((2L, 1L, 500000L, 1333333L, 333333L)))
    // efficiency: total credit = universe·1e6 minus one truncated
    // micro-unit per 3-owner unit
    assert(r.values.toSeq.map(_._4).sum === 4000000L - 1L)
  }

  test("redactPiiStrict: every detector class replaced; the detectors " +
      "find nothing in the output they found in the input") {
    import spark.implicits._
    import graft.operators.Curation
    val raw = Seq((1L,
      "mail a@b.com visit https://x.io/p?q=1 call 555-123-4567 " +
        "card 4111 1111 1111 1111 end")).toDF("doc_id", "text")
    val cleaned = raw.select($"doc_id",
      Curation.redactPiiStrict($"text").as("text"))
    val t = cleaned.collect().head.getString(1)
    assert(t === "mail <EMAIL> visit <URL> call <PHONE> card <PAN> end")
    // control: the Luhn audit fires on the raw text, is silent after
    val before = Curation.luhnScan(raw, "doc_id", "text")
      .collect().head.getLong(3)
    val after = Curation.luhnScan(cleaned, "doc_id", "text")
      .collect().head.getLong(3)
    assert((before, after) === ((1L, 0L)))
  }

  test("termBlocklistGate: case-insensitive exact-token hits, budget " +
      "boundary inclusive, token-less doc passes with zeros") {
    import spark.implicits._
    val docs = Seq(
      (1L, "slow dup slow ok"), // 3 hits of 4 tokens: over budget 2
      (2L, "fast data"),
      (3L, ""),
      (4L, "SLOW Dup"),          // exactly at the budget: passes
      (5L, "slowly dupx")        // substrings are NOT hits
    ).toDF("doc_id", "text")
    val r = graft.operators.Curation.termBlocklistGate(docs, "doc_id",
        "text", Seq("slow", "dup"), maxHits = 2L)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getBoolean(4))))
      .toMap
    assert(r(1L) === ((4L, 3L, 750000L, false)))
    assert(r(2L) === ((2L, 0L, 0L, true)))
    assert(r(3L) === ((0L, 0L, 0L, true)))
    assert(r(4L) === ((2L, 2L, 1000000L, true)))
    assert(r(5L) === ((2L, 0L, 0L, true)),
      "exact-token semantics: 'slowly' is not 'slow'")
  }
}
