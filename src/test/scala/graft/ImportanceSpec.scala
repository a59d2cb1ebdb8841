package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Importance

/** Hashed importance scoring (the DSIR shape, q280/q284): lambda table
  * and scores hand-computed under an injected length-mod bucketizer,
  * target-slice monotonicity, and the stored-model lifecycle (fingerprint
  * rebuild no-op; stored serve ≡ in-query model). */
class ImportanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 4 buckets by token length — hand-computable, unlike md5.
  private val lenBucket: Option[org.apache.spark.sql.Column =>
    org.apache.spark.sql.Column] = Some(c => (length(c) % 4).cast("long"))

  // doc 1 (en, target): "aa bb ccc"  → buckets: 2,2,3  (len%4)
  // doc 2 (de, raw):    "dddd ee"    → buckets: 0,2
  private def corpus = {
    import spark.implicits._
    Seq((1L, "aa bb ccc", "en"), (2L, "dddd ee", "de"))
      .toDF("doc_id", "text", "lang")
  }

  test("docBuckets counts tokens per (doc, bucket) under the injected bucketizer") {
    val tb = Importance.docBuckets(corpus, "doc_id", "text", 4,
      carryCols = Seq("lang"), bucketOf = lenBucket)
    val got = tb.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    // doc1: bucket2 ×2 (aa, bb), bucket3 ×1 (ccc); doc2: bucket0 ×1, bucket2 ×1
    assert(got === Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 0L, 1L), (2L, 2L, 1L)))
  }

  test("lambdaTable matches the hand-computed add-one estimator") {
    import spark.implicits._
    val tb = Importance.docBuckets(corpus, "doc_id", "text", 4,
      carryCols = Seq("lang"), bucketOf = lenBucket)
    val lam = Importance.lambdaTable(tb, $"lang" === "en", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // NT=3 (doc1's tokens), NR=5, B=4 → factor (NR+B)/(NT+B) on (ct+1)/(cr+1):
    // bucket0: ct=0, cr=1 → 1e6·1·9 div (2·7) = 642857
    // bucket2: ct=2, cr=3 → 1e6·3·9 div (4·7) = 964285
    // bucket3: ct=1, cr=1 → 1e6·2·9 div (2·7) = 1285714
    assert(lam === Map(0L -> 642857L, 2L -> 964285L, 3L -> 1285714L))
  }

  test("score is the per-token mean lambda; target doc outranks raw doc") {
    import spark.implicits._
    val tb = Importance.docBuckets(corpus, "doc_id", "text", 4,
      carryCols = Seq("lang"), bucketOf = lenBucket)
    val lam = Importance.lambdaTable(tb, $"lang" === "en", 4)
    val sc = Importance.score(tb, lam, "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: (2·964285 + 1·1285714) div 3 = 1071428; doc2: (642857+964285) div 2
    assert(sc(1L) === ((3L, 1071428L)))
    assert(sc(2L) === ((2L, 803571L)))
    assert(sc(1L)._2 > sc(2L)._2, "target-language doc must outrank")
  }

  test("stored lifecycle: build once, fingerprint no-op, serve ≡ in-query") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_imp_spec").toString
    val tb = Importance.docBuckets(corpus, "doc_id", "text", 4,
      carryCols = Seq("lang"), bucketOf = lenBucket)
    Importance.buildModelIfAbsent(tb, $"lang" === "en", 4, dir, "t1")
    val first = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(Importance.countsPath(dir)))
    // replayed build with the same tag must not touch the model
    Importance.buildModelIfAbsent(tb, $"lang" === "en", 4, dir, "t1")
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(Importance.countsPath(dir))) === first)
    val stored = Importance.storedLambda(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inQuery = Importance.lambdaTable(tb, $"lang" === "en", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored === inQuery)
  }

  test("removeBatch: decremental forget == remaining-only rebuild; " +
      "non-subset batch fails loudly; replayed epoch is a no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_imp_forget").toString
    val tb = Importance.docBuckets(corpus, "doc_id", "text", 4,
      carryCols = Seq("lang"), bucketOf = lenBucket)
      .localCheckpoint(true)
    Importance.buildModel(tb, $"lang" === "en", 4, dir)
    // forget doc 2 (the raw doc): its bucket counts subtract exactly
    Importance.removeBatch(spark, tb.filter($"doc_id" === 2L),
      $"lang" === "en", dir, epoch = 0L)
    val got = Importance.storedLambda(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuilt = Importance.lambdaTable(
      Importance.docBuckets(corpus.filter($"doc_id" =!= 2L), "doc_id",
        "text", 4, carryCols = Seq("lang"), bucketOf = lenBucket),
      $"lang" === "en", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === rebuilt, "forget must equal the remaining-only rebuild")
    // replayed epoch: same subtraction re-delivered must not re-apply
    Importance.removeBatch(spark, tb.filter($"doc_id" === 2L),
      $"lang" === "en", dir, epoch = 0L)
    assert(Importance.storedLambda(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === got)
    // removing doc 2 AGAIN (fresh epoch) is not a training subset any
    // more — counts would go negative; the guard must fire, and its
    // error path must release the checkpoints the removal made
    val left = TestSpark.rddDelta {
      val e = intercept[IllegalArgumentException] {
        Importance.removeBatch(spark, tb.filter($"doc_id" === 2L),
          $"lang" === "en", dir, epoch = 1L)
      }
      assert(e.getMessage.contains("not a subset"))
    }
    assert(left == 0, s"the refused removal left $left persisted RDDs")
  }
}
