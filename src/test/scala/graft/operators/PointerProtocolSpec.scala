package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Round-11 pointer-protocol hardening (r10 ADVICE):
  *  1. the lost-update guard — a pointer flip derived from a stale
  *     generation aborts loudly instead of silently dropping the
  *     concurrent writer's generation and fences;
  *  2. the legacy single-field pointer parse — a pre-epoch AggView
  *     store ("gen" with no fence field) reads as (gen, -1), not as
  *     unbuilt;
  *  3. the legacy long-typed MomentsState footer — read through an
  *     upcast instead of failing at scan time, migrating on next write.
  */
class PointerProtocolSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(t: String) =
    java.nio.file.Files.createTempDirectory(t).toString

  test("guarded pointer flip aborts on a stale basedOnGen") {
    val dir = tmp("ptr_guard")
    Generation.advance(dir, 0L, -1L) // build
    // writer derived from gen 0 advances — fine
    Generation.advance(dir, 1L, 3L, "", basedOnGen = 0L)
    assert(Generation.current(dir) === ((1L, 3L)))
    // a second writer ALSO derived from gen 0 must fail loudly — the
    // pre-r11 behavior silently rewrote the pointer, dropping writer
    // A's generation data and fence advance
    val e = intercept[java.util.ConcurrentModificationException] {
      Generation.advance(dir, 1L, 7L, "", basedOnGen = 0L)
    }
    assert(e.getMessage.contains("gen=0") && e.getMessage.contains("gen=1"))
    // the winning writer's state is untouched
    assert(Generation.current(dir) === ((1L, 3L)))
    // an up-to-date writer proceeds
    Generation.advance(dir, 2L, 4L, "", basedOnGen = 1L)
    assert(Generation.current(dir) === ((2L, 4L)))
    // unguarded (build/rebuild) writes still replace unconditionally
    Generation.advance(dir, 0L, -1L)
    assert(Generation.current(dir)._1 === 0L)
  }

  test("guarded flip preserves other writers' tagged fences") {
    val dir = tmp("ptr_guard_tags")
    Generation.advance(dir, 0L, -1L)
    Generation.advance(dir, 1L, 5L, "purge", basedOnGen = 0L)
    Generation.advance(dir, 2L, 9L, "", basedOnGen = 1L)
    assert(Generation.fenceOf(dir, "purge") === 5L)
    assert(Generation.fenceOf(dir, "") === 9L)
  }

  test("mutators pass their read generation: replayed mergeBatch chain " +
      "stays serialized, stale-gen merge is rejected") {
    import spark.implicits._
    val dir = tmp("ptr_guard_merge")
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    TextIndex.build(docs, "doc_id", "text", dir)
    val b1 = Seq((3L, "delta")).toDF("doc_id", "text")
    TextIndex.mergeBatch(spark, b1, "doc_id", "text", dir, epoch = 1L)
    assert(Generation.current(dir) === ((1L, 1L)))
    // direct stale flip (what a concurrent merge's final step would do)
    intercept[java.util.ConcurrentModificationException] {
      Generation.writePointer(dir, 1L, 2L, "", basedOnGen = 0L)
    }
  }

  test("legacy single-field pointer parses as (gen, -1), not unbuilt") {
    val dir = tmp("ptr_legacy")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_current"), "3")
    assert(Generation.current(dir) === ((3L, -1L)))
    assert(Generation.current(dir) === ((3L, -1L)))
    // an empty/garbage pointer still reads as missing
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_current"), "")
    assert(Generation.current(dir) === ((-1L, -1L)))
  }

  test("garbage pointer bodies degrade to the unbuilt sentinel, " +
      "never throw (r11 ADVICE)") {
    val dir = tmp("ptr_garbage")
    val p = java.nio.file.Paths.get(dir, "_current")
    for (garbage <- Seq("1-2", "-", "--3", "x", "3x"))
      withClue(s"pointer body '$garbage': ") {
        java.nio.file.Files.writeString(p, garbage)
        assert(Generation.current(dir) === ((-1L, -1L)))
      }
    // negative gen (a legal legacy shape) still parses
    java.nio.file.Files.writeString(p, "-1")
    assert(Generation.current(dir) === ((-1L, -1L)))
    java.nio.file.Files.writeString(p, "7")
    assert(Generation.current(dir) === ((7L, -1L)))
  }

  test("path aliases of one dir share a monitor: concurrent guarded " +
      "flips through different spellings serialize (r11 ADVICE)") {
    val dir = tmp("ptr_alias")
    Generation.advance(dir, 0L, -1L)
    // pre-fix: 'dir' and 'dir/' got DIFFERENT JVM monitors, so two
    // threads reached FileChannel.lock concurrently and the second got
    // a JVM-wide OverlappingFileLockException instead of blocking
    val spellings = Seq(dir, dir + "/", dir + "/./")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val flips = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = spellings.zipWithIndex.map { case (d, i) =>
      new Thread(() => {
        var done = 0
        while (done < 10) {
          val (g, _) = Generation.current(d)
          try {
            Generation.advance(d, g + 1, done.toLong, s"t$i",
              basedOnGen = g)
            done += 1; flips.incrementAndGet()
          } catch {
            case _: java.util.ConcurrentModificationException => // retry
            case t: Throwable => errs.add(t); done = 10
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"unexpected failure (pre-fix: " +
      s"OverlappingFileLockException): ${errs.peek()}")
    assert(flips.get() === 30L)
    assert(Generation.current(dir)._1 === 30L)
  }

  test("withGenClaim rejects a stale generation BEFORE the body runs") {
    val dir = tmp("ptr_claim_stale")
    Generation.advance(dir, 0L, -1L)
    Generation.advance(dir, 1L, 1L, "", basedOnGen = 0L)
    var ran = false
    val e = intercept[java.util.ConcurrentModificationException] {
      Generation.withGenClaim(dir, 0L) { ran = true }
    }
    assert(!ran, "body must never run for a stale claim — pre-r12 the " +
      "loser only failed AFTER co-writing the winner's gen+1 data dir")
    assert(e.getMessage.contains("BEFORE writing"))
    // an up-to-date claim runs and releases
    var ok = false
    Generation.withGenClaim(dir, 1L) { ok = true }
    assert(ok)
  }

  test("withGenClaim: second in-flight mutation aborts up front; claim " +
      "is released on success AND on failure") {
    val dir = tmp("ptr_claim_race")
    Generation.advance(dir, 0L, -1L)
    val inBody = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      Generation.withGenClaim(dir, 0L) {
        inBody.countDown()
        release.await(30, java.util.concurrent.TimeUnit.SECONDS)
        Generation.advance(dir, 1L, 1L, "", basedOnGen = 0L)
      }
    })
    holder.start()
    assert(inBody.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // while the first mutation is in flight, a second claimant fails
    // immediately — nothing written, no shared data dir
    val e = intercept[java.util.ConcurrentModificationException] {
      Generation.withGenClaim(dir, 0L) {
        fail("loser's body must not run")
      }
    }
    assert(e.getMessage.contains("in flight"))
    release.countDown(); holder.join(30000)
    assert(Generation.current(dir) === ((1L, 1L)))
    // claim released by the winner: a fresh mutation claims fine
    Generation.withGenClaim(dir, 1L) {
      Generation.advance(dir, 2L, 2L, "", basedOnGen = 1L)
    }
    // ...and a FAILED body also releases its claim
    intercept[RuntimeException] {
      Generation.withGenClaim(dir, 2L) { throw new RuntimeException("boom") }
    }
    Generation.withGenClaim(dir, 2L) {
      Generation.advance(dir, 3L, 3L, "", basedOnGen = 2L)
    }
    assert(Generation.current(dir)._1 === 3L)
  }

  test("racing mergeBatch mutations: exactly one writes, the loser " +
      "aborts without touching the winner's generation dir") {
    import spark.implicits._
    val dir = tmp("ptr_claim_merge")
    TextIndex.build(Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    val b1 = Seq((3L, "delta")).toDF("doc_id", "text")
    val b2 = Seq((4L, "epsilon")).toDF("doc_id", "text")
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val start = new java.util.concurrent.CountDownLatch(1)
    val ts = Seq(b1, b2).map(b => new Thread(() => {
      start.await()
      try {
        TextIndex.mergeBatch(spark, b, "doc_id", "text", dir)
        outcomes.add("ok")
      } catch {
        case _: java.util.ConcurrentModificationException =>
          outcomes.add("aborted")
      }
    }))
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join(120000))
    val res = outcomes.toArray(Array.empty[String]).toSeq.sorted
    // both may win if they happened to serialize; at most one aborts,
    // and an abort means NOTHING of the loser's reached the store
    assert(res.count(_ == "ok") >= 1 && res.size === 2)
    val (gen, _) = Generation.current(dir)
    assert(gen.toInt === res.count(_ == "ok"))
    val n = spark.read.parquet(TextIndex.postingsPath(dir))
      .select("doc_id").distinct().count()
    assert(n === 2L + res.count(_ == "ok"),
      "the store must contain exactly the winners' docs — a co-written " +
        "generation dir would surface extra or missing docs")
  }

  test("cross-process claim: a LIVE foreign claim file aborts the " +
      "mutation BEFORE the body runs (r12 verdict)") {
    val dir = tmp("ptr_claim_foreign")
    Generation.advance(dir, 0L, -1L)
    // simulate a mutator in ANOTHER JVM: a fresh claim file with a
    // writer id that is not ours (UUIDs never collide with ours)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_claim"),
      s"foreign-jvm-writer\n1\n${System.currentTimeMillis()}")
    var ran = false
    val e = intercept[java.util.ConcurrentModificationException] {
      Generation.withGenClaim(dir, 0L) { ran = true }
    }
    assert(!ran, "pre-r13 a second-JVM racer passed the in-JVM claim " +
      "and co-wrote the winner's gen+1 dir, failing only at flip time")
    assert(e.getMessage.contains("ANOTHER process"))
    // the foreign claim is NOT ours — the abort must leave it in place
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_claim")))
  }

  test("cross-process claim: a STALE foreign claim (crashed writer) is " +
      "overwritten; success and failure both release our claim file") {
    val dir = tmp("ptr_claim_stale_foreign")
    Generation.advance(dir, 0L, -1L)
    val cp = java.nio.file.Paths.get(dir, "_claim")
    // a claim older than the stale window = a crashed writer's leftover
    java.nio.file.Files.writeString(cp,
      s"crashed-jvm-writer\n1\n${System.currentTimeMillis() - 16L * 60L * 1000L}")
    var ran = false
    Generation.withGenClaim(dir, 0L) {
      ran = true
      // while the body runs, the claim file is OURS
      val held = java.nio.file.Files.readString(cp)
      assert(!held.startsWith("crashed-jvm-writer"))
      Generation.advance(dir, 1L, 1L, "", basedOnGen = 0L)
    }
    assert(ran)
    assert(!java.nio.file.Files.exists(cp),
      "a successful mutation must remove its claim file")
    // torn/garbage claim bodies also count as stale, never throw
    java.nio.file.Files.writeString(cp, "not a claim")
    Generation.withGenClaim(dir, 1L) {
      Generation.advance(dir, 2L, 2L, "", basedOnGen = 1L)
    }
    assert(!java.nio.file.Files.exists(cp))
    // a FAILED body also releases the claim file
    intercept[RuntimeException] {
      Generation.withGenClaim(dir, 2L) { throw new RuntimeException("boom") }
    }
    assert(!java.nio.file.Files.exists(cp))
    Generation.withGenClaim(dir, 2L) {
      Generation.advance(dir, 3L, 3L, "", basedOnGen = 2L)
    }
    assert(Generation.current(dir)._1 === 3L)
  }

  test("legacy long-typed MomentsState footer upcasts on read and " +
      "migrates to decimal on the next merge") {
    import spark.implicits._
    val dir = tmp("moments_legacy")
    // hand-write a pre-round-10 store: s2-s4 as INT64 in the footer
    Seq(("a", 2L, 3L, 5L, 9L, 17L), ("b", 1L, 4L, 16L, 64L, 256L))
      .toDF("_k", "n", "s1", "s2", "s3", "s4")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${Generation.genDir(dir, 0L)}/sums")
    Generation.advance(dir, 0L, -1L)
    // pre-fix this read failed at scan time with a parquet type error
    val st = MomentsState.storedSums(spark, dir)
    assert(st.schema("s2").dataType ===
      org.apache.spark.sql.types.DecimalType(38, 0))
    val a = st.filter(col("_k") === "a").collect()(0)
    assert(a.getAs[java.math.BigDecimal]("s4").longValueExact() === 17L)
    // a merge reads the legacy footer and writes the decimal layout
    MomentsState.mergeBatch(spark,
      Seq(("a", 2L)).toDF("k", "v"), "k", "v", dir)
    val migrated = spark.read.parquet(MomentsState.tablePath(dir)).schema
    assert(migrated("s2").dataType ===
      org.apache.spark.sql.types.DecimalType(38, 0),
      "next writeGen must persist the decimal layout")
    val a2 = MomentsState.storedSums(spark, dir)
      .filter(col("_k") === "a").collect()(0)
    assert(a2.getLong(1) === 3L && a2.getLong(2) === 5L) // n, s1
    assert(a2.getAs[java.math.BigDecimal]("s4").longValueExact() === 33L)
  }
}
