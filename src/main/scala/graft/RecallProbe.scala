package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, Similarity}

/** Recall probe for the composed IVF-PQ serving path (round-5 verdict #6).
  *
  * q102/q107 are oracle-EXACT on the probed subset by construction; what
  * the oracle cannot see is end-to-end recall vs brute force as
  * (nProbe, shortlist) shrink — the quantity a deployment actually tunes.
  * This main measures it on the scale10 fixture (tools/gen_scale10.py;
  * 20k 64-dim vectors): train once via [[AnnIndex.buildIfAbsent]]
  * (k-means coarse quantizer + PQ codebooks + partitioned codes), then
  * for each (nProbe, shortlist) point serve every probe query from the
  * STORED index and score `|approx-top-k ∩ exact-top-k| / k` against
  * [[Similarity.cosineTopK]] ground truth.
  *
  *   SPARK_GRAFT_SF_DIR=tools/scale10 sbt "runMain graft.RecallProbe"
  *   SPARK_GRAFT_RECALL_FIXTURE=tools/scale10/embeddings_clustered.parquet \
  *     SPARK_GRAFT_SF_DIR=tools/scale10 sbt "runMain graft.RecallProbe"
  *
  * Prints one RECALL_JSON line; the measured curves (near-random corpus
  * = lift-over-uniform; planted clusters = the real operating point,
  * recall@10 1.0 at nProbe 8/64) are recorded in ARCHITECTURE.md next
  * to the 10× scaling table. SimilaritySpec asserts the ≥0.7 corpus
  * floor AND a ≥0.9 planted-cluster floor at the operating point.
  */
object RecallProbe {
  // q102's PQ geometry (64 = m·subDim), scale10's coarse quantizer:
  // nlist = 64 ≈ √N/2 for N = 20k (the documented k ∝ √N sizing rule).
  // Quantizer tuned as a deployment would — stratified seeds (min-id
  // seeding would put all 64 seeds in scale10's first shard) + 5 Lloyd
  // iterations. Measured: seeding/iters move recall only a few points
  // either way; the binding constraint is the FIXTURE's neighbor
  // structure (near-random vectors: a query's best cosine is ~0.44
  // against a noise p90 of ~0.16, so "neighbors" sit at ~66° and no
  // space partition separates them well). The curve below is therefore
  // a lift-over-uniform measurement, not a ceiling of the operator.
  private val (m, subDim, ksub, pqIters) = (16, 4, 16, 2)
  private val (nlist, kmIters, topK, nQueries) = (64, 5, 10, 15)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "tools/scale10")
    val spark = Session.start()
    import spark.implicits._

    // SPARK_GRAFT_RECALL_FIXTURE: path to an alternative embeddings
    // parquet (tools/scale10/embeddings_clustered.parquet — the
    // planted-cluster fixture where recall is a property of the
    // operator, not of near-random noise). Default: the corpus table.
    val fixture = sys.env.get("SPARK_GRAFT_RECALL_FIXTURE")
    val fixtureTag = fixture.map("#" + _).getOrElse("")
    val e = fixture.map(spark.read.parquet(_))
      .getOrElse(Tables.embeddings(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = Similarity.stratifiedSeeds(e, "vec_id", "embedding", nlist)
      val cents = Similarity.kmeans(e, "vec_id", "embedding", nlist,
        kmIters, init = Some(seeds)).localCheckpoint(true)
      val dir = AnnIndex.defaultDir(s"recall_${sfDir}${fixtureTag}_v2")
      AnnIndex.buildIfAbsent(e, "vec_id", "embedding", cents,
        m, subDim, ksub, pqIters, dir,
        corpusTag = s"recall_${sfDir}${fixtureTag}_v2")

      // deterministic probe set: the nQueries largest ids (disjoint from
      // the min-id k-means init, so queries aren't the seed centroids)
      val qids = e.select($"vec_id").orderBy($"vec_id".desc)
        .limit(nQueries).as[Long].collect().sorted

      def queryVec(qid: Long): DataFrame =
        e.filter($"vec_id" === qid)
          .select($"vec_id".as("q_id"), Similarity.vecD($"embedding").as("qv"))
          .localCheckpoint(true) // 1 row; keeps every serve plan tiny

      val qvs = qids.map(q => q -> queryVec(q)).toMap
      val truth: Map[Long, Set[Long]] = qids.map { qid =>
        qid -> Similarity.cosineTopK(e.filter($"vec_id" =!= qid),
            "vec_id", "embedding", qvs(qid).select($"qv"), topK)
          .select("vec_id").as[Long].collect().toSet
      }.toMap

      // probe fractions 1/16, 1/8, 1/4 of the 64 lists. Per point, two
      // recalls decompose the loss: `ivf` = exact scoring of the probed
      // lists (coarse-probe loss only), `pq` = the full stored-index
      // serving path (probe + quantization/shortlist loss). pq <= ivf by
      // construction; the gap is what PQ costs at that shortlist.
      val grid = Seq((4, 50), (8, 100), (16, 200), (32, 400))
      val curve = grid.map { case (nProbe, shortlist) =>
        def recall(got: Set[Long], qid: Long): Double =
          truth(qid).count(got.contains).toDouble / topK
        val pq = qids.map { qid =>
          recall(AnnIndex.serve(spark, dir, e, "vec_id", "embedding",
              qvs(qid), m, subDim, nProbe, shortlist, topK)
            .select("vec_id").as[Long].collect().toSet, qid)
        }
        val ivf = qids.map { qid =>
          recall(Similarity.ivfTopK(e, "vec_id", "embedding", cents,
              qvs(qid), topK, nProbe)
            .select("vec_id").as[Long].collect().toSet, qid)
        }
        (nProbe, shortlist, pq.sum / pq.length, pq.min, ivf.sum / ivf.length)
      }

      val js = curve.map { case (p, s, mean, min, ivf) =>
        f"""{"nProbe":$p,"shortlist":$s,"mean_recall":$mean%.3f,"min_recall":$min%.3f,"ivf_exact_recall":$ivf%.3f}"""
      }.mkString("[", ",", "]")
      val fx = fixture.getOrElse("corpus")
      println(s"""RECALL_JSON:{"sf":"$sfDir","fixture":"$fx","k":$topK,"nlist":$nlist,"queries":$nQueries,"points":$js}""")
    } finally e.unpersist(blocking = false)
    spark.stop()
  }
}
