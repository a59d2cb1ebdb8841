package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Shard}

/** Colocation pricing probe for the mega-component regime (round-12
  * verdict "What's missing #2").
  *
  * q380 certifies that `by_component` routing lands near-dup components
  * whole, and q396 adds the size-capped fallback — but the oracle-gated
  * fixtures are sf0.01-sized. This main prices all three policies on a
  * SKEWED corpus (tools/gen_skew.py — the planted hot family holds 20%
  * of all docs, exactly the component-size regime the dedup campaign
  * proved this corpus family lives in):
  *
  *   SPARK_GRAFT_SF_DIR=tools/skew100 sbt "runMain graft.ColocationProbe"
  *
  * Per policy (by_doc / by_component / capped at each probe cap) it
  * prints one COLOC_JSON row with the q380 audit columns — the honest
  * number being max_shard_docs under `by_component` when a single
  * component holds 125k of 625k docs, and what each cap buys back.
  * Measured rows are recorded in ARCHITECTURE.md's round-13 table.
  */
object ColocationProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "tools/skew100")
    val nShards = sys.env.get("SPARK_GRAFT_COLOC_SHARDS")
      .map(_.toInt).getOrElse(8)
    val caps = sys.env.get("SPARK_GRAFT_COLOC_CAPS")
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(2L, 10000L, Long.MaxValue))
    val spark = Session.start()
    import spark.implicits._

    // q380's labeled frame: star-edge LSH candidates -> CC labels,
    // singletons self-labeled
    val docs = Tables.documents(spark, sfDir)
    val edges = Dedup.minhashLshStarEdges(docs, "doc_id", "text",
      shingleN = 3, k = 8, bands = 4, hotThreshold = 64)
    val cc = Dedup.connectedComponents(edges, "doc_a", "doc_b")
    val labeled = docs.select($"doc_id")
      .join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("rep", coalesce($"rep", $"doc_id"))
      .localCheckpoint(true)

    def emit(row: org.apache.spark.sql.Row, cap: String): Unit =
      println("COLOC_JSON:" + Seq(
        "\"strategy\":\"" + row.getAs[String]("strategy") + "\"",
        "\"cap\":" + cap,
        "\"n_docs\":" + row.getAs[Long]("n_docs"),
        "\"n_components\":" + row.getAs[Long]("n_components"),
        "\"n_spanning_components\":" +
          row.getAs[Long]("n_spanning_components"),
        "\"n_shards_used\":" + row.getAs[Long]("n_shards_used"),
        "\"max_shard_docs\":" + row.getAs[Long]("max_shard_docs"),
        "\"min_shard_docs\":" + row.getAs[Long]("min_shard_docs"),
        "\"n_capped_components\":" + (if (row.schema.fieldNames
          .contains("n_capped_components"))
          row.getAs[Long]("n_capped_components").toString else "null")
      ).mkString("{", ",", "}"))

    Shard.colocationCompare(labeled, "doc_id", "rep", nShards)
      .collect().foreach(emit(_, "null"))
    caps.foreach { cap =>
      Shard.colocationCapped(labeled, "doc_id", "rep", nShards, cap)
        .collect().foreach(emit(_, cap.toString))
    }
    spark.stop()
  }
}
