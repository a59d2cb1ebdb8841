package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Referential-integrity algebra — Spark has no FKs, so the reference's
  * SQLite constraint semantics (schema.sql:1,14,25-26,39-41,67,91) become
  * join rewrites (SURVEY §1.5, §2.3 J1-J5):
  *
  *   - insert validation  = left-anti child-keys vs parent-keys
  *   - cascade delete     = anti-join children against deleted parent keys
  *   - recursive cascade  = semi-join to fixpoint over the self-FK tree
  *   - restrict delete    = semi-join guard (non-empty → abort)
  *
  * Scale: parent key-sets are projections of dimension tables → broadcast;
  * the only shuffles are on the FK columns themselves. The recursive
  * fixpoint iterates driver-side over *plans* (no collect of data rows —
  * only a row count observed on each round's checkpoint action).
  */
object Integrity {

  /** J1 — FK insert-validation: rows of `child` whose `fk` has no match in
    * `parent.pk`. Non-empty result = the batch the reference would reject
    * with IntegrityError (cmds/archive.py:160,309,345). NULL fks are not
    * violations (SQL FK semantics). */
  def fkViolations(child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame =
    child.filter(col(fk).isNotNull)
      .join(parent.select(col(pk).as("_pk")), col(fk) === col("_pk"),
        "left_anti")

  /** J4 — ON DELETE RESTRICT guard: parent rows in `deleteSet` still
    * referenced by `child.fk` (schema.sql:14,67). Non-empty → the delete
    * must abort. */
  def restrictViolations(deleteSet: DataFrame, pk: String,
      child: DataFrame, fk: String): DataFrame =
    deleteSet.join(child.select(col(fk).as("_fk")), col(pk) === col("_fk"),
      "left_semi")

  /** J2 — ON DELETE CASCADE, one level: survivors of `child` after the
    * parent keys in `deletedKeys(pk)` are removed. */
  def cascade(child: DataFrame, fk: String,
      deletedKeys: DataFrame, pk: String): DataFrame =
    child.join(broadcast(deletedKeys.select(col(pk).as("_delk"))),
      col(fk) === col("_delk"), "left_anti")

  /** J3 — recursive cascade over a self-FK tree (comments.parent,
    * schema.sql:41): starting from `seedKeys(pk)`, repeatedly add rows
    * whose parent is already deleted, to fixpoint. Returns the full
    * deleted key set. `maxDepth` caps pathological chains.
    *
    * Each round: frontier = rows whose `parentCol` semi-joins the current
    * frontier keys, minus already-deleted; the frontier and the grown
    * deleted set each checkpoint per round (a [[Stage]]), so depth-k trees
    * don't build k-deep plan stacks. The frontier's row count is observed
    * on its own checkpoint action instead of costing an isEmpty job per
    * level (the per-level driver round-trips dominate deep cascades, not
    * data). */
  def cascadeRecursive(table: DataFrame, pk: String, parentCol: String,
      seedKeys: DataFrame, maxDepth: Int = 100): DataFrame =
    Stage("Integrity.cascadeRecursive") { st =>
      // synthetic column names avoid self-join attribute ambiguity; the
      // edge projection is probed once per round, so pin it instead of
      // re-running the scan each level
      val edges = st.pin(
        table.select(col(pk).as("_k"), col(parentCol).as("_p")))
      var (deleted, frontierN) =
        st.counted(seedKeys.select(col(pk).as("_k")).distinct(), "seeds")
      var frontier = deleted
      var depth = 0
      while (depth < maxDepth && frontierN > 0) {
        depth += 1
        val (next, n) = st.counted(edges
          .join(broadcast(frontier.select(col("_k").as("_p"))), Seq("_p"),
            "left_semi")
          .select("_k")
          .join(deleted, Seq("_k"), "left_anti"), s"level$depth")
        // round 1's frontier IS deleted (the seed checkpoint) — guard the
        // release by identity so the live accumulator is never dropped
        if (!(frontier eq deleted)) st.release(frontier)
        frontier = next
        frontierN = n
        if (n > 0) {
          val prevDeleted = deleted
          deleted = st.checkpoint(deleted.unionByName(next),
            s"level$depth/deleted")
          st.release(prevDeleted)
        }
      }
      deleted.select(col("_k").as(pk))
    }

  /** J3 at scale — the same fixpoint via POINTER DOUBLING (path doubling
    * over the parent functional graph, the classic PRAM transitive-closure
    * technique): round i knows, for every node, its 2^i-th ancestor and
    * whether a seed occurs in the first 2^i chain nodes; one self-join
    * squares the horizon. ceil(log2(depth)) rounds instead of depth.
    *
    * Trade-off vs [[cascadeRecursive]] (level-wise): doubling self-joins
    * the FULL node table each round (two shuffles/round × log D rounds) —
    * wins on deep chains; level-wise does D rounds of small broadcast
    * frontier probes against a pinned edge table — wins on shallow wide
    * trees (typical comment threads). Identical output (IntegritySpec),
    * including seed keys with no row in `table` (deleted by definition,
    * exactly as the level-wise form returns them). Depth cap: covers at
    * least `maxDepth`, rounded up to the next power of two.
    */
  def cascadeRecursiveDoubling(table: DataFrame, pk: String, parentCol: String,
      seedKeys: DataFrame, maxDepth: Int = 100): DataFrame =
    Stage("Integrity.cascadeRecursiveDoubling") { implicit st =>
      val seedSet = st.checkpoint(
        seedKeys.select(col(pk).as("_k")).distinct(), "seeds")
      val seeds = seedSet.withColumn("_seed", lit(true))
      // state: (_k, _ptr = 2^i-th ancestor | null past chain end,
      //         _hit = seed among first 2^i chain nodes)
      val state0 = st.checkpoint(
        table.select(col(pk).as("_k"), col(parentCol).as("_ptr"))
          .join(seeds, Seq("_k"), "left")
          .select(col("_k"), col("_ptr"),
            coalesce(col("_seed"), lit(false)).as("_hit")), "init")
      // done when nothing can still flip: every row is hit or chain-ended.
      // Deliberately a separate probe, NOT an observed aggregate: state is
      // the FULL node table, and a CollectMetrics pass over it per round
      // costs more than this early-exiting isEmpty (measured; observing
      // pays off only on small frontier tables — see cascadeRecursive /
      // connectedComponents, where the counted set is the frontier/labels,
      // not the corpus).
      val state = Fixpoint.iterate(state0,
          Fixpoint.doublingRounds(maxDepth)) { (state, _) =>
        val j = state.select(col("_k").as("_jk"), col("_ptr").as("_jptr"),
          col("_hit").as("_jhit"))
        state.join(j, state("_ptr") === j("_jk"), "left")
          .select(col("_k"), col("_jptr").as("_ptr"),
            (col("_hit") || coalesce(col("_jhit"), lit(false))).as("_hit"))
      }(Fixpoint.Probe(s =>
        !s.filter(col("_ptr").isNotNull && !col("_hit")).isEmpty)).state
      // union the seed set itself: a seed with no row in `table` is still
      // deleted (the level-wise form starts `deleted` from the seeds)
      state.filter(col("_hit")).select(col("_k"))
        .unionByName(seedSet).distinct()
        .select(col("_k").as(pk))
    }

  /** W5 composite — delete a video with its cascades (schema.sql:25,39,41;
    * exercised by Unarchive, cmds/archive.py:408). Returns the surviving
    * (comments, videoTags) pair; comment replies cascade recursively. */
  def unarchiveVideo(videoIds: DataFrame, idCol: String,
      comments: DataFrame, videoTags: DataFrame): (DataFrame, DataFrame) = {
    val directComments = comments
      .join(broadcast(videoIds.select(col(idCol).as("_vid"))),
        comments("video") === col("_vid"), "left_semi")
      .select(col("comment_id"))
    val allDeleted = cascadeRecursive(comments, "comment_id", "parent",
      directComments).select(col("comment_id").as("_del"))
    val survComments = comments.join(broadcast(allDeleted),
      comments("comment_id") === col("_del"), "left_anti")
    val survTags = cascade(videoTags, "video", videoIds, idCol)
    (survComments, survTags)
  }
}
