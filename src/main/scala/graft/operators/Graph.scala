package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph operators built from DataFrame joins — no driver-side
  * graph, no GraphX dependency.
  *
  * [[connectedComponents]] is the resolution step of the dedup pipeline
  * (candidate pairs → per-document component), extracted as a library
  * operator so any edge list can be resolved — the same algorithm backs
  * `q_dedup_resolve` and is spec-tested on adversarial shapes (long
  * chains, stars, disjoint unions) against a union-find reference.
  */
object Graph {

  /** Connected components via join-based min-label propagation with PATH
    * HALVING (each round also jumps every label to its label's label), so
    * convergence takes O(log diameter) rounds, not O(diameter). Every step
    * is a DataFrame join/aggregate — scales with the cluster, no driver
    * materialization.
    *
    * Input: undirected edges as `(src, dst)` pairs (either orientation,
    * duplicates tolerated). Output: `(doc, comp)` for every vertex that
    * appears in at least one edge, where `comp` is the smallest vertex id
    * in the component. Isolated vertices never enter the edge list, so the
    * caller joins the result back to its full entity table (as
    * q_dedup_resolve does).
    *
    * Loop state goes through [[Loop]]: each round is cut to a checkpointed
    * leaf ([[Loop.cut]]) because a round reads the previous labels twice
    * and Catalyst plans are trees copied by value, so an uncut plan
    * doubles per round; the superseded round is freed at once
    * ([[Loop.free]]), touching nothing else in the SparkContext. The edge
    * list enters the loop once, as a flat leaf partitioned on `src` and
    * stored DISK_ONLY (twice the input edge list, kept off the executor
    * heap): carrying its lineage into every round makes the loop about
    * twice as slow in driver-side plan work alone. The rounds run in a loop
    * session ([[Loop.session]]) sized from the edge count (the loop runs
    * over the docs-in-pairs sliver, not the corpus) with AQE off; the
    * caller's session conf is never touched. The returned labels frame
    * belongs to the CALLER's session and reads the final round's
    * checkpoint, which therefore stays (the one deliberate residue).
    *
    * @param maxIters safety cap; path halving makes the default ample for
    *                 any graph this side of diameter 2^20. Hitting the cap
    *                 THROWS — silently emitting labels that disagree with
    *                 the transitive closure would corrupt downstream dedup.
    * @param checkpointDir when set, loop state is RELIABLY checkpointed
    *                 there (files on the shared filesystem) instead of
    *                 local-checkpointed: a lost executor re-reads the
    *                 round from the FS instead of killing the loop — the
    *                 right mode on a real cluster (≙ the reference retrying
    *                 every long operation, bq.py:367-383, gcs.py:221-235).
    *                 Superseded rounds' checkpoint files are deleted as the
    *                 loop advances; the final round's files back the
    *                 returned frame and are the caller's to sweep. The
    *                 SparkContext checkpoint dir is context-global (like
    *                 the reference's client-wide retry policy), so
    *                 CONCURRENT invocations in one SparkContext must pass
    *                 the SAME checkpointDir.
    */
  def connectedComponents(pairs0: DataFrame, maxIters: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = {
    val s = pairs0.sparkSession
    // The input is read three times (count, both edge orientations). It
    // is not loop state: a plain cache, rebuilt from lineage if an
    // executor is lost before the edges below are stored.
    val pairs = pairs0.toDF("src", "dst").persist(StorageLevel.DISK_ONLY)
    var edges: DataFrame = null
    try {
      val parts = Loop.parts(s, pairs.count() * 2)
      val loopS = Loop.session(s, parts)
      val bidir = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      // entry into the loop session: the one Row re-encode on the way in
      edges = Loop.cut(loopS.createDataFrame(bidir.rdd, bidir.schema)
        .repartition(parts, col("src")), checkpointDir, StorageLevel.DISK_ONLY)
      pairs.unpersist(blocking = false)
      val init = edges.select(col("src").as("doc")).distinct()
        .select(col("doc"), col("doc").as("comp"))
      val (last, _) = Loop.fixpoint(init, maxIters, checkpointDir, n =>
        s"connectedComponents: label propagation did not converge within $n rounds") {
        prev =>
          val labels = prev.select(col("doc"), col("comp"))
          // neighbor step: take the min label over incoming edges
          val prop = edges.join(labels, col("src") === col("doc"))
            .groupBy(col("dst")).agg(min(col("comp")).as("nc"))
          val stepped = labels.as("l")
            .join(prop, col("l.doc") === col("dst"), "left")
            .select(col("l.doc").as("doc"),
              least(col("l.comp"), coalesce(col("nc"), col("l.comp"))).as("comp"),
              col("l.comp").as("old_comp")) // carried for the convergence test
          // path halving: comp := min(comp, comp(comp))
          val m = stepped.select(col("doc").as("m_doc"), col("comp").as("m_comp"))
          stepped.as("st")
            .join(m, col("st.comp") === col("m_doc"), "left")
            .select(col("st.doc").as("doc"),
              least(col("st.comp"), coalesce(col("m_comp"), col("st.comp"))).as("comp"),
              col("st.old_comp").as("old_comp"))
      } { (next, n) =>
        // Convergence check every 2nd round (reads the just-stored round —
        // no extra join): a diameter-d graph needs ~log2(d) path-halved
        // rounds, so checking half as often saves blocking actions at the
        // cost of at most one extra round over converged (tiny) state. An
        // even cap means the final permitted round checks.
        (n % 2 == 0 || n == maxIters) &&
          next.filter(col("comp") =!= col("old_comp")).isEmpty
      }
      // exit: the labels as a frame of the caller's session
      val out = last.select(col("doc"), col("comp"))
      s.createDataFrame(out.rdd, out.schema)
    } finally {
      pairs.unpersist(blocking = false)
      if (edges != null) Loop.free(edges)
    }
  }
}
