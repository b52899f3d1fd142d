package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.storage.StorageLevel

/** Damped PageRank over a directed edge list. Mass is FIXED-POINT integer
  * (1e6 per node, damping 85/100 as integer ops — the q_pagerank_iter
  * convention), so every round is bit-deterministic in any engine and any
  * partition order, and "converged" is exact rank equality, not a float
  * tolerance.
  *
  * Two drivers share one round:
  *   - [[ranks]] / [[ranksPersonalized]] (FIXED round count) return ONE
  *     lazy plan in the caller's session: no cloned session, no persist,
  *     no action. Each round reads its predecessor's ranks ONCE — `node`
  *     and `is_seed` never change after the start, so every round takes
  *     them from the static flagged node table instead of from the
  *     previous round — so the plan grows linearly in the round count and
  *     needs no truncation. The caller's action runs the whole loop, and
  *     ReuseExchange shares the edge and node exchanges across rounds.
  *   - [[trainConverged]] (unbounded rounds, each inspected for the fixed
  *     point) keeps the [[Graph.connectedComponents]] loop discipline:
  *     per-round truncation in a loop-scoped child session, freed
  *     superseded rounds, and the [[KMeans.trainConverged]] stop.
  *
  * Per-round shape (each shuffle key-bounded, nothing quadratic):
  *   - contributions: degree-widened edges ⋈ ranks on `src` (fanout =
  *     edge count; out-degrees are joined into the edge relation ONCE,
  *     outside the rounds), integer `rank div deg` per edge;
  *   - inflow: one dst-keyed integer sum (map-side combined);
  *   - next ranks: node table LEFT JOIN inflow — nodes without inflow
  *     (sources) settle at the teleport mass 150000 after round 1.
  *
  * Edges are taken as given (parallel edges act as weights; callers
  * wanting simple-graph semantics dedup first, as q_pagerank_k does).
  * Dangling nodes (no out-edges) absorb mass without redistributing it —
  * the same contract as the single-round q_pagerank_iter query this
  * operator iterates.
  */
object PageRank {

  /** Ranks after EXACTLY `iters` damped rounds from the uniform 1e6 start —
    * the SQL-oracle-expressible variant (k chained CTE rounds); returns
    * (node, rank_fp) as a lazy plan: building it runs no Spark job.
    *
    * @param edges either bare `(src, dst)` edges, or PREPARED edges
    *        `(src, dst, deg)` whose integral `deg` is the count of edge rows
    *        sharing the row's `src` (the out-degree the operator would
    *        otherwise join in) — what a materialized link-graph asset
    *        carries. A third column named `deg` of any other type is
    *        rejected with IllegalArgumentException.
    * @param nodes optional PREPARED node list (one `node` column) that must
    *        equal the distinct endpoints of `edges`; skips the distinct over
    *        2·|edges| endpoint rows. */
  def ranks(edges: DataFrame, iters: Int,
            nodes: Option[DataFrame] = None): DataFrame =
    fixedRounds(edges, iters, None, nodes)

  /** PERSONALIZED ranks: teleport mass lands only on `seeds` (one `node`
    * column) and the start mass is 1e6 on seeds, 0 elsewhere — authority
    * RELATIVE to a trusted set (the curation question "which nodes do my
    * vetted sources endorse", vs the global variant's "which nodes does
    * the whole graph endorse"). Same rounds, same integer fixed-point
    * arithmetic: the standard variant IS this one with every node a seed.
    * Non-seed nodes unreachable from any seed settle at exactly 0.
    * `edges` and `nodes` follow the contract of [[ranks]]; the result is
    * a lazy plan. */
  def ranksPersonalized(edges: DataFrame, seeds: DataFrame, iters: Int,
                        nodes: Option[DataFrame] = None): DataFrame =
    fixedRounds(edges, iters, Some(seeds), nodes)

  /** Iterate to the EXACT integer fixed point (ranks stop changing).
    * Returns (ranks, roundsRun) — roundsRun includes the final no-change
    * round that proved convergence. Hitting `maxIters` THROWS: silently
    * returning non-fixed-point ranks would let a truncated authority
    * signal leak into downstream quality gates unlabeled. Runs eagerly.
    *
    * @param checkpointDir as in [[Graph.connectedComponents]]: when set,
    *        loop state is reliably checkpointed there (executor-loss
    *        tolerance on a real cluster); same context-global caveat —
    *        concurrent invocations must pass the same dir. */
  def trainConverged(edges: DataFrame, maxIters: Int = 100,
                     checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val s = edges.sparkSession
    val hasDeg = prepared(edges)
    // The prepared path's contract is a MATERIALIZED relation (an asset
    // table), so re-scanning it is cheap by construction and a cache would
    // only add a full disk write of the edge list; bare edges are read
    // twice (count, widening) and are cached first (not loop state: a
    // plain cache, rebuilt from lineage if an executor is lost).
    val pairs = if (hasDeg) edges.toDF("src", "dst", "deg")
    else edges.toDF("src", "dst").persist(StorageLevel.DISK_ONLY)
    var wide: DataFrame = null
    try {
      val parts = Loop.parts(s, pairs.count())
      val loopS = Loop.session(s, parts)
      // Edges pre-partitioned on the join key (src) and WIDENED by their
      // out-degree once, then cut: the flat (src, dst, deg) leaf every
      // round's contribution join probes. `bare` appears twice in the
      // widening (the aggregate and the join probe), but both references
      // share the identical repartition exchange (ReuseExchange), and the
      // src-keyed join already emits hashpartitioning(src, parts), which
      // the cut keeps.
      // entry into the loop session: the one Row re-encode on the way in
      val bare = loopS.createDataFrame(pairs.rdd, pairs.schema)
        .repartition(parts, col("src"))
      wide = Loop.cut(widened(bare), checkpointDir)
      if (!hasDeg) pairs.unpersist(blocking = false)
      val init = endpoints(wide)
        .select(col("node"), lit(1000000L).as("rank_fp"), lit(true).as("is_seed"))
      val (last, n) = Loop.fixpoint(init, maxIters, checkpointDir, n =>
        s"PageRank: integer ranks did not reach a fixed point within $n rounds") {
        prev =>
          val ranks = prev.select(col("node"), col("rank_fp"), col("is_seed"))
          round(wide, ranks,
            ranks.select(col("node"), col("is_seed"), col("rank_fp").as("old_rank")))
      } { (next, _) => next.filter(col("rank_fp") =!= col("old_rank")).isEmpty }
      // exit: the ranks as a frame of the caller's session
      val out = last.select(col("node"), col("rank_fp"))
      (s.createDataFrame(out.rdd, out.schema), n)
    } finally {
      if (!hasDeg) pairs.unpersist(blocking = false)
      if (wide != null) Loop.free(wide)
    }
  }

  /** True when `edges` is the prepared `(src, dst, deg)` form; throws when
    * its third column is named `deg` but is not integral. */
  private def prepared(edges: DataFrame): Boolean = {
    val fields = edges.schema.fields
    val hasDeg = fields.length == 3 && fields.last.name == "deg"
    require(!hasDeg ||
      Seq(LongType, IntegerType, ShortType, ByteType).contains(fields.last.dataType),
      s"PageRank: prepared edges need an integral out-degree column `deg`, " +
        s"got ${fields.last.dataType}")
    hasDeg
  }

  /** (src, dst, deg): prepared edges as given, bare edges widened by their
    * src out-degree. */
  private def widened(edges0: DataFrame): DataFrame =
    if (prepared(edges0)) edges0.toDF("src", "dst", "deg")
    else {
      val pairs = edges0.toDF("src", "dst")
      pairs.join(pairs.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
    }

  private def endpoints(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()

  /** One damped round: `ranks` carries (node, rank_fp, …) of the previous
    * round and is read once; `base` supplies `node`, `is_seed` and any
    * further columns, which the result carries after (node, rank_fp). */
  private def round(edges: DataFrame, ranks: DataFrame, base: DataFrame): DataFrame = {
    val contrib = edges
      .join(ranks, col("src") === col("node"))
      .select(col("dst"), expr("rank_fp div deg").as("w"))
      .groupBy(col("dst")).agg(sum(col("w")).as("inflow"))
    val kept = base.columns.toSeq.filter(_ != "node").map(col)
    base.join(contrib, col("node") === col("dst"), "left")
      .select((col("node") +:
        (when(col("is_seed"), lit(150000L)).otherwise(lit(0L)) +
          expr("(85 * coalesce(inflow, cast(0 as bigint))) div 100"))
          .as("rank_fp") +: kept): _*)
  }

  private def fixedRounds(edges0: DataFrame, iters: Int, seeds: Option[DataFrame],
                          nodesPre: Option[DataFrame]): DataFrame = {
    require(iters >= 1, "at least one PageRank round")
    val edges = widened(edges0)
    val nodes = nodesPre.fold(endpoints(edges))(_.select(col("node")))
    // the seed flag: standard PageRank is the all-seeds special case
    val flagged = seeds match {
      case None => nodes.select(col("node"), lit(true).as("is_seed"))
      case Some(sd) =>
        nodes.join(sd.select(col("node")).distinct().withColumn("s_flag", lit(true)),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("s_flag"), lit(false)).as("is_seed"))
    }
    val start = flagged.select(col("node"),
      when(col("is_seed"), lit(1000000L)).otherwise(lit(0L)).as("rank_fp"))
    (1 to iters).foldLeft(start)((r, _) => round(edges, r, flagged))
      .select(col("node"), col("rank_fp"))
  }
}
