package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd (k-means) training over scaled-integer embedding
  * vectors — the loop that actually trains the IVF centroids
  * (`q_kmeans_step` is one round of this; `q_ann_ivf` consumes the result).
  *
  * Spherical k-means (cosine assignment), with the key identity that keeps
  * every round EXACT and cross-engine reproducible: the mean centroid
  * c = s/n (s = per-dimension integer sum over the cluster, n = size) has
  * cos(v, c) = dot(v, s/n) / (|v|·|s|/n) = dot(v, s) / (|v|·|s|) — the n
  * cancels, so assignment against the MEAN equals assignment against the
  * integer SUM vector. Centroid state is therefore (cid, s: Array[Long],
  * |s|²: Long): all-integer, no rounding, bit-identical in the DuckDB
  * oracle.
  *
  * Execution shape per round (the only shape that survives 100 TB):
  *   - assignment is PURE MAP work — the k centroids are embedded as
  *     LITERAL arrays in an in-row `array_max(transform(...))` argmax
  *     (max cos, ties to the smallest cid; same expression as q_ann_ivf),
  *     so no join, no shuffle, no window touches the corpus;
  *   - the update is one (cluster, dim)-keyed partial+final integer sum —
  *     k×d output rows regardless of corpus size — collected to the
  *     driver as MODEL STATE (k×d longs, corpus-independent — the same
  *     discipline as MLlib's KMeans, not a driver-side data loop);
  *   - empty clusters keep their previous centroid.
  *
  * Overflow bound: |s|² fits int64 while n·maxComp ≤ ~3e9 (maxComp ~1e5
  * at the ×1e6 float scale → ~3e4… per-cluster sizes up to ~1e7 at
  * realistic component scales); past that, rescale s to unit ints each
  * round (changes rounding, not the algorithm).
  *
  * The caller passes `iters` (fixed round count — SQL-oracle-expressible);
  * [[trainConverged]] iterates until assignments stop moving, for library
  * use where an oracle is not required.
  */
object KMeans {

  /** Centroid model state: (cid, per-dim integer sums, |s|²). */
  type Model = Seq[(Long, Array[Long], Long)]

  /** In-row argmax-cosine cluster assignment against literal centroids —
    * public so index builds (q_ann_ivf_trained) can assign with a TRAINED
    * model; expects columns `v` (scaled int vector) and `nv` (its norm²). */
  def centArgmax(cents: Model): Column = centArgmaxOn(cents, "v", "nv")

  /** [[centArgmax]] over arbitrary SQL fragments for the vector and its
    * norm² — lets product quantization assign SUBSPACE slices in-row
    * (`slice(v, off, len)` / its self-dot) without materializing per-sub
    * columns. Still pure map work: literal centroids, no join, no
    * shuffle. */
  def centArgmaxOn(cents: Model, vSql: String, nvSql: String): Column = {
    val structs = cents.map { case (cid, s, cn) =>
      s"named_struct('cos', cast(graft_long_dot($vSql, ${s.mkString("array(", "L, ", "L)")}) as double)" +
        s" / (sqrt(cast(($nvSql) as double)) * sqrt(cast(${cn}L as double))), 'negcid', ${-cid}L)"
    }.mkString("array_max(array(", ", ", "))")
    -expr(structs).getField("negcid")
  }

  /** [[centArgmax]] with the model as DATA instead of an expression tree:
    * the literal-struct argmax generates code ∝ k·d and measured ~0.3 s
    * PER CENTROID at sf1 once k passes a few dozen (the generated method
    * outgrows what JIT optimizes), while this form folds the k·d sums,
    * norms², and ids into three constant arrays and runs ONE compiled
    * loop per row ([[graft.expressions.CentArgmaxData]]). Assignments
    * are bit-identical (same dot/sqrt/divide IEEE ops, same min-cid tie
    * rule — spec-pinned), so consumers switch purely on k: the default
    * k=8 stays on the literal form the oracle mirrors structurally, the
    * conf-scaled SemDeDup path (k ∝ N) uses this. */
  def centArgmaxData(cents: Model): Column = {
    val sorted = cents.sortBy(_._1)
    val flat = sorted.flatMap(_._2).mkString("array(", "L, ", "L)")
    val norms = sorted.map(_._3).mkString("array(", "L, ", "L)")
    val cids = sorted.map(_._1).mkString("array(", "L, ", "L)")
    expr(s"graft_cent_argmax(v, nv, $flat, $norms, $cids)")
  }

  /** The n nearest centroids (cos DESC, ties to smallest cid) as an
    * in-row ARRAY of cids — the multi-probe router of an IVF index
    * (FAISS `nprobe`): probing the top-n coarse cells trades n× candidate
    * work for the recall lost when the true neighbor sits just across a
    * Voronoi boundary. Same literal-centroid pure-map shape as
    * [[centArgmax]] (sort a k-element in-row array, k = model size — no
    * join, no shuffle); `centTopN(cents, 1)` ≡ `array(centArgmax(cents))`
    * by the shared (cos DESC, cid ASC) order. */
  def centTopN(cents: Model, n: Int): Column = {
    val structs = cents.map { case (cid, s, cn) =>
      s"named_struct('negcos', -(cast(graft_long_dot(v, ${s.mkString("array(", "L, ", "L)")}) as double)" +
        s" / (sqrt(cast(nv as double)) * sqrt(cast(${cn}L as double)))), 'cid', ${cid}L)"
    }.mkString("array(", ", ", ")")
    expr(s"transform(slice(array_sort($structs), 1, $n), x -> x.cid)")
  }

  /** Cosine to the ASSIGNED (argmax) centroid — [[centArgmax]]'s twin
    * exposing the VALUE instead of the id: how central a vector is inside
    * its own coarse cell. A graph-ANN index uses it to pick each cell's
    * entry point (the member most aligned with the centroid — the medoid
    * approximation); the same literal-centroid in-row shape, no join, no
    * shuffle. The argmax struct already carries the winning cosine, so
    * this is one field read off the identical expression. */
  def centBestCos(cents: Model): Column = {
    val structs = cents.map { case (cid, s, cn) =>
      s"named_struct('cos', cast(graft_long_dot(v, ${s.mkString("array(", "L, ", "L)")}) as double)" +
        s" / (sqrt(cast(nv as double)) * sqrt(cast(${cn}L as double))), 'negcid', ${-cid}L)"
    }.mkString("array_max(array(", ", ", "))")
    expr(structs).getField("cos")
  }

  /** vecs + `cluster` column (max-cos centroid, ties to smallest cid) —
    * the same k-switch as the consumers: identical assignments either
    * way, so which form trains is invisible to the oracle. */
  private def assign(vecs: DataFrame, cents: Model): DataFrame =
    vecs.withColumn("cluster",
      if (cents.length > 16) centArgmaxData(cents) else centArgmax(cents))

  /** Per-(cluster, dim) integer sums + counts of the given assignment. */
  private def clusterSums(assigned: DataFrame): DataFrame =
    assigned.select(col("cluster"), posexplode(col("v"))).toDF("cluster", "pos", "x")
      .groupBy(col("cluster"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))

  /** Seed model: the vectors with ids in `initIds`, as their own "sums". */
  private def seed(vecs: DataFrame, initIds: Seq[Long]): Model = {
    val cents = vecs.filter(col("vec_id").isInCollection(initIds))
      .select(col("vec_id"), col("v"), col("nv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1).toSeq
    require(cents.size == initIds.distinct.size,
      s"k-means: seed ids ${initIds.distinct.diff(cents.map(_._1))} missing from " +
        "the vector table — training with fewer centroids than requested would " +
        "silently change the index shape")
    cents
  }

  /** One driver-side model update from a collected sums frame. */
  private def updated(cents: Model, sums: Array[org.apache.spark.sql.Row]): Model = {
    val dims = cents.head._2.length
    val byCluster = sums.groupBy(_.getLong(0))
    cents.map { case (cid, sPrev, cnPrev) =>
      byCluster.get(cid) match {
        case Some(rows) =>
          val s = new Array[Long](dims)
          rows.foreach(r => s(r.getInt(1)) = r.getLong(3))
          val cn = s.map(x => x * x).sum
          // a zero-sum cluster (members cancel exactly) has no direction:
          // its cosine would be 0/0 = NaN, which Spark orders above every
          // double and would swallow the whole corpus next round — treat
          // it like an empty cluster (keep the previous centroid; the
          // oracle mirrors this via its per-round zero-norm CASE)
          if (cn == 0L) (cid, sPrev, cnPrev) else (cid, s, cn)
        case None => (cid, sPrev, cnPrev) // empty cluster: keep centroid
      }
    }
  }

  /** Model after `updates` Lloyd update rounds from the seed vectors
    * (updates = 0 → the seeds themselves). [[train]]`(iters)` ≡ the
    * cluster sums of assigning with `model(updates = iters - 1)`. */
  def model(vecs: DataFrame, initIds: Seq[Long], updates: Int): Model = {
    // the loop reads the vector table updates+1 times (seed + each round):
    // cache it for the eager section, release before returning (MLlib
    // KMeans does the same). The model state is collected to the driver
    // every round, so no plan grows and nothing needs Loop.cut.
    val cached = vecs.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      var cents = seed(cached, initIds)
      for (_ <- 1 to updates)
        cents = updated(cents, clusterSums(assign(cached, cents)).collect())
      cents
    } finally cached.unpersist(blocking = false)
  }

  /** `iters` Lloyd rounds from the seed vectors; returns the FINAL round's
    * per-(cluster, pos) frame: (cluster, pos, n, s, mean). The first
    * iters-1 rounds run eagerly (model state collected per round); the
    * last round's aggregation is the returned, lazy frame. */
  def train(vecs: DataFrame, initIds: Seq[Long], iters: Int): DataFrame = {
    require(iters >= 1, "at least one Lloyd round")
    clusterSums(assign(vecs, model(vecs, initIds, iters - 1)))
      .select(col("cluster"), col("pos"), col("n"), col("s"),
        (col("s").cast("double") / col("n").cast("double")).as("mean"))
      .orderBy(col("cluster"), col("pos"))
  }

  /** Convergence-driven variant: iterate until the model's integer sums
    * stop changing (exact fixed point — no tolerance knob) or `maxIters`
    * is hit, whichever first; returns (model, roundsRun). */
  def trainConverged(vecs: DataFrame, initIds: Seq[Long], maxIters: Int = 20): (Model, Int) = {
    val cached = vecs.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      var cents = seed(cached, initIds)
      var iter = 0
      var moved = true
      while (moved && iter < maxIters) {
        val next = updated(cents, clusterSums(assign(cached, cents)).collect())
        moved = next.zip(cents).exists { case ((_, a, _), (_, b, _)) => !a.sameElements(b) }
        cents = next
        iter += 1
      }
      (cents, iter)
    } finally cached.unpersist(blocking = false)
  }
}
