package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one home of iterative-operator loop state: the loop session, the
  * per-round plan cut and the release of a superseded round.
  *
  * Loop state is truncated with the public `Dataset` checkpoint API. An
  * eager checkpoint computes and stores a round in one job and returns a
  * `LogicalRDD` leaf that keeps the round's output partitioning and
  * ordering, so the next round's key-aligned joins need no new shuffle and
  * no Row is re-encoded. Without a cut, each round's plan would embed its
  * predecessor's (twice, when a round reads its input twice), so the
  * analyzed plan would double per round.
  *
  * Frames cross between the caller's session and the loop session once on
  * entry and once on exit (`createDataFrame(df.rdd, df.schema)`), never
  * per round.
  */
private[graft] object Loop {

  /** Loop shuffle width: one partition per 100k rows of loop state, at
    * most the caller's width (a loop over a sliver of the corpus gains
    * nothing from corpus-wide shuffles). */
  def parts(s: SparkSession, rows: Long): Int =
    math.max(1L, math.min(s.conf.get("spark.sql.shuffle.partitions").toLong,
      rows / 100000L + 1L)).toInt

  /** A child session for loop frames: own SQLConf, shared SparkContext, so
    * the caller's conf is never touched. It runs `parts` shuffle partitions
    * with AQE off (AQE's per-stage statistics jobs are pure latency on
    * small state with a chosen partitioning: they more than triple the
    * job count of connected components), and carries the session
    * contract (a new session starts with a fresh conf and function
    * registry, so [[graft.Session.setup]] runs on it). */
  def session(s: SparkSession, parts: Int): SparkSession = {
    val loopS = s.newSession()
    loopS.conf.set("spark.sql.shuffle.partitions", parts.toString)
    loopS.conf.set("spark.sql.adaptive.enabled", "false")
    graft.Session.setup(loopS)
    loopS
  }

  /** `df` computed now and cut to a leaf: local-checkpointed blocks
    * stored at `level`, or, when `checkpointDir` is set, files
    * checkpointed there (executor-loss tolerant, the cluster mode). The
    * checkpoint dir is context-global: it is set only when the context's
    * is not already under `checkpointDir`, so concurrent loops must pass
    * the same dir. */
  def cut(df: DataFrame, checkpointDir: Option[String] = None,
          level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    checkpointDir match {
      case None => df.localCheckpoint(eager = true, level)
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        val p = new Path(dir)
        val want = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
        if (!sc.getCheckpointDir.exists(c => new Path(c).getParent == want))
          sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
    }

  /** Releases a frame returned by [[cut]]: unpersists its blocks and
    * deletes its checkpoint files. Nothing else in the context is
    * touched, so the loop is safe next to concurrent queries. */
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD =>
      r.rdd.unpersist(blocking = false)
      r.rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(r.rdd.context.hadoopConfiguration).delete(p, true)
      }
    case other => throw new IllegalArgumentException(
      s"Loop.free takes a frame returned by Loop.cut, got ${other.nodeName}")
  }

  /** Runs `step` from `init` until `done(round, n)` holds after round n,
    * cutting every round and freeing its predecessor as soon as the
    * successor is stored. Returns the last round's cut frame (the
    * caller's to [[free]]) and the rounds run. Reaching `maxIters`
    * without `done` throws IllegalStateException(`failure(rounds)`):
    * a loop stopped short would hand back state that is not the fixed
    * point. On any throw the live round is freed. */
  def fixpoint(init: DataFrame, maxIters: Int, checkpointDir: Option[String],
               failure: Int => String)(step: DataFrame => DataFrame)(
               done: (DataFrame, Int) => Boolean): (DataFrame, Int) = {
    var cur = cut(init, checkpointDir)
    try {
      var n = 0
      var converged = false
      while (!converged && n < maxIters) {
        val next = cut(step(cur), checkpointDir)
        n += 1
        free(cur)
        cur = next
        converged = done(cur, n)
      }
      if (!converged) throw new IllegalStateException(failure(n))
      (cur, n)
    } catch {
      case t: Throwable => free(cur); throw t
    }
  }
}
