package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global running values (ranks, running sums, prefix minima) with no task
  * sorting more than one bucket: the two-pass distributed prefix scan.
  *
  * The `buckets` columns must form a PREFIX of the sort order (`buckets`,
  * then `order`), so bucket-major order is the global order: a hash prefix
  * of a hash sort key, [[graft.Num.rangeBucket]] of a value, `id div k`.
  * Pass 1 runs each measure as a window partitioned by (`within`,
  * `buckets`), in parallel across buckets. Pass 2 aggregates the frame to
  * one row per bucket (`groupBy(within ++ buckets)`, the measure named
  * `btot`), takes the exclusive prefix of that table in a window
  * partitioned by `within` alone, and broadcasts it back. Only the bucket
  * table ever crosses that window. Local work followed by a bounded global
  * merge is REPOSE's pattern (ICDE'21).
  *
  * Per `within` group, each result equals one
  * `Window.partitionBy(within).orderBy(buckets ++ order)` rows frame that
  * ends at the current row (`inclusive`) or just before it:
  *  - [[Rank]]: `row_number()`, or the count of earlier rows;
  *  - [[Sum]]: the running sum, skipping NULLs. An inclusive sum is NULL
  *    while every value so far is NULL; an exclusive sum is 0 while no
  *    earlier value is non-NULL;
  *  - [[Min]]: the running minimum, NULL while every value so far is NULL.
  * A rank or sum may also name a `total`: the sum over its whole `within`
  * group, from the same bucket window with an unbounded frame.
  *
  * The result is `df`'s columns plus each measure's `out` and `total`. A
  * row whose `within` or bucket key is NULL has no result row (the bucket
  * table joins back on equality), though its measure still counts at the
  * NULL key's place in the order. The plan is lazy: nothing is persisted,
  * and `df`, read by both passes, is computed twice unless its exchanges
  * are reused; a caller persists a `df` that is dear to recompute
  * (`q_auc`, `q_dsir`).
  */
object Prefix {

  /** A bucket column and its direction in the sort order. */
  final case class Bucket(name: String, descending: Boolean = false) {
    private[operators] def sortKey: Column = if (descending) col(name).desc else col(name)
  }
  def asc(name: String): Bucket = Bucket(name)
  def desc(name: String): Bucket = Bucket(name, descending = true)

  /** A decomposable running measure, written to column `out`. */
  sealed trait Measure { def out: String; def total: Option[String] }
  final case class Rank(out: String, total: Option[String] = None) extends Measure
  final case class Sum(out: String, value: Column, total: Option[String] = None)
    extends Measure
  final case class Min(out: String, value: Column) extends Measure {
    def total: Option[String] = None
  }

  def apply(df: DataFrame, within: Seq[String], buckets: Seq[Bucket],
            order: Seq[Column], measures: Seq[Measure],
            inclusive: Boolean): DataFrame = {
    val keys = within ++ buckets.map(_.name)
    val ms = measures.zipWithIndex.map { case (m, i) =>
      (m, if (i == 0) "btot" else s"btot$i", s"_prefix_local$i", s"_prefix_before$i")
    }
    val inBucket = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val running = inBucket.rowsBetween(Window.unboundedPreceding,
      if (inclusive) Window.currentRow else -1L)
    val byBucket = Window.partitionBy(within.map(col): _*)
      .orderBy(buckets.map(_.sortKey): _*)
    val before = byBucket.rowsBetween(Window.unboundedPreceding, -1)
    val whole = byBucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    val bucketAggs = ms.map { case (m, bt, _, _) =>
      (m match {
        case _: Rank => count(lit(1))
        case Sum(_, v, _) => sum(v)
        case Min(_, v) => min(v)
      }).as(bt)
    }
    val bucketPrefix = df.groupBy(keys.map(col): _*)
      .agg(bucketAggs.head, bucketAggs.tail: _*)
      .select(keys.map(col) ++ ms.flatMap { case (m, bt, _, pb) =>
        (m match {
          case _: Min => min(col(bt)).over(before)
          case _ => sum(col(bt)).over(before)
        }).as(pb) +: m.total.map(t => sum(col(bt)).over(whole).as(t)).toSeq
      }: _*)

    val local = df.select(col("*") +: ms.map { case (m, _, pl, _) =>
      (m match {
        case _: Rank =>
          val rn = row_number().over(inBucket).cast("long")
          if (inclusive) rn else rn - 1L
        case Sum(_, v, _) => sum(v).over(running)
        case Min(_, v) => min(v).over(running)
      }).as(pl)
    }: _*)

    local.join(broadcast(bucketPrefix), keys)
      .select(df.columns.toSeq.map(col) ++ ms.flatMap { case (m, _, pl, pb) =>
        val (l, b) = (col(pl), col(pb))
        (m match {
          case _: Min => least(b, l)
          case _: Rank => coalesce(b, lit(0)) + l
          case _ if inclusive => coalesce(coalesce(b, lit(0)) + l, b)
          case _ => coalesce(b, lit(0)) + coalesce(l, lit(0))
        }).as(m.out) +: m.total.map(col).toSeq
      }: _*)
  }
}
