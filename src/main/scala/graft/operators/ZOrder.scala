package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) layout — multi-dimensional clustering for scan
  * pruning.
  *
  * Range-clustering one column (io.RangeCluster) makes that column's
  * min/max file statistics tight but leaves every other column's spans
  * full-width; a predicate on the second column then prunes nothing. The
  * Z-curve interleaves the bit patterns of two rank-bucketed columns so
  * rows close on the curve are close in BOTH dimensions — after
  * `repartitionByRange(zaddr) + sortWithinPartitions(zaddr)`, every file
  * covers a small rectangle of (a, b) space and a point/range predicate
  * on EITHER column skips most files on parquet min/max alone. This is
  * the standard lakehouse layout trick for two-to-four filter columns
  * where single-column clustering can only serve one.
  *
  * Scale discipline: the bucket boundaries come from ONE driver-side
  * `approxQuantile` call (a mergeable sketch pass, no sort); bucket
  * assignment and bit interleaving are pure map work on broadcast literal
  * cut arrays; the only shuffle is the final range partition on the
  * Z-address. Nothing here sorts the corpus globally by value.
  *
  * The reference has no layout control at all (BigQuery clustering is
  * service-side, reference: bq.py:149-163 delegates); this is engine
  * territory.
  */
object ZOrder {

  /** Spread the low 32 bits of `x` to even bit positions (Morton spread)
    * — the classic mask ladder, expressed as codegen-friendly column
    * arithmetic (5 shift/or/and rounds, no UDF). */
  def spreadBits(x: Column): Column = {
    val m = Seq(
      (16, 0x0000FFFF0000FFFFL),
      (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL),
      (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    m.foldLeft(x.cast("long").bitwiseAND(lit(0xFFFFFFFFL))) {
      case (acc, (s, mask)) =>
        (acc.bitwiseOR(shiftleft(acc, s))).bitwiseAND(lit(mask))
    }
  }

  /** 64-bit Z-address of two 32-bit non-negative ints: bits of `a` on
    * even positions, bits of `b` on odd. */
  def zAddress(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Generalized Morton spread: the low `bits` bits of `x` land `k`
    * positions apart (bit i → position i·k). The 2-dim mask ladder does
    * not generalize to odd strides, so this builds the spread as a
    * static `bits`-term shift/and/or tree — still pure column
    * arithmetic, still whole-stage-codegen'd, no UDF. */
  def spreadBitsK(x: Column, k: Int, bits: Int): Column = {
    val base = x.cast("long").bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map { i =>
      shiftleft(shiftright(base, i).bitwiseAND(lit(1L)), i * k)
    }.reduce(_ bitwiseOR _)
  }

  /** k-dim Z-address: dimension j's bits occupy positions ≡ j (mod k),
    * each dimension budgeted 63/k bits — 31 at k=2, 21 at k=3, 15 at
    * k=4, matching the 64-bucket default resolution (6 bits) with room
    * to raise `buckets` three orders of magnitude. */
  def zAddressK(cols: Seq[Column]): Column = {
    val k = cols.size
    require(k >= 2 && k <= 8, s"z-order supports 2..8 dims, got $k")
    val bits = 63 / k
    cols.zipWithIndex.map { case (c, j) =>
      shiftleft(spreadBitsK(c, k, bits), j)
    }.reduce(_ bitwiseOR _)
  }

  /** Equi-depth bucket id (0 until buckets) of `col` given sorted cut
    * points from approxQuantile — the codegen'd binary-search expression
    * (expressions.EquiDepthBucket). The column-arithmetic alternatives
    * (a nested `when` ladder or a flat sum of B-1 comparison terms) put
    * hundreds of nodes per dimension into one projection; stacked k-dim,
    * that cost ~13 s of planning/codegen on a layout job whose row work
    * is <1 s. One O(log B) expression node per dimension keeps the plan
    * constant-size. The cut array rides along as a literal (broadcast
    * with the plan, never shuffled). NULL and NaN keep the ladder's
    * placement (bucket 0 and the top bucket respectively) so rows with
    * a degenerate dimension still get a valid zaddr and cluster by
    * their OTHER dimensions instead of collapsing into a null region. */
  private def bucketOf(c: Column, cuts: Array[Double]): Column =
    when(c.isNaN, lit(cuts.length))
      .otherwise(coalesce(call_function("graft_bucket", c, lit(cuts)), lit(0)))

  /** Re-layout `df` Z-ordered on two numeric columns into `numFiles`
    * range-partitioned, internally sorted shards. `buckets` is the
    * per-dimension rank resolution (equi-depth via approxQuantile, so
    * skew cannot collapse the curve). */
  def layout(df: DataFrame, colA: String, colB: String,
             numFiles: Int = 8, buckets: Int = 64): DataFrame = {
    graft.Session.setup(df.sparkSession)
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    // ONE sketch pass over both columns (the multi-column approxQuantile
    // overload merges per-partition sketches for every column in a
    // single job); no corpus sort
    val Array(cutsA, cutsB) =
      df.stat.approxQuantile(Array(colA, colB), probs, 0.01)
    // stage the bucket ids as their own projection so the interleave
    // references two cheap attributes instead of inlining the bucket
    // expression into every spread term (see bucketOf's codegen note);
    // staging names are collision-checked so a user column is never
    // silently replaced and dropped
    val Seq(zba, zbb, za) = freshNames(df, Seq("__zba", "__zbb", "__zaddr"))
    val staged = df
      .withColumn(zba, bucketOf(col(colA).cast("double"), cutsA))
      .withColumn(zbb, bucketOf(col(colB).cast("double"), cutsB))
    staged.withColumn(za, zAddress(col(zba), col(zbb)))
      .repartitionByRange(numFiles, col(za))
      .sortWithinPartitions(col(za))
      .drop(za, zba, zbb)
  }

  /** Working-column names guaranteed absent from `df` (suffix bumped on
    * collision) — withColumn otherwise silently REPLACES a same-named
    * user column, which the layout would then drop. */
  private def freshNames(df: DataFrame, bases: Seq[String]): Seq[String] = {
    val taken = scala.collection.mutable.Set(df.columns: _*)
    bases.map { b =>
      var n = b
      var i = 0
      while (taken(n)) { i += 1; n = s"$b$i" }
      taken += n
      n
    }
  }

  /** n-dimensional Z-layout — the clustering-key story for a 100 TB fact
    * table filtered on 3-4 columns: same shape as [[layout]] (one
    * approxQuantile sketch pass per column, broadcast-literal bucket
    * ladders, one range shuffle on the Z-address), with the interleave
    * generalized to k dims via [[zAddressK]]. */
  def layoutK(df: DataFrame, cols: Seq[String],
              numFiles: Int = 8, buckets: Int = 64): DataFrame = {
    graft.Session.setup(df.sparkSession)
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    // one job sketches ALL k dimensions — k passes collapsed to 1
    val cuts = df.stat.approxQuantile(cols.toArray, probs, 0.01).toSeq
    // bucket ids staged as attributes, then interleaved — keeps the
    // k·bits spread terms referencing cheap refs, not k duplicated
    // bucket expressions (codegen blowup; see bucketOf); names
    // collision-checked like [[layout]]
    val names = freshNames(df,
      cols.indices.map(i => s"__zb$i") :+ "__zaddr")
    val (bucketNames, za) = (names.init, names.last)
    val staged = cols.zip(cuts).zip(bucketNames).foldLeft(df) {
      case (acc, ((c, cu), bn)) =>
        acc.withColumn(bn, bucketOf(col(c).cast("double"), cu))
    }
    staged.withColumn(za, zAddressK(bucketNames.map(col)))
      .repartitionByRange(numFiles, col(za))
      .sortWithinPartitions(col(za))
      .drop(za +: bucketNames: _*)
  }
}
