package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** [[Prefix]] against one global `Window.orderBy(...)` reference on planted
  * frames: ties on both sides of a bucket edge, a group that holds a single
  * bucket, NULL measure values (a bucket that starts NULL, a bucket that is
  * all NULL, a group that starts NULL), descending buckets and an empty
  * input. Every case runs rank, sum and min, inclusive and exclusive. */
class PrefixSpec extends SparkSpec {
  import spark.implicits._

  /** (g, b, x, id, v): bucket b = x div 10 is a prefix of the order (x, id). */
  private lazy val planted: DataFrame = {
    val rnd = new scala.util.Random(7)
    val random = (0 until 240).map { i =>
      val x = rnd.nextInt(60).toLong
      (Seq("a", "b", "c")(i % 3), x, i.toLong,
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(100).toLong - 20L))
    }
    val planted = Seq(
      // equal x on both sides of the 0|1 and 1|2 bucket edges
      ("a", 9L, 1000L, Some(5L)), ("a", 9L, 1001L, Some(-3L)), ("a", 9L, 1002L, None),
      ("a", 10L, 1003L, Some(4L)), ("a", 10L, 1004L, Some(4L)),
      ("a", 19L, 1005L, Some(1L)), ("a", 20L, 1006L, Some(1L)),
      // bucket 7 starts with NULLs after non-NULL buckets; bucket 8 is all NULL
      ("b", 70L, 1010L, None), ("b", 70L, 1011L, None), ("b", 71L, 1012L, Some(-50L)),
      ("b", 80L, 1013L, None), ("b", 85L, 1014L, None),
      // a group held by one bucket, starting NULL
      ("solo", 33L, 1020L, None), ("solo", 33L, 1021L, Some(9L)),
      ("solo", 35L, 1022L, Some(2L)), ("solo", 39L, 1023L, Some(-1L)),
      // a group whose every value is NULL
      ("nulls", 5L, 1030L, None), ("nulls", 15L, 1031L, None))
    (random ++ planted).toDF("g", "x", "id", "v")
      .withColumn("b", expr("x div 10"))
  }

  private val measures = Seq(
    Prefix.Rank("rk", total = Some("n")),
    Prefix.Sum("s", col("v"), total = Some("t")),
    Prefix.Min("m", col("v")))

  /** The same values from one window per `within` group over the full
    * order (no partition at all when `within` is empty). */
  private def reference(df: DataFrame, within: Seq[String], order: Seq[Column],
                        inclusive: Boolean): DataFrame = {
    val w = Window.partitionBy(within.map(col): _*).orderBy(order: _*)
    val upTo = if (inclusive) Window.currentRow else -1L
    val run = w.rowsBetween(Window.unboundedPreceding, upTo)
    val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rn = row_number().over(w).cast("long")
    df.select(col("id"),
      (if (inclusive) rn else rn - 1L).as("rk"),
      count(lit(1)).over(whole).as("n"),
      (if (inclusive) sum(col("v")).over(run)
       else coalesce(sum(col("v")).over(run), lit(0L))).as("s"),
      sum(col("v")).over(whole).as("t"),
      min(col("v")).over(run).as("m"))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select("id", "rk", "n", "s", "t", "m").collect().toSeq.sortBy(_.getLong(0))

  private def check(df: DataFrame, within: Seq[String], bucket: Prefix.Bucket,
                    order: Seq[Column]): Unit =
    Seq(true, false).foreach { inclusive =>
      val got = rows(Prefix(df, within, Seq(bucket), order, measures, inclusive))
      val bucketKey = if (bucket.descending) col(bucket.name).desc else col(bucket.name)
      val want = rows(reference(df, within, bucketKey +: order, inclusive))
      assert(got.size == df.count(), s"inclusive=$inclusive lost rows")
      assert(got == want, s"inclusive=$inclusive within=$within bucket=$bucket")
    }

  test("rank, sum and min per group over ascending buckets equal one window") {
    check(planted, Seq("g"), Prefix.asc("b"), Seq(col("x"), col("id")))
  }

  test("descending buckets equal one window over the descending order") {
    check(planted, Seq("g"), Prefix.desc("b"), Seq(col("x").desc, col("id")))
  }

  test("without a within group the prefix runs over the whole frame") {
    check(planted, Nil, Prefix.asc("b"), Seq(col("x"), col("id")))
  }

  test("a planted bucket edge: ties on both sides keep their global ranks") {
    val a = planted.filter(col("id").between(1000L, 1006L))
    val got = Prefix(a, Nil, Seq(Prefix.asc("b")), Seq(col("x"), col("id")),
      measures, inclusive = true)
      .select("id", "rk", "s", "m").collect().map(r =>
        (r.getLong(0), r.getLong(1), Option(r.get(2)), Option(r.get(3)))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1000L, 1L, Some(5L), Some(5L)), (1001L, 2L, Some(2L), Some(-3L)),
      (1002L, 3L, Some(2L), Some(-3L)), (1003L, 4L, Some(6L), Some(-3L)),
      (1004L, 5L, Some(10L), Some(-3L)), (1005L, 6L, Some(11L), Some(-3L)),
      (1006L, 7L, Some(12L), Some(-3L))))
  }

  test("an empty input gives an empty result with the measure columns") {
    Seq(true, false).foreach { inclusive =>
      val out = Prefix(planted.limit(0), Seq("g"), Seq(Prefix.asc("b")),
        Seq(col("x"), col("id")), measures, inclusive)
      assert(out.collect().isEmpty)
      assert(out.columns.toSeq == planted.columns.toSeq ++ Seq("rk", "n", "s", "t", "m"))
    }
  }

  test("building starts no job and running persists nothing; sum types are kept") {
    val d386 = DecimalType(38, 6)
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val (out, jobs) = jobsDuring(Prefix(planted.withColumn("d", col("v").cast(d386)),
      Seq("g"), Seq(Prefix.asc("b")), Seq(col("x"), col("id")),
      Seq(Prefix.Sum("s", col("v")), Prefix.Sum("sd", col("d"), total = Some("td"))),
      inclusive = false))
    assert(jobs == 0)
    out.collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds0)
    assert(out.schema("s").dataType == org.apache.spark.sql.types.LongType)
    assert(out.schema("sd").dataType == d386 && out.schema("td").dataType == d386)
  }
}
