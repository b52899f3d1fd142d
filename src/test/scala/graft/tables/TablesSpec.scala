package graft.tables

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Tables.parquet remembers each path's inferred schema: a warm read runs
  * no Spark job, and any rewrite of the path (or a change of an inference
  * conf) makes the next read infer again. */
class TablesSpec extends SparkSpec {

  /** A fresh dir holding copies of the named sf tables, so no earlier
    * suite has resolved these paths yet. */
  private def sfCopy(names: String*): String = {
    val d = tmpDir("graft-tables")
    names.foreach(n => Files.copy(Paths.get(s"$sf/$n.parquet"), Paths.get(s"$d/$n.parquet")))
    d
  }

  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** Writes `df` as ONE parquet file at `dest`, replacing what was there. */
  private def writeSingleFile(df: DataFrame, dest: String): Unit = {
    val stage = tmpDir("graft-tables-stage") + "/out"
    df.coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(dest), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of the same table starts no Spark job and returns the same schema and rows") {
    val d = sfCopy("orders")
    val (first, coldJobs) = jobsDuring(Tables.load(spark, d, "orders"))
    assert(coldJobs >= 1, "the first load infers the schema with a Spark job")
    val (second, warmJobs) = jobsDuring(Tables.load(spark, d, "orders"))
    assert(warmJobs == 0)
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first))
  }

  test("a Spark directory rewrite in place is seen by the next load") {
    val d = tmpDir("graft-tables-dir")
    spark.range(5).select(col("id").as("a")).write.parquet(s"$d/t.parquet")
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("a"))
    assert(Tables.load(spark, d, "t").columns.toSeq == Seq("a"))
    spark.range(3).select(col("id").as("a"), (col("id") * 10).as("b"))
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val after = Tables.load(spark, d, "t")
    assert(after.columns.toSeq == Seq("a", "b"))
    assert(after.orderBy("a").collect().map(_.getLong(1)).toSeq == Seq(0L, 10L, 20L))
  }

  test("a single-file rewrite with a different schema is seen by the next load") {
    val d = tmpDir("graft-tables-file")
    writeSingleFile(spark.range(4).select(col("id").as("a")), s"$d/u.parquet")
    assert(Tables.load(spark, d, "u").columns.toSeq == Seq("a"))
    writeSingleFile(spark.range(4).select(col("id").as("a"), lit("x").as("c")), s"$d/u.parquet")
    val after = Tables.load(spark, d, "u")
    assert(after.columns.toSeq == Seq("a", "c"))
    assert(after.collect().map(_.getString(1)).toSeq == Seq.fill(4)("x"))
  }

  test("a change of an inference conf re-infers the remembered schema") {
    val d = sfCopy("events")
    val path = s"$d/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try {
      spark.conf.set(key, "false")
      assert(Tables.parquet(spark, path).schema("ts").dataType == TimestampType)
      spark.conf.set(key, "true")
      assert(Tables.parquet(spark, path).schema("ts").dataType == TimestampNTZType)
    } finally spark.conf.unset(key)
  }

  test("a missing path still throws Spark's AnalysisException") {
    val d = tmpDir("graft-tables-missing")
    val e = intercept[AnalysisException](Tables.load(spark, d, "nope"))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("events.ts normalizes to TimestampType on the inferring and the remembered load") {
    val d = sfCopy("events")
    val cold = Tables.load(spark, d, "events")
    val warm = Tables.load(spark, d, "events")
    assert(cold.schema("ts").dataType == TimestampType)
    assert(warm.schema("ts").dataType == TimestampType)
    assert(rows(warm.select("event_id", "ts")) == rows(cold.select("event_id", "ts")))
  }
}
