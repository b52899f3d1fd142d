package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: write `explain("formatted")` for a comma-separated list of
  * registered queries to files — the plan evidence the optimization rounds
  * commit under plans/<round>/ (`sbt "runMain graft.PlanDump q_a,q_b out_dir
  * suffix [sfDir]"`). Uses the analyzed plan's FormattedMode string (scan
  * pushdown, exchanges, join strategies, codegen spans) — the same text
  * `df.explain("formatted")` prints. The query is executed through the noop
  * sink first so eager/memoized builders (assets, loop queries) reach steady
  * state, then the INITIAL adaptive plan is dumped (the write's own
  * QueryExecution is separate, so `df.queryExecution` stays
  * isFinalPlan=false — round-14 advice; committed dumps are therefore
  * pre-AQE shape, directly comparable with plans/r14/). Exchange counts,
  * join strategies and scan pushdown are all decided in this plan; AQE only
  * coalesces/rewrites at runtime.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val outDir = if (args.length > 1) args(1) else "plans/r14"
    val suffix = if (args.length > 2) args(2) else "before"
    val sf = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf)
      df.write.mode("overwrite").format("noop").save()
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
