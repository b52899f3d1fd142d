package graft

/** Dev tool: execute one registered query at sf0.01 and print its executed
  * plan (post-AQE), for auditing pushdown/pruning/join strategy/exchange
  * reuse — `sbt "runMain graft.PlanProbe q_name"`. The automated guards
  * live in PlanSpec; this is for eyeballing a plan while iterating. */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val df = SparkEntry.queries(args(0))(spark, sf)
    df.write.mode("overwrite").format("noop").save()
    println(df.queryExecution.executedPlan.toString.take(20000))
    spark.stop()
  }
}
