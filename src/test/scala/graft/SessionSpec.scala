package graft

import graft.operators.{Loop, ZOrder}
import org.apache.spark.sql.SparkSession

/** The session contract on fresh child sessions (own conf and function
  * registry, shared context), so nothing the shared test session already
  * carries can stand in for it. */
class SessionSpec extends SparkSpec {

  private val confs = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1048576")

  /** One well-typed call of each native function. */
  private val calls = Seq(
    "graft_long_dot(array(1L, 2L), array(3L, 4L))",
    "graft_levenshtein('kitten', 'sitting')",
    "graft_nfc('e')",
    "graft_bucket(1.5D, array(1.0D, 2.0D))",
    "graft_md5_u32('a')",
    "graft_lang_tri('the quick brown fox')",
    "graft_cent_argmax(array(1L), 1L, array(0L), array(1L), array(0L))")

  private def assertContract(s: SparkSession): Unit = {
    confs.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    // spark.sql analyzes eagerly: an unregistered name fails right here
    calls.foreach(c => s.sql(s"SELECT $c"))
  }

  test("setup sets the three confs and registers every graft_* function") {
    val s = spark.newSession()
    assert(calls.size == graft.expressions.GraftFunctions.descriptors.size)
    Session.setup(s)
    assertContract(s)
  }

  test("a second setup starts no job and changes nothing") {
    val s = spark.newSession()
    val (_, first) = jobsDuring(Session.setup(s))
    val conf = s.conf.getAll
    val fns = s.sessionState.functionRegistry.listFunction().toSet
    val (_, second) = jobsDuring(Session.setup(s))
    assert(first == 0 && second == 0)
    assert(s.conf.getAll == conf)
    assert(s.sessionState.functionRegistry.listFunction().toSet == fns)
  }

  test("a loop session carries the session contract") {
    val loopS = Loop.session(spark.newSession(), 1)
    assertContract(loopS)
    assert(loopS.conf.get("spark.sql.shuffle.partitions") == "1")
  }

  test("ZOrder.layout runs on a session that never loaded a table") {
    val s = spark.newSession()
    val df = s.range(200).selectExpr("id AS a", "(id * 7) % 13 AS b")
    val out = ZOrder.layout(df, "a", "b", numFiles = 2, buckets = 4)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }
}
