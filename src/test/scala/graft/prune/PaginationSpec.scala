package graft.prune

import graft.SparkSpec

class PaginationSpec extends SparkSpec {
  import spark.implicits._

  test("fixture A8: token lifecycle — first page materializes, later pages skip the query, final page has no token") {
    val df = (1 to 25).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val dest = tmpDir("page") + "/dest"

    val p0 = Pagination.firstPage(df, Seq("id"), 10, dest)
    assert(p0.rows.as[(Long, String)].collect().map(_._1).toSeq == (1L to 10L))
    assert(p0.nextToken.isDefined)

    val p1 = Pagination.nextPage(spark, p0.nextToken.get)
    assert(p1.rows.as[(Long, String)].collect().map(_._1).toSeq == (11L to 20L))

    val p2 = Pagination.nextPage(spark, p1.nextToken.get)
    assert(p2.rows.as[(Long, String)].collect().map(_._1).toSeq == (21L to 25L))
    assert(p2.nextToken.isEmpty) // ≙ next_page_token=None terminates
  }

  test("pages are disjoint and cover the whole result exactly once") {
    val df = (1 to 17).map(i => (i.toLong, i % 3)).toDF("id", "g")
    val dest = tmpDir("page2") + "/dest"
    var page = Pagination.firstPage(df, Seq("id"), 5, dest)
    var seen = page.rows.as[(Long, Int)].collect().map(_._1).toVector
    while (page.nextToken.isDefined) {
      page = Pagination.nextPage(spark, page.nextToken.get)
      seen ++= page.rows.as[(Long, Int)].collect().map(_._1)
    }
    assert(seen == (1L to 17L).toVector)
  }

  test("continuation pages push the __idx range to the parquet scan — no offset re-scan, no re-count") {
    val df = (1 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val dest = tmpDir("page3") + "/dest"
    val p0 = Pagination.firstPage(df, Seq("id"), 20, dest)
    val p1 = Pagination.nextPage(spark, p0.nextToken.get)
    val plan = p1.rows.queryExecution.executedPlan.toString
    // the page range is a pushed parquet filter (file pruning via min/max),
    // not a global sort + offset
    assert(plan.contains("PushedFilters") && plan.contains("__idx"), plan)
    assert(!plan.contains("GlobalLimit"), plan)
  }

  test("two firstPage calls on the same destDir each page their own rows") {
    val dest = tmpDir("pagere") + "/dest"
    val a = (1 to 6).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val a0 = Pagination.firstPage(a, Seq("id"), 4, dest)
    assert(a0.rows.as[(Long, String)].collect().toSeq ==
      (1 to 4).map(i => (i.toLong, s"v$i")))
    val a1 = Pagination.nextPage(spark, a0.nextToken.get)
    assert(a1.rows.as[(Long, String)].collect().toSeq == Seq((5L, "v5"), (6L, "v6")))

    // different rows AND a different schema over the same destination
    val b = (101 to 105).map(i => (i.toLong, i * 0.5)).toDF("id", "w")
    val b0 = Pagination.firstPage(b, Seq("id"), 4, dest)
    assert(b0.rows.columns.toSeq == Seq("id", "w"))
    assert(b0.rows.as[(Long, Double)].collect().map(_._1).toSeq == (101L to 104L))
    val b1 = Pagination.nextPage(spark, b0.nextToken.get)
    assert(b1.rows.as[(Long, Double)].collect().toSeq == Seq((105L, 52.5)))
    assert(b1.nextToken.isEmpty)
  }

  test("tokens are jackson-encoded: paths with JSON-hostile characters survive") {
    val df = (1 to 6).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    // JSON-hostile (quote, comma, colon) but Hadoop-glob-safe characters
    val dest = tmpDir("page4") + "/de\"st, we:ird"
    val p0 = Pagination.firstPage(df, Seq("id"), 4, dest)
    val p1 = Pagination.nextPage(spark, p0.nextToken.get)
    assert(p1.rows.as[(Long, String)].collect().map(_._1).toSeq == Seq(5L, 6L))
    assert(p1.nextToken.isEmpty)
  }

  test("release drops the materialized destination; callable from the FINAL page; idempotent") {
    val df = (1 to 8).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val dest = tmpDir("pagerel") + "/dest"
    val p0 = Pagination.firstPage(df, Seq("id"), 5, dest)
    assert(new java.io.File(dest).exists())
    val last = Pagination.nextPage(spark, p0.nextToken.get)
    assert(last.nextToken.isEmpty) // exhausted cursor…
    Pagination.release(spark, last.token) // …still releasable via its own token
    assert(!new java.io.File(dest).exists()) // destination gone
    Pagination.release(spark, p0.token) // release via any page's token: no-op, no error
  }

  test("expiry sweep deletes only destinations older than the TTL (24h analog)") {
    val root = tmpDir("pagesweep")
    val df = (1 to 6).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val p0 = Pagination.firstPage(df, Seq("id"), 4, s"$root/destA")
    Pagination.firstPage(df, Seq("id"), 4, s"$root/destB")
    val now = System.currentTimeMillis()
    // young destinations survive a 24h TTL…
    assert(Pagination.sweepExpired(spark, root, ttlMs = 24L * 3600 * 1000, nowMs = now).isEmpty)
    assert(new java.io.File(s"$root/destA").exists())
    // …and are swept once the clock passes the TTL
    val swept = Pagination.sweepExpired(spark, root, ttlMs = 1000,
      nowMs = now + 25L * 3600 * 1000)
    assert(swept.size == 2, swept)
    assert(!new java.io.File(s"$root/destA").exists())
    assert(!new java.io.File(s"$root/destB").exists())
    // a swept cursor's token release stays a harmless no-op
    Pagination.release(spark, p0.token)
    // sweeping a missing root is a no-op
    assert(Pagination.sweepExpired(spark, s"$root/nope", 0L).isEmpty)
  }

  test("empty result: one empty page, immediate termination") {
    val df = Seq.empty[(Long, String)].toDF("id", "v")
    val dest = tmpDir("page5") + "/dest"
    val p0 = Pagination.firstPage(df, Seq("id"), 10, dest)
    assert(p0.rows.count() == 0)
    assert(p0.nextToken.isEmpty)
  }

  test("unordered mode pages an ORDER-BY-free query stably: disjoint pages, full coverage, release") {
    // full reference parity (bq.py:193-215): any SELECT pages without an
    // explicit sort — the materialized destination freezes arrival order
    val df = graft.Tables.load(spark, sf, "nation")
      .select("n_nationkey", "n_name")
    val dest = tmpDir("page6") + "/dest"
    var page = Pagination.firstPage(df, 7, dest)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var tokens = List(page.token)
    seen ++= page.rows.collect().map(_.getAs[Number](0).longValue)
    while (page.nextToken.isDefined) {
      page = Pagination.nextPage(spark, page.nextToken.get)
      tokens ::= page.token
      seen ++= page.rows.collect().map(_.getAs[Number](0).longValue)
    }
    val all = df.collect().map(_.getAs[Number](0).longValue)
    // exactly-once coverage: every row on exactly one page
    assert(seen.sorted === all.sorted.toSeq)
    assert(seen.size === all.length)
    // stability: re-reading an earlier page yields the same rows
    val replay = Pagination.nextPage(spark, tokens.last)
      .rows.collect().map(_.getAs[Number](0).longValue).toSeq
    assert(replay === seen.take(replay.size).toSeq)
    Pagination.release(spark, page.token)
    assert(!new java.io.File(dest).exists())
  }
}
