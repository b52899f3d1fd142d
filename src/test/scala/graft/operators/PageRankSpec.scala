package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[PageRank]] against a driver-side fixed-point-integer simulation and
  * closed-form graphs. The operator's mass is exact integer arithmetic
  * (1e6 start, 85/100 damping, truncating division), so every assertion
  * here is equality — no float tolerance anywhere.
  *
  * Closed forms used:
  *   - k-CYCLE: every node has in/out-degree 1, so the uniform start IS the
  *     fixed point (1000000 = 150000 + (85*1000000)//100) and trainConverged
  *     proves it in one round.
  *   - STAR-OUT (center → L leaves): the center gets no inflow and settles
  *     at the teleport mass 150000 in round 1; leaves then settle at
  *     150000 + (85*(150000//L))//100 in round 2 (proven in round 3).
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference: the exact integer round, iterated. Parallel
    * edges act as weights, matching the operator's contract. */
  private def simulate(edges: Seq[(String, String)], iters: Int): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      edges.foreach { case (s, t) => inflow(t) += rank(s) / deg(s) }
      rank = nodes.map(n => n -> (150000L + 85L * inflow(n) / 100L)).toMap
    }
    rank
  }

  private def collect(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.as[(String, Long)].collect().toMap

  private def randomEdges(seed: Int, n: Int, nodes: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((s"n${rnd.nextInt(nodes)}", s"n${rnd.nextInt(nodes)}"))
      .filter { case (a, b) => a != b } // self-loops out, parallel edges kept
  }

  test("ranks(k) matches the integer simulation on a seeded random multigraph, k=1..3") {
    val edges = randomEdges(7, 400, 40)
    for (k <- 1 to 3)
      assert(collect(PageRank.ranks(edges.toDF("src", "dst"), k)) ==
        simulate(edges, k), s"k=$k")
  }

  test("ranks(k) matches the integer simulation past four rounds, k=6 and k=9") {
    val edges = randomEdges(13, 300, 30)
    for (k <- Seq(6, 9))
      assert(collect(PageRank.ranks(edges.toDF("src", "dst"), k)) ==
        simulate(edges, k), s"k=$k")
  }

  test("prepared (src, dst, deg) edges with a node list equal the bare-edge ranks") {
    val edges = randomEdges(17, 300, 30)
    val bare = edges.toDF("src", "dst")
    val prepared = bare.groupBy("src").agg(count(lit(1)).as("deg"))
      .join(bare, "src").select("src", "dst", "deg")
    val nodes = bare.select(col("src").as("node"))
      .union(bare.select(col("dst").as("node"))).distinct()
    val seeds = nodes.filter(col("node").endsWith("3"))
    for (k <- Seq(1, 3)) {
      assert(collect(PageRank.ranks(prepared, k, nodes = Some(nodes))) ==
        collect(PageRank.ranks(bare, k)), s"k=$k")
      assert(collect(PageRank.ranksPersonalized(prepared, seeds, k, nodes = Some(nodes))) ==
        collect(PageRank.ranksPersonalized(bare, seeds, k)), s"personalized k=$k")
    }
  }

  test("a third column named deg must be integral") {
    val weighted = Seq(("a", "b", 0.5), ("b", "a", 2.0)).toDF("src", "dst", "deg")
    val e = intercept[IllegalArgumentException](PageRank.ranks(weighted, 3))
    assert(e.getMessage.contains("deg"))
    intercept[IllegalArgumentException](PageRank.trainConverged(weighted))
    // integral widths other than long are accepted
    val intDeg = Seq(("a", "b", 1), ("b", "a", 1)).toDF("src", "dst", "deg")
    assert(collect(PageRank.ranks(intDeg, 2)) == simulate(Seq(("a", "b"), ("b", "a")), 2))
  }

  test("fixed rounds are one lazy plan: building starts no job, collecting leaves no cache") {
    val edges = randomEdges(19, 300, 30)
    val seeds = Seq("n1", "n2").toDF("node")
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val (plain, plainJobs) = jobsDuring(PageRank.ranks(edges.toDF("src", "dst"), 3))
    val (personal, personalJobs) =
      jobsDuring(PageRank.ranksPersonalized(edges.toDF("src", "dst"), seeds, 3))
    assert(plainJobs == 0 && personalJobs == 0)
    assert(collect(plain) == simulate(edges, 3))
    assert(collect(personal).size == simulate(edges, 3).size)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    // the registered queries, once their edge asset and tables are resolved
    for (q <- Seq("q_pagerank_k", "q_pagerank_personal")) {
      val build = graft.SparkEntry.queries(q)
      build(spark, sf).collect()
      val (df, jobs) = jobsDuring(build(spark, sf))
      assert(jobs == 0, q)
      assert(df.collect().length == 25, q)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, q)
      assert(spark.sharedState.cacheManager.isEmpty, q)
    }
  }

  test("ranks requires at least one round") {
    intercept[IllegalArgumentException] {
      PageRank.ranks(Seq(("a", "b")).toDF("src", "dst"), 0)
    }
  }

  test("cycle: uniform start is the exact fixed point, proven in one round") {
    val cycle = (0 until 6).map(i => (s"n$i", s"n${(i + 1) % 6}"))
    val (ranks, rounds) = PageRank.trainConverged(cycle.toDF("src", "dst"))
    assert(rounds == 1)
    assert(collect(ranks) == (0 until 6).map(i => s"n$i" -> 1000000L).toMap)
  }

  test("star-out: center at teleport mass, leaves at the closed-form fixed point") {
    val star = (1 to 5).map(i => ("hub", s"leaf$i"))
    val (ranks, rounds) = PageRank.trainConverged(star.toDF("src", "dst"))
    // round 1 moves the center to 150000, round 2 settles the leaves,
    // round 3 proves no change.
    assert(rounds == 3)
    val leafRank = 150000L + 85L * (150000L / 5L) / 100L // = 175500
    val expected = Map("hub" -> 150000L) ++
      (1 to 5).map(i => s"leaf$i" -> leafRank)
    assert(collect(ranks) == expected)
    // sanity: the fixed point agrees with the simulation run past convergence
    assert(expected == simulate(star, 10))
  }

  test("2-node source→sink settles in two rounds (proven in three)") {
    val (ranks, rounds) = PageRank.trainConverged(Seq(("a", "b")).toDF("src", "dst"))
    assert(rounds == 3)
    assert(collect(ranks) ==
      Map("a" -> 150000L, "b" -> (150000L + 85L * 150000L / 100L)))
  }

  test("maxIters exhaustion throws instead of returning a truncated signal") {
    val star = (1 to 5).map(i => ("hub", s"leaf$i")) // needs 3 rounds
    val e = intercept[IllegalStateException] {
      PageRank.trainConverged(star.toDF("src", "dst"), maxIters = 2)
    }
    assert(e.getMessage.contains("fixed point"))
  }

  test("personalized: all-seeds equals standard; seed-restricted matches the simulation") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
      .filter { case (a, b) => a != b }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    // all nodes as seeds reduces exactly to the standard variant
    val allSeeds = nodes.toDF("node")
    assert(collect(PageRank.ranksPersonalized(edges.toDF("src", "dst"), allSeeds, 2))
      == collect(PageRank.ranks(edges.toDF("src", "dst"), 2)))
    // a seed subset matches the seeded driver-side simulation
    val seedSet = nodes.filter(_.stripPrefix("n").toInt % 3 == 0).toSet
    def simSeeded(iters: Int): Map[String, Long] = {
      val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var rank = nodes.map(n => n -> (if (seedSet(n)) 1000000L else 0L)).toMap
      for (_ <- 1 to iters) {
        val inflow = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        edges.foreach { case (s, t) => inflow(t) += rank(s) / deg(s) }
        rank = nodes.map(n =>
          n -> ((if (seedSet(n)) 150000L else 0L) + 85L * inflow(n) / 100L)).toMap
      }
      rank
    }
    for (k <- 1 to 3)
      assert(collect(PageRank.ranksPersonalized(
        edges.toDF("src", "dst"), seedSet.toSeq.toDF("node"), k)) == simSeeded(k),
        s"k=$k")
  }

  test("checkpointDir mode reaches the same fixed point (reliable-checkpoint path)") {
    val star = (1 to 5).map(i => ("hub", s"leaf$i"))
    val dir = tmpDir("graft-pr-ckpt")
    val (ranks, rounds) =
      PageRank.trainConverged(star.toDF("src", "dst"), checkpointDir = Some(dir))
    assert(rounds == 3)
    val (plain, _) = PageRank.trainConverged(star.toDF("src", "dst"))
    assert(collect(ranks) == collect(plain))
  }

  test("checkpointDir mode deletes superseded rounds, keeps the final one") {
    val dir = tmpDir("graft-pr-sweep")
    val star = (1 to 5).map(i => ("hub", s"leaf$i")) // 3 rounds
    val (ranks, rounds) =
      PageRank.trainConverged(star.toDF("src", "dst"), checkpointDir = Some(dir))
    assert(rounds == 3)
    assert(ranks.count() == 6)
    // Spark lays out checkpoints as <dir>/<uuid>/rdd-<id>; only the final
    // round's rdd dir (backing the returned frame) may remain.
    val rddDirs = new java.io.File(dir).listFiles().toSeq
      .flatMap(u => Option(u.listFiles()).map(_.toSeq).getOrElse(Nil))
      .filter(_.getName.startsWith("rdd-"))
    assert(rddDirs.size == 1, rddDirs.mkString(", "))
  }

  test("local mode leaves exactly one new persistent RDD: the final round") {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val star = (1 to 5).map(i => ("hub", s"leaf$i")) // 3 rounds
    val (ranks, _) = PageRank.trainConverged(star.toDF("src", "dst"))
    assert(collect(ranks) == simulate(star, 10))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- rdds0
    assert(added.size == 1, added.mkString(", "))
    added.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
  }
}
