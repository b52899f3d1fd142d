package graft.operators

import graft.SparkSpec
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** [[Graph.connectedComponents]] against a driver-side union-find
  * reference, on the graph shapes that stress different parts of the
  * algorithm: long CHAINS (diameter >> 1 — exercises the O(log d)
  * path-halving claim and the iteration cap's safety margin), STARS
  * (1-round convergence), disjoint unions, duplicate/reversed edges, and
  * a seeded random graph. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      parent.getOrElseUpdate(x, x)
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val got = Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == reference(edges))
  }

  test("long chain (diameter 199) converges within the cap — path halving is O(log d)") {
    check((0L until 199L).map(i => (i, i + 1)))
  }

  test("star, disjoint pairs, duplicate and reversed edges") {
    val star = (1L to 30L).map(i => (0L, i))
    val pairs = (100L to 140L by 2).map(i => (i, i + 1))
    val dups = Seq((200L, 201L), (201L, 200L), (200L, 201L))
    check(star ++ pairs ++ dups)
  }

  test("seeded random graph matches union-find") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(500)((rnd.nextLong(300), rnd.nextLong(300)))
      .filter { case (a, b) => a != b }
    check(edges)
  }

  test("an unreachable iteration cap throws instead of emitting wrong labels") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val chain = (0L until 50L).map(i => (i, i + 1)) // diameter 49 > 2^2
    val e = intercept[IllegalStateException] {
      Graph.connectedComponents(chain.toDF("src", "dst"), maxIters = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // the loop-scoped confs are restored on the throw path too
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqe)
  }

  test("reliable-checkpoint mode: chain/star/random labels identical to the local path") {
    val dir = tmpDir("ccckpt")
    val rnd = new scala.util.Random(7)
    val shapes = Seq(
      (0L until 120L).map(i => (i, i + 1)),                    // chain
      (1L to 40L).map(i => (0L, i)),                           // star
      Seq.fill(300)((rnd.nextLong(200), rnd.nextLong(200)))    // random
        .filter { case (a, b) => a != b })
    shapes.zipWithIndex.foreach { case (edges, i) =>
      val got = Graph.connectedComponents(edges.toDF("src", "dst"),
          checkpointDir = Some(s"$dir/g$i"))
        .as[(Long, Long)].collect().toMap
      assert(got == reference(edges), s"shape $i")
    }
  }

  test("reliable-checkpoint mode deletes superseded rounds, keeps the final one") {
    val dir = tmpDir("ccsweep")
    val edges = (0L until 60L).map(i => (i, i + 1)) // needs several rounds
    val labels = Graph.connectedComponents(edges.toDF("src", "dst"),
      checkpointDir = Some(dir))
    assert(labels.count() == 61)
    // Spark lays out checkpoints as <dir>/<uuid>/rdd-<id>; only the final
    // round's rdd dir (backing the returned frame) may remain.
    val rddDirs = new java.io.File(dir).listFiles().toSeq
      .flatMap(u => Option(u.listFiles()).map(_.toSeq).getOrElse(Nil))
      .filter(_.getName.startsWith("rdd-"))
    assert(rddDirs.size == 1, rddDirs.mkString(", "))
  }

  test("local mode leaves exactly one new persistent RDD: the final round") {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val edges = (0L until 60L).map(i => (i, i + 1)) // needs several rounds
    val labels = Graph.connectedComponents(edges.toDF("src", "dst"))
    assert(labels.as[(Long, Long)].collect().toMap == reference(edges))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- rdds0
    assert(added.size == 1, added.mkString(", "))
    added.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
  }

  /** `body`'s result and the storage level of every persisted RDD its
    * stages read or wrote; the RDDs it left persisted are released. */
  private def storedDuring[T](body: => T): (T, Seq[StorageLevel]) = {
    val levels = new java.util.concurrent.ConcurrentHashMap[Int, StorageLevel]
    val l = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.storageLevel.isValid)
          .foreach(r => levels.put(r.id, r.storageLevel))
    }
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val out = try {
      val r = body
      TestBus.drain(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(l)
    (spark.sparkContext.getPersistentRDDs.keySet -- rdds0)
      .foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    (out, levels.asScala.values.toSeq)
  }

  test("local mode stores the input and the loop's edge list DISK_ONLY") {
    // both are edge-list sized; only the per-round labels may use the heap
    val edges = (0L until 60L).map(i => (i, i + 1))
    val (got, seen) = storedDuring(Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap)
    assert(got == reference(edges))
    assert(seen.count(_ == StorageLevel.DISK_ONLY) == 2, seen)
    assert(seen.forall(Set(StorageLevel.DISK_ONLY, StorageLevel.MEMORY_AND_DISK)), seen)
  }

  test("a dedup_components-style call stores the candidate edges once") {
    // candidateEdges is a lazy plan, so the loop's input store is the only
    // copy of the candidate edges (the other DISK_ONLY store is the loop's
    // bidirectional edge list)
    val sig = (0L until 200L).map(i => (i, if (i < 120) "dup" else s"u$i"))
      .toDF("doc_id", "seed")
      .select(col("doc_id") +: (0 until 8).map(o => concat(col("seed"), lit(s"_$o")).as(s"m$o")): _*)
    val (got, seen) = storedDuring(Graph.connectedComponents(
        graft.queries.Dedup.candidateEdges(sig, bucketCap = 64))
      .as[(Long, Long)].collect().toMap)
    assert(got == (0L until 120L).map(_ -> 0L).toMap)
    assert(seen.count(_ == StorageLevel.DISK_ONLY) == 2, seen)
  }

  test("empty edge list yields empty labels") {
    assert(Graph.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
  }

  test("session confs (shuffle width, AQE) are restored after the loop") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    Graph.connectedComponents(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == aqe)
  }
}
