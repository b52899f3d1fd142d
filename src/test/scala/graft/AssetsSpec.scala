package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The memo store: build-once per key, no lock across keys, nothing
  * cached or left on disk by a failed build, self-time ledger. Every
  * case but the last runs no Spark job; each uses a fresh key. */
class AssetsSpec extends SparkSpec {
  private def fresh(): String = UUID.randomUUID().toString

  test("two concurrent first touches of one key build once") {
    val builds = new AtomicInteger
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val key = fresh()
    val first = Future(Assets.once("spec_concurrent", key) {
      builds.incrementAndGet(); started.countDown(); release.await(); "first"
    })
    assert(started.await(10, TimeUnit.SECONDS))
    val second = Future(Assets.once("spec_concurrent", key) {
      builds.incrementAndGet(); "second"
    })
    Thread.sleep(200)
    assert(!second.isCompleted) // waits on the running build
    release.countDown()
    assert(Await.result(first, 10.seconds) == "first")
    assert(Await.result(second, 10.seconds) == "first")
    assert(builds.get == 1)
  }

  test("a blocked build of one key does not block another key of the same name") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val a = Future(Assets.once("spec_keys", fresh()) {
      started.countDown(); release.await(); 1
    })
    assert(started.await(10, TimeUnit.SECONDS))
    try assert(Await.result(Future(Assets.once("spec_keys", fresh())(2)), 10.seconds) == 2)
    finally release.countDown()
    assert(Await.result(a, 10.seconds) == 1)
  }

  test("a dir whose write throws leaves no directory, and the next call rebuilds") {
    val key = fresh()
    var failed: String = null
    intercept[IllegalStateException](Assets.dir("spec_dir", key) { out =>
      failed = out
      Files.writeString(Paths.get(out, "part-0"), "partial")
      throw new IllegalStateException("write failed")
    })
    assert(failed != null && !Files.exists(Paths.get(failed)))
    val built = Assets.dir("spec_dir", key) { out =>
      Files.writeString(Paths.get(out, "part-0"), "whole")
    }
    assert(built != failed)
    assert(Files.readString(Paths.get(built, "part-0")) == "whole")
    assert(Assets.dir("spec_dir", key)(_ => fail("rebuilt a built dir")) == built)
  }

  test("a nested once works and is ledgered as self time") {
    val key = fresh()
    val v = Assets.once("spec_outer", key) {
      Thread.sleep(50)
      Assets.once("spec_inner", key) { Thread.sleep(500); 2 } + 1
    }
    assert(v == 3)
    val ledger = Assets.snapshot
    assert(ledger("spec_inner") >= 0.5)
    assert(ledger("spec_outer") >= 0.05 && ledger("spec_outer") < 0.5, ledger)
  }

  test("a failed once caches nothing and re-throws on every call") {
    val key = fresh()
    val calls = new AtomicInteger
    for (_ <- 1 to 3)
      intercept[IllegalArgumentException](Assets.once[Int]("spec_failed", key) {
        calls.incrementAndGet()
        throw new IllegalArgumentException("no seed rows")
      })
    assert(calls.get == 3)
    assert(!Assets.snapshot.contains("spec_failed"))
    assert(Assets.once("spec_failed", key)(7) == 7)
    assert(Assets.once("spec_failed", key)(8) == 7)
  }

  test("building docPerplexity leaves no cache block behind") {
    import spark.implicits._
    val root = Assets.tempDir("graft-ppl-spec") // swept at JVM exit
    Seq((1L, "the cat sat on the mat"), (2L, "the dog sat on the cat"), (3L, "mat"))
      .toDF("doc_id", "text").write.parquet(s"$root/documents.parquet")
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = graft.queries.TextOps.docPerplexity(spark, root).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 2L))
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before))
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
