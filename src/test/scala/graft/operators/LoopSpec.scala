package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[Loop]]'s cut and free on small in-memory frames. */
class LoopSpec extends SparkSpec {

  private def leaf(df: org.apache.spark.sql.DataFrame): LogicalRDD =
    df.queryExecution.logical.asInstanceOf[LogicalRDD]

  test("free releases its own frame and leaves another persisted frame alone") {
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val kept = spark.range(10).toDF("id").persist()
    kept.count()
    val a = Loop.cut(spark.range(100).toDF("id"))
    val b = Loop.cut(spark.range(50).toDF("id"))
    val (ra, rb) = (leaf(a).rdd.id, leaf(b).rdd.id)
    assert(spark.sparkContext.getPersistentRDDs.keySet.contains(ra))
    Loop.free(a)
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(!live.contains(ra))
    assert(live.contains(rb))
    assert(kept.storageLevel != StorageLevel.NONE)
    assert(b.count() == 50 && kept.count() == 10)
    Loop.free(b)
    kept.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds0)
  }

  test("free of a reliable cut deletes its checkpoint files") {
    val dir = tmpDir("graft-loop-ckpt")
    val c = Loop.cut(spark.range(20).toDF("id"), Some(dir))
    val file = leaf(c).rdd.getCheckpointFile
    assert(file.exists(f => new java.io.File(new java.net.URI(f)).isDirectory))
    assert(c.count() == 20)
    Loop.free(c)
    assert(!file.exists(f => new java.io.File(new java.net.URI(f)).exists))
  }

  test("cut in a loop session keeps the output partitioning") {
    // (under AQE the final partitioning is only known at run time)
    val loopS = Loop.session(spark, 3)
    val c = Loop.cut(loopS.range(30).toDF("k").repartition(3, col("k")))
    leaf(c).outputPartitioning match {
      case h: HashPartitioning => assert(h.numPartitions == 3)
      case p => fail(s"partitioning lost: $p")
    }
    Loop.free(c)
  }

  test("a local cut stores its blocks at the level asked for") {
    val m = Loop.cut(spark.range(40).toDF("id"))
    val d = Loop.cut(spark.range(40).toDF("id"), level = StorageLevel.DISK_ONLY)
    assert(leaf(m).rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(leaf(d).rdd.getStorageLevel == StorageLevel.DISK_ONLY)
    assert(d.count() == 40)
    Loop.free(m)
    Loop.free(d)
  }

  test("free rejects a frame that is not a cut") {
    intercept[IllegalArgumentException](Loop.free(spark.range(3).toDF("id")))
  }
}
