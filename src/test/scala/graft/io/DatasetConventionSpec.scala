package graft.io

import graft.SparkSpec
import java.time.Instant
import org.apache.spark.sql.functions.col

class DatasetConventionSpec extends SparkSpec {
  import DatasetConvention._

  private val frozen = Instant.parse("2022-01-01T00:00:00Z") // fixture A3 clock

  test("fixture A3: convention path unpadded, file name zero-padded") {
    val p = partitionFor(1, frozen)
    assert(p.path == "version=1/year=2022/month=1/day=1")
    assert(fileNameFor("dataset", frozen) == "dataset__2022-01-01T00:00.jsonl")
  }

  test("fixture A4: latest-partition pruning is numeric, not lexicographic") {
    val paths = Seq(
      "dataset/version=1/year=2022/month=12/day=10/file_1.jsonl",
      "dataset/version=1/year=2022/month=12/day=10/file_2.jsonl",
      "dataset/version=1/year=2022/month=12/day=9/file_1.jsonl",
      "dataset/version=1/year=2022/month=9/day=1/file_1.jsonl")
    assert(latestPathFiles(paths) == paths.take(2))
  }

  test("parsePartition ignores paths without the full tuple") {
    assert(parsePartition("x/version=2/year=2023/month=7/day=4/f.jsonl")
      .contains(Partition(2, 2023, 7, 4)))
    assert(parsePartition("x/year=2023/f.jsonl").isEmpty)
  }

  test("fixture A6-ish: append + read round-trip with partition discovery") {
    import spark.implicits._
    val base = tmpDir("dsconv")
    val df = Seq(("1", "x"), ("2", "y")).toDF("id", "v")
    append(df, base, "ds", 1, frozen)
    append(df, base, "ds", 2, Instant.parse("2023-06-07T00:00:00Z"))

    val all = read(spark, base, "ds")
    assert(all.count() == 4)
    assert(all.columns.toSet ==
      Set("id", "v", "version", "year", "month", "day")) // partition discovery

    val v1 = read(spark, base, "ds", version = Some(1))
    assert(v1.count() == 2)

    val latest = read(spark, base, "ds", latestOnly = true)
    assert(latest.select("version").distinct().as[Int].collect().toSeq == Seq(2))
  }

  test("appendRecords writes ONE object with the exact padded convention name; hook overrides") {
    import spark.implicits._
    val base = tmpDir("dsrec")
    appendRecords(spark, Seq("""{"id":"1","v":"x"}""", """{"id":"2","v":"y"}"""),
      base, "ds", 1, frozen)
    val dir = new java.io.File(s"$base/ds/version=1/year=2022/month=1/day=1")
    assert(dir.listFiles().map(_.getName).toSeq == Seq("ds__2022-01-01T00:00.jsonl"))
    assert(read(spark, base, "ds").count() == 2)
    // custom build_file_name hook (≙ BuildFileNameProtocol, gcs.py:70-83)
    appendRecords(spark, Seq("""{"id":"3","v":"z"}"""), base, "ds", 1, frozen,
      buildFileName = Some(() => "custom-name.jsonl"))
    assert(dir.listFiles().map(_.getName).sorted.toSeq ==
      Seq("custom-name.jsonl", "ds__2022-01-01T00:00.jsonl"))
    assert(read(spark, base, "ds").count() == 3)
    // empty records → warn no-op (gcs.py:189-191)
    appendRecords(spark, Seq.empty, base, "ds", 1, frozen)
    assert(read(spark, base, "ds").count() == 3)
  }

  test("read of a missing or partition-less dataset returns an empty DataFrame, not an error") {
    val base = tmpDir("dsempty")
    assert(read(spark, base, "absent").count() == 0)
    assert(read(spark, base, "absent", latestOnly = true).count() == 0)
    // root exists but holds no partition files — BOTH paths (the
    // non-latestOnly one used to hit "unable to infer schema" here)
    new java.io.File(s"$base/bare").mkdirs()
    assert(read(spark, base, "bare").count() == 0)
    assert(read(spark, base, "bare", latestOnly = true).count() == 0)
    // the empty result carries the partition columns, so the same
    // downstream filters compose on empty and non-empty datasets alike
    assert(read(spark, base, "bare").filter(col("version") === 1).count() == 0)
    assert(read(spark, base, "bare", version = Some(2), latestOnly = true)
      .select("year", "month", "day").count() == 0)
    // a root holding ONLY reader-invisible files (markers, compaction
    // leftovers) is still "empty" — spark.read.json would see no files
    new java.io.File(s"$base/markers").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(base, "markers", "_SUCCESS"), "")
    new java.io.File(s"$base/markers/.compact-tmp-v1").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "markers", ".compact-tmp-v1", "part-0.json"), """{"a":1}""")
    assert(read(spark, base, "markers").count() == 0)
    assert(read(spark, base, "markers", latestOnly = true).count() == 0)
  }

  test("readVersions: per-version inference, name-aligned union, NULLs for pre-schema columns") {
    import spark.implicits._
    val base = tmpDir("dsver")
    append(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), base, "ds", 1, frozen)
    append(Seq((3L, "z", 10L)).toDF("id", "v", "extra"),
      base, "ds", 2, Instant.parse("2023-06-07T00:00:00Z"))

    val df = readVersions(spark, base, "ds")
    assert(df.columns.toSet ==
      Set("id", "v", "extra", "version", "year", "month", "day"))
    val rows = df.select("id", "v", "extra", "version").orderBy("id")
      .as[(Long, String, Option[Long], Int)].collect().toSeq
    assert(rows == Seq((1L, "x", None, 1), (2L, "y", None, 1),
      (3L, "z", Some(10L), 2)))
    // a version filter on the union prunes to that version's rows
    assert(readVersions(spark, base, "ds")
      .filter(col("version") === 2).count() == 1)
  }

  test("an in-flight append's _temporary files are invisible to read, readVersions and partitionStats") {
    import spark.implicits._
    val base = tmpDir("dsinflight")
    append(Seq((1L, "x")).toDF("id", "v"), base, "ds", 1, frozen)
    val inflight = java.nio.file.Paths.get(base, "ds", partitionFor(2, frozen).path,
      "_temporary", "0")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("part-0.json"), """{"id":2,"v":"y"}""")

    assert(read(spark, base, "ds").select("id").as[Long].collect().toSeq == Seq(1L))
    assert(readVersions(spark, base, "ds").select("id", "version").as[(Long, Int)]
      .collect().toSeq == Seq((1L, 1)))
    assert(partitionStats(spark, base, "ds").map(_._1) == Seq(partitionFor(1, frozen)))
  }

  test("readVersions of a missing dataset is the convention-empty frame") {
    val df = readVersions(spark, tmpDir("dsver-none"), "nope")
    assert(df.isEmpty &&
      df.columns.toSeq == Seq("version", "year", "month", "day"))
  }

  test("version miss on a POPULATED dataset keeps the data schema (zero rows)") {
    import spark.implicits._
    val base = tmpDir("dsmiss")
    append(Seq(("1", "x")).toDF("id", "payload"), base, "ds", 1, frozen)
    val miss = read(spark, base, "ds", version = Some(99))
    assert(miss.count() == 0)
    assert(miss.columns.contains("payload")) // data column survives the miss
    assert(miss.select("payload").count() == 0) // selectable, unlike a bare empty frame
  }

  test("compaction shrinks file count, preserves content, and swaps atomically") {
    import spark.implicits._
    val base = tmpDir("compact")
    val part = partitionFor(1, frozen)
    // 6 small appends → ≥6 part files
    (1 to 6).foreach { i =>
      append(Seq((i.toString, s"v$i")).toDF("id", "v"), base, "ds", 1, frozen)
    }
    val before = partitionStats(spark, base, "ds")
    assert(before.head._2 >= 6)
    val pre = read(spark, base, "ds").select("id", "v").as[(String, String)].collect().toSet

    compactPartition(spark, base, "ds", part, targetFiles = 1)

    val after = partitionStats(spark, base, "ds")
    assert(after.head._2 < before.head._2, s"before=$before after=$after")
    val post = read(spark, base, "ds").select("id", "v").as[(String, String)].collect().toSet
    assert(post == pre)
  }

  test("fixture A5: mtime listing window is inclusive on both ends") {
    val dir = tmpDir("mtime")
    val times = (1 to 5).map(dd => Instant.parse(f"2022-01-0${dd}%dT00:00:00Z"))
    times.zipWithIndex.foreach { case (ts, i) =>
      val f = new java.io.File(dir, s"f$i.jsonl")
      java.nio.file.Files.writeString(f.toPath, "{}")
      f.setLastModified(ts.toEpochMilli)
    }
    val kept = listFiles(spark, dir,
      updatedAfter = Some(Instant.parse("2022-01-02T00:00:00Z")),
      updatedBefore = Some(Instant.parse("2022-01-04T00:00:00Z")))
    assert(kept.map(p => p.substring(p.length - 8)).sorted ==
      Seq("f1.jsonl", "f2.jsonl", "f3.jsonl")) // the 02, 03, 04 files inclusive
  }
}
