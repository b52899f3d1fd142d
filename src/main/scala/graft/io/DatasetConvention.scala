package graft.io

import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import java.time.{Instant, LocalDateTime, ZoneOffset}

/** The partitioned-JSONL dataset convention (≙ reference gcs.py):
  *
  *   `{base}/{dataset}/version=V/year=Y/month=M/day=D/…jsonl`
  *
  * Path partition values are unpadded ints (gcs.py:61-66); the reference's
  * file names zero-pad the timestamp (gcs.py:42-55, 82-83) — Spark names
  * its own part files, so the padded name convention is exposed via
  * [[fileNameFor]] for single-object writes only.
  *
  * Reads use Spark partition discovery: a `version=…/year=…` filter prunes
  * directories before any file is opened — the moral equivalent of the
  * reference's prefix listing (gcs.py:539-543), and the thing that keeps a
  * 100 TB dataset scan bounded to the partitions asked for.
  */
object DatasetConvention {

  /** Partition tuple, ordered for argmax (≙ DateTimePartitions, gcs.py:42-49). */
  final case class Partition(version: Int, year: Int, month: Int, day: Int)
      extends Ordered[Partition] {
    def compare(that: Partition): Int =
      Ordering[(Int, Int, Int, Int)]
        .compare((version, year, month, day), (that.version, that.year, that.month, that.day))
    /** Unpadded path segment form (gcs.py:61-66). */
    def path: String = s"version=$version/year=$year/month=$month/day=$day"
  }

  def partitionFor(version: Int, ts: Instant): Partition = {
    val t = LocalDateTime.ofInstant(ts, ZoneOffset.UTC)
    Partition(version, t.getYear, t.getMonthValue, t.getDayOfMonth)
  }

  /** Zero-padded single-object file name (≙ gcs.py:82-83, fixture A3):
    * `{dataset}__YYYY-MM-DDTHH:00.jsonl`. */
  def fileNameFor(dataset: String, ts: Instant): String = {
    val t = LocalDateTime.ofInstant(ts, ZoneOffset.UTC)
    f"${dataset}__${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d" +
      f"T${t.getHour}%02d:00.jsonl"
  }

  /** Parse `k=v` int segments from a path (≙ _get_datetime_partitions_from_path,
    * gcs.py:499-511). Returns None if any of the four segments is missing. */
  def parsePartition(path: String): Option[Partition] = {
    val kv = path.split('/').collect {
      case seg if seg.contains('=') =>
        val Array(k, v) = seg.split("=", 2); (k, v)
    }.toMap
    for {
      v <- kv.get("version").flatMap(_.toIntOption)
      y <- kv.get("year").flatMap(_.toIntOption)
      m <- kv.get("month").flatMap(_.toIntOption)
      d <- kv.get("day").flatMap(_.toIntOption)
    } yield Partition(v, y, m, d)
  }

  /** Latest-partition pruning over listed paths (≙ _get_latest_path_files,
    * gcs.py:499-520, fixture A4): numeric argmax of (version,year,month,day),
    * keep files in the max partition only. */
  def latestPathFiles(paths: Seq[String]): Seq[String] = {
    val parsed = paths.flatMap(p => parsePartition(p).map(_ -> p))
    if (parsed.isEmpty) Seq.empty
    else {
      val mx = parsed.map(_._1).max
      parsed.collect { case (part, p) if part == mx => p }
    }
  }

  /** Append records to the dataset under the convention path
    * (≙ add_records_to_dataset, gcs.py:162-218). Partition defaults to
    * now-UTC at the caller.
    *
    * @param subdir when set, the write lands in (and OVERWRITES) this
    *               fixed subdirectory under the partition instead of
    *               appending fresh part files — the idempotence hook for
    *               at-least-once writers (a streaming foreachBatch passes
    *               its batchId, so a replayed batch replaces itself
    *               instead of duplicating). Partition discovery ignores
    *               the extra non-`k=v` path segment on read. */
  def append(df: DataFrame, base: String, dataset: String, version: Int,
             ts: Instant, subdir: Option[String] = None): Unit = {
    val p = partitionFor(version, ts)
    val dir = s"$base/$dataset/${p.path}" + subdir.fold("")("/" + _)
    df.write.mode(if (subdir.isDefined) SaveMode.Overwrite else SaveMode.Append)
      .json(dir)
  }

  /** Single-object append (≙ add_records_to_dataset, gcs.py:162-218): one
    * JSONL object under the partition dirs, named by the zero-padded
    * convention ([[fileNameFor]]) or a caller-supplied `buildFileName` hook
    * (≙ BuildFileNameProtocol, gcs.py:70-83). Empty records → warn no-op
    * (gcs.py:189-191). This is the micro-batch sink; bulk writes go through
    * [[append]] and Spark's own part naming.
    *
    * NOTE: the convention name contains ':' (GCS object names allow it —
    * the reference's target). Hadoop's checksum-wrapped LOCAL filesystem
    * cannot form `.crc` sidecars for such names; local sessions should set
    * `spark.hadoop.fs.file.impl=org.apache.hadoop.fs.RawLocalFileSystem`
    * (as the test session does) or pass a colon-free `buildFileName`. */
  def appendRecords(spark: SparkSession, records: Seq[String], base: String,
                    dataset: String, version: Int, ts: Instant,
                    buildFileName: Option[() => String] = None): Unit = {
    if (records.isEmpty) {
      Console.err.println("[graft] add_records_to_dataset: no records to add (empty collection given)")
      return
    }
    val p = partitionFor(version, ts)
    val name = buildFileName.fold(fileNameFor(dataset, ts))(f => f())
    val dir = s"$base/$dataset/${p.path}"
    // The convention name contains ':' and Hadoop's ChecksumFileSystem
    // cannot form the relative `.name.crc` sibling for it — unwrap to the
    // raw filesystem locally (HDFS / object-store FSes are not
    // checksum-wrapped and pass through unchanged; GCS object names allow
    // ':', which is why the reference's convention uses it).
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    fs.mkdirs(new Path(dir))
    val out = fs.create(new Path(s"$dir/$name"), true)
    try out.write(records.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a dataset (≙ get_dataset, gcs.py:523-597): partition-discovered
    * JSONL under `{base}/{dataset}`, optionally one version, optionally
    * only the latest (version,year,month,day) partition. The latest-only
    * path lists directories first and reads just the argmax partition —
    * listing is metadata-only, so no data file outside the chosen
    * partition is ever opened. A missing root or a dataset with no
    * partition files yields an EMPTY DataFrame (≙ the reference returning
    * an empty record list for an empty prefix). Data columns are
    * JSON-inferred per read by default, so an empty dataset cannot know
    * them — the empty result then carries ONLY the four convention
    * partition columns (version, year, month, day), which every
    * non-empty read also has; referencing a data column on an empty
    * dataset fails exactly like referencing it on the reference's empty
    * record list would.
    *
    * `dataSchema`, when given, is used INSTEAD of JSON inference — the
    * production posture at corpus scale (inference is a full extra pass
    * over every byte of JSONL) — and makes the empty read schema-total:
    * a consumer that declares what it expects gets a well-typed empty
    * frame (data columns + partition columns) from an empty shard
    * instead of an unresolved-column failure. */
  def read(spark: SparkSession, base: String, dataset: String,
           version: Option[Int] = None, latestOnly: Boolean = false,
           dataSchema: Option[StructType] = None): DataFrame = {
    val root = s"$base/$dataset"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root))) return emptyConvention(spark)
    // List first on BOTH paths: an existing-but-fileless root would make
    // spark.read.json throw "unable to infer schema" instead of returning
    // the promised empty DataFrame.
    val allFiles = visibleFiles(fs, root).map(_.getPath.toString).toSeq
    if (allFiles.isEmpty) return emptyConvention(spark, dataSchema)
    // Explicit schema skips inference entirely (Spark appends the
    // discovered partition columns to a user schema that omits them).
    def reader = dataSchema.foldLeft(spark.read.option("basePath", root))(_ schema _)
    if (!latestOnly) {
      // A version that matches no partition of a POPULATED dataset filters
      // to zero rows through the normal read, keeping the data schema —
      // only a dataset with no files at all gets the partition-only frame.
      val df = reader.json(root)
      version.fold(df)(v => df.filter(col("version") === v))
    } else {
      val files = allFiles
        .filter(p => version.forall(v => parsePartition(p).exists(_.version == v)))
      val keep = latestPathFiles(files)
      if (keep.isEmpty) emptyConvention(spark, dataSchema)
      else reader.json(keep: _*)
    }
  }

  /** Cross-version read (schema evolution): the convention's `version=V` is
    * a SCHEMA version (gcs.py:58-67), so each version subtree gets its OWN
    * JSON schema inference, and the versions are then aligned by column
    * NAME (`unionByName(allowMissingColumns = true)`) — a column absent in
    * an older version reads as NULL for that version's rows, exactly like
    * a warehouse reading old partitions after ADD COLUMN. This is distinct
    * from [[read]] without a version filter, whose single global inference
    * welds every version into one schema before any row is attributed to
    * its version. Versions are unioned in ascending order so the combined
    * frame's column order is "oldest schema first, evolved columns
    * appended" — deterministic across runs. At 100 TB each version's
    * subtree keeps its own scan (partition discovery under one
    * `version=V` prefix); a later `filter(col("version") === v)` prunes
    * whole branches of the union. */
  def readVersions(spark: SparkSession, base: String, dataset: String,
                   dataSchema: Option[StructType] = None): DataFrame = {
    val root = s"$base/$dataset"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(root))) return emptyConvention(spark, dataSchema)
    val versions = fs.listStatus(new Path(root)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("version="))
      .flatMap(_.stripPrefix("version=").toIntOption)
      .sorted
    val frames = versions.flatMap { v =>
      val dir = s"$root/version=$v"
      // An existing-but-fileless version dir would make schema inference
      // throw — skip it, matching read()'s empty-root discipline.
      if (visibleFiles(fs, dir).nonEmpty)
        Some(dataSchema.foldLeft(spark.read.option("basePath", root))(_ schema _)
          .json(dir))
      else None
    }
    if (frames.isEmpty) emptyConvention(spark, dataSchema)
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The files under `dir` that Spark's reader sees: those with no path
    * segment below `dir` starting with '.' or '_' (markers like _SUCCESS,
    * an in-flight write's _temporary/, compaction's .compact-* leftovers
    * are all skipped by the scan). */
  private def visibleFiles(fs: FileSystem, dir: String): Iterator[LocatedFileStatus] = {
    val qualified = fs.makeQualified(new Path(dir)).toString
    val it = fs.listFiles(new Path(dir), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(st => !st.getPath.toString.stripPrefix(qualified).stripPrefix("/").split('/')
        .exists(seg => seg.startsWith(".") || seg.startsWith("_")))
  }

  /** Empty read result: no rows, the caller-declared data columns (when
    * given) + the convention's partition columns — so both
    * `df.filter(col("version") === v)` and data-column projections
    * compose on an empty dataset. */
  private def emptyConvention(spark: SparkSession,
                              dataSchema: Option[StructType] = None): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(dataSchema.map(_.fields.toSeq).getOrElse(Seq.empty) ++
        Seq("version", "year", "month", "day").map(StructField(_, IntegerType))))

  /** Small-file compaction for one partition: rewrite its JSONL objects
    * into `targetFiles` files, then swap via rename-aside — the live dir is
    * moved to a dot-prefixed `.compact-old` sibling BEFORE the compacted
    * dir moves in, so the data exists under a real directory at every step
    * (never only in the tmp): a crash mid-swap leaves it recoverable in
    * `.compact-old` and/or `.compact-tmp`, and a failed second rename is
    * rolled back. NOTE: rename is atomic on HDFS-like filesystems but NOT
    * on object stores — there this degrades to copy+delete windows, which
    * is exactly why every intermediate state here keeps a full copy on
    * disk. Hourly appends (one object per micro-batch, gcs.py:82-83)
    * accumulate thousands of small files per partition at production
    * scale — listing and task-scheduling overhead then dominates reads
    * until compaction. Data content is unchanged. */
  def compactPartition(spark: SparkSession, base: String, dataset: String,
                       partition: Partition, targetFiles: Int = 1): Unit = {
    val dir = s"$base/$dataset/${partition.path}"
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir))) return
    val flat = partition.path.replace('/', '_')
    val tmp = new Path(s"$base/$dataset/.compact-tmp-$flat")
    val old = new Path(s"$base/$dataset/.compact-old-$flat") // dot-prefixed: invisible to readers
    fs.delete(tmp, true)
    fs.delete(old, true)
    spark.read.json(dir).coalesce(targetFiles)
      .write.json(tmp.toString)
    val dst = new Path(dir)
    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"compaction: failed to move $dir aside")
    if (!fs.rename(tmp, dst)) {
      // Roll the live data back — and if even that fails, say exactly where
      // the two full copies of the data are, instead of a generic error.
      if (fs.rename(old, dst))
        throw new java.io.IOException(s"compaction swap failed for $dir (rolled back)")
      throw new java.io.IOException(
        s"compaction swap failed for $dir AND rollback failed: data is intact in " +
          s"$old (original) and $tmp (compacted); restore by renaming one to $dir")
    }
    fs.delete(old, true) // success: drop the old copy last
  }

  /** Per-partition file/byte stats — the ops signal for when to compact. */
  def partitionStats(spark: SparkSession, base: String,
                     dataset: String): Seq[(Partition, Int, Long)] = {
    val root = s"$base/$dataset"
    val fs = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    visibleFiles(fs, root)
      .flatMap(st => parsePartition(st.getPath.toString).map(_ -> st.getLen))
      .toSeq
      .groupBy(_._1)
      .map { case (p, xs) => (p, xs.size, xs.map(_._2).sum) }
      .toSeq.sortBy(_._1)
  }

  /** Inclusive-bounds modification-time file listing (≙ list_files with
    * updated_after/updated_before, gcs.py:375-420, fixture A5 — both ends
    * inclusive, unlike Spark's modifiedAfter option which is exclusive). */
  def listFiles(spark: SparkSession, dir: String,
                updatedAfter: Option[Instant] = None,
                updatedBefore: Option[Instant] = None,
                recursive: Boolean = false): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(dir), recursive)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter { st =>
        val mt = Instant.ofEpochMilli(st.getModificationTime)
        updatedAfter.forall(a => !mt.isBefore(a)) &&
          updatedBefore.forall(b => !mt.isAfter(b))
      }
      .map(_.getPath.toString).toSeq
  }
}
