package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * The reference engine's scan path is `gcs.get_dataset` / BigQuery table
  * scans (reference: gcs.py:523-557, bq.py:149-163); here every scan is a
  * columnar parquet read with Catalyst predicate pushdown + column pruning.
  */
object Tables {
  /** All driver-generated tables. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` under `sfDir`. Applies [[Session.setup]] first: a
    * session graft did not create reaches the engine through here. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    Session.setup(spark)
    val df = parquet(spark, s"$sfDir/$name.parquet")
    if (name == "events")
        // Normalize events.ts to TimestampType regardless of how the testdata
        // generation wrote it. The session tz is UTC, so the NTZ→LTZ cast is a
        // wall-clock identity and all three branches yield identical values.
        df.schema("ts").dataType match {
          case LongType =>
            // TIMESTAMP(NANOS) read as raw longs: ns → µs truncation (matches
            // DuckDB's TIMESTAMP_NS → TIMESTAMP cast).
            df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
          case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
          case _                => df
        }
    else df
  }

  /** Row count of table `name` under `sfDir`, counted once per JVM through
    * [[Assets.once]] (ledgered as `count_<name>`): the scale guards read it
    * at query-build time, where a fresh count would be one Spark job per
    * call. A dataset dir is immutable by this engine's convention, so the
    * count cannot go stale. */
  def count(spark: SparkSession, sfDir: String, name: String): Long =
    Assets.once(s"count_$name", sfDir)(load(spark, sfDir, name).count())

  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.mergeSchema")

  /** path -> (fingerprint, inferred schema); a miss replaces the path's entry. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]

  /** `spark.read.parquet(path)` that infers each path's schema once.
    *
    * A schema-less parquet read runs a Spark job to read the footers
    * (`SchemaMergeUtils.mergeSchemasInParallel`) on every call. This reads
    * with the schema remembered from the last inference while the path's
    * fingerprint — every file's name, length and modification time under
    * it, plus the confs that change inference — is unchanged, so a warm
    * read lists the files and runs no job. A directory Spark rewrites gets
    * new part-file names and a file rewritten in place a new length or
    * mtime, so either re-infers. Inference runs outside any lock: two
    * concurrent first reads may both infer, which is harmless. A missing
    * path goes to the plain read, so Spark's own error is unchanged. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return spark.read.parquet(path)
    val files = fs.listFiles(p, true)
    val entries = Seq.newBuilder[String]
    while (files.hasNext) {
      val f = files.next()
      entries += s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
    }
    val fp = (entries.result().sorted ++
      inferenceConfs.map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")).mkString("\n")
    schemas.get(path) match {
      case (`fp`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(path, (fp, df.schema))
        df
    }
  }

  /** [[load]] + the scale-adaptive scan [[fanout]] below — OPT-IN per call
    * site: the fan-out exchange's map side is the same single scan task, so
    * it only pays where the work BELOW it (per-row decimal panels, codec
    * round-trips, shingling, vector math) outweighs one single-threaded
    * shuffle write of the pruned columns. The round-14 measurement ledger
    * (OPTIMIZATION_r14.md): blanket fan-out won 2-3.5× on the heavy-map
    * queries but cost 0.3-1 s on scan-light and loop queries (every
    * re-scan of an unpersisted multi-consumer lineage re-pays the
    * exchange), so the heavy call sites opt in and everything else keeps
    * its 1-task scan. */
  def loadFan(spark: SparkSession, sfDir: String, name: String): DataFrame =
    fanout(spark, sfDir, name, load(spark, sfDir, name))

  /** Leading high-cardinality key per table for the scan fan-out below —
    * hash partitioning on a real key needs no sort-before-repartition (the
    * round-robin determinism tax) and, when the fan-out width equals the
    * session shuffle width, already SATISFIES any downstream join/aggregate
    * keyed on it (EnsureRequirements adds no second exchange). Tables absent
    * here (region/nation/supplier — broadcast-sized dims) are never fanned. */
  private val fanoutKey: Map[String, String] = Map(
    "customer" -> "c_custkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "part" -> "p_partkey")

  /** Size window of a single-file table that [[fanout]] repartitions. */
  private val FanoutMinBytes = 256L << 10
  private val FanoutMaxBytes = 32L << 20

  /** SCALE-ADAPTIVE SCAN FAN-OUT (optimization guide §2.5 "input skew",
    * round-14 thread-dump finding): the driver's sf tables are each ONE
    * parquet file with ONE row group, so Spark plans exactly one scan task
    * per table and the WHOLE map side of every query — tokenize/shingle/
    * md5/codec/decimal work — runs on one core while the other 31 park
    * (90% executor-idle across a 43-dump jstack sample of the isolated
    * bench). A one-row-group file cannot be split by
    * `spark.sql.files.maxPartitionBytes` / `minPartitionNum` (byte-range
    * splits of parquet assign whole row groups by midpoint), so the only
    * correct fix is the guide's: repartition immediately after the read.
    *
    * The decision derives from the INPUT LAYOUT, not from local-mode
    * constants: it fires only when the table path is a single file small
    * enough that Spark would plan one task (≤ [[FanoutMaxBytes]], 32 MB —
    * a threshold no production table file sits under) yet big enough to
    * carry real map work (≥ [[FanoutMinBytes]], 256 KB — region/nation/
    * supplier-sized dims stay broadcast-shaped single tasks). Width = the
    * session shuffle width, so the added exchange aligns with every
    * downstream requirement and shrinks with lower-core runs. On a real
    * multi-file table the path is a directory → `isFile` is false → the
    * plan is untouched.
    * `graft.scan.fanout=off` disables. Filters and column pruning push
    * THROUGH RepartitionByExpression (PushDownPredicates handles
    * RepartitionOperation), so parquet PushedFilters/ReadSchema are
    * unchanged — re-verified in plans/r14/. */
  private def fanout(spark: SparkSession, sfDir: String, name: String,
                     df: DataFrame): DataFrame = {
    if (spark.conf.get("graft.scan.fanout", "auto") == "off") return df
    val key = fanoutKey.getOrElse(name, return df)
    val f = new java.io.File(s"$sfDir/$name.parquet")
    if (!f.isFile) return df
    if (f.length < FanoutMinBytes || f.length > FanoutMaxBytes) return df
    val n = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    if (n < 2) df else df.repartition(n, col(key))
  }
}

/** Cross-engine numeric determinism helpers.
  *
  * A plain SUM over doubles is order-dependent, so Spark (parallel, partial
  * aggregation) and the DuckDB oracle would disagree in the low bits. Casting
  * each row to DECIMAL first makes the sum exact and order-independent; the
  * final cast back to DOUBLE is then identical in both engines. This is also
  * the right call at 100 TB: decimal partial aggregation is still map-side
  * combined and the per-row cast is codegen'd.
  */
object Num {
  val Dec: DecimalType = DecimalType(18, 6)

  /** Modulus for order-independent table checksums: 2^61. Per-row 40-bit
    * hash slices accumulate exactly in DECIMAL(38,0) (no overflow at any
    * scale); reducing the group sum modulo 2^61 yields a non-negative
    * value that fits int64 in every engine's result path — wide DECIMAL /
    * HUGEINT results round-trip through client layers differently (e.g.
    * float64 vs java.math.BigDecimal), BIGINT is bit-identical. */
  val ChecksumMod: Long = 1L << 61

  /** Order-independent sum of a double expression. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** Order-independent average (exact decimal sum / count). */
  def davg(c: Column): Column = dsum(c) / count(lit(1)).cast("double")

  /** DuckDB spelling of [[dsum]]. */
  def sqlDsum(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE)"

  /** DuckDB spelling of [[davg]]. */
  def sqlDavg(e: String): String =
    s"(${sqlDsum(e)} / CAST(COUNT(*) AS DOUBLE))"

  /** Monotone range-bucket of a NON-NEGATIVE numeric column, for the
    * buckets of a [[graft.operators.Prefix]] scan: the pair (#integer digits, first two integer digits) encoded as one
    * string, so lexicographic bucket order equals numeric order — the
    * bucket is a PREFIX of any sort key that starts with the column, and
    * bucket-major traversal equals the global sort order. Unlike
    * quantile-derived boundaries this needs NO extra data pass and is
    * trivially deterministic across re-executions of a multi-consumer
    * plan. Bucket count is value-distribution-bounded (≤ ~90 per decade
    * crossed); exact ties always share a bucket, so tie-breaking by a
    * second sort column stays within one partition's sort. */
  def rangeBucket(c: Column): Column = {
    val istr = floor(c).cast(DecimalType(38, 0)).cast("string")
    val bucket = concat(lpad(length(istr).cast("string"), 2, "0"), substring(istr, 1, 2))
    // Contract enforcement (documented above, previously silent): a
    // NEGATIVE input would bucket in INVERTED order — corrupt ranks with
    // no error — so it fails loudly; an input so large the DECIMAL(38,0)
    // cast overflows to null (>= 1e38, non-ANSI) would silently VANISH
    // from the inner rb-equi-joins downstream, so it maps to a sentinel
    // bucket that sorts after every real one ('~' > any digit; real
    // buckets' length prefix is <= "38"). NULL in, NULL out, as before.
    when(c < 0, raise_error(concat(
        lit("Num.rangeBucket: negative input "), c.cast("string"))).cast("string"))
      .when(c.isNotNull && istr.isNull, lit("99~"))
      .otherwise(bucket)
  }
}
