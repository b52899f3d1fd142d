package graft

import org.apache.spark.sql.SparkSession

/** The one home of graft's session contract (≙ the reference's single
  * service-handle constructor, bq.py:32-41): UTC session time,
  * `nanosAsLong`, the typed-aggregate fallback threshold and the native
  * `graft_*` functions.
  */
object Session {

  /** Applies the session contract to `spark`. Idempotent and starts no
    * Spark job. Every entry point that may receive a session graft did not
    * create (`Tables.load`, the loop session, the Z-order layouts) calls
    * it, so no caller has to. */
  def setup(spark: SparkSession): Unit = {
    // Older testdata generations wrote events.ts as parquet TIMESTAMP(NANOS)
    // which Spark cannot read natively (PARQUET_TYPE_ILLEGAL); this legacy
    // flag reads nanos as LongType so the loader can convert. Harmless for
    // µs data, which reads as a timestamp type directly.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // ObjectHashAggregate falls back to SORT-BASED aggregation after 128
    // distinct keys per task (the Spark default) — for this library's
    // typed aggregates that is the wrong trade at ANY scale: every
    // TypedImperativeAggregate here carries a BOUNDED buffer (TopK k-pair
    // lists, sketches), so the hash map stays a few MB while the fallback
    // re-sorts the whole input with per-row Kryo round-trips (the sf1
    // scaling audit caught the knn_neighbors build parked in
    // SortBasedAggregator — a 200M-pair input re-sorted for a 20k-key
    // aggregate). 1M keys × a k-list ≈ tens of MB — far under executor
    // memory. LIBRARY INVARIANT this session-global override rests on: no
    // unbounded-buffer TypedImperativeAggregate ships in graft (no
    // collect_list/collect_set over high-cardinality keys in any
    // registered query — q_collect_agg's lists are group-bounded small).
    // The raised threshold disables the sort-based OOM valve for EVERY
    // typed aggregate in the session, so any future aggregate whose
    // buffer grows with the group must either carry its own bound (the
    // TopKAggregator pattern) or scope this conf back down around its
    // queries.
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "1048576")
    graft.expressions.GraftFunctions.register(spark)
  }

  /** A local-mode session on `cores` threads: `cores` shuffle partitions,
    * no UI, the `confs` given, then [[setup]]. */
  def local(cores: Int, confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    setup(spark)
    spark
  }
}
