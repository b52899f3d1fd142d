package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}.
  *
  * Queries are fully materialized through the `noop` sink — `count()` would
  * let Catalyst prune projections and undercount the real work.
  *
  * Measurement discipline (round-3 fix — round 2's recorded numbers were
  * contaminated by cross-query GC debt, e.g. q_json_extract recorded 5.12 s
  * vs 0.8–1.4 s isolated):
  *   - the timed region is the query alone; per-query cleanup (cache clear,
  *     BLOCKING unpersist of every leftover persisted/checkpointed block,
  *     then an explicit GC) runs OUTSIDE the timer, so each query starts
  *     from a clean heap and none pays for its predecessor's debris;
  *   - each query runs SPARK_GRAFT_BENCH_REPEATS times (default 3) and the
  *     MEDIAN is reported, so one GC pause or JIT deopt can't fabricate a
  *     regression.
  * SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the run for local iteration.
  */
object Bench {
  /** The 64 queries of the recorded round-1 baseline (BENCH_r01.json).
    * The artifact reports their summed time as `common64_s` so the
    * baseline ratio is readable off one file instead of derivable only
    * by joining two artifacts by hand. Baseline total: 40.06 s. */
  private val Common64: Set[String] = Set(
    "q_agg_cube", "q_agg_distinct", "q_agg_hash", "q_agg_rollup",
    "q_ann_ivf", "q_ann_lsh", "q_approx_distinct", "q_array_hof",
    "q_array_ops", "q_collect_agg", "q_cross_join", "q_ctas_scan",
    "q_dataset_roundtrip", "q_date_arith", "q_dedup", "q_dedup_minhash",
    "q_dedup_ngram", "q_dedup_ngram_capped", "q_dedup_simhash",
    "q_embed_neardup", "q_except", "q_except_all", "q_exists_correlated",
    "q_filter_pred", "q_fingerprint", "q_grouping_sets", "q_hash_split",
    "q_intersect", "q_intersect_all", "q_join_anti", "q_join_broadcast",
    "q_join_inner", "q_join_left", "q_join_nullsafe", "q_join_salted",
    "q_join_semi", "q_join_theta", "q_json_extract", "q_json_struct",
    "q_lang_id", "q_latest_partition", "q_minhash_estimate",
    "q_pagination", "q_percentile", "q_pivot", "q_posexplode",
    "q_regexp_extract", "q_scalar_date", "q_scalar_math",
    "q_scalar_string", "q_scan_project", "q_str_coerce",
    "q_text_quality", "q_time_filter", "q_token_count", "q_topk",
    "q_topk_similarity", "q_tumbling_window", "q_union",
    "q_upsert_antijoin", "q_window_firstlast", "q_window_frame",
    "q_window_ntile", "q_window_rank")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // Ad-hoc session confs for scaling audits (the index-geometry knobs):
    //   SPARK_GRAFT_CONF="graft.ann.lsh.planes=auto;graft.dedup.minhash.rows=auto"
    // Unset in driver runs, so the canonical bench always measures the
    // default (oracle) geometry.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").map(_.trim)
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })

    // Per-query isolation, outside any timed region: drop every persisted /
    // checkpointed block the query left behind (blocking, so the next timer
    // never races the async cleaner), then collect the garbage now instead
    // of inside a later query's measurement.
    def settle(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // A failed run is its cause, never a time: the time-to-exception of a
    // query that threw is not a sample of that query.
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      val r =
        try {
          fn(spark, dir).write.mode("overwrite").format("noop").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Left(e.toString)
        }
      settle()
      r
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // Host-load self-identification (round-8 verdict: two rounds of bench
    // artifacts were inflated ~1.9× by co-tenant load and nothing in the
    // artifact said so). Record /proc/loadavg before and after: a run whose
    // start load is far above this JVM's own thread count is machine-
    // detectably contaminated without re-running anything.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(" ")
      catch { case _: Throwable => "unavailable" }

    // Captured BEFORE the warmup: loadavg_start (below) is taken after
    // this JVM's own 250-query warmup pass and so reads ≈ its own thread
    // count even on an idle box — loadavg_launch is the co-tenant
    // evidence (round-11 verdict #6: a quiet-box run must be provable
    // from the artifact).
    val loadLaunch = loadavg()

    // JIT/session warmup at the smallest scale so measured numbers reflect
    // steady-state execution, not first-query class loading.
    selected.foreach { case (n, fn) => runOnce(n, fn, "/root/testdata/sf0.001") }

    val loadStart = loadavg()
    // the first failing repeat ends a query's measurement
    val results = selected.map { case (name, fn) =>
      name -> (1 to repeats).foldLeft[Either[String, Seq[Double]]](Right(Nil)) {
        case (Right(ts), _) => runOnce(name, fn, sfDir).map(ts :+ _)
        case (failed, _)    => failed
      }.map(median)
    }
    val loadEnd = loadavg()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val qs = results.map {
      case (k, Right(v))    => "\"" + k + "\":" + v
      case (k, Left(cause)) => "\"" + k + "\":{\"failed\":" + json.writeValueAsString(cause) + "}"
    }.mkString("{", ",", "}")
    // failed queries are named in `queries` and left out of every sum
    val timed = results.collect { case (k, Right(v)) => k -> v }
    val nFailed = results.size - timed.size
    val total = timed.map(_._2).sum
    val common64 = timed.collect { case (k, v) if Common64(k) => v }.sum
    // Memoized-asset build costs (round-11 verdict #2): each asset is
    // built once per JVM inside the FIRST repeat's timer and amortized by
    // every later consumer, so the per-query medians report probe time.
    // This field carries the first-touch build seconds explicitly (the
    // sfDir builds overwrite the warmup's sf0.001 entries by name) so the
    // medians can't be misread as from-cold costs.
    val assets = graft.Assets.snapshot.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // value_plus_assets (round-14 verdict #3/#8): `value` = Σ per-query
    // medians, which structurally excludes once-per-JVM memoized-asset
    // builds (they land in the first repeat only); adding Σ assets_s back
    // makes asset-cost relocation visible in one number, so round-over-
    // round totals can be compared on either basis.
    val assetsSum = graft.Assets.snapshot.values.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":"$cpus","loadavg_launch":"$loadLaunch","loadavg_start":"$loadStart","loadavg_end":"$loadEnd","common64_s":$common64,"assets_s":$assets,"value_plus_assets":${total + assetsSum}}"""
    println(line)
    // Short machine-parseable summary AFTER the full line (round-14
    // verdict #8): the full line is ~14 KB for 290 queries and the
    // driver's bounded stdout-tail capture truncates it; this trailing
    // line carries the headline numbers in under 200 bytes. The full
    // line and bench.json are unchanged in shape — this is additive.
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":$nFailed,"common64_s":$common64,"assets_sum_s":$assetsSum,"value_plus_assets":${total + assetsSum},"sf":"$sfDir","cpus":"$cpus"}""")
    // sbt wraps stdout in [info] tags, which breaks machine parsing of the
    // metric line — mirror it to a plain file the driver can read directly.
    // A BENCH_ONLY-restricted run writes a suffixed file by default so a
    // partial total never silently overwrites the committed full-run
    // artifact (an explicit SPARK_GRAFT_BENCH_OUT still wins).
    val defaultOut = if (only.isDefined) "bench.partial.json" else "bench.json"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
