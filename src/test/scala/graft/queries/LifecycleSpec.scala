package graft.queries

import graft.{SparkEntry, SparkSpec}

/** The query lifecycle contract, swept over the whole registry: a
  * registered query is a lazy plan, so once its memoized assets and table
  * schemas are warm, BUILDING it starts no Spark job, and RUNNING it
  * leaves no persisted RDD and no `CacheManager` entry behind (nothing a
  * caller could not release would outlive the result).
  *
  * For every query: one warm-up build + collect, then every cache is
  * released, then a second build is counted with [[jobsDuring]] and
  * collected, and the persistent RDDs and the cache manager are compared
  * with their state before that build.
  *
  * The queries that still break the contract are the two-part ledger
  * below, each with its reason. The ledger is exact in both directions: a
  * listed query that now conforms fails too, so its entry is deleted with
  * the change that fixes it and the ledger can only shrink.
  */
class LifecycleSpec extends SparkSpec {

  /** Queries that start Spark jobs while they are built. */
  private val eagerAtBuild: Map[String, String] = Map(
    "q_ann_graph" -> "the walk's one count() fills the round caches, then frees the index frames",
    "q_ann_recall_panel" -> "collects the exact top-5 ids; composes q_ann_graph's walk",
    "q_bloom_prune" -> "dim isEmpty probe, then the driver-side bloom filter build",
    "q_bpe_encode" -> "the BPE merge loop collects each round's top pair",
    "q_bpe_train" -> "the BPE merge loop collects each round's top pair",
    "q_constraint_check" -> "three scalar head()/count() probes become literal columns",
    "q_coreset" -> "greedy farthest-point picks, one collect per pick",
    "q_dpp_scan" -> "reading the month-partitioned layout lists its partition dirs in a job",
    "q_heavy_hitters" -> "the one-row count-min sketch is head()ed into the probe",
    "q_kmeans_train" -> "Lloyd iterations collect the centroids every round",
    "q_mmr_rerank" -> "collects the candidate pool and its vectors for the greedy MMR pass",
    "q_winnowing" -> ("counts its output to free the fingerprint cache; as one lazy plan it " +
      "recomputes the md5 chain per consumer: 1.74 -> 2.62 s at sf0.1"))

  /** Queries whose run leaves a persisted RDD or a cache entry behind. */
  private val leavesCache: Map[String, String] = Map(
    "q_ann_graph" -> "the per-round walk caches back the returned frame",
    "q_ann_recall_panel" -> "its graph leg is q_ann_graph, whose round caches stay",
    "q_auc" -> ("the z histogram Prefix reads twice; lazy, each read re-runs the per-doc " +
      "regexes: 0.74 -> 2.47 s at sf0.1"),
    "q_bpe_encode" -> "the word-count cache the merge loop and the encode both read",
    "q_coreset" -> "the vector table persisted across the greedy picks",
    "q_dedup_ngram_capped" -> "the capped n-gram table persisted for its consumers",
    "q_dsir" -> ("the DISK_ONLY feature table the model and the weights read, and the " +
      "weight table Prefix reads twice: lazy, 1.57 -> 2.16 s at sf0.1"),
    "q_isotonic_calibration" -> "the binned score table persisted for the PAV passes",
    "q_match_att" -> "treated and control strata persisted for the matching joins",
    "q_minhash_estimate" -> "the band candidate pairs persisted for the rerank",
    "q_resample" -> "the hourly aggregate persisted for the gap fill",
    "q_resample_locf" -> "the hourly aggregate persisted for the carry-forward",
    "q_winnowing" -> "its output cache (see eagerAtBuild)")

  private def release(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def cacheState: (Set[Int], Boolean) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet,
      spark.sharedState.cacheManager.isEmpty)

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"lifecycle: $name") {
      try {
        fn(spark, sf).collect()
        release()
        val before = cacheState
        val (df, jobs) = jobsDuring(fn(spark, sf))
        df.collect()
        val after = cacheState
        val left = after._1 -- before._1
        val cached = before._2 && !after._2
        // a break must be in its ledger part, and a ledger entry must break
        def audit(broke: Boolean, part: String, ledger: Map[String, String],
                  what: => String): Option[String] =
          if (broke && !ledger.contains(name)) Some(what)
          else if (!broke && ledger.contains(name)) Some(s"conforms now: delete its $part entry")
          else None
        val problems = Seq(
          audit(jobs > 0, "eagerAtBuild", eagerAtBuild, s"building started $jobs jobs"),
          audit(left.nonEmpty || cached, "leavesCache", leavesCache,
            s"running left ${left.size} persisted RDDs" +
              (if (cached) " and a cache entry" else ""))).flatten
        assert(problems.isEmpty, problems.mkString("; "))
      } finally release()
    }
  }
}
