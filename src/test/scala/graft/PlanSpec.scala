package graft

/** Physical-plan regression guards: the properties that make these queries
  * scale (pushdown, pruning, broadcast, top-k collapse) must survive
  * refactors. String checks over the executed plan at sf0.001. */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q_agg_hash pushes the shipdate filter to the parquet scan") {
    val p = plan("q_agg_hash")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q_scan_project reads exactly its four columns") {
    val p = plan("q_scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .forall(read.contains), read)
    assert(!read.contains("l_shipdate") && !read.contains("l_returnflag"), read)
  }

  test("q_join_broadcast never shuffles the fact side for the joins") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_topk collapses to TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_topk_similarity uses the codegen'd native dot expression") {
    val p = plan("q_topk_similarity")
    assert(p.contains("graft_long_dot"), p)
  }

  test("q_embed_neardup is a shuffled equi-join on block pairs, not a BNLJ/cartesian") {
    val p = plan("q_embed_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // equi-join on the block-pair key (any hash/merge strategy; at sf0.001
    // the sides fit under the broadcast threshold, at scale it degrades
    // gracefully to a shuffled join on the same key)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q_embed_neardup_lsh joins candidates on the probe bucket (equi), no BNLJ") {
    val p = plan("q_embed_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sessionize shuffles user_id ONCE: both windows and the session aggregate share it") {
    val p = plan("q_sessionize")
    val dataShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(dataShuffles == 1, p) // the only other Exchange is the output sort
    assert(p.contains("partial_count"), p) // map-side combine on the aggregate
  }

  test("q_asof_join is join-free: one user_id shuffle, window carry, no join operator") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("analytics family plans: equi-joins only, no quadratic operator anywhere") {
    // one sweep over the round-9 analytics additions whose scale story is
    // "equi-joins + broadcast stats": none may plan a nested-loop or
    // cartesian join (the explode-to-window and broadcast-bounds idioms
    // exist precisely to avoid them)
    Seq("q_stickiness", "q_audience_overlap", "q_cooccur_pmi",
        "q_cohort_ltv", "q_psi_drift", "q_histogram_eqdepth",
        "q_ingest_completeness", "q_conversion_lag").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      // a BroadcastNestedLoopJoin is allowed ONLY as the 1-row scalar
      // broadcast (Cross); a data-sized inner/outer NLJ is the bug
      p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach {
        l => assert(l.contains("Cross"), s"$q plans a non-scalar NLJ: $l")
      }
    }
  }

  test("distributed-rank analytics never put row-scale data through a single-partition window") {
    // these use graft.operators.Prefix (q_match_att its own bucket
    // carries): the row-scale window must partition by the bucket, and
    // every GLOBAL (empty partitionSpec) window may consume only the
    // bucket-level aggregate — the tiny table — never the
    // dimension/vocabulary rows themselves.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    Seq("q_gini" -> "rb", "q_pareto_8020" -> "rb",
        "q_skyline" -> "rb", "q_zipf_fit" -> "c",
        "q_vocab_coverage" -> "c",
        "q_auc" -> "rb", "q_ks_test" -> "rb",
        "q_match_att" -> "rb", "q_seq_pack" -> "bucket",
        "q_epoch_shuffle" -> "hb", "q_curriculum" -> "hb",
        "q_stratified_split" -> "hb", "q_token_budget_mix" -> "hb",
        "q_ppl_buckets" -> "fl", "q_dsir" -> "fl").foreach { case (q, bucket) =>
      val sp = SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan
      val wins = sp.collect { case w: WindowExec => w }
      assert(wins.exists(_.partitionSpec.nonEmpty),
        s"$q: no bucket-partitioned rank window found:\n$sp")
      wins.filter(_.partitionSpec.isEmpty).foreach { w =>
        val bucketAggBelow = w.collectFirst {
          case a: BaseAggregateExec
            if a.groupingExpressions.exists(_.toString.contains(bucket)) => a
        }
        assert(bucketAggBelow.isDefined,
          s"$q: global window not fed by the bucket aggregate:\n$w")
      }
    }
  }

  test("q_dpp_scan prunes fact partitions DYNAMICALLY from the dim filter") {
    val p = plan("q_dpp_scan")
    // the fact scan must carry a dynamic-pruning subquery on the
    // partition column — the runtime file-listing skip that turns an
    // 80-month scan into a ~3-month scan with NO static fact predicate
    assert(p.contains("dynamicpruning"), p.take(4000))
    assert(p.contains("PartitionFilters"), p.take(4000))
  }

  test("q_runtime_filter gets an injected bloom semi-filter below the shuffle join") {
    val p = plan("q_runtime_filter")
    // InjectRuntimeFilter: the fact scan is gated by might_contain over
    // a bloom built from the filtered dim at runtime — rows that cannot
    // match never leave the mappers
    assert(p.toLowerCase.contains("might_contain"), p.take(4000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "expected a shuffle join (broadcast would mask the runtime filter)")
  }

  test("q_rfm bins with broadcast percentile bounds, never a global sort window") {
    val p = plan("q_rfm")
    assert(!p.contains("Window"), "rfm must not pay a single-partition ntile:\n" + p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("q_asof_nearest is join-free: both directions from one user_id shuffle") {
    val p = plan("q_asof_nearest")
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("q_join_banded turns the proximity predicate into a bucket equi-join (no BNLJ)") {
    val p = plan("q_join_banded")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q_window_timerange shuffles user_id once for the range frame") {
    val p = plan("q_window_timerange")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q_interval_join is an equi-join on the user with the interval as residual condition") {
    val p = plan("q_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q_dedup_minhash candidate generation is a band equi-join, never a cartesian") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_minhash_estimate never joins on the bare shingle key (candidate-restricted Jaccard)") {
    val p = plan("q_minhash_estimate")
    // The true-Jaccard side must be restricted to LSH candidate pairs: every
    // join touching the shingle column must also carry a doc key. A join
    // keyed on the shingle ALONE is the corpus-scale hot-shingle pair
    // explosion this query used to carry (only q_dedup_ngram, the
    // documented exact baseline, is allowed that shape).
    assert("""(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[g#""".r
      .findFirstIn(p).isEmpty, p)
  }

  test("q_ann_ivf centroid assignment is map-side: no Window, no corpus shuffle") {
    val p = plan("q_ann_ivf")
    // The argmax over the 8 broadcast centroid cosines happens in-row
    // (array_max over structs); a Window or an Exchange hashpartitioning
    // here would be the corpus-wide N×8 shuffle this shape exists to avoid.
    assert(!p.contains("Window"), p)
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")), p)
  }

  test("q_pipeline_corpus composes with equi-joins only — no cartesian anywhere in the flagship") {
    val p = plan("q_pipeline_corpus")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_knn_join probes the memoized neighbor asset with the rank filter pushed down") {
    val p = plan("q_knn_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p) // probe = scan + pushed filter + sort
    // the top-3 cut reaches the parquet scan, not a post-scan Filter only
    assert(p.contains("LessThanOrEqual(rnk,3)"), p)
  }

  test("q_ssjoin_prefix: prefix-token equi-join only — no cartesian, no window in the probe") {
    val p = plan("q_ssjoin_prefix")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("windowspecdefinition"), p) // ranks live in the index asset
  }

  test("ssjoin prefix-index BUILD windows are doc-partitioned only") {
    // the asset build's rarity rank is a per-doc frame — bounded by doc
    // length, never a global or vocab-wide window
    val p = graft.queries.Dedup.computePrefixIndex(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    val w = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(w.nonEmpty, p)
    w.foreach(l => assert(l.contains("doc_id#"), s"non-doc-partitioned window: $l"))
  }

  test("q_cluster_topics assigns map-side and windows only the scored vocabulary by cluster") {
    val p = plan("q_cluster_topics")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the only window ranks within a cluster — never a global frame
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("cluster#"), s"non-cluster-partitioned window: $l")
    }
  }

  test("q_retrieval_eval cuts both rankings with TakeOrdered — no global sort of the run") {
    val p = plan("q_retrieval_eval")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("neighbor-asset BUILD pairs via block equi-join and aggregates top-k partially") {
    // the plan q_knn_join/q_label_noise amortize: still bounded partial
    // top-k over the block-partitioned pair table — never a window sort
    val p = graft.queries.Similarity.computeNeighbors(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p) // bounded partial top-k, not row_number
    assert(p.contains("ObjectHashAggregate"), p) // typed Aggregator w/ partial merge
  }

  test("NN-descent BUILD: LSH equi-join candidates + bounded partial top-k — no cartesian, no window") {
    // the ANN index build q_ann_graph/q_ann_nnd amortize: candidate
    // generation is equi-joins on (table, bucket) and the shared graph
    // endpoint; ranking is the bounded typed aggregator, never row_number
    val p = graft.queries.Similarity.computeNndNeighbors(spark, sf)._1
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q_knn_join_ann joins candidates on the probe bucket and aggregates top-k partially") {
    val p = plan("q_knn_join_ann")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p) // bounded partial top-k, not row_number
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q_semantic_dedup pairs only within clusters — equi-join, no cartesian, no window") {
    val p = plan("q_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // cluster assignment is in-row argmax against literal centroids — the
    // corpus never meets a centroid table in a join or a window
    assert(!p.contains("Window"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("q_ann_graph walks via frontier-bounded equi-joins: no cartesian, no window, no corpus shuffle-sort") {
    // the round SHAPE (the plan every beam round of the registered query
    // runs): frontier⋈edges / id-keyed point lookups — a CartesianProduct
    // or a Window here would mean the walk degenerated into a corpus-wide
    // pass; the only nested-loop join allowed is the 1-row broadcast
    // scalar join carrying the query vector
    val r = graft.queries.Similarity.graphWalkRoundProbe(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!r.contains("CartesianProduct"), r)
    assert(!r.contains("Window"), r)
    assert(r.contains("BroadcastHashJoin") || r.contains("ShuffledHashJoin") ||
      r.contains("SortMergeJoin"), r)
    // the registered query (loop-session caches): the final cut is a
    // bounded TakeOrdered over the materialized walk, never a global sort
    val p = plan("q_ann_graph")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_ann_ivf_trained keeps the map-side assignment shape of q_ann_ivf") {
    val p = plan("q_ann_ivf_trained")
    assert(!p.contains("Window"), p)
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")), p)
  }

  test("q_kmeans_train's final round is join-free: literal centroids, map-side assignment") {
    val p = plan("q_kmeans_train")
    // Model state is embedded as literals, so the returned (final-round)
    // plan must contain NO join operator and no Window — the corpus is
    // touched by exactly the scan, the in-row argmax, and the
    // (cluster, pos)-keyed aggregate.
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_lm_perplexity probes the memoized per-doc score asset — no join in the probe") {
    val p = plan("q_lm_perplexity")
    assert(!p.contains("Join"), p) // probe = narrow asset scan + verdict map
    assert(!p.contains("CartesianProduct"), p)
  }

  test("LM-score BUILD scores via the (w1, w2) equi-join, never a cartesian, and prunes to (doc_id, text)") {
    // the plan the ppl asset amortizes (q_lm_perplexity + the pipeline gate)
    val p = graft.queries.TextOps.computeDocPerplexity(
      Tables.load(spark, sf, "documents")).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("q_contamination counts hits through a LEFT SEMI shingle join") {
    val p = plan("q_contamination")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_seq_pack's corpus prefix sum is distributed: bucket-keyed window + broadcast prefix join") {
    val p = plan("q_seq_pack")
    // the corpus-sized window partitions by bucket (a hash exchange), and
    // the cross-bucket offsets arrive via a broadcast join — the corpus
    // itself never funnels through a single-partition window
    assert(p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_epoch_shuffle ranks in hash buckets; global windows see only the bucket cache") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_epoch_shuffle")(spark, sf)
      .queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    // the corpus-scale rank window partitions by the hash-prefix bucket
    assert(wins.exists(_.partitionSpec.nonEmpty),
      s"no bucket-partitioned rank window:\n$sp")
    // the only single-partition window is the prefix sum over the
    // persisted ≤256-row bucket aggregate — its input is exactly the
    // (hb, btot) pair, never a corpus row
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val cols = w.child.output.map(_.name).toSet
      assert(cols == Set("hb", "btot"),
        s"global window consumes non-bucket columns $cols:\n$sp")
    }
    // cross-bucket offsets and the total arrive broadcast
    assert(sp.toString.contains("BroadcastHashJoin") ||
      sp.toString.contains("BroadcastExchange"), sp.toString)
  }

  test("q_curriculum ranks in (band, hash) buckets; global windows see only the bucket cache") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_curriculum")(spark, sf)
      .queryExecution.sparkPlan
    val wins = sp.collect { case w: WindowExec => w }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      s"no bucket-partitioned rank window:\n$sp")
    // the only single-partition window is the prefix sum over the
    // persisted ≤4×256-row (band, hb) aggregate — never a corpus row
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val cols = w.child.output.map(_.name).toSet
      assert(cols == Set("band", "hb", "btot"),
        s"global window consumes non-bucket columns $cols:\n$sp")
    }
    assert(sp.toString.contains("BroadcastHashJoin") ||
      sp.toString.contains("BroadcastExchange"), sp.toString)
  }

  test("q_ann_pq encodes and scores in-row: no window, no corpus shuffle, top-k collapsed") {
    val p = plan("q_ann_pq")
    // codes + ADC terms are literal-centroid in-row expressions on the
    // scan; a Window or hashpartitioning Exchange here would be the
    // corpus-wide shuffle PQ exists to avoid
    assert(!p.contains("Window"), p)
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")), p)
    assert(p.contains("graft_long_dot"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_ann_ivfpq composes router + codes in-row: no window, no corpus shuffle, top-k collapsed") {
    val p = plan("q_ann_ivfpq")
    // coarse routing is an in-row literal-centroid argmax and the PQ
    // codes/ADC are in-row expressions on the routed candidates — the
    // whole composed probe must stay map + broadcast + TakeOrdered; a
    // Window or hashpartitioning Exchange would be the corpus-wide
    // shuffle the IVF-PQ index exists to avoid
    assert(!p.contains("Window"), p)
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")), p)
    assert(p.contains("graft_long_dot"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_ann_prefix is map + TakeOrdered twice: no window, no corpus shuffle, no rerank join") {
    val p = plan("q_ann_prefix")
    // prefix dot and full dot are both in-row expressions; candidates
    // carry their full vector through TakeOrdered(50), so the rerank
    // stage needs NO join back to the corpus — a Window, a
    // hashpartitioning Exchange, or a SortMergeJoin here would defeat
    // the narrow-column scan the prefix index exists to enable
    assert(!p.contains("Window"), p)
    assert(!p.linesIterator.exists(_.contains("Exchange hashpartitioning")), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("graft_long_dot"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("governance/QA panels are partial aggregates — no window, no distinct") {
    Seq("q_kanon_audit", "q_dataset_card", "q_vector_quality",
        "q_freshness", "q_dp_counts").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q: $p")
      assert(p.contains("partial_count") || p.contains("partial count"),
        s"$q lost map-side combine: $p")
    }
  }

  test("q_doc_chunks is shuffle-free map work over a pruned scan") {
    val p = plan("q_doc_chunks")
    assert(!p.contains("Exchange hashpartitioning"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("lang"), read)
  }

  test("q_repetition_filter and q_pii_scrub prune the documents scan to (doc_id, text)") {
    Seq("q_repetition_filter", "q_pii_scrub").foreach { q =>
      val read = plan(q).linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(read.contains("doc_id") && read.contains("text"), s"$q: $read")
      assert(!read.contains("lang") && !read.contains("n_chars"), s"$q: $read")
    }
  }

  test("q_star_join broadcasts the dims and pushes the region filter to its scan") {
    val p = plan("q_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p) // pushed to the region scan
  }

  test("q_tfidf keeps the corpus size as an in-plan broadcast (no driver count)") {
    val p = plan("q_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("metadata argmax join in q_latest_partition broadcasts the singleton") {
    val p = plan("q_latest_partition")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_vocab_build caps via TakeOrdered; the row_number window sees only the capped rows") {
    val p = plan("q_vocab_build")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the global-order window must sit ABOVE the top-N collapse, never on
    // the corpus-sized aggregate
    val winAt = p.indexOf("Window")
    val topAt = p.indexOf("TakeOrderedAndProject")
    assert(winAt >= 0 && winAt < topAt, p)
  }

  test("q_bpe_step pairs over the word aggregate, joinless, window above the cap") {
    val p = plan("q_bpe_step")
    // count-once-then-pair: pure aggregate work, no join anywhere
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the scoreboard window sits above the top-N collapse, never on the
    // pair aggregate
    val winAt = p.indexOf("Window")
    val topAt = p.indexOf("TakeOrderedAndProject")
    assert(winAt >= 0 && winAt < topAt, p)
  }

  test("q_bpe_encode tokenizes off the word aggregate: joinless, window above the cap") {
    val p = plan("q_bpe_encode")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    val winAt = p.indexOf("Window")
    val topAt = p.indexOf("TakeOrderedAndProject")
    assert(winAt >= 0 && winAt < topAt, p)
  }

  test("q_embed_quantize is shuffle-free map work (one output sort only)") {
    val p = plan("q_embed_quantize")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_dup_spans joins on the shingle key only — no cartesian, no doc-pair key") {
    val p = plan("q_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_winnowing selects fingerprints in-row: no per-doc window, fp-keyed equi-joins only") {
    val p = plan("q_winnowing")
    // fingerprint selection (hash → window-min → distinct) is one
    // transform chain inside the row — a WindowExec here would mean the
    // per-doc gram sort shuffle the in-row design exists to avoid
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_gate_attribution is one scan + one global aggregate — no join, no window") {
    val p = plan("q_gate_attribution")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text") && !read.contains("lang"), read)
  }

  test("q_dp_topk: token-keyed aggregate + scoreboard ranking — no join, rank window is post-limit") {
    val p = plan("q_dp_topk")
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-k collapse before the rank window
  }

  test("q_tokenizer_fertility is one scan + one lang-keyed aggregate — no join, no window") {
    val p = plan("q_tokenizer_fertility")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("lang") && read.contains("text"), read)
  }

  test("q_dedup_cluster_stats probes the component asset: aggregates only, no corpus window") {
    val p = plan("q_dedup_cluster_stats")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("q_agg_stats computes all six moments in ONE aggregate pass (no window, no join)") {
    val p = plan("q_agg_stats")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
    // partial→final over one grouping key: exactly one data shuffle (the
    // output orderBy adds a rangepartitioning exchange, not a hash one)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("graph rounds (LPA, SSSP) are equi-joins + aggregates: no window, no cartesian") {
    // each round is frontier/labels ⋈ edges on a node key plus
    // map-side-combinable aggregates; the LPA mode tie-break is an
    // in-aggregate max(struct) argmax — a WindowExec or cartesian here
    // would be the per-node sort/all-pairs shape the round design avoids
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("q_label_prop", "q_shortest_path").foreach { q =>
      val sp = graft.SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
      assert(sp.collect { case w: WindowExec => w }.isEmpty, s"$q plans a window")
      val p = sp.toString
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q_jl_project is pure map work: no join, no aggregate exchange, no window") {
    // 16 codegen'd LongDots per row + the presentation orderBy — the ONLY
    // exchange allowed is the final rangepartitioning sort; a
    // hashpartitioning exchange, join, or window here would mean the
    // projection stopped being ingest-time map work
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = graft.SparkEntry.queries("q_jl_project")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    val p = sp.toString
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q_mmr_rerank: result is the request-batch-bounded local residue, no window anywhere") {
    // the corpus is scored against a BROADCAST fixed query batch and
    // pooled by the bounded TopKAggregator (both run at build time); the
    // greedy tail then works on the COLLECTED |Q|·8 pool — model-state
    // scale by construction — so the returned frame must be a local
    // |Q|·3-row result (LocalTableScan/LocalRelation), and nothing in
    // its lineage may be a WindowExec rank or a per-candidate sort.
    val out = graft.SparkEntry.queries("q_mmr_rerank")(spark, sf)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"), p)
    import org.apache.spark.sql.execution.window.WindowExec
    assert(out.queryExecution.executedPlan
      .collect { case w: WindowExec => w }.isEmpty)
    // bounded: exactly |Q| queries × 3 picks
    assert(out.count() ===
      graft.queries.Similarity.MmrQIds.size.toLong * 3L)
  }

  test("resolution-family keep rules stay equi-join-only: no cartesian, no window") {
    // canonical selection and the leak-free split both ride the CC labels
    // with component-keyed aggregates — never a per-cluster window or any
    // quadratic operator
    Seq("q_dedup_canonical", "q_split_leakfree").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach {
        l => assert(l.contains("Cross"), s"$q plans a non-scalar NLJ: $l")
      }
    }
  }

  test("q_preference_pairs is one scan + one group aggregate: no window, no join") {
    // both picks are in-aggregate argmaxes (max/min over struct) — a
    // WindowExec or a self-join here would be the per-group sort the
    // design avoids
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_preference_pairs")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    assert(!sp.toString.contains("Join"), sp.toString)
  }

  test("q_substring_dedup is shingle-keyed end to end: no doc×doc join") {
    // df aggregate + LEFT SEMI on the shingle key, LEFT ANTI on
    // (doc_id, t) — a cartesian or nested-loop join anywhere here would
    // be the all-pairs shape the Lee et al. pipeline exists to avoid
    val p = plan("q_substring_dedup")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_incremental_dedup admits the batch via an ANTI equi-join, never a cartesian") {
    val p = plan("q_incremental_dedup")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_pagerank_iter propagates mass through equi-joins only") {
    val p = plan("q_pagerank_iter")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_pipeline_vectors composes with equi-joins only — no cartesian in the vector capstone") {
    val p = plan("q_pipeline_vectors")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_weighted_sample is one map pass + TakeOrdered — no shuffle, no join") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"), p)
  }

  test("q_histogram bins against a broadcast scalar; fact side joined by equi-key") {
    val p = plan("q_histogram")
    assert(p.contains("LeftOuter"), p)
    val reads = p.linesIterator.filter(l => l.contains("ReadSchema") && l.contains("events"))
    assert(reads.forall(r => !r.contains("props") && !r.contains("user_id")), p)
  }

  test("q_entropy is two map-side-combinable aggregates — no window over the token table") {
    val p = plan("q_entropy")
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_containment intersects shingles only on candidate pairs — no cartesian") {
    val p = plan("q_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_group_cap selects through the bounded top-k aggregate, never a corpus window sort") {
    val p = plan("q_group_cap")
    assert(!p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q_outlier_zscore broadcasts the per-type stats back — no corpus shuffle to score") {
    val p = plan("q_outlier_zscore")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only hash exchange is the tiny stats aggregate's partial→final
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("q_oov_rate scores via a broadcast vocab join; corpus shuffled only on its own keys") {
    val p = plan("q_oov_rate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_hopping_window fans windows out map-side: one aggregate shuffle, no join") {
    val p = plan("q_hopping_window")
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("q_resample joins the fact side by equi-key; events scan pruned to three columns") {
    val p = plan("q_resample")
    // the hours×types scaffold cross join is model-sized; the DATA join
    // must be an equi left join, never a nested-loop over events
    assert(p.contains("LeftOuter"), p)
    // ONE corpus scan at runtime: all three consumers (bounds, types, the
    // data join) read the CACHED model-sized aggregate — each prints as an
    // InMemoryTableScan (the embedded FileScan in the cached-plan pretty-
    // print materializes once, on first access)
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 3, p)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.forall(r => !r.contains("props") && !r.contains("user_id")), reads)
  }

  test("q_shipping_priority pushes all three dimension filters and collapses the top-10") {
    val p = plan("q_shipping_priority")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // selection reaches the scans: segment equality and both date bounds
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("LessThan(o_orderdate") && p.contains("GreaterThan(l_shipdate"), p)
    // top-10 is a TakeOrdered, not a global sort of the aggregate
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_large_orders prunes orders through a LEFT SEMI before the wide joins") {
    val p = plan("q_large_orders")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the quantity scan needs exactly its two columns
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.exists(r => r.contains("l_orderkey") && r.contains("l_quantity")
      && !r.contains("l_extendedprice")), reads)
  }

  test("q_suppliers_waiting keeps the EXISTS/NOT EXISTS chain as semi/anti equi-joins") {
    val p = plan("q_suppliers_waiting")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
    // the nation dimension restricts supplier via a broadcast, not a shuffle
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_knn_join_ann_multi unions per-table bucket equi-joins — no BNLJ, native dot") {
    val p = plan("q_knn_join_ann_multi")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_long_dot"), p)
  }

  test("q_resample_locf adds only the grid-sized window to q_resample's shape") {
    val p = plan("q_resample_locf")
    assert(p.contains("LeftOuter"), p)
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 3, p)
    // the LOCF carry is a window over the dense grid, not a second join
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("q_unicode_clean runs the native NFC expression in-plan, reading two columns") {
    val p = plan("q_unicode_clean")
    // the expression itself (not a UDF wrapper) sits in the projection —
    // shuffle-free map work; codegen correctness is TextExpressionsSpec's
    assert(p.contains("graft_nfc"), p)
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("source"), read)
  }

  test("q_basket_lift pairs through the order key: no cartesian, scalar-only BNLJ") {
    val p = plan("q_basket_lift")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the broadcast of the 1-row n_orders total
    // (the repo's accepted scalar-cross idiom); the PAIR join itself is
    // an equi-join keyed on the order
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("l_orderkey"), p)
  }

  test("q_pit_join plans an equi-join on the user with the interval as residual") {
    val p = plan("q_pit_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("user_id"), p)
  }

  test("q_hybrid_rrf TakeOrders each retrieval path — no corpus-wide sort") {
    val p = plan("q_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only nested-loop is the broadcast 1-row query vector; the
    // fusion join is an equi full-outer on doc_id
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("FullOuter"), p)
  }

  test("q_join_card_est pushes both key-synopsis filters to the scans") {
    val p = plan("q_join_card_est")
    // the 1/16 sample predicates are plan-side filters feeding the
    // synopsis join — both sides carry the md5-prefix cut
    assert(p.contains("substring(md5("), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_pipeline_features is two user-keyed aggregates and a broadcast cutoff") {
    val p = plan("q_pipeline_features")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin")
      || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q_colbert_maxsim scores against a broadcast query batch, no window, native dots") {
    // one corpus pass × broadcast |Q|-row batch (BNLJ is the right op for
    // that residual-condition cross), the 4×4 dot grid in-row via
    // graft_long_dot, top-5 through the bounded aggregator — a WindowExec
    // or a corpus-side SortMergeJoin would be the all-to-all shape maxsim
    // retrieval must avoid
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_colbert_maxsim")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    val p = sp.toString
    assert(p.contains("graft_long_dot"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_record_linkage blocks on an equi-key and resolves via aggregate argmax, no window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_record_linkage")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    val p = sp.toString
    // the block join is an equi-join on blk — never a name-pair cartesian
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("graft_levenshtein"), p)
  }

  test("q_span_corruption is map work + ONE doc-keyed aggregate: no join, no window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_span_corruption")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    val p = sp.toString
    assert(!p.contains("Join"), p)
    val aggShuffles = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(aggShuffles <= 1, s"expected one doc_id aggregate exchange:\n$p")
  }

  test("q_dedup_sweep folds pairs once; every NLJ is the 5-row threshold broadcast") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_dedup_sweep")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    val p = sp.toString
    assert(!p.contains("CartesianProduct"), p)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"non-dimension NLJ: $l")
    }
  }

  test("q_dp_quantile touches the data once: histogram aggregate, then bin-table-only work") {
    val p = plan("q_dp_quantile")
    // the only window runs over the dense 64-bin grid, never the orders
    // table: its input must be the grid join, which carries the `cnt`
    // coalesce — and no sort-merge join or cartesian anywhere
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"non-scalar NLJ: $l")
    }
  }

  test("q_backtest_forecast touches the fact table once: month rollup, then series-sized math") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_backtest_forecast")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    val p = sp.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // the only join is the 3-row origin dimension crossed in by broadcast
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"non-dimension NLJ: $l")
    }
  }

  test("q_model_calibration is ONE scan + one 10-group aggregate: no join, no window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_model_calibration")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    val p = sp.toString
    assert(!p.contains("Join"), p)
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one documents scan, got $scans:\n$p")
  }

  test("q_feature_hash is explode + two keyed aggregates: no join, no window, native hash") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_feature_hash")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    val p = sp.toString
    assert(!p.contains("Join"), p)
    assert(p.contains("graft_md5_u32"), p)
  }

  test("q_bootstrap_ci is in-row fanout + one 32-group aggregate: no window, no fact join") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = SparkEntry.queries("q_bootstrap_ci")(spark, sf)
      .queryExecution.executedPlan
    assert(sp.collect { case w: WindowExec => w }.isEmpty)
    val p = sp.toString
    // the only join is the broadcast of the 1-row full-data mean
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"non-scalar NLJ: $l")
    }
  }
}
