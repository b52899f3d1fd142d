package graft.queries

import graft.Tables
import graft.operators.Prefix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset splitting/sampling for training pipelines.
  *
  * The split must be a pure function of the record id — not of partitioning,
  * row order, or a session seed — so it is stable across reruns, engines,
  * and backfills (the property that keeps eval sets leak-free when the
  * corpus is re-ingested). Bucket = first 4 hex chars of md5(id) → [0, 65536).
  */
object Sampling {
  type QFn = (SparkSession, String) => DataFrame

  /** 80/10/10 bucket thresholds over [0, 65536). */
  private val TrainMax = 52429 // 0.8 * 65536
  private val DevMax = 58982   // 0.9 * 65536

  /** Per-language document cap for q_group_cap. */
  private val CapK = 50

  /** Deterministic split assignment for any DataFrame with an id column. */
  def withSplit(df: DataFrame, idCol: String): DataFrame = {
    val bucket = conv(substring(md5(encode(col(idCol).cast("string"), "UTF-8")), 1, 4), 16, 10)
      .cast("long")
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < TrainMax, "train")
          .when(col("bucket") < DevMax, "dev")
          .otherwise("test"))
  }

  /** SecureRandom source for the production DP mode — one generator per
    * executor thread ([[java.security.SecureRandom]] is synchronized; a
    * shared instance would serialize every task's draws). @transient +
    * lazy so the closure ships a recipe, not a generator. */
  private object SecureU extends Serializable {
    @transient private lazy val rng =
      new ThreadLocal[java.security.SecureRandom] {
        override def initialValue(): java.security.SecureRandom =
          new java.security.SecureRandom()
      }
    def next(): Double =
      ((rng.get.nextInt().toLong & 0xFFFFFFFFL).toDouble + 0.5) / 4294967296.0
  }

  /** The (0, 1) uniform behind every DP mechanism here. Default: the
    * SEEDED md5-uniform of the group key — `(h + 0.5) / 2^32`, the
    * half-step keeping the draw strictly inside (0, 1) so the Laplace
    * inverse-CDF log argument is never 0 — reproducible run-to-run and
    * oracle-checkable, but NOT private (the noise is a deterministic
    * function of the key; disclosed here, in §2, and on the data card).
    * With `graft.dp.secure=true`: the same 32-bit half-step uniform from
    * [[SecureU]] — an actually-releasable draw with IDENTICAL
    * distribution, sensitivity accounting, and plan; marked
    * non-deterministic so Catalyst pins it to one evaluation per row
    * (a filter re-evaluating a fresh draw would decouple the released
    * value from the thresholded one). The oracle always replays the
    * seeded twin — a secure release is checked distributionally
    * (DpSecureSpec), not by value. */
  private[graft] def dpUniform(s: SparkSession, tag: String,
                        key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (s.conf.get("graft.dp.secure", "false").toBoolean)
      udf(() => SecureU.next()).asNondeterministic().apply()
    else
      (conv(substring(md5(encode(concat(lit(tag), key), "UTF-8")), 1, 8), 16, 10)
        .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)

  /** Per-stratum seeded sampling (class balancing). Deterministic within
    * Spark for a fixed seed — not cross-engine, hence spec-tested (t1)
    * rather than oracle-compared. */
  def stratifiedSample(df: DataFrame, stratumCol: String,
                       fractions: Map[String, Double], seed: Long): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Deterministic uniform in [0,1) from the record id — first 8 hex chars
    * of md5(id) normalized by 2^32. A pure per-row function: the sampling
    * decision survives reruns, repartitions, and engine swaps. 32-bit
    * resolution matters at corpus scale: a 16-bit bucket quantizes
    * keep-rates to 1/65536, so any rate below ~1.5e-5 (e.g. a 10^9-doc
    * language downsampled to a 10^4-doc target) would round to "never";
    * 2^32 supports rates down to ~2.3e-10. */
  private def hashUniform(idCol: String) =
    // graft_md5_u32 = the first 4 digest bytes as an unsigned int —
    // bit-identical to the conv(substring(md5…)) spelling the oracles
    // replay, ~10× its throughput (no hex materialization, no Conv)
    expr(s"cast(graft_md5_u32(cast($idCol as string)) as double)") /
      lit(4294967296.0)

  val queries: Map[String, QFn] = Map(
    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023),
    // the hashed n-gram importance-weighting recipe for targeting a
    // corpus at a domain: featurize every doc into hashed word uni+bigram
    // buckets, estimate add-1-smoothed bucket distributions for the
    // TARGET slice (here lang = 'en' — the domain the pretraining mix
    // wants more of) and the full-corpus PROPOSAL, score each doc by its
    // summed log likelihood ratio, and keep the top quarter. Exactness
    // discipline: the per-BUCKET log ratio is cast DECIMAL(28,12) once
    // (absorbing libm's last-ulp ln differences — the q_entropy per-term
    // precedent), per-doc weights are exact decimal sums of those terms,
    // and the keep cut is an integer rank rule (4·rnk ≤ n) over the
    // DECIMAL weight — no float ordering anywhere. Scale shape: one
    // feature explode (map-side combined into a 1024-row bucket model,
    // broadcast back), one doc-keyed weight aggregate, and a
    // [[graft.operators.Prefix]] rank over coarse ⌊−w⌋ bins — the corpus
    // never sees a one-partition window or a wide shuffle.
    "q_dsir" -> ((s, d) => {
      val B = 1024
      val docs = Tables.loadFan(s, d, "documents") // token+bigram explode (r14)
        .select(col("doc_id"), col("lang"),
          split(lower(trim(col("text"))), "\\s+").as("w"))
      val uni = docs.select(col("doc_id"), col("lang"),
        explode(col("w")).as("f"))
      val bi = docs.filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(w) - 1), i -> " +
            "concat_ws(' ', element_at(w, i), element_at(w, i+1)))")).as("f"))
      val feats = uni.unionByName(bi)
        .select(col("doc_id"), col("lang"),
          (expr("graft_md5_u32(f)") % B).as("b"))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      // ONE conditional aggregate builds both hash-LM count tables (guide
      // §2.3 "aggregate before you shuffle"): the corpus count and the
      // en-target count per bucket come from the same scan of the persisted
      // feature table — previously two full scans + a bucket-keyed join,
      // with `coalesce(tc, 0)` covering buckets absent from the filtered
      // side; `sum(when(lang='en',1,0))` yields that 0 directly (en rows
      // are a subset of all rows, so no bucket exists in tc but not pc).
      val model = feats.groupBy(col("b"))
        .agg(count(lit(1)).as("pc"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"))
      val tot = model.agg(sum(col("pc")).as("pn"), sum(col("tc")).as("tn"))
      val terms = model.crossJoin(broadcast(tot))
        .select(col("b"),
          log(((col("tc") + 1) * (col("pn") + B)).cast("double") /
            ((col("pc") + 1) * (col("tn") + B)).cast("double"))
            .cast("decimal(28,12)").as("term"))
      val ws = feats.join(broadcast(terms), "b")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"), sum(col("term")).as("wsum"))
        .withColumn("negw", -col("wsum"))
        .withColumn("fl", floor(col("negw")).cast("long"))
        // Prefix reads the weights twice; lazy, each read re-runs the
        // feature join and aggregate (measured slower at sf0.1), so persist
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Prefix(ws, within = Nil, buckets = Seq(Prefix.asc("fl")),
          order = Seq(col("negw"), col("doc_id")),
          measures = Seq(Prefix.Rank("rnk", total = Some("n"))), inclusive = true)
        .select(col("doc_id"), col("n_feats"),
          col("wsum").cast("double").as("w"), col("rnk"),
          (col("rnk") * 4 <= col("n")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // NEGATIVE SAMPLING for contrastive/recommender training — the
    // standard (entity, item) batch construction: for every observed
    // (supplier, part) pair, draw 3 seeded uniform candidate parts and
    // keep the ones that supplier does NOT supply. Collision-drop
    // semantics (a draw landing on a true positive vanishes — visible as
    // gaps in draw_j) are the standard simple scheme; the expected loss
    // rate is |positives per entity| / |items|, reported implicitly by
    // the row count. Determinism: candidates come from the library-wide
    // md5-uniform convention keyed on (entity, item, draw), so the
    // sample is rerun/backfill-stable and oracle-exact. Shape at 100 TB:
    // the draw is a pure in-row 3× fanout (dense item ids make it
    // join-free; a non-dense vocabulary broadcasts a dim-sized index
    // instead), and the collision filter is ONE LEFT ANTI equi-join on
    // the (entity, item) key — the partitioning the positives table
    // already has.
    "q_negative_sample" -> ((s, d) => {
      // r15: fan the 1-task scan BY THE DISTINCT KEY — the repartition's
      // exchange is the one the distinct needs anyway (EnsureRequirements
      // adds none on top, and the renamed (sk, pk→cand) partitioning also
      // satisfies the LEFT ANTI probe side below), so the distinct's
      // reduce work runs session-wide for one exchange instead of the
      // r14 blanket-fan A/B's two (which cost ~1 s here).
      val nFan = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
      val pos = Tables.load(s, d, "lineitem")
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .repartition(nFan, col("sk"), col("pk"))
        .distinct()
      // draw in 1..max(p_partkey): part keys are 1-based, so `u % (max+1)`
      // would emit id 0 — a negative that references no real item
      // (round-11 advice). 1 + u % max keeps every draw a real part.
      val nParts = Tables.load(s, d, "part")
        .agg(max(col("p_partkey")).as("np"))
      val u = expr("graft_md5_u32(concat_ws(':', sk, pk, j))")
      val cand = pos.crossJoin(broadcast(nParts))
        .select(col("sk"), col("pk"), col("np"),
          explode(expr("sequence(1L, 3L)")).as("j"))
        .withColumn("cand", lit(1L) + u % col("np"))
      cand
        .join(pos.select(col("sk"), col("pk").as("cand")),
          Seq("sk", "cand"), "left_anti")
        .select(col("sk").as("l_suppkey"), col("pk").as("pos_part"),
          col("j").as("draw_j"), col("cand").as("neg_part"))
        .orderBy(col("l_suppkey"), col("pos_part"), col("draw_j"))
    }),

    // SPAN CORRUPTION (T5/UL2 denoising batch construction, Raffel et al.
    // 2020): tokenize each document, group tokens into fixed 3-token
    // spans, mask a span iff the seeded md5-uniform of (doc_id, span) is
    // below 15%, and emit per document the INPUT (each masked span
    // collapsed to one `<X>` sentinel) and the TARGET (the masked tokens,
    // in order) — the (input, target) pair a denoising LM trains on.
    // Determinism: the mask is a pure function of (doc_id, span), so
    // every rebuild corrupts identically and the oracle replays it
    // bit-for-bit. Shape at 100 TB: tokenization and the mask decision
    // are pure in-row map work (the sentinel collapse needs NO window —
    // a masked span always contains its own first token, which is the
    // one row that becomes `<X>`), and the reassembly is ONE doc_id
    // aggregate whose state is the document itself — exactly the
    // text-sized state any per-doc transform carries.
    "q_span_corruption" -> ((s, d) => {
      val uSpan =
        expr("cast(graft_md5_u32(concat_ws(':', doc_id, span)) as double)") /
          lit(4294967296.0)
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
        .withColumn("span", expr("pos div 3"))
        .withColumn("masked", uSpan < lit(0.15))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
          sort_array(collect_list(
            when(!col("masked"), struct(col("pos"), col("tok").as("t")))
              .when(col("pos") % 3 === 0, struct(col("pos"), lit("<X>").as("t")))))
            .as("ain"),
          sort_array(collect_list(
            when(col("masked"), struct(col("pos"), col("tok").as("t")))))
            .as("atg"))
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
          expr("array_join(transform(ain, s -> s.t), ' ')").as("input_text"),
          expr("array_join(transform(atg, s -> s.t), ' ')").as("target_text"))
        .orderBy(col("doc_id"))
    }),

    // Split distribution + per-split aggregate — the reproducible
    // train/dev/test assignment every corpus rebuild must preserve.
    "q_hash_split" -> ((s, d) =>
      withSplit(Tables.load(s, d, "documents"), "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"))),

    // Importance sampling: keep a document with probability proportional
    // to its weight (here n_chars / max n_chars) — the data-mixing
    // primitive for upweighting long/high-quality documents. Decision =
    // pure map work against one broadcast scalar; deterministic via the
    // hash uniform, so backfills keep the identical sample.
    "q_importance_sample" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      val mx = docs.agg(max(col("n_chars")).as("mx"))
      docs.crossJoin(broadcast(mx))
        .withColumn("w", col("n_chars").cast("double") / col("mx").cast("double"))
        .withColumn("u", hashUniform("doc_id"))
        .filter(col("u") < col("w"))
        .select(col("doc_id"), col("n_chars"), col("w"), col("u"))
        .orderBy(col("doc_id"))
    }),

    // Effective sample size of the importance weights — the sampling-QA
    // scalar run BEFORE trusting a weighted corpus: ESS = (Σw)²/Σw²
    // collapses to n when weights are uniform and to 1 when one document
    // dominates; ESS/n far below 1 means the weighted sample is mostly
    // noise. One aggregate over the same weight column
    // q_importance_sample draws from; exact decimal sums keep the ratio
    // engine-identical.
    "q_ess_weights" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(28, 12)
      val docs = Tables.load(s, d, "documents")
      val mx = docs.agg(max(col("n_chars")).as("mx"))
      docs.crossJoin(broadcast(mx))
        .select((col("n_chars").cast("double") / col("mx").cast("double"))
          .as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("w").cast(dec)).cast("double").as("sw"),
          sum((col("w") * col("w")).cast(dec)).cast("double").as("sww"))
        .select(col("n"),
          (col("sw") * col("sw") / col("sww")).as("ess"),
          (col("sw") * col("sw") / col("sww") / col("n").cast("double"))
            .as("ess_ratio"))
    }),

    // Train/test CONTAMINATION check: for every test-split document, the
    // fraction of its distinct 5-gram shingles that also occur anywhere in
    // the train split — the eval-set leakage audit run before any
    // benchmark number is trusted. Scale shape: shingling is in-row; the
    // per-doc distinct is one (doc, shingle) aggregate; the train shingle
    // set is a distinct on the (much smaller than the corpus) shingle
    // table; the hit count is a LEFT SEMI equi-join on the shingle — the
    // same bounded-fanout key discipline as the dedup family, never a
    // doc×doc comparison.
    "q_contamination" -> ((s, d) => {
      val sh = withSplit(Tables.load(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("split"),
          split(trim(lower(col("text"))), "\\s+").as("w"))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), col("split"), explode(expr(
          "transform(sequence(1, size(w) - 4), i -> concat_ws(' ', " +
            "element_at(w, i), element_at(w, i+1), element_at(w, i+2), " +
            "element_at(w, i+3), element_at(w, i+4)))")).as("g"))
        .distinct()
      val trainSh = sh.filter(col("split") === "train").select(col("g")).distinct()
      val test = sh.filter(col("split") === "test").select(col("doc_id"), col("g"))
      val perDoc = test.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      val hits = test.join(trainSh, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      val frac = coalesce(col("n_hit"), lit(0L)).cast("double") /
        col("n_shingles").cast("double")
      perDoc.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          frac.as("contam_frac"),
          (frac >= 0.5).as("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // Domain rebalancing: downsample every language to the smallest
    // language's count (expected-count equalization — the training-mix
    // rebalance step). Per-domain rates come from one tiny broadcast
    // aggregate; the keep decision is the same deterministic hash uniform,
    // so the mix is reproducible and the scan stays one map pass.
    "q_domain_mix" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      val cnts = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val m = cnts.agg(min(col("c")).as("m"))
      docs.join(broadcast(cnts), "lang")
        .crossJoin(broadcast(m))
        .withColumn("rate", col("m").cast("double") / col("c").cast("double"))
        .withColumn("u", hashUniform("doc_id"))
        .filter(col("u") < col("rate"))
        .select(col("doc_id"), col("lang"), col("rate"), col("u"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-scaled language mixing — the α<1 generalization of
    // q_domain_mix's equal-count rule (α=1): keep-rate per language is
    // (min/c)^α, so smaller languages are up-weighted but the size
    // ordering survives — expected kept mass per language is c^(1-α)·m^α
    // (for α=0.5, the geometric mean of the language size and the
    // smallest language). This is the standard multilingual-pretraining
    // rebalance; same broadcast-stats + deterministic per-doc hash draw
    // as the α=1 rule, so membership is reproducible across rebuilds
    // and pure map work after two tiny aggregates.
    "q_temperature_mix" -> ((s, d) => {
      val alpha = 0.5
      val docs = Tables.load(s, d, "documents")
      val cnts = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val m = cnts.agg(min(col("c")).as("m"))
      docs.join(broadcast(cnts), "lang")
        .crossJoin(broadcast(m))
        .withColumn("rate",
          pow(col("m").cast("double") / col("c").cast("double"), lit(alpha)))
        .withColumn("u", hashUniform("doc_id"))
        .filter(col("u") < col("rate"))
        .select(col("doc_id"), col("lang"), col("rate"), col("u"))
        .orderBy(col("doc_id"))
    }),

    // Per-group HARD cap: at most CapK docs per language, chosen by the
    // deterministic hash order (an unbiased, backfill-stable draw — the
    // "no more than N per domain" curation rule, where q_domain_mix is
    // the rate-based expectation twin). Selection runs through the
    // bounded TopKAggregator: the shuffle carries ≤ CapK rows per
    // (lang × map task) and nothing is per-group sorted — the window
    // route would shuffle AND sort the whole corpus.
    "q_group_cap" -> ((s, d) => {
      import s.implicits._
      val topk = new graft.functions.TopKAggregator(CapK).toColumn
      // negated 32-bit bucket: aggregator keeps k LARGEST ⇒ k smallest
      // buckets; doc_id tie-break matches the oracle's (bucket, doc_id)
      val negBucket =
        -(conv(substring(md5(encode(col("doc_id").cast("string"), "UTF-8")), 1, 8), 16, 10)
          .cast("long").cast("double"))
      Tables.load(s, d, "documents")
        .select(col("lang"), negBucket.as("nb"), col("doc_id"))
        .as[(String, Double, Long)]
        .groupByKey(_._1)
        .mapValues { case (_, nb, id) => (nb, id) }
        .agg(topk)
        .flatMap { case (lang, tops) =>
          tops.zipWithIndex.map { case ((_, id), i) => (lang, id, (i + 1).toLong) }
        }
        .toDF("lang", "doc_id", "rnk")
        .orderBy(col("lang"), col("rnk"))
    }),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
    // assign key = u^(1/w) with u uniform per record, take the top-k keys
    // — an exact w-weighted draw, embarrassingly parallel. Ranked here by
    // the monotone-equivalent ln(u)/w (same order; ln agrees bit-for-bit
    // across engines where pow's last-ulp rounding may not), with u from
    // the deterministic hash — the draw is backfill-stable and costs one
    // map pass + a TakeOrdered. u is (bucket+1)/2^32 ∈ (0,1] so ln never
    // sees zero; ties (u=1 keys = 0) break on doc_id in both engines.
    "q_weighted_sample" -> ((s, d) => {
      val u = (conv(substring(md5(encode(col("doc_id").cast("string"), "UTF-8")), 1, 8), 16, 10)
        .cast("long").cast("double") + lit(1.0)) / lit(4294967296.0)
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          (log(u) / col("n_chars").cast("double")).as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(100)
    }),

    // EXACT stratified split: every stratum (language) is split 80/10/10
    // to the row — unlike q_hash_split, whose per-stratum proportions only
    // hold in expectation (a 50-doc language can land 40/7/3 or 45/2/3 by
    // hash luck, starving its dev set). Docs are ranked within their
    // stratum by md5(doc_id) (a deterministic shuffle, so the assignment
    // is backfill-stable like every split here) and cut at exact integer
    // thresholds 10·(r−1) < 8·n / 9·n. The rank is a
    // [[graft.operators.Prefix]] rank per stratum over 2-hex-char hash
    // prefix buckets, so at 100 TB no task ever sorts a whole stratum (a
    // web corpus is half one language): each of the 256 buckets holds
    // ~1/256 of the stratum, and the bucket width is one constant (widen
    // the substring) when strata outgrow it.
    "q_stratified_split" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("h", md5(encode(col("doc_id").cast("string"), "UTF-8")))
        .withColumn("hb", substring(col("h"), 1, 2))
      Prefix(docs, within = Seq("lang"), buckets = Seq(Prefix.asc("hb")),
          order = Seq(col("h"), col("doc_id")),
          measures = Seq(Prefix.Rank("r", total = Some("n"))), inclusive = true)
        .withColumn("split",
          when((col("r") - 1) * 10 < col("n") * 8, "train")
            .when((col("r") - 1) * 10 < col("n") * 9, "dev")
            .otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("split"))
    }),

    // Deterministic EPOCH SHUFFLE — the training-loader order primitive:
    // each epoch is a seeded pseudorandom permutation of the corpus,
    // reproducible run-to-run (resume a crashed epoch mid-stream, audit
    // which docs a checkpoint saw) and cheap to re-derive because it is a
    // pure function of (seed, doc_id). Order key = md5("epoch7:" || id);
    // the global position is a [[graft.operators.Prefix]] rank over
    // 2-hex-char hash prefix buckets (no task sorts the corpus), and the
    // contiguous shard id (8 loader shards, balanced to the row) is
    // integer arithmetic on the position. At 100 TB the only non-map work
    // is one 256-row bucket aggregate and the per-bucket local sorts.
    "q_epoch_shuffle" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"))
        .withColumn("h", md5(encode(
          concat(lit("epoch7:"), col("doc_id").cast("string")), "UTF-8")))
        .withColumn("hb", substring(col("h"), 1, 2))
      Prefix(docs, within = Nil, buckets = Seq(Prefix.asc("hb")),
          order = Seq(col("h"), col("doc_id")),
          measures = Seq(Prefix.Rank("epoch_pos", total = Some("n"))),
          inclusive = false)
        .withColumn("shard", expr("(epoch_pos * 8) div n"))
        .select(col("doc_id"), col("epoch_pos"), col("shard"))
        .orderBy(col("doc_id"))
    }),

    // CURRICULUM ORDER — the training-loader's clean-first schedule:
    // band documents by the fixed-weight quality logit (the
    // q_quality_model scorer — highest-quality text streams first), then
    // shuffle deterministically WITHIN each band (seeded md5 permutation,
    // the q_epoch_shuffle primitive) so bands stream in random order while
    // the band sequence stays monotone. `pos` is the global 1-based
    // position, a [[graft.operators.Prefix]] rank over (band, hash-prefix)
    // buckets of the sort key (band, h, doc_id) — the only non-map work is
    // a ≤ 4×256-row bucket aggregate and per-bucket local sorts. No task
    // ever sorts the corpus.
    "q_curriculum" -> ((s, d) => {
      val words = size(split(trim(col("text")), "\\s+")).cast("double")
      val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
        .cast("double")
      val stop = size(regexp_extract_all(lower(col("text")),
        lit("\\b(?:the|and|of|to|is|a)\\b"), lit(0))).cast("double")
      val chars = length(col("text")).cast("double")
      val z = lit(-1.0) + lit(0.004) * words +
        lit(8.0) * (stop / words) - lit(12.0) * (punct / chars)
      // band cuts at the corpus logit quartiles (fixed literals, so the
      // banding is a pure per-row function — re-ingest can't reshuffle it)
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), z.as("logit"))
        .withColumn("band",
          when(col("logit") >= -0.07, 0).when(col("logit") >= -0.23, 1)
            .when(col("logit") >= -0.45, 2).otherwise(3))
        .withColumn("h", md5(encode(
          concat(lit("curr:"), col("doc_id").cast("string")), "UTF-8")))
        .withColumn("hb", substring(col("h"), 1, 2))
      Prefix(docs, within = Nil, buckets = Seq(Prefix.asc("band"), Prefix.asc("hb")),
          order = Seq(col("h"), col("doc_id")),
          measures = Seq(Prefix.Rank("pos")), inclusive = true)
        .select(col("doc_id"), col("band"), col("pos"))
        .orderBy(col("pos"))
    }),

    // SEEDED DP RELEASE — differentially-private noisy counts for the
    // public data card: per-language doc counts + Laplace(b = 1/ε, ε = 1)
    // noise, the mechanism for unit-sensitivity counting queries. The
    // draw is SEEDED by default — inverse-CDF over the md5-uniform of the
    // group key — so the release is reproducible run-to-run and
    // oracle-checkable; `graft.dp.secure=true` (round-12 directive #6)
    // swaps in the SecureRandom uniform for an actually-private release,
    // keeping the sensitivity accounting, the inverse-CDF, and the plan
    // (|langs|-sized aggregate + pure-map noise — nothing touches the
    // corpus twice) unchanged. The oracle always replays the seeded twin.
    "q_dp_counts" -> ((s, d) => {
      val u = dpUniform(s, "dp:", col("lang"))
      val c = u - lit(0.5)
      val noise = when(c < 0, lit(1.0)).otherwise(lit(-1.0)) *
        log(lit(1.0) - lit(2.0) * abs(c))
      Tables.load(s, d, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
        .withColumn("noise", noise)
        .withColumn("n_dp", col("n_true").cast("double") + col("noise"))
        .orderBy(col("lang"))
    }),

    // DP QUANTILE via the EXPONENTIAL MECHANISM (McSherry & Talwar 2007)
    // — the second canonical DP primitive next to q_dp_counts' Laplace:
    // release a median without releasing the data. Candidates = 64
    // equi-width bins over [0, max]; utility of a bin = −|cum_count −
    // n/2| (rank distance to the median, sensitivity 1); the released
    // bin is argmax(ε·u/2 + Gumbel), with the Gumbel drawn from the
    // seeded md5-uniform of the bin id — the Gumbel-max trick IS the
    // exponential mechanism, and seeding makes the release reproducible
    // and oracle-exact. Shape at 100 TB: one histogram aggregate over
    // the data (map-side combinable), then ALL remaining work — dense
    // grid, 64-row cumulative window, scoring, argmax — happens on the
    // model-sized bin table; the data is never touched again. The max
    // used for the bin width is a stand-in for a PUBLIC domain bound (a
    // real release must not spend ε on it).
    "q_dp_quantile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nb = 64
      val o = Tables.load(s, d, "orders").select(col("o_totalprice").as("v"))
      val mx = o.agg(max(col("v")).as("mx"))
      val hist = o.crossJoin(broadcast(mx))
        .select(least(floor(col("v") / (col("mx") / lit(nb.toDouble))),
          lit((nb - 1).toDouble)).cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      val grid = s.range(nb).select(col("id").as("bin"))
      // 64-row model-sized frame: the single-partition window is bounded
      // by the bin count, never by the data
      val w = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val u = dpUniform(s, "dpq:", col("bin"))
      val n = o.agg(count(lit(1)).as("n"))
      grid.join(hist, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(w))
        .crossJoin(broadcast(n)).crossJoin(broadcast(mx))
        .withColumn("util",
          -abs(col("cum").cast("double") - col("n").cast("double") / lit(2.0)))
        .withColumn("score",
          lit(0.5) * col("util") / lit(2.0) + (-log(-log(u))))
        .orderBy(col("score").desc).limit(1)
        .select(lit(0.5).as("eps"), col("bin"),
          ((col("bin").cast("double") + lit(0.5)) * (col("mx") / lit(nb.toDouble)))
            .as("dp_quantile"),
          col("n"))
    }),

    // DP TOP-K release — the third canonical DP primitive here: publish
    // the k most frequent tokens by Laplace-noised count, but ONLY those
    // whose noisy count clears a release threshold τ (the stability-based
    // heavy-hitters mechanism, cf. Wilson et al. 2020, "Differentially
    // Private SQL with Bounded User Contribution") — how a corpus ships a
    // vocabulary without certifying any rare, possibly-identifying
    // string. Same seeded Laplace draw as q_dp_counts (md5-uniform →
    // inverse CDF) at scale 2/ε. NOT real DP, twice over and disclosed:
    // the draw is a deterministic function of the token (which is what
    // makes the release oracle-reproducible), and per-document token
    // contribution is unbounded (a real release clips per-user
    // contribution first); the aggregate/noise/threshold/top-k shape is
    // the production one. Scale: one in-row tokenize + one token-keyed
    // map-side-combined aggregate; noise, threshold, and ranking all run
    // on the |vocab|-sized scoreboard, and the rank window sees only the
    // ≤ k survivors of orderBy().limit() — no corpus-wide window, no
    // join, no second pass over the data.
    "q_dp_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val u = dpUniform(s, "dptk:", col("token"))
      val c = u - lit(0.5)
      val noise = when(c < 0, lit(1.0)).otherwise(lit(-1.0)) *
        log(lit(1.0) - lit(2.0) * abs(c)) * lit(4.0) // scale 2/ε, ε = 0.5
      Tables.load(s, d, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n_true"))
        .withColumn("n_dp", col("n_true").cast("double") + noise)
        .filter(col("n_dp") >= lit(20.0))
        .orderBy(col("n_dp").desc, col("token")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_dp").desc, col("token"))).cast("long"))
        .orderBy(col("rank"))
    }),

    // K-ANONYMITY AUDIT — the release-governance gate: any combination of
    // quasi-identifiers (language, source, coarse length bucket) shared
    // by fewer than k=5 documents could single out a contributor, so the
    // census runs BEFORE the corpus ships. One map-side-combined
    // aggregate over the corpus — the same plan at 100 TB; no distinct,
    // no window, no join.
    "q_kanon_audit" -> ((s, d) =>
      Tables.load(s, d, "documents")
        .groupBy(col("lang"), col("source"),
          (floor(col("n_chars") / 256) * 256).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", col("n") < 5)
        .orderBy(col("lang"), col("source"), col("len_bucket"))),

    // RAKING / iterative proportional fitting (Deming & Stephan 1940) —
    // the survey-weighting workhorse, pointed at corpus balancing: find
    // per-cell weights so the (lang × source) table SIMULTANEOUSLY hits
    // uniform lang margins and uniform source margins (q_domain_mix
    // fixes one margin; raking fits both at once). Three full IPF
    // rounds, unrolled: scale rows to the lang target, then columns to
    // the source target — each scaling is one margin-keyed window sum
    // over the CELL table (≤ |langs|·|sources| rows at any corpus size;
    // the data is touched once for the cell counts). A window sum instead
    // of an aggregate joined back means each scaling reads its
    // predecessor ONCE, so the six scalings are one lazy plan that grows
    // linearly (the fixed-round PageRank shape): no loop session, no
    // persist, no action at build time, nothing left cached. Margin sums
    // of n·w run in DECIMAL(38,12) (the q_supplier_hhi discipline), which
    // is exact, so their summation order cannot change them; all other
    // arithmetic is per-cell doubles with a fixed tree, so the final
    // weights are engine-identical.
    "q_raking" -> ((s, d) => {
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.expressions.Window
      val d3812 = org.apache.spark.sql.types.DecimalType(38, 12)
      val base = Tables.load(s, d, "documents")
        .filter(col("lang").isNotNull && col("source").isNotNull)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      val tt = base.agg(sum(col("n")).as("nn"),
        countDistinct(col("lang")).as("l"),
        countDistinct(col("source")).as("srcs"))
      val cells0 = base.withColumn("w", lit(1.0)).crossJoin(broadcast(tt))
      def scale(cells: DataFrame, key: String, tgt: Column): DataFrame = {
        val msum = sum((col("n") * col("w")).cast(d3812))
          .over(Window.partitionBy(col(key))).cast("double")
        cells.withColumn("w", col("w") * (tgt / msum))
      }
      val rowT = col("nn").cast("double") / col("l").cast("double")
      val colT = col("nn").cast("double") / col("srcs").cast("double")
      val fitted = (1 to 3).foldLeft(cells0) { (c, _) =>
        scale(scale(c, "lang", rowT), "source", colT)
      }
      fitted.select(col("lang"), col("source"), col("n"), col("w"),
          (col("n").cast("double") * col("w")).as("fitted"))
        .orderBy(col("lang"), col("source"))
    }),

    // l-DIVERSITY audit — k-anonymity's complement (Machanavajjhala et
    // al. 2007): a quasi-identifier group can be large (k-safe) yet leak
    // the sensitive attribute if every member SHARES it (the homogeneity
    // attack). Per QI group (source, length bucket): row count and the
    // number of DISTINCT sensitive values (lang); l < 2 means anyone who
    // can place a person in the group learns their lang with certainty.
    // Same shape as q_kanon_audit: ONE map-side-combined aggregate
    // (countDistinct expands to the standard two-phase exact distinct),
    // group-key-sized output at any scale.
    "q_ldiversity" -> ((s, d) =>
      Tables.load(s, d, "documents")
        .groupBy(col("source"),
          (floor(col("n_chars") / 256) * 256).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("lang")).as("l_distinct"))
        .withColumn("at_risk", col("l_distinct") < 2)
        .orderBy(col("source"), col("len_bucket"))),

    // MIXTURE-BUDGET allocator — the data-mixing recipe executor: given
    // a global char budget (40% of the corpus) and per-source weights
    // (three tiers derived from the source id), compute each source's
    // exact quota (integer floor division, so quotas are reproducible)
    // and greedily fill it in deterministic hash-priority order —
    // every doc whose source-local running total stays within quota is
    // picked. The running total is a [[graft.operators.Prefix]] sum over
    // hash-prefix buckets inside each source, so no task ever sorts a
    // whole source; quotas and weights live in source-cardinality-sized
    // broadcast frames. Output: the per-source audit (quota, docs picked,
    // chars picked).
    "q_token_budget_mix" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        // 2-arg substr (no length cap) — the exact spelling the oracle
        // uses, so a long numeric suffix can never diverge between engines
        .withColumn("w",
          (expr("CAST(substr(source, 4) AS BIGINT)") % 3L) + 1L)
        .withColumn("h", md5(encode(col("doc_id").cast("string"), "UTF-8")))
        .withColumn("hb", substring(col("h"), 1, 2))
      val srcW = docs.groupBy(col("source")).agg(max(col("w")).as("w"))
      val totals = docs.agg((sum(col("n_chars")) * 2L).as("b5"))
        .crossJoin(srcW.agg(sum(col("w")).as("sumw")))
      val quota = srcW.crossJoin(broadcast(totals))
        .select(col("source"),
          expr("(b5 div 5) * w div sumw").as("quota_chars"))
      val picked = Prefix(docs, within = Seq("source"),
          buckets = Seq(Prefix.asc("hb")), order = Seq(col("h"), col("doc_id")),
          measures = Seq(Prefix.Sum("cum", col("n_chars"))), inclusive = true)
        .join(broadcast(quota), Seq("source"))
        .filter(col("cum") <= col("quota_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("nd"), sum(col("n_chars")).as("cp"))
      quota.join(picked, Seq("source"), "left")
        .select(col("source"), col("quota_chars"),
          coalesce(col("nd"), lit(0L)).as("n_docs"),
          coalesce(col("cp"), lit(0L)).as("chars_picked"))
        .orderBy(col("source"))
    })
  )

  /** DuckDB spelling of the first-`digits`-hex-chars md5 bucket — ONE
    * definition of the hash convention, parameterized by width. */
  private[queries] def sqlBucketN(idCol: String, digits: Int) = (0 until digits).map { i =>
    val mult = 1L << (4 * (digits - 1 - i))
    s"((strpos('0123456789abcdef', substr(md5(CAST($idCol AS VARCHAR)), ${i + 1}, 1)) - 1) * $mult)"
  }.mkString("(", "\n + ", ")")

  /** 32-bit bucket — the oracle twin of [[hashUniform]]'s numerator. */
  private def sqlBucket(idCol: String) = sqlBucketN(idCol, 8)

  /** 16-bit split bucket — twin of [[withSplit]]. */
  private[queries] def sqlBucket16(idCol: String) = sqlBucketN(idCol, 4)

  /** DuckDB CASE expression for the train/dev/test split of an id column. */
  private def sqlSplit(idCol: String) =
    s"""CASE WHEN ${sqlBucket16(idCol)} < $TrainMax THEN 'train'
       |     WHEN ${sqlBucket16(idCol)} < $DevMax THEN 'dev'
       |     ELSE 'test' END""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // DSIR replay: same hashed buckets, add-1 ratio per bucket cast
    // DECIMAL(28,12) once, exact decimal weight sums, ROW_NUMBER rank
    // over (wsum DESC, doc_id) with the 4·rnk ≤ n keep rule.
    "q_dsir" ->
      s"""WITH dt AS (SELECT doc_id, lang,
         |    string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
         |uni AS (SELECT doc_id, lang, UNNEST(w) AS f FROM dt),
         |bi AS (SELECT doc_id, lang,
         |    UNNEST(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS f
         |  FROM dt WHERE len(w) >= 2),
         |fe AS (SELECT doc_id, lang,
         |    ${sqlBucketN("f", 8)} % 1024 AS b
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) z),
         |pcq AS (SELECT b, COUNT(*) AS pc FROM fe GROUP BY 1),
         |tcq AS (SELECT b, COUNT(*) AS tc FROM fe WHERE lang = 'en' GROUP BY 1),
         |mdl AS (SELECT p.b, p.pc, COALESCE(t.tc, 0) AS tc
         |  FROM pcq p LEFT JOIN tcq t ON t.b = p.b),
         |tot AS (SELECT CAST(SUM(pc) AS BIGINT) AS pn,
         |    CAST(SUM(tc) AS BIGINT) AS tn FROM mdl),
         |trm AS (SELECT b,
         |    CAST(ln(CAST((tc + 1) * (pn + 1024) AS DOUBLE)
         |            / CAST((pc + 1) * (tn + 1024) AS DOUBLE))
         |      AS DECIMAL(28,12)) AS term
         |  FROM mdl, tot),
         |wsq AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(term) AS wsum
         |  FROM fe JOIN trm USING (b) GROUP BY 1),
         |rk AS (SELECT doc_id, n_feats, wsum,
         |    ROW_NUMBER() OVER (ORDER BY wsum DESC, doc_id) AS rnk,
         |    COUNT(*) OVER () AS n
         |  FROM wsq)
         |SELECT doc_id, n_feats, CAST(wsum AS DOUBLE) AS w,
         |  CAST(rnk AS BIGINT) AS rnk, (rnk * 4 <= n) AS keep
         |FROM rk ORDER BY doc_id""".stripMargin,

    "q_negative_sample" ->
      s"""WITH pos AS (
         |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
         |np AS (SELECT MAX(p_partkey) AS np FROM part),
         |j3 AS (SELECT UNNEST(range(1, 4)) AS j),
         |cand AS (
         |  SELECT sk, pk, j,
         |    1 + ${sqlBucketN("(sk || ':' || pk || ':' || j)", 8)} % np.np AS cand
         |  FROM pos, j3, np)
         |SELECT c.sk AS l_suppkey, c.pk AS pos_part, c.j AS draw_j,
         |  c.cand AS neg_part
         |FROM cand c
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM pos p WHERE p.sk = c.sk AND p.pk = c.cand)
         |ORDER BY l_suppkey, pos_part, draw_j""".stripMargin,

    "q_span_corruption" ->
      s"""WITH tk AS (
         |  SELECT doc_id, pos - 1 AS pos, w[pos] AS tok
         |  FROM (SELECT doc_id, w, UNNEST(range(1, len(w) + 1)) AS pos
         |        FROM (SELECT doc_id,
         |                string_split_regex(lower(trim(text)), '\\s+') AS w
         |              FROM documents))),
         |fl AS (
         |  SELECT doc_id, pos, tok,
         |    ${sqlBucketN("(doc_id || ':' || (pos // 3))", 8)} / 4294967296.0
         |      < 0.15 AS masked
         |  FROM tk)
         |SELECT doc_id,
         |  COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |  COALESCE(string_agg(CASE WHEN NOT masked THEN tok ELSE '<X>' END, ' '
         |      ORDER BY pos) FILTER (WHERE NOT masked OR pos % 3 = 0),
         |    '') AS input_text,
         |  COALESCE(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE masked),
         |    '') AS target_text
         |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_importance_sample" ->
      s"""WITH b AS (SELECT doc_id, n_chars,
         |  CAST(${sqlBucket("doc_id")} AS DOUBLE) / 4294967296.0 AS u,
         |  CAST(n_chars AS DOUBLE)
         |    / CAST((SELECT MAX(n_chars) FROM documents) AS DOUBLE) AS w
         |FROM documents)
         |SELECT doc_id, n_chars, w, u FROM b
         |WHERE u < w ORDER BY doc_id""".stripMargin,

    "q_ess_weights" ->
      """WITH w AS (
        |  SELECT CAST(n_chars AS DOUBLE)
        |    / CAST((SELECT MAX(n_chars) FROM documents) AS DOUBLE) AS w
        |  FROM documents),
        |m AS (SELECT COUNT(*) AS n,
        |        CAST(SUM(CAST(w AS DECIMAL(28,12))) AS DOUBLE) AS sw,
        |        CAST(SUM(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE) AS sww
        |      FROM w)
        |SELECT n, sw * sw / sww AS ess,
        |  sw * sw / sww / CAST(n AS DOUBLE) AS ess_ratio
        |FROM m""".stripMargin,

    "q_domain_mix" ->
      s"""WITH cnts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
         |m AS (SELECT MIN(c) AS m FROM cnts),
         |b AS (SELECT d.doc_id, d.lang,
         |  CAST(m.m AS DOUBLE) / CAST(cnts.c AS DOUBLE) AS rate,
         |  CAST(${sqlBucket("d.doc_id")} AS DOUBLE) / 4294967296.0 AS u
         |FROM documents d JOIN cnts USING (lang), m)
         |SELECT doc_id, lang, rate, u FROM b
         |WHERE u < rate ORDER BY doc_id""".stripMargin,

    "q_temperature_mix" ->
      s"""WITH cnts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
         |m AS (SELECT MIN(c) AS m FROM cnts),
         |b AS (SELECT d.doc_id, d.lang,
         |  POWER(CAST(m.m AS DOUBLE) / CAST(cnts.c AS DOUBLE), 0.5) AS rate,
         |  CAST(${sqlBucket("d.doc_id")} AS DOUBLE) / 4294967296.0 AS u
         |FROM documents d JOIN cnts USING (lang), m)
         |SELECT doc_id, lang, rate, u FROM b
         |WHERE u < rate ORDER BY doc_id""".stripMargin,

    "q_hash_split" ->
      s"""WITH b AS (SELECT n_chars, ${sqlBucket16("doc_id")} AS bucket
         |FROM documents)
         |SELECT CASE WHEN bucket < $TrainMax THEN 'train'
         |            WHEN bucket < $DevMax THEN 'dev'
         |            ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    "q_contamination" ->
      s"""WITH sp AS (SELECT doc_id, text, ${sqlSplit("doc_id")} AS split FROM documents),
         |toks AS (SELECT doc_id, split,
         |           string_split_regex(lower(trim(text)), '\\s+') AS w FROM sp),
         |sh AS (SELECT DISTINCT doc_id, split, g FROM (
         |         SELECT doc_id, split, UNNEST(list_transform(range(1, len(w) - 3),
         |                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
         |         FROM toks WHERE len(w) >= 5) z),
         |tr AS (SELECT DISTINCT g FROM sh WHERE split = 'train'),
         |te AS (SELECT doc_id, g FROM sh WHERE split = 'test'),
         |pd AS (SELECT doc_id, COUNT(*) AS n_shingles FROM te GROUP BY 1),
         |hc AS (SELECT te.doc_id, COUNT(*) AS n_hit FROM te JOIN tr USING (g) GROUP BY 1)
         |SELECT pd.doc_id, pd.n_shingles, COALESCE(hc.n_hit, 0) AS n_hit,
         |  CAST(COALESCE(hc.n_hit, 0) AS DOUBLE) / pd.n_shingles AS contam_frac,
         |  (CAST(COALESCE(hc.n_hit, 0) AS DOUBLE) / pd.n_shingles >= 0.5) AS contaminated
         |FROM pd LEFT JOIN hc USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_weighted_sample" ->
      s"""SELECT doc_id, n_chars,
         |  ln((CAST(${sqlBucket("doc_id")} AS DOUBLE) + 1.0) / 4294967296.0)
         |    / CAST(n_chars AS DOUBLE) AS es_key
         |FROM documents
         |ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,

    "q_group_cap" ->
      s"""WITH b AS (SELECT lang, doc_id, ${sqlBucket("doc_id")} AS bucket
         |           FROM documents),
         |r AS (SELECT lang, doc_id,
         |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rnk
         |      FROM b)
         |SELECT lang, doc_id, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= $CapK ORDER BY lang, rnk""".stripMargin,

    // Oracle states the SPEC (rank within stratum by md5, exact integer
    // cuts); the Spark side implements the same function with
    // graft.operators.Prefix — identical assignment, different plan.
    "q_stratified_split" ->
      """WITH r AS (SELECT lang, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        |FROM documents)
        |SELECT lang,
        |  CASE WHEN (r - 1) * 10 < n * 8 THEN 'train'
        |       WHEN (r - 1) * 10 < n * 9 THEN 'dev'
        |       ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM r GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    // the oracle states the spec (global row_number over the seeded md5
    // order); the Spark side computes the same permutation with
    // graft.operators.Prefix
    "q_epoch_shuffle" ->
      """WITH r AS (SELECT doc_id,
        |  ROW_NUMBER() OVER (
        |    ORDER BY md5('epoch7:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS epoch_pos,
        |  COUNT(*) OVER () AS n
        |FROM documents)
        |SELECT doc_id, CAST(epoch_pos AS BIGINT) AS epoch_pos,
        |  CAST((epoch_pos * 8) // n AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    // the oracle's single global window states the spec
    // graft.operators.Prefix implements (same pattern as q_epoch_shuffle)
    "q_curriculum" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS words,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|is|a)\b')) AS DOUBLE) AS stop,
        |    CAST(length(text) AS DOUBLE) AS chars
        |  FROM documents),
        |z AS (SELECT doc_id,
        |        -1.0 + 0.004 * words + 8.0 * (stop / words) - 12.0 * (punct / chars) AS logit
        |      FROM f),
        |b AS (SELECT doc_id,
        |        CASE WHEN logit >= -0.07 THEN 0 WHEN logit >= -0.23 THEN 1
        |             WHEN logit >= -0.45 THEN 2 ELSE 3 END AS band,
        |        md5('curr:' || CAST(doc_id AS VARCHAR)) AS h
        |      FROM z)
        |SELECT doc_id, CAST(band AS INTEGER) AS band,
        |  ROW_NUMBER() OVER (ORDER BY band, h, doc_id) AS pos
        |FROM b ORDER BY pos""".stripMargin,

    "q_dp_counts" ->
      s"""WITH g AS (SELECT lang, COUNT(*) AS n_true FROM documents GROUP BY 1),
         |u AS (SELECT lang, n_true,
         |        ((${sqlBucketN("'dp:' || lang", 8)}) + 0.5) / 4294967296.0 - 0.5 AS c
         |      FROM g),
         |n AS (SELECT lang, n_true,
         |        (CASE WHEN c < 0 THEN 1.0 ELSE -1.0 END) * ln(1.0 - 2.0 * abs(c)) AS noise
         |      FROM u)
         |SELECT lang, n_true, noise,
         |  CAST(n_true AS DOUBLE) + noise AS n_dp
         |FROM n ORDER BY lang""".stripMargin,

    "q_dp_topk" ->
      s"""WITH tok AS (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS token
         |  FROM documents),
         |g AS (SELECT token, COUNT(*) AS n_true FROM tok GROUP BY 1),
         |u AS (SELECT token, n_true,
         |        ((${sqlBucketN("'dptk:' || token", 8)}) + 0.5) / 4294967296.0 - 0.5 AS c
         |      FROM g),
         |n AS (SELECT token, n_true,
         |        (CASE WHEN c < 0 THEN 1.0 ELSE -1.0 END)
         |          * ln(1.0 - 2.0 * abs(c)) * 4.0 AS noise
         |      FROM u),
         |t AS (SELECT token, n_true, CAST(n_true AS DOUBLE) + noise AS n_dp FROM n),
         |r AS (SELECT token, n_true, n_dp,
         |        ROW_NUMBER() OVER (ORDER BY n_dp DESC, token) AS rank
         |      FROM t WHERE n_dp >= 20.0)
         |SELECT token, n_true, n_dp, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,

    "q_dp_quantile" ->
      s"""WITH v AS (SELECT o_totalprice AS v FROM orders),
         |mx AS (SELECT MAX(v) AS mx FROM v),
         |nn AS (SELECT COUNT(*) AS n FROM v),
         |h AS (SELECT CAST(LEAST(FLOOR(v / (mx / 64.0)), 63.0) AS BIGINT) AS bin,
         |        COUNT(*) AS cnt
         |      FROM v, mx GROUP BY 1),
         |grid AS (SELECT UNNEST(range(0, 64)) AS bin),
         |cum AS (SELECT g.bin, COALESCE(h.cnt, 0) AS cnt,
         |          SUM(COALESCE(h.cnt, 0)) OVER (ORDER BY g.bin) AS cum
         |        FROM grid g LEFT JOIN h USING (bin)),
         |sc AS (SELECT bin, cum,
         |         0.5 * (-ABS(CAST(cum AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)) / 2.0
         |           + (-LN(-LN(((${sqlBucketN("'dpq:' || bin", 8)}) + 0.5)
         |                      / 4294967296.0))) AS score,
         |         n
         |       FROM cum, nn)
         |SELECT CAST(0.5 AS DOUBLE) AS eps, bin,
         |  (CAST(bin AS DOUBLE) + 0.5) * (mx / 64.0) AS dp_quantile, n
         |FROM sc, mx ORDER BY score DESC LIMIT 1""".stripMargin,

    "q_kanon_audit" ->
      """SELECT lang, source,
        |  CAST(FLOOR(n_chars / 256.0) AS BIGINT) * 256 AS len_bucket,
        |  COUNT(*) AS n, (COUNT(*) < 5) AS at_risk
        |FROM documents GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_raking" -> {
      def step(prev: String, out: String, key: String, tgtDen: String) =
        s"""$out AS (
           |  SELECT c.lang, c.source, c.n, c.nn, c.l, c.srcs,
           |    c.w * ((CAST(c.nn AS DOUBLE) / CAST(c.$tgtDen AS DOUBLE))
           |           / g.msum) AS w
           |  FROM $prev c JOIN (
           |    SELECT $key AS mk,
           |      CAST(SUM(CAST(n * w AS DECIMAL(38,12))) AS DOUBLE) AS msum
           |    FROM $prev GROUP BY 1) g ON c.$key = g.mk)""".stripMargin
      val steps = (1 to 3).flatMap { i =>
        val p = if (i == 1) "c0" else s"r${2 * (i - 1)}"
        Seq(step(p, s"r${2 * i - 1}", "lang", "l"),
          step(s"r${2 * i - 1}", s"r${2 * i}", "source", "srcs"))
      }.mkString(",\n")
      s"""WITH b AS (
         |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
         |  GROUP BY 1, 2),
         |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
         |         CAST(COUNT(DISTINCT lang) AS BIGINT) AS l,
         |         CAST(COUNT(DISTINCT source) AS BIGINT) AS srcs FROM b),
         |c0 AS (SELECT lang, source, n, 1.0 AS w, nn, l, srcs FROM b, tt),
         |$steps
         |SELECT lang, source, n, w, CAST(n AS DOUBLE) * w AS fitted
         |FROM r6 ORDER BY lang, source""".stripMargin
    },

    "q_ldiversity" ->
      """SELECT source,
        |  CAST(FLOOR(n_chars / 256.0) AS BIGINT) * 256 AS len_bucket,
        |  COUNT(*) AS n,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS l_distinct,
        |  (COUNT(DISTINCT lang) < 2) AS at_risk
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical integer quota arithmetic and hash-priority prefix rule;
    // the oracle's plain per-source window states the spec the
    // distributed prefix sum implements
    "q_token_budget_mix" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
        |    (CAST(SUBSTR(source, 4) AS BIGINT) % 3) + 1 AS w,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |tot AS (SELECT CAST(SUM(n_chars) * 2 // 5 AS BIGINT) AS b FROM d),
        |sw AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw
        |       FROM (SELECT DISTINCT source, w FROM d)),
        |q AS (SELECT source, CAST(b * w // sumw AS BIGINT) AS quota_chars
        |      FROM (SELECT DISTINCT source, w FROM d), tot, sw),
        |r AS (SELECT doc_id, source, n_chars,
        |        SUM(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d),
        |p AS (SELECT r.source, COUNT(*) AS n_docs,
        |        CAST(SUM(r.n_chars) AS BIGINT) AS chars_picked
        |      FROM r JOIN q ON q.source = r.source
        |      WHERE r.cum <= q.quota_chars GROUP BY 1)
        |SELECT q.source, q.quota_chars,
        |  COALESCE(p.n_docs, 0) AS n_docs,
        |  COALESCE(p.chars_picked, 0) AS chars_picked
        |FROM q LEFT JOIN p ON p.source = q.source
        |ORDER BY q.source""".stripMargin
  )
}
