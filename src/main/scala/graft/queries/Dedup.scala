package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-duplicate detection over the documents table — the training-data
  * pipeline extensions: n-gram Jaccard (exact), MinHash+LSH banding
  * (the scale path), SimHash fingerprints. Exact dedup is `q_dedup` in
  * [[Relational]]; embedding-cosine near-dup is in [[Similarity]].
  *
  * Hashing is md5-based (not xxhash64) so every stage is reproducible in
  * the DuckDB oracle; at production scale swap [[hashGram]] for xxhash64 —
  * the pipeline shape (explode → min-per-seed → band → band-join) is
  * identical.
  */
object Dedup {
  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Fanned-out scan (Tables.loadFan) for the call sites whose map side is
    * structurally heavy — codec round-trips, shingling — per the round-14
    * measured ledger (OPTIMIZATION_r14.md). */
  private def tf(s: SparkSession, d: String, n: String) = Tables.loadFan(s, d, n)

  /** doc_id, g: whitespace-token 3-gram shingles per document, WITH
    * repeats. Consumers that need set semantics (Jaccard counts) apply
    * [[shingles]]; the MinHash signature path deliberately does not —
    * min() over duplicate shingles equals min() over the distinct set, so
    * the corpus-wide distinct shuffle is pure waste there. */
  /** doc_id, g: whitespace-token 3-gram shingles of an arbitrary
    * (doc_id, text) frame — the one shingle definition every dedup
    * consumer shares, INCLUDING the streaming near-dup gate
    * ([[graft.streaming.DocsStream]]), which must shingle exactly like
    * the corpus asset it probes or the band lookup silently misses. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 2), i -> " +
          "concat_ws(' ', element_at(w, i), element_at(w, i+1), element_at(w, i+2)))"))
        .as("g"))

  private def shinglesRaw(s: SparkSession, d: String): DataFrame =
    // fanned scan (r14): tokenize+3-gram explode is the heavy map side of
    // the whole dedup family's shared shingle asset
    shinglesOf(tf(s, d, "documents"))

  /** doc_id, g: distinct whitespace-token 3-gram shingles per document —
    * MATERIALIZED ONCE per dataset dir per JVM (the [[signatureTable]]
    * asset discipline applied one stage earlier): six registered queries
    * consume the distinct-shingle table (ngram/capped/containment/
    * estimate/sweep's Jaccard sides, ssjoin's prefix machinery), and each
    * was re-running the tokenize→explode→corpus-wide distinct shuffle
    * per query. A real pipeline shingles the corpus once and every dedup
    * stage reads that artifact. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, graft.Assets.dir("shingle_table", d) { out =>
      shinglesRaw(s, d).distinct().write.mode("overwrite").parquet(out)
    })

  /** Partition count for the DOC-LEVEL asset writes below (r15): the
    * fanned build's heavy map side stays session-wide, but letting the
    * final aggregate's width land as the file count made every probe-side
    * consumer pay a session-width task floor per scan (r14 bench:
    * q_dedup_minhash 0.40→0.76 against a 32-file signature asset; the
    * r15 isolated A/B measured 1.35→0.55 after this coalesce). AQE cannot
    * coalesce here — the fan-out is REPARTITION_BY_NUM and the aggregate
    * reuses its exchange — so the write coalesces explicitly. Applied to
    * the doc-sized SIGNATURE table only: the corpus-sized shingle table's
    * consumers (q_dup_spans' df aggregate, the candidate joins) do real
    * per-row work and the same A/B showed coalescing THAT asset regressing
    * q_dup_spans 2.11→2.38, so it keeps the build width. 8 is a
    * LOCAL-LAYOUT constant (the asset is a few MB); a production asset
    * write sizes files by bytes (guide §6). */
  private val AssetParts = 8

  /** (doc_id, g, sz, r): the PPJoin PREFIX INDEX at τ = 1/2 — each doc's
    * rarest-half shingles under the global (df ASC, g ASC) order, with
    * the doc's set size and the shingle's per-doc rarity rank. This IS
    * the inverted index a production set-similarity service maintains
    * (every incremental batch probes it for join partners), so it gets
    * the same per-dataset memoization as the signature table. The
    * rarity rank comes from one doc-partitioned window — doc-bounded
    * frames, never corpus-wide. */
  private def prefixIndex(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, graft.Assets.dir("ssjoin_prefix_index", d) { out =>
      computePrefixIndex(s, d).write.mode("overwrite").parquet(out)
    })

  /** One full prefix-index build (the path [[prefixIndex]] amortizes). */
  private[graft] def computePrefixIndex(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ng = shingles(s, d)
    val dfx = ng.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val byRarity = byDoc.orderBy(col("df"), col("g"))
    ng.join(dfx, "g")
      .withColumn("sz", count(lit(1)).over(byDoc))
      .withColumn("r", row_number().over(byRarity))
      .filter(col("r") <= expr("sz - ((sz + 1) div 2) + 1"))
      .select(col("doc_id"), col("g"), col("sz"), col("r"))
  }

  /** The PPJoin candidate set at τ = 1/2 — the prefix-index self-join
    * q_ssjoin_prefix verifies exactly. Factored out so the candidate
    * COUNT is spec-measurable against the quadratic baseline's N·(N−1)/2
    * (round-12 directive #4: the dense-vocab sf fixture is the
    * adversarial regime for prefix filtering; the natural-vocabulary
    * control in DedupSpec measures the pruning a Zipfian vocabulary
    * actually buys).
    *
    * POSITIONAL filter (PPJoin's second pruning rule, still lossless):
    * a shared prefix shingle at ranks (ra, rb) bounds the overlap by
    * 1 + min(|a|−ra, |b|−rb) — the common shingles all sit at rank
    * ≥ ra in a and ≥ rb in b — and J ≥ 1/2 needs overlap ≥
    * ⌈(|a|+|b|)/3⌉. A qualifying pair passes on its FIRST shared
    * prefix shingle (smallest rank in both), so any-match survives.
    * Sizes ride through the candidate table so the final Jaccard
    * needs no further doc-level join. */
  private[graft] def ssjoinCandidates(s: SparkSession, d: String): DataFrame = {
    val pfx = prefixIndex(s, d)
    // fan the PROBE side to the session width (r15): the memoized index
    // lands as a handful of small files, so the candidate join — the Σdf²
    // work this operator exists to bound — otherwise runs at the file
    // count's parallelism (5 tasks, 1.07 s of the r15 profile). ROUND-
    // ROBIN, deliberately not g-keyed: g is exactly the skewed key here
    // (hot shingles ARE the dense-vocab regime), and a g-hash fan would
    // serialize each hot shingle's whole probe side onto one task (a/b'd:
    // 6.2 s vs 2.6 s) — the broadcast-probe works row-wise, so row-level
    // spread is what parallelizes it. The other side stays the broadcast
    // build.
    val nFan = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
    pfx.repartition(nFan)
      .select(col("doc_id").as("doc_a"), col("g"),
        col("sz").as("sa"), col("r").as("ra"))
      .join(broadcast(pfx.select(col("doc_id").as("doc_b"), col("g"),
        col("sz").as("sb"), col("r").as("rb"))), Seq("g"))
      .filter(col("doc_a") < col("doc_b") &&
        col("sa") <= col("sb") * 2 && col("sb") <= col("sa") * 2 &&
        (least(col("sa") - col("ra"), col("sb") - col("rb")) + 1) * 3 >=
          col("sa") + col("sb"))
      .select(col("doc_a"), col("doc_b"),
        col("sa").as("n_a"), col("sb").as("n_b")).distinct()
  }

  private val Bands = 4 // LSH bands (fixed: the recall side of the curve)
  private val DefaultRows = 2 // rows per band — DEFAULT (and oracle) geometry
  private val Seeds = Bands * DefaultRows
  private val MaxRows = 8

  /** Scale-adaptive MinHash band width (the round-13 sf1 audit's
    * saturation class, text side): with FIXED rows-per-band r, a random
    * pair's false-positive band-collision probability is a constant
    * ≈ J_bg^r per band, so candidate volume grows ∝ N² — the same
    * saturation as the fixed sign-LSH bit-width, just in band space.
    * `graft.dedup.minhash.rows` sets r (bands stay 4): an integer, or
    * "auto" = 2 + 2·⌈log₁₀(N/5000)⌉ clamped to [2, 8] — two extra rows
    * per decade of corpus, which at a background Jaccard of ~0.3 divides
    * per-pair FP probability by ~10 per 10× docs and holds candidate
    * volume ~linear. PERF KNOB ONLY: the generated oracle SQL embeds the
    * default 4×2 geometry, so the driver's gate (which never sets the
    * conf) replays it bit-for-bit; recall trades measured in DedupSpec. */
  private def rowsFor(s: SparkSession, d: String): Int =
    s.conf.get("graft.dedup.minhash.rows", DefaultRows.toString) match {
      case "auto" =>
        val n = Tables.count(s, d, "documents")
        math.min(MaxRows, math.max(DefaultRows, DefaultRows +
          2 * math.ceil(math.log10(math.max(1.0, n / 5000.0))).toInt))
      case v =>
        val r = v.toInt
        require(r >= 1 && r <= MaxRows,
          s"graft.dedup.minhash.rows must be in [1, $MaxRows] or 'auto', got $r")
        r
    }

  /** Seed count of an existing signature frame — geometry travels WITH
    * the asset (columns m0..m_{n-1}), so every consumer of a signature
    * table derives its seed list from the frame instead of a global. */
  private def seedsOf(sig: DataFrame): Int =
    sig.columns.count(_.matches("m\\d+"))

  /** Span length (tokens) for exact substring dedup (q_substring_dedup).
    * Lee et al. use 50 BPE tokens on real corpora; 5 whitespace tokens
    * keeps the operator observable on the small-doc fixtures while the
    * pipeline shape is length-independent. */
  private val SpanL = 5

  /** (doc_id, m0..m_{4·rows−1}): MinHash signature per document. The
    * default 8 seeds are min-aggregates over the 16-char slices of ONE
    * md5 per shingle (seed o = chars o+1..o+16 — 17 fit in the 32-hex
    * digest); seeds past 16 salt the shingle (`md5(g || '#o')`) so wider
    * geometries never run out of hash material. Slice overlap correlates
    * adjacent seeds slightly — acceptable for banding (the FP knob still
    * moves ∝ J^rows), and the default 8 are unchanged bit-for-bit. */
  private def signature(ng: DataFrame, rows: Int = DefaultRows): DataFrame = {
    val minCols = (0 until Bands * rows).map { o =>
      val h =
        if (o <= 16) substring(md5(encode(col("g"), "UTF-8")), o + 1, 16)
        else substring(md5(encode(concat(col("g"), lit(s"#$o")), "UTF-8")), 1, 16)
      min(h).as(s"m$o")
    }
    ng.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** (doc_id, band, bv): the 4×rows LSH banding of a signature table —
    * the band values a doc hashes to, shared by the pair join, the
    * component edges, and the streaming band-index probe. The row count
    * is derived FROM the frame (m-column count), so a probe always bands
    * exactly like the asset it joins against. */
  private[graft] def bandsOf(sig: DataFrame): DataFrame = {
    val rows = seedsOf(sig) / Bands
    val bandStructs = (0 until Bands).map(b =>
      struct(lit(b).as("band"),
        concat_ws("|", (0 until rows).map(i =>
          col(s"m${rows * b + i}")): _*).as("bv")))
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"), col("x.bv").as("bv"))
  }

  /** Distinct LSH candidate pairs (doc_a < doc_b) from a signature table —
    * band the 8 mins 4 × 2 and equi-join on the band value. */
  private[graft] def bandPairs(sig: DataFrame): DataFrame = {
    val bands = bandsOf(sig)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The MinHash signature table (doc_id, m0..m7) — MATERIALIZED ONCE per
    * dataset dir per JVM, the same asset discipline as [[labeledDocs]]:
    * the narrow (doc_id + 8×16 chars) table is exactly the artifact a real
    * pipeline computes in one job and every dedup consumer reads from
    * storage (signatures are content-addressed — recomputing the
    * tokenize→shingle→md5→min-agg pipeline per query is the corpus-scale
    * waste). min over repeated shingles equals min over the distinct set,
    * so one table serves both the raw- and distinct-shingle callers. */
  private def signatureTable(s: SparkSession, d: String): DataFrame = {
    // the asset is keyed by (dir, geometry): a knob-widened session must
    // not read a default-width signature, and vice versa
    val rows = rowsFor(s, d)
    Tables.parquet(s, graft.Assets.dir("minhash_signatures", s"$d|$rows") { out =>
      signature(shinglesRaw(s, d), rows).coalesce(AssetParts)
        .write.mode("overwrite").parquet(out)
    })
  }

  /** The corpus LSH BAND INDEX — the distinct (band, bv) buckets of the
    * memoized signature table, materialized per dataset dir (the asset
    * discipline one stage further): this is exactly the lookup side an
    * incremental/streaming ingest probes ("does this new doc collide with
    * ANY existing bucket"), so it is computed once and every micro-batch
    * reads the narrow parquet. */
  private[graft] def bandIndex(s: SparkSession, d: String): DataFrame = {
    val rows = rowsFor(s, d)
    Tables.parquet(s, graft.Assets.dir("lsh_band_index", s"$d|$rows") { out =>
      bandsOf(signatureTable(s, d)).select(col("band"), col("bv"))
        .distinct().write.mode("overwrite").parquet(out)
    })
  }

  /** MinHash signatures of an arbitrary (doc_id, text) frame — the SAME
    * shingle→md5→min-agg pipeline the corpus asset is built with, for
    * callers that must hash incoming data consistently with it (the
    * streaming near-dup gate). Docs with < 3 tokens have no shingles,
    * hence no signature row — identical absence semantics to the asset.
    * Callers that probe a corpus asset pass THAT asset's geometry
    * (`rows`) — a micro-batch's own size says nothing about the corpus,
    * and a width mismatch would make every band lookup silently miss. */
  private[graft] def signatureOf(docs: DataFrame,
                                 rows: Int = DefaultRows): DataFrame =
    signature(shinglesOf(docs), rows)

  /** Drop every doc of `batch` that LSH-collides with the existing corpus
    * at dataset dir `d` — the streaming near-dup gate: signature the
    * batch (map + one batch-local min-agg), explode to band values, ONE
    * LEFT SEMI equi-join into the memoized [[bandIndex]] (at scale: a
    * bucketed point lookup, never a corpus scan), and LEFT ANTI the hit
    * doc_ids out. A band collision marks an LSH CANDIDATE — the same
    * candidate rule q_dedup_minhash pairs on — so the stream quarantines
    * exactly the docs the batch near-dup pass would have paired with the
    * corpus. */
  private[graft] def dropCorpusNearDups(batch: DataFrame, d: String): DataFrame = {
    val s = batch.sparkSession
    // the batch MUST band with the corpus asset's geometry — rowsFor
    // resolves the same conf (including "auto" over the corpus dir) that
    // keyed the index build
    val hits = bandsOf(signatureOf(batch, rowsFor(s, d)))
      .join(bandIndex(s, d), Seq("band", "bv"), "left_semi")
      .select(col("doc_id")).distinct()
    batch.join(hits, Seq("doc_id"), "left_anti")
  }

  /** Drop every doc of `batch` that LSH-collides with a LOWER-id doc of
    * the SAME batch (min-id keep) — the in-batch half of the streaming
    * near-dup gate. [[dropCorpusNearDups]] screens against the EXISTING
    * corpus only: two near-dups arriving in one micro-batch have no
    * corpus twin yet and would otherwise both land. One batch-local band
    * self-join (batch-bounded, never corpus-wide); the kept
    * representative is the smallest doc_id of each band-collision chain —
    * the q_dedup_canonical keep rule. Run BEFORE the corpus probe so the
    * probe pays only for surviving docs. */
  private[graft] def dropBatchNearDups(batch: DataFrame): DataFrame = {
    val bands = bandsOf(signatureOf(batch))
    val dupIds = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id")).distinct()
    batch.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Distinct MinHash-LSH candidate pairs (doc_a < doc_b) — shared by
    * q_dedup_minhash (reports them) and q_dedup_fuzzy (reranks them). The
    * band self-join consumes the signature table TWICE; both sides rescan
    * the materialized [[signatureTable]] parquet instead of recomputing
    * the shingle pipeline. */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame =
    bandPairs(signatureTable(s, d))

  /** LSH candidate EDGES for component resolution — same banding as
    * [[bandPairs]], but DEGENERATE buckets are short-circuited: a
    * (band, bv) bucket holding more than `bucketCap` docs (the signature
    * collision shape of a cluster of exact duplicates — precisely the
    * common adversarial input for dedup) contributes a STAR on its min doc
    * instead of |bucket|²/2 pairs crammed into one join task. Connectivity
    * — hence every component — is preserved exactly, because all docs in
    * one bucket are mutual LSH candidates by construction: the star spans
    * what the clique spans. AQE skew-split cannot save the clique shape (a
    * single key's pairs are still generated); the cap removes the
    * quadratic work itself. Pair CONSUMERS that score each candidate pair
    * (q_dedup_minhash, fuzzy/estimate reranks) keep the exact [[bandPairs]]
    * list; component resolution only needs connectivity. The edges are a
    * lazy plan: their one store is the input cache of
    * [[graft.operators.Graph.connectedComponents]]. */
  private[graft] def candidateEdges(sig: DataFrame, bucketCap: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigCols = (0 until seedsOf(sig)).map(o => col(s"m$o"))
    // Step 1 — collapse exact-signature groups. Identical documents (the
    // common degenerate dedup input) carry identical signatures and would
    // collide in EVERY band; one window pass over the narrow signature
    // table turns each group into a star on its min doc, and banding then
    // runs on one REPRESENTATIVE per signature. Component-exact: group
    // members are mutual candidates in every band, and an outside doc is
    // a band-candidate of a member iff it is one of the representative
    // (identical band values).
    val wSig = Window.partitionBy(col("sk"))
    val keyed = sig
      .withColumn("sk", concat_ws("|", sigCols: _*))
      .withColumn("rdoc", min(col("doc_id")).over(wSig))
    val sigStars = keyed.filter(col("doc_id") =!= col("rdoc"))
      .select(col("rdoc").as("src"), col("doc_id").as("dst"))
    val repSig = keyed.filter(col("doc_id") === col("rdoc"))
    // Step 2 — band the representatives; residual degenerate (band, bv)
    // buckets (DISTINCT signatures still colliding in one band — a dense
    // near-dup cluster) are capped the same way: bucket members are
    // mutual candidates by construction, so a star on the bucket min
    // spans what the |bucket|²/2 clique would, in O(|bucket|) edges.
    val bands = bandsOf(repSig)
    // Per-bucket size + min doc in ONE (band, bv)-keyed window pass — no
    // separate stats aggregate and no join back.
    val w = Window.partitionBy(col("band"), col("bv"))
    val bs = bands
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("bmin", min(col("doc_id")).over(w))
    val small = bs.filter(col("bsz") <= bucketCap)
      .select(col("doc_id"), col("band"), col("bv"))
    val smallPairs = small.as("a")
      .join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
    val starEdges = bs.filter(col("bsz") > bucketCap && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("src"), col("doc_id").as("dst"))
    smallPairs.union(starEdges).union(sigStars).distinct()
  }

  /** (doc_id, source, n_chars, component) — every document labeled with its
    * near-dup connected component (singletons keep their own id): the
    * shared scaffold of the resolution family (q_dedup_resolve,
    * q_dedup_canonical, q_dedup_cross_source, q_split_leakfree).
    *
    * MATERIALIZED ONCE per dataset dir per JVM: the first caller runs the
    * full LSH→connected-components machinery and writes the narrow
    * (4 columns × |docs|) labeling to a temp parquet; every later caller —
    * including the other three family members and bench repeats — reads
    * that file. This models the real pipeline, where components are a
    * durable asset computed by one job and consumed by many (≙ the
    * reference materializing query results into a destination table once
    * and paginating it many times, bq.py:193-217), and it is immune to the
    * bench harness's between-query cache purge (a persisted frame would
    * not be). */
  private def labeledDocs(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, graft.Assets.dir("dedup_components", d) { out =>
      computeLabeledDocs(s, d).write.mode("overwrite").parquet(out)
    })

  /** One full labeling build (the expensive path [[labeledDocs]] amortizes).
    * `graft.dedup.checkpointDir`, when set, routes the CC loop's state
    * through RELIABLE filesystem checkpoints (executor-loss-tolerant — the
    * cluster-mode loop, exercised end-to-end by DedupSpec); unset, the
    * loop's rounds are local checkpoints. The labeling is written to
    * parquet before the asset is read, so the loop's final-round
    * checkpoint is then dead and its files are sweepable by the caller. */
  private def computeLabeledDocs(s: SparkSession, d: String): DataFrame = {
    // the signature is the materialized [[signatureTable]] asset — its
    // branches in candidateEdges rescan the narrow parquet, nothing to
    // persist or release here
    val labels = graft.operators.Graph.connectedComponents(
      candidateEdges(signatureTable(s, d)),
      checkpointDir = s.conf.getOption("graft.dedup.checkpointDir"))
    t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars"))
      .join(labels, col("doc_id") === col("doc"), "left")
      .select(col("doc_id"), col("source"), col("n_chars"),
        coalesce(col("comp"), col("doc_id")).as("component"))
  }

  /** A fresh md5-hex function (UTF-8 input, lowercase hex); one per
    * partition, since a `MessageDigest` is not thread-safe. */
  private def md5Hex(): String => String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    x => md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The media fixtures' 8×8 {32, 224} grayscale PNG: cell i is high when
    * hex digit i of `digits` is ≥ 8, flipped when i is in `flips`; cell 0
    * is forced high and cell 63 low, so the aHash stays in [0, 2^63). */
  private def gridPng(digits: String, flips: Set[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < 64) {
      val high =
        if (i == 0) true
        else if (i == 63) false
        else (Character.digit(digits.charAt(i), 16) >= 8) ^ flips.contains(i)
      val v = if (high) 224 else 32
      img.setRGB(i % 8, i / 8, (v << 16) | (v << 8) | v)
      i += 1
    }
    graft.multimodal.Multimodal.encodePng(img)
  }

  val queries: Map[String, QFn] = Map(
    // CANONICAL-document selection — the keep rule real pipelines run
    // instead of min-id: inside each near-dup cluster keep the LARGEST
    // document (ties to the lowest id), the "best-of-cluster"
    // representative that preserves the most content. The argmax is two
    // component-keyed aggregates (max size, then min id among the maxes)
    // joined back — equi-shuffles on the component key only, no window,
    // no per-cluster collect; at 100 TB every stage shares the component
    // partitioning. Components come from the same CC machinery as
    // q_dedup_resolve, so the two queries' cluster structures are
    // identical (spec-pinned).
    "q_dedup_canonical" -> ((s, d) => {
      // three consumers of the labeled table (max, argmax, final join) —
      // each is a rescan of the materialized labeling parquet (narrow,
      // cheap), so no cache to hold or leak
      val lab = labeledDocs(s, d)
      val mx = lab.groupBy(col("component").as("c2"))
        .agg(max(col("n_chars")).as("mx"))
      val can = lab.join(mx, col("component") === col("c2"))
        .filter(col("n_chars") === col("mx"))
        .groupBy(col("component").as("c3"))
        .agg(min(col("doc_id")).as("canonical_id"))
      lab.join(can, col("component") === col("c3"))
        .select(col("doc_id"), col("component"), col("canonical_id"),
          when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L)
            .as("keep"))
        .orderBy(col("doc_id"))
    }),

    // CROSS-SOURCE duplication census — which near-dup clusters SPAN
    // sources: a component confined to one source is that source's
    // internal duplication (a crawl re-fetch); a component spanning
    // several is content syndicated/mirrored ACROSS feeds — the signal
    // that source-level dedup or source weighting double-counts content.
    // One component-keyed aggregate over the shared labeling (distinct
    // sources + docs per cluster), then a span-histogram; both stages
    // shuffle only component-cardinality rows.
    "q_dedup_cross_source" -> ((s, d) =>
      labeledDocs(s, d)
        .groupBy(col("component"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("nd"))
        .groupBy(col("n_sources"))
        .agg(count(lit(1)).as("n_components"), sum(col("nd")).as("n_docs"))
        .orderBy(col("n_sources"))),

    // LEAKAGE-FREE split — the train/eval split rule that closes the
    // near-dup contamination hole q_hash_split leaves open: hashing each
    // DOC into a split lets two near-duplicates straddle train and test
    // (silent eval leakage); hashing the dedup COMPONENT assigns every
    // cluster atomically to one split. Same md5 16-bit bucket convention
    // as the per-doc split, applied one level up. Output is the per-split
    // census (docs, components, chars); the leak-freedom itself is
    // structural — a component has exactly one hash — and spec-verified
    // on the measured near-dup pairs.
    "q_split_leakfree" -> ((s, d) =>
      Sampling.withSplit(labeledDocs(s, d), "component")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_components"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split"))),


    // Span-level duplication score — per document, the fraction of its
    // distinct 3-gram shingles that occur in ANY other document (the
    // substring-dedup signal of Lee et al., "Deduplicating Training Data
    // Makes Language Models Better": heavily-duplicated SPANS matter even
    // when whole documents differ). Never doc×doc: one shingle-keyed
    // doc-frequency aggregate, one shingle-keyed join back (fanout 1 per
    // (doc, shingle)), one doc-keyed final aggregate — all map-side
    // combined and safe at corpus scale.
    "q_dup_spans" -> ((s, d) => {
      // The shingle asset feeds both the df aggregate and the join back;
      // both read the parquet table as-is, so the query is one lazy plan
      // and leaves no cache behind.
      val sh = shingles(s, d)
      val dfc = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val frac = col("n_dup").cast("double") / col("n_shingles").cast("double")
      val perDoc = sh.join(dfc, "g")
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_shingles"), col("n_dup"),
          frac.as("dup_span_frac"),
          (frac < 0.9).as("span_ok"))
      perDoc.orderBy(col("doc_id"))
    }),

    // EXACT SUBSTRING DEDUP — repeated-span REMOVAL (Lee et al. 2021,
    // "Deduplicating Training Data Makes Language Models Better", the
    // ExactSubstr dedup): where q_dup_spans only SCORES span duplication,
    // this emits the corpus with every token covered by a CROSS-DOCUMENT
    // repeated span of >= SpanL tokens excised, keeping the rest of each
    // document intact. A span is duplicated iff its exact SpanL-token text
    // occurs in >= 2 distinct documents; coverage is the union of all
    // duplicated-span occurrences (shingle-anchored — every repeated
    // region of length >= SpanL is a union of length-SpanL shingle hits,
    // so anchoring on shingles loses nothing; a distributed suffix array
    // is unnecessary). Never doc×doc: one shingle-keyed df aggregate, one
    // shingle-keyed LEFT SEMI back (fanout 1 per occurrence), a bounded
    // ×SpanL position expansion, one doc-keyed LEFT ANTI + final
    // aggregate — the q_dup_spans shuffle discipline, linear at corpus
    // scale even when one hot span is shared by millions of docs (the
    // semi-join emits occurrences, never pairs).
    "q_substring_dedup" -> ((s, d) => {
      val docs = tf(s, d, "documents") // span-shingle explode: fanned scan (r14)
        .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      // (doc_id, p, k): every SpanL-token shingle with its 1-based start.
      val sh = docs.filter(size(col("w")) >= SpanL)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(w) - ${SpanL - 1}), " +
            s"p -> struct(p AS p, concat_ws(' ', slice(w, p, $SpanL)) AS k))"))
          .as("x"))
        .select(col("doc_id"), col("x.p").as("p"), col("x.k").as("k"))
      val dupk = sh.groupBy(col("k"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("k"))
      val starts = sh.join(dupk, Seq("k"), "left_semi")
        .select(col("doc_id"), col("p")).distinct()
      // each dup start covers exactly SpanL positions — bounded fanout
      val covered = starts.select(col("doc_id"),
          explode(expr(s"sequence(p, p + ${SpanL - 1})")).as("t"))
        .distinct()
      val toks = docs.select(col("doc_id"),
          posexplode(col("w")).as(Seq("i", "tok")))
        .select(col("doc_id"), (col("i") + 1).cast("long").as("t"), col("tok"))
      val kept = toks.join(covered, Seq("doc_id", "t"), "left_anti")
      val ka = kept.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(t, tok))), x -> x.tok)"))
          .as("cleaned"))
      // LEFT join from the full corpus: a fully-covered doc keeps its row
      // with cleaned_text = '' (it was removed in toto, the Lee et al.
      // degenerate case), and docs shorter than SpanL pass through whole
      docs
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
        .join(ka, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("cleaned"), lit("")).as("cleaned_text"))
        .orderBy(col("doc_id"))
    }),

    // WINNOWING fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    // MOSS local fingerprinting scheme): per document, hash every
    // 3-token gram, slide a w=4 window over the gram-hash sequence, and
    // keep the minimum hash of each full window; the distinct selected
    // hashes are the document's fingerprints. Guarantees: any shared run
    // of >= w+k-1 = 7 tokens yields at least one shared fingerprint, at
    // expected density 2/(w+1) — position-robust local dedup evidence
    // that rolling-hash q_fingerprint (global) and q_dup_spans (df
    // scoring) don't provide. Output: the top-50 document pairs by
    // shared-fingerprint count with containment-normalized score. Scale
    // shape: fingerprint selection is PURE IN-ROW array work (hash +
    // window-min + distinct inside one transform chain — no per-doc
    // window shuffle, no posexplode of raw grams); the cross-doc stage
    // joins on the fingerprint with a df cap (2..64) so a stop-gram
    // fingerprint can never create a quadratic join task — the
    // q_dedup_ngram_capped discipline. md5-based hash keeps the oracle
    // bit-identical; swap xxhash64 at production scale, same pipeline.
    "q_winnowing" -> ((s, d) => {
      val fps = tf(s, d, "documents") // per-gram md5 chain: fanned scan (r14)
        .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
        .filter(size(col("w")) >= 6) // k + w - 1: at least one full window
        .select(col("doc_id"), expr( // gram hashes, each md5 computed once
          "transform(sequence(1, size(w) - 2), i -> " +
            "cast(conv(substr(md5(concat_ws(' ', element_at(w, i), " +
            "element_at(w, i+1), element_at(w, i+2))), 1, 8), 16, 10) " +
            "as bigint))").as("hs"))
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, size(hs) - 3), j -> " +
            "array_min(slice(hs, j, 4))))")).as("fp"))
        .persist(StorageLevel.DISK_ONLY) // df agg + per-doc counts + join
      val perDoc = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
      val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 64).select(col("fp"))
      val capped = fps.join(keep, Seq("fp"), "left_semi")
      val pairs = capped.as("a").join(capped.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
      val out = pairs
        .join(perDoc.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), "doc_a")
        .join(perDoc.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
          (col("shared").cast("double") /
            least(col("n_a"), col("n_b")).cast("double")).as("score"))
        .orderBy(col("shared").desc, col("doc_a"), col("doc_b")).limit(50)
        .persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      fps.unpersist(blocking = false)
      out
    }),

    // Exact n-gram Jaccard near-dup pairs. Shuffle-aware shape: the
    // self-join is on the shingle (a bounded-fanout key), never a cross
    // join; counts are per-pair aggregates.
    "q_dedup_ngram" -> ((s, d) => {
      // SCALE GUARD: this is the documented exact baseline carrying the
      // only allowed uncapped shingle self-join — quadratic on hot
      // shingles, a scale-killer on a real corpus. Refuse inputs past the
      // bound unless the caller explicitly raises it; the production twins
      // are q_dedup_ngram_capped / q_dedup_minhash.
      val maxDocs = s.conf.get("graft.dedup.ngram.maxDocs", "100000").toLong
      val nDocs = Tables.count(s, d, "documents")
      require(nDocs <= maxDocs,
        s"q_dedup_ngram is the uncapped exact-Jaccard baseline: $nDocs documents " +
          s"exceed the guard ($maxDocs). Use q_dedup_ngram_capped or q_dedup_minhash " +
          "at corpus scale, or raise graft.dedup.ngram.maxDocs explicitly.")
      // 3 consumers, each reading the shingle asset (already a parquet
      // table) as-is.
      val ng = shingles(s, d)
      val cnt = ng.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val common = ng.as("a")
        .join(ng.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common"))
      val jac = col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double")
      common
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"), col("n_b"),
          jac.as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Production variant of the Jaccard pair search: shingles occurring in
    // more than 5% of documents are dropped first (the standard df-cut).
    // The head of the shingle frequency distribution is exactly what blows
    // up a shingle-key self-join at corpus scale — a stopword-ish 3-gram
    // shared by 1% of 10^9 docs creates 10^14 candidate pairs on its own
    // while carrying no dedup signal. Jaccard is then computed over the
    // surviving (rare, discriminative) shingle sets.
    "q_dedup_ngram_capped" -> ((s, d) => {
      // The shingle asset feeds three consumers (df histogram + both
      // self-join sides), each reading the materialized table as-is.
      val all = shingles(s, d)
      // 5%-document-frequency cap as an IN-PLAN scalar (one-row broadcast),
      // not a driver count(): no extra blocking job, no sync point. The
      // doc count comes from the documents table (docs with >= 3 tokens,
      // i.e. exactly the docs that shingle) — a map-side count over the
      // corpus, NOT a countDistinct shuffle over the much larger shingle
      // table.
      val capDf = t(s, d, "documents")
        .filter(size(split(trim(lower(col("text"))), "\\s+")) >= 3)
        .agg(count(lit(1)).as("ndocs"))
        .select(greatest(lit(2L), expr("ndocs div 20")).as("cap"))
      // Drop hot shingles via a BROADCAST ANTI-join against the hot set
      // instead of equi-joining the full shingle table with the rare set:
      // the anti-join is map-side (no second corpus-wide shuffle on g).
      // The hot set is broadcastable BY CONSTRUCTION: with S total
      // doc-shingle pairs over N docs, at most S/(N/20) = 20 × (avg
      // shingles per doc) shingles can exceed the N/20 cap — thousands of
      // rows regardless of corpus size.
      val hot = all.groupBy(col("g"))
        .agg(count(lit(1)).as("df")) // shingles are distinct per doc
        .crossJoin(broadcast(capDf))
        .filter(col("df") > col("cap"))
        .select(col("g"))
      val ng = all.join(broadcast(hot), Seq("g"), "left_anti")
        .select(col("doc_id"), col("g"))
        .persist(StorageLevel.DISK_ONLY)
      val cnt = ng.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val common = ng.as("a")
        .join(ng.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common"))
      val jac = col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double")
      common
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"), col("n_b"),
          jac.as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MinHash + LSH banding: the 8 hash functions are 16-char slices of ONE
    // md5 per shingle at offsets 0..7 (cross-engine reproducible, 8× fewer
    // hashes than hashing per seed); signature = 8 min-aggregates in a
    // single per-doc groupBy (map-side combined — one light shuffle of
    // doc-level rows, not (doc,seed)-level); band keys pair the mins; the
    // band equi-join is the only data-sized join and its key cardinality
    // grows with the corpus — the piece that survives 100 TB where the
    // exact pairwise join cannot.
    "q_dedup_minhash" -> ((s, d) =>
      minhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // The missing last mile of the dedup pipeline: resolve candidate PAIRS
    // into a per-document verdict — connected components over the MinHash
    // candidate graph ([[graft.operators.Graph.connectedComponents]]:
    // join-based min-label propagation with path halving, O(log diameter)
    // rounds, no driver-side graph). The loop runs only over docs that
    // appear in at least one pair (the overwhelming minority at corpus
    // scale); isolated docs join back at the end as their own component.
    //
    // Output: (doc_id, component = min doc_id in its component, keep = 1
    // iff the doc is its component's representative) — |keep=1| + |keep=0|
    // = |docs| by construction.
    // CLUSTER-SIZE CENSUS over the resolved components — the governance
    // panel read before any dedup ships: how many clusters of each size,
    // how many docs they bind, and each size class's corpus share. A
    // heavy tail here (one giant component) means the LSH threshold is
    // too loose; all-singletons means it's too tight. Pure PROBE of the
    // memoized [[labeledDocs]] asset (the fourth consumer): two keyed
    // aggregates over the narrow labeling + a 1-row broadcast for the
    // share — size-of-histogram output, no corpus rescan, no window.
    "q_dedup_cluster_stats" -> ((s, d) => {
      val sz = labeledDocs(s, d)
        .groupBy(col("component")).agg(count(lit(1)).as("size"))
      val tot = sz.agg(sum(col("size")).as("tot_docs"))
      sz.groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
        .crossJoin(broadcast(tot))
        .select(col("size"), col("n_clusters"),
          (col("size") * col("n_clusters")).as("n_docs"),
          ((col("size") * col("n_clusters")).cast("double") /
            col("tot_docs").cast("double")).as("doc_share"))
        .orderBy(col("size"))
    }),

    "q_dedup_resolve" -> ((s, d) =>
      // All the loop mechanics — data-sized shuffle width, pre-partitioned
      // cached edges, eager checkpoints with plan truncation, loop-scoped
      // AQE off, convergence cadence, non-convergence throw — live in the
      // extracted library operator, spec-tested on adversarial graph
      // shapes (ConnectedComponentsSpec). Edges come from [[candidateEdges]]
      // (bucket-capped LSH banding): components only need connectivity, so
      // degenerate exact-duplicate buckets cost O(n) star edges, not n²/2.
      // The labeling itself is the materialized-once [[labeledDocs]] asset
      // shared with the rest of the resolution family.
      labeledDocs(s, d)
        .select(col("doc_id"), col("component"),
          when(col("component") === col("doc_id"), lit(1L))
            .otherwise(lit(0L)).as("keep"))
        .orderBy(col("doc_id"))),

    // MinHash Jaccard ESTIMATION over the LSH candidates: estimate =
    // fraction of matching signature components; reported next to the true
    // Jaccard so the estimator's error is visible. At corpus scale this is
    // the cheap first-pass score (8 string compares per pair) before any
    // shingle-set intersection — and the true Jaccard is computed ONLY on
    // the candidate pairs (join each side's shingle set on (doc, g)), so
    // the fanout is |candidates| × shingles-per-doc, never the corpus-wide
    // hot-shingle pair explosion of an uncapped shingle self-join.
    "q_minhash_estimate" -> ((s, d) => {
      val ng = shingles(s, d)
      // sig feeds three consumers (both band-join sides + the signature
      // compare) — each rescans the materialized [[signatureTable]] asset
      val sig = signatureTable(s, d)
      val cnt = ng.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val cand = bandPairs(sig).persist(StorageLevel.DISK_ONLY)
      val common = cand
        .join(ng.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
        .join(ng.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
      val nSeeds = seedsOf(sig)
      val matches = (0 until nSeeds)
        .map(o => when(col(s"a_m$o") === col(s"b_m$o"), 1).otherwise(0))
        .reduce(_ + _)
      val sigA = sig.select(col("doc_id").as("doc_a") +:
        (0 until nSeeds).map(o => col(s"m$o").as(s"a_m$o")): _*)
      val sigB = sig.select(col("doc_id").as("doc_b") +:
        (0 until nSeeds).map(o => col(s"m$o").as(s"b_m$o")): _*)
      val cm = coalesce(col("common"), lit(0L))
      cand
        .join(common, Seq("doc_a", "doc_b"), "left")
        .join(sigA, "doc_a").join(sigB, "doc_b")
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (matches.cast("double") / lit(nSeeds.toDouble)).as("est_jaccard"),
          (cm.cast("double") /
            (col("n_a") + col("n_b") - cm).cast("double")).as("true_jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // THRESHOLD-SWEEP dedup census — the tuning panel a 100 TB dedup run
    // is sized with BEFORE committing to one τ: for τ ∈ {0.5..0.9}, how
    // many candidate pairs score est_jaccard ≥ τ and how much of the
    // corpus gets flagged (≥ 1 neighbor at τ). ONE pass over the bounded
    // LSH candidate pairs: per-doc max-est folds the pair table to a doc
    // table (explode ×2 + one max aggregate), then each 5-row τ census is
    // a broadcast-dimension filter + count — the pair table is never
    // re-derived per threshold, and nothing touches the corpus beyond the
    // one count(*). The knob panel every dedup writeup reports.
    "q_dedup_sweep" -> ((s, d) => {
      val sig = signatureTable(s, d)
      val nSeeds = seedsOf(sig)
      val matches = (0 until nSeeds)
        .map(o => when(col(s"a_m$o") === col(s"b_m$o"), 1).otherwise(0))
        .reduce(_ + _)
      val sigA = sig.select(col("doc_id").as("doc_a") +:
        (0 until nSeeds).map(o => col(s"m$o").as(s"a_m$o")): _*)
      val sigB = sig.select(col("doc_id").as("doc_b") +:
        (0 until nSeeds).map(o => col(s"m$o").as(s"b_m$o")): _*)
      val est = bandPairs(sig).join(sigA, "doc_a").join(sigB, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (matches.cast("double") / lit(nSeeds.toDouble)).as("est"))
      val tau = s.range(1).select(explode(array(
        Seq(0.5, 0.6, 0.7, 0.8, 0.9).map(lit): _*)).as("tau"))
      val docMax = est.select(explode(array(
          struct(col("doc_a").as("doc"), col("est")),
          struct(col("doc_b").as("doc"), col("est")))).as("x"))
        .groupBy(col("x.doc").as("doc")).agg(max(col("x.est")).as("mx"))
      val np = est.crossJoin(broadcast(tau)).filter(col("est") >= col("tau"))
        .groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
      val nf = docMax.crossJoin(broadcast(tau)).filter(col("mx") >= col("tau"))
        .groupBy(col("tau")).agg(count(lit(1)).as("n_flagged"))
      val tot = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      tau.join(np, Seq("tau"), "left").join(nf, Seq("tau"), "left")
        .crossJoin(broadcast(tot))
        .select(col("tau"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
          // empty corpus: 0 docs → 0 flagged → frac 0.0, not an ANSI
          // divide-by-zero from the census that audits empty shards
          when(col("n_docs") === 0L, lit(0.0))
            .otherwise(coalesce(col("n_flagged"), lit(0L)).cast("double") /
              col("n_docs").cast("double")).as("frac_flagged"))
        .orderBy(col("tau"))
    }),

    // Shingle CONTAINMENT over the LSH candidates — the asymmetric score
    // Jaccard misses: a short document quoted wholesale inside a long one
    // has low Jaccard (union is large) but containment ≈ 1 on the short
    // side (Broder's containment; the quote/inclusion dedup signal).
    // Same candidate machinery as q_minhash_estimate: the shingle
    // intersection is counted ONLY on candidate pairs, both directions
    // reported, verdict = either side ≥ 0.9 contained.
    "q_containment" -> ((s, d) => {
      val ng = shingles(s, d)
      val cnt = ng.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val cand = bandPairs(signatureTable(s, d))
      val common = cand
        .join(ng.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
        .join(ng.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
      val cm = coalesce(col("common"), lit(0L))
      val ca = cm.cast("double") / col("n_a").cast("double")
      val cb = cm.cast("double") / col("n_b").cast("double")
      cand
        .join(common, Seq("doc_a", "doc_b"), "left")
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), cm.as("common"),
          ca.as("contain_a"), cb.as("contain_b"),
          (greatest(ca, cb) >= 0.9).as("contained"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // PREFIX-FILTERED exact set-similarity self-join (AllPairs/PPJoin —
    // Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06): the SAME exact
    // shingle-Jaccard ≥ 1/2 contract as q_dedup_ngram — identical
    // columns, identical rows, spec-proven equal — WITHOUT the uncapped
    // shingle self-join that forces q_dedup_ngram's scale guard, and
    // without MinHash's approximation. Under any fixed total shingle
    // order (here df ASC, shingle ASC — rarest first, the
    // candidate-minimizing choice), two sets with J ≥ t MUST share an
    // element among their first |x| − ⌈t·|x|⌉ + 1: J ≥ t ⟹ |A∩B| ≥
    // t·|A∪B| ≥ ⌈t·|A|⌉, and if A's prefix missed A∩B entirely the
    // intersection would have to fit in the suffix of size ⌈t·|A|⌉ − 1.
    // So candidates come from an equi-join on PREFIX shingles only,
    // tightened by the J ≥ 1/2 length filter (|a| ≤ 2|b| ∧ |b| ≤ 2|a|),
    // then exact Jaccard verifies each candidate. Output ≡ the
    // brute-force join for ANY total order (each engine's candidate set
    // independently covers all qualifying pairs — cross-engine collation
    // cannot matter). Every cut is exact integer arithmetic (⌈x/2⌉ =
    // (x+1) div 2; 2·common ≥ union) — no float boundary; only the
    // reported jaccard divides. At 100 TB: the per-doc rarity window is
    // doc-bounded, the shingle-df table is corpus-orders smaller than
    // the corpus, and each doc joins ONLY through its rarest-half
    // shingles — the df-bounded keys — where the baseline's uncapped
    // self-join explodes on every hot shingle in the corpus.
    "q_ssjoin_prefix" -> ((s, d) => {
      val ng = shingles(s, d)
      // DENSE-VOCABULARY guard (round-13 verdict #2): on a Zipfian (natural
      // text) vocabulary the prefix+positional filter prunes candidates to
      // ~4% of quadratic, but a dense alphabet (code, logs, DNA-like
      // vocabularies — the sf fixture's 31 words) drives Σdf² quadratic and
      // silently re-enters the all-pairs regime the operator exists to
      // avoid. One cheap aggregate over the memoized prefix index bounds
      // the candidate join from above (Σ_g dfp·(dfp−1)/2 rows before the
      // length/positional cuts); past the budget the query REFUSES — the
      // q_dedup_ngram maxDocs precedent — and points at the capped/minhash
      // tier, whose cost is candidate-bounded by construction.
      val maxEst = s.conf.get("graft.ssjoin.maxCandPairs", "20000000").toLong
      // the bound is a pure function of the immutable dataset dir (conf
      // only moves the BUDGET), so the aggregate runs once per JVM, like
      // the guard counts, keeping the guard's cost off every repeat
      // invocation
      val est = graft.Assets.once("ssjoin_candidate_bound", d) {
        prefixIndex(s, d)
          .groupBy(col("g")).agg(count(lit(1)).as("dfp"))
          .agg(coalesce(sum(expr("dfp * (dfp - 1) div 2")), lit(0L)))
          .first().getLong(0)
      }
      require(est <= maxEst,
        s"q_ssjoin_prefix: prefix-candidate upper bound $est exceeds the " +
          s"dense-vocabulary guard ($maxEst). This corpus's shingle " +
          "frequencies are in the quadratic regime for prefix filtering — " +
          "use the capped/approximate tier (q_dedup_ngram_capped / " +
          "q_dedup_minhash) or raise graft.ssjoin.maxCandPairs explicitly.")
      val cand = ssjoinCandidates(s, d)
      // exact verification: candidate-restricted (doc, g) equi-joins +
      // one pair-keyed count — the q_containment shape, never doc×doc
      // (array_intersect per pair measured 5× slower: per-row set
      // rebuilds off codegen beat the 2-stage shuffle only on paper).
      // SHUFFLE_HASH hints (r15): Catalyst's static file-size estimate
      // BROADCAST both corpus-shingle sides — two 1 M-row string hash
      // tables each built on a single task (the two 1.5 s stages of the
      // r15 profile; guide §3.1 "estimates are often badly wrong").
      // Doc-keyed shuffle joins stream the shingle scan at full width,
      // and the hinted build sides (the candidate sliver, then the
      // per-partition shingle slice) stay bounded at any corpus size —
      // the scale shape the q_dedup_fuzzy comment already prescribes.
      // the explicit width pin on the candidate side (REPARTITION_BY_NUM,
      // which AQE never coalesces) keeps the verify join at session width:
      // its INPUT bytes are small enough that AQE's byte-based coalescing
      // otherwise squeezed the join to 5 partitions, but its output is the
      // |candidates| × shingles-per-doc fanout — compute-dense per input
      // byte (928 ms at 5 tasks vs ~300 ms at 32 in the r15 stage profile)
      val nVerify = s.conf.get("spark.sql.shuffle.partitions", "200").toInt
      cand.repartition(nVerify, col("doc_a")).hint("shuffle_hash")
        .join(ng.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
        .join(ng.select(col("doc_id").as("doc_b"), col("g")).hint("shuffle_hash"),
          Seq("doc_b", "g"))
        .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
        .agg(count(lit(1)).as("common"))
        .filter(col("common") * 2 >= col("n_a") + col("n_b") - col("common"))
        .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"), col("n_b"),
          (col("common").cast("double") /
            (col("n_a") + col("n_b") - col("common")).cast("double")).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Edit-distance rerank of the MinHash candidates: LSH proposes, exact
    // levenshtein scores. The expensive O(len²) distance runs ONLY on
    // candidate pairs (never all pairs) — the canonical
    // candidate-generation → exact-rerank split, here with a second,
    // independent similarity metric over the same candidate machinery.
    "q_dedup_fuzzy" -> ((s, d) => {
      // fanned scan (r14): both text-side joins probe this frame, and the
      // per-pair Levenshtein DP downstream is the heavy map work
      val docs = tf(s, d, "documents").select(col("doc_id"), col("text"))
      // graft_levenshtein = builtin levenshtein with common-prefix/suffix
      // stripping (distance-preserving; bit-identical results) — near-dup
      // candidates share most of their text, so the O(n·m) DP shrinks to
      // the small differing middle. The distance lands in its OWN
      // projection and edit_sim derives from the aliased column: a
      // twice-referenced non-cheap alias is not inlined by CollapseProject,
      // so the DP runs exactly once per pair.
      val lev = expr("graft_levenshtein(ta, tb)")
      // Broadcast the CANDIDATE side, never the corpus: LSH candidates are
      // a bounded sliver of the corpus, while Catalyst's static file-size
      // estimate happily broadcasts the whole (doc_id, text) table twice —
      // at 100 TB that's shipping the corpus to every task. If candidates
      // ever exceed the broadcast budget, drop the hints and these become
      // doc_id-keyed shuffle joins — same shape, still never corpus-wide.
      val withA = broadcast(minhashPairs(s, d))
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      broadcast(withA)
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          lev.cast("long").as("edit_dist"),
          greatest(length(col("ta")), length(col("tb"))).cast("double").as("len_mx"))
        .select(col("doc_a"), col("doc_b"), col("edit_dist"),
          (lit(1.0) - col("edit_dist").cast("double") / col("len_mx")).as("edit_sim"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // RECORD LINKAGE between two catalogs (Fellegi–Sunter blocking +
    // edit-distance match + best-match resolution) — the entity-matching
    // shape every ingest-from-N-vendors pipeline runs: parts split into
    // two "catalogs" by key parity, blocked on the name's LAST TOKEN (the
    // head noun — the standard cheap blocking key; only same-noun pairs
    // are ever compared), scored by levenshtein over the full name, kept
    // at distance ≤ 4, and resolved to ONE best match per left entity via
    // an in-aggregate min(struct(dist, key)) argmax — no window, no
    // per-entity collect. SCALE REWRITE (the attribute-comparison cache
    // every production linkage engine carries): attribute values repeat
    // heavily across entities, so the DP runs once per DISTINCT name pair
    // — left side deduped to distinct names, right side pre-argmaxed to
    // min key per (block, name) (for a fixed name the (dist, key) argmax
    // is won by the smallest key), the name-level best joined back to
    // entities by name. Result-identical to the entity-pair formulation
    // (the oracle states THAT one verbatim, proving it), and DP work
    // drops from |parts|² to |distinct names|² per block — measured 10.7 s
    // → sub-second at sf0.1. Distance is the builtin-equal
    // graft_levenshtein (= DuckDB's), so the oracle matches bit-for-bit.
    "q_record_linkage" -> ((s, d) => {
      val parts = t(s, d, "part").select(col("p_partkey"), col("p_name"))
        .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      val left = parts.filter(pmod(col("p_partkey"), lit(2)) === 1)
        .select(col("p_partkey").as("l_key"), col("p_name").as("l_name"), col("blk"))
      val rightNames = parts.filter(pmod(col("p_partkey"), lit(2)) === 0)
        .groupBy(col("blk"), col("p_name").as("r_name"))
        .agg(min(col("p_partkey")).as("r_key"))
      // blk is a pure function of the name, so the name-level best match
      // is keyed by l_name alone
      val bestByName = left.select(col("l_name"), col("blk")).distinct()
        .join(rightNames, "blk")
        .withColumn("dist", expr("graft_levenshtein(l_name, r_name)").cast("long"))
        .filter(col("dist") <= 4)
        .groupBy(col("l_name"))
        .agg(min(struct(col("dist"), col("r_key"), col("r_name"))).as("best"))
      left.join(bestByName, "l_name")
        .select(col("l_key"), col("l_name"),
          col("best.r_key").as("r_key"), col("best.r_name").as("r_name"),
          col("best.dist").as("dist"))
        .orderBy(col("l_key"))
    }),

    // IMAGE NEAR-DUP as a GATE ROW (round-12 stretch #9): the multimodal
    // perceptual-hash family run end-to-end through the REAL codecs under
    // the DuckDB oracle. The sf dirs carry no binary media, so the query
    // derives a deterministic 8×8 grayscale corpus from doc ids (per
    // 8-doc group, an md5-derived base pattern of {32, 224} luminance;
    // per doc, two id-derived cell flips — so same-group images sit at
    // Hamming ≤ 4 and cross-group images at ~32), ENCODES each as a real
    // PNG and runs the production pipeline verbatim:
    // Multimodal.imageHashes (ImageIO decode → bilinear luminance grid →
    // aHash) → Multimodal.nearDupImagePairs (Hamming-banded self-join,
    // radius 3, exact bit_count rerank). The oracle replays the
    // ARITHMETIC spec (md5 grid → integer mean-threshold bits → band
    // slices → xor popcount), so a hash-exact row proves the PNG
    // encode→decode round-trip and the whole banded join — the codec
    // path itself is what the gate certifies. Margins are engineered so
    // no float tie exists (cell values 32/224; the mean moves by ≤ 6 per
    // flip), cell 0 is forced high and cell 63 forced low so the hash
    // stays in [0, 2^63) — sign-free, hence shift/xor/popcount semantics
    // agree across engines. Pure map work + the banded equi-join; no
    // all-pairs stage at any scale.
    "q_image_neardup" -> ((s, d) => {
      import s.implicits._
      // fanned scan (r14): the map side below is a real codec round-trip
      val ids = tf(s, d, "documents").select(col("doc_id")).as[Long]
      val media = ids.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val hex = md5Hex()
        it.map { id =>
          val digits = hex(s"img:${id / 8}:0") + hex(s"img:${id / 8}:1")
          val p = 1 + ((id * 7) % 62).toInt
          val q = 1 + ((id * 13) % 62).toInt
          graft.multimodal.Multimodal.Media(id, "image", gridPng(digits, Set(p, q)),
            graft.multimodal.Multimodal.MediaMeta(Some(8), Some(8), None))
        }
      }
      val hashes = graft.multimodal.Multimodal.imageHashes(media).toDF()
      graft.multimodal.Multimodal.nearDupImagePairs(hashes, "ahash", 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // AUDIO NEAR-DUP as a GATE ROW (round-13 directive #4): the audio
    // fingerprint family end-to-end through the REAL javax.sound codec
    // under the DuckDB oracle — the audio twin of q_image_neardup. The sf
    // dirs carry no binary media, so the query derives a deterministic
    // PCM clip per doc id: 65 time slices × 16 samples of constant
    // EXACT-POWER-OF-TWO amplitude (LOW = 4096/2^15 = 2^-3, HIGH =
    // 16384/2^15 = 2^-1, alternating sign), slice levels md5-derived per
    // 8-doc group with two id-derived slice flips (range 1..62), slice 64
    // forced LOW so gradient bit 63 is always 0 (the fp stays in
    // [0, 2^63) — sign-free, hence shift/xor/popcount semantics agree
    // across engines). Powers of two make every float step EXACT: decode
    // yields ±u/2^15, squares, the 16-term sums, the mean, and the sqrt
    // are all dyadic rationals inside float precision, so each slice RMS
    // is exactly 2^-3 or 2^-1 and every gradient sign is integer logic
    // the oracle replays arithmetically. Each clip is encoded as a REAL
    // 16-bit PCM WAV (AudioSystem.write) and the production pipeline runs
    // verbatim: Multimodal.audioHashes (javax.sound decode → RMS slices →
    // gradient-sign fp) → Multimodal.nearDupImagePairs (Hamming-banded
    // self-join, radius 3, exact popcount rerank) — a hash-exact row
    // certifies the WAV encode→decode round-trip itself. Pure map work +
    // the banded equi-join; no all-pairs stage at any scale.
    "q_audio_neardup" -> ((s, d) => {
      import s.implicits._
      // fanned scan (r14): the map side below is a real codec round-trip
      val ids = tf(s, d, "documents").select(col("doc_id")).as[Long]
      val media = ids.mapPartitions { it =>
        val hex = md5Hex()
        it.map { id =>
          val digits = hex(s"aud:${id / 8}:0") + hex(s"aud:${id / 8}:1") +
            hex(s"aud:${id / 8}:2")
          val p = 1 + ((id * 7) % 62).toInt
          val q = 1 + ((id * 13) % 62).toInt
          val pcm = new Array[Byte](65 * 16 * 2)
          var k = 0
          while (k < 65) {
            val high0 = Character.digit(digits.charAt(k), 16) >= 8
            val high = if (k == 64) false else high0 ^ (k == p || k == q)
            val u = if (high) 16384 else 4096
            var j = 0
            while (j < 16) {
              val v = if (j % 2 == 0) u else -u
              val off = (k * 16 + j) * 2
              pcm(off) = (v & 0xff).toByte // 16-bit PCM, little-endian
              pcm(off + 1) = ((v >> 8) & 0xff).toByte
              j += 1
            }
            k += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
            true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, 65L * 16)
          val bos = new java.io.ByteArrayOutputStream()
          // Multimodal.writeAudio == AudioSystem.write minus the PER-CALL
          // ServiceLoader provider scan (the round-14 jstack finding: the
          // scan, not the WAV encode, was ~all of this query's map time)
          graft.multimodal.Multimodal.writeAudio(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          graft.multimodal.Multimodal.Media(id, "audio", bos.toByteArray,
            graft.multimodal.Multimodal.MediaMeta(None, None, Some(8000)))
        }
      }
      val hashes = graft.multimodal.Multimodal.audioHashes(media).toDF()
      graft.multimodal.Multimodal.nearDupImagePairs(hashes, "afp", 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // VIDEO NEAR-DUP as a GATE ROW — the third leg of the multimodal trio
    // (image r13, audio r14, video here), run end-to-end through the REAL
    // per-frame codec under the DuckDB oracle. The JDK has no video
    // demuxer, so the container is the declared stub boundary
    // (Multimodal.encodeVideo: 'GFV1' length-prefixed frames) while every
    // frame is a REAL PNG: the fixture derives 4 frames per doc id (per
    // (8-doc group, frame), an md5-derived 8×8 {32, 224} luminance
    // pattern; per (doc, frame), ONE id-derived cell flip — so same-group
    // videos sit at per-frame Hamming ≤ 2 and cross-group frames at ~32),
    // encodes each frame as a real PNG inside a GFV1 container, and runs
    // the production pipeline verbatim: Multimodal.videoHashes
    // (sampleFrames container parse → ImageIO decode → aHash per frame) →
    // Multimodal.nearDupVideoPairs (Hamming banding PER ALIGNED FRAME
    // INDEX, radius 3, pair rollup requiring ≥ 3 of 4 frames matched).
    // The oracle replays the ARITHMETIC spec (md5 grid → integer
    // mean-threshold bits → per-frame band slices → xor popcount → pair
    // rollup), so a hash-exact row certifies the container round-trip AND
    // the per-frame PNG codec path. Margins engineered as in
    // q_image_neardup ({32, 224} cells, cell 0 forced high / 63 forced
    // low — hash in [0, 2^63), no float tie). Pure map work + the
    // frame-aligned banded equi-join; candidates are the per-frame image
    // case × 4, never frames², never all-pairs.
    "q_video_neardup" -> ((s, d) => {
      import s.implicits._
      // fanned scan (r14): the map side below is a real codec round-trip
      val ids = tf(s, d, "documents").select(col("doc_id")).as[Long]
      val media = ids.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val hex = md5Hex()
        it.map { id =>
          val frames = (0 until 4).map { f =>
            val digits = hex(s"vid:${id / 8}:$f:0") + hex(s"vid:${id / 8}:$f:1")
            gridPng(digits, Set(1 + ((id * 7 + f * 11) % 62).toInt))
          }
          graft.multimodal.Multimodal.Media(id, "video",
            graft.multimodal.Multimodal.encodeVideo(frames),
            graft.multimodal.Multimodal.MediaMeta(Some(8), Some(8), None))
        }
      }
      val fh = graft.multimodal.Multimodal.videoHashes(media, 4)
      graft.multimodal.Multimodal.nearDupVideoPairs(fh, maxHamming = 3, minFrames = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          col("frames_matched"), col("hamming_sum"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // VIDEO SCENE-CUT DETECTION: the temporal use of the per-frame hash —
    // consecutive sampled frames whose aHash Hamming distance exceeds the
    // cut threshold mark a scene boundary (the classical cheap shot-change
    // detector; a real pipeline samples 1 fps and uses exactly this
    // gradient). Fixture: 6 frames per doc, frame f's pattern keyed on
    // scene index f / L with per-doc scene length L = 1 + (id % 3) — so
    // frames inside one scene are IDENTICAL stills (Hamming 0) and scene
    // boundaries land at md5-independent patterns (~32 bits apart). The
    // oracle replays the hash arithmetic and the same consecutive-frame
    // comparison, so the row is exact whatever the threshold decides.
    // Per-video window over ≤ 6 frame rows (bounded partition), pure map
    // work before it — scales linearly in videos.
    "q_video_scenes" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      // fanned scan (r14): the map side below is a real codec round-trip
      val ids = tf(s, d, "documents").select(col("doc_id")).as[Long]
      val media = ids.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val hex = md5Hex()
        it.map { id =>
          val sceneLen = 1 + (id % 3).toInt
          val frames = (0 until 6).map { f =>
            val sc = f / sceneLen
            gridPng(hex(s"scn:$id:$sc:0") + hex(s"scn:$id:$sc:1"), Set.empty)
          }
          graft.multimodal.Multimodal.Media(id, "video",
            graft.multimodal.Multimodal.encodeVideo(frames),
            graft.multimodal.Multimodal.MediaMeta(Some(8), Some(8), None))
        }
      }
      val w = Window.partitionBy(col("id")).orderBy(col("frame_idx"))
      graft.multimodal.Multimodal.videoHashes(media, 6).toDF()
        .withColumn("prev", lag(col("ahash"), 1).over(w))
        .withColumn("cut",
          when(col("prev").isNotNull &&
            bit_count(col("prev").bitwiseXOR(col("ahash"))) > 10, 1L)
            .otherwise(0L))
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_frames"), sum(col("cut")).as("n_cuts"),
          (sum(col("cut")) + 1).as("n_scenes"))
        .orderBy(col("doc_id"))
    }),

    // VIDEO TEMPORAL ALIGNMENT (shifted-copy detection): a re-timed copy
    // (trimmed intro, re-cut) never matches frame-ALIGNED comparison
    // (q_video_neardup), but its frames still pair 1:1 at one consistent
    // index offset — the production video-dedup case the aligned join
    // misses. Fixture: 6 frames per doc, frame f shows the GROUP
    // timeline's pattern at position t = f + (doc_id % 3) — so the 8-doc
    // group holds three shift classes of the same underlying reel, and a
    // pair with shifts (sa, sb) overlaps on 6 − |sa − sb| frames at
    // exactly offset sa − sb (other offsets pair md5-independent
    // patterns, ~32 bits apart). Production pipeline verbatim:
    // Multimodal.videoHashes → videoOffsetPairs (hash-band join WITHOUT
    // the frame key, per-(pair, offset) support vote, argmax with the
    // |offset| tie-break, support ≥ 3). The oracle replays the
    // arithmetic spec including the banding and the vote, so the row
    // certifies the unaligned-join path end-to-end.
    "q_video_offset" -> ((s, d) => {
      import s.implicits._
      // fanned scan (r14): the map side below is a real codec round-trip
      val ids = tf(s, d, "documents").select(col("doc_id")).as[Long]
      val media = ids.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        val hex = md5Hex()
        it.map { id =>
          val shift = (id % 3).toInt
          val frames = (0 until 6).map { f =>
            val tpos = f + shift
            gridPng(hex(s"off:${id / 8}:$tpos:0") + hex(s"off:${id / 8}:$tpos:1"),
              Set.empty)
          }
          graft.multimodal.Multimodal.Media(id, "video",
            graft.multimodal.Multimodal.encodeVideo(frames),
            graft.multimodal.Multimodal.MediaMeta(Some(8), Some(8), None))
        }
      }
      val fh = graft.multimodal.Multimodal.videoHashes(media, 6)
      graft.multimodal.Multimodal.videoOffsetPairs(fh, maxHamming = 3, minSupport = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          col("best_offset"), col("support"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // 16-bit SimHash fingerprint per document (sign of per-bit weighted
    // token-hash sum). One md5 + one int per token, 16 arithmetic sums in a
    // single per-doc aggregate — no row blow-up, one shuffle. Pair search is
    // then a cheap fingerprint self-join (see DedupSpec).
    "q_dedup_simhash" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(split(trim(lower(col("text"))), "\\s+"))).as("tkn"))
        // h16 = int value of the first 4 md5 hex chars; bit b of the original
        // per-nibble layout is bit (15-b) of h16.
        .select(col("doc_id"),
          conv(substring(md5(encode(col("tkn"), "UTF-8")), 1, 4), 16, 10)
            .cast("long").as("h16"))
      val bitSums = (0 to 15).map { b =>
        val mask = 1L << (15 - b)
        sum(expr(s"((h16 div $mask) % 2) * 2 - 1")).as(s"sb_$b")
      }
      tok.groupBy(col("doc_id"))
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          (0 to 15).map(b => when(col(s"sb_$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("simhash16"))
        .orderBy(col("doc_id"))
    }),

    // Incremental ingest dedup — the shape a LIVE corpus runs daily: a new
    // batch (here the doc_id%5==0 slice) is admitted only where its
    // content fingerprint is absent from the already-ingested corpus
    // (LEFT ANTI equi-join against the fingerprint index, which at scale
    // is a persisted narrow table — never the corpus text), then deduped
    // within itself (min doc_id per fingerprint). Two fingerprint-keyed
    // shuffles total, both O(batch); the corpus side is column-pruned to
    // the 16-byte key. Uses the SAME normalized fingerprint as the batch
    // pipeline and the streaming ingest — one key, no drift.
    "q_incremental_dedup" -> ((s, d) => {
      val fp = t(s, d, "documents")
        .select(col("doc_id"), TextOps.normFpExpr.as("fp"))
      val corpusFps = fp.filter(col("doc_id") % 5 =!= 0).select(col("fp")).distinct()
      fp.filter(col("doc_id") % 5 === 0)
        .join(corpusFps, Seq("fp"), "left_anti")
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("fp"), col("n_copies"))
        .orderBy(col("doc_id"))
    })
  )

  /** Oracle CTE chain ending in `comp(doc, comp)` — the connected-component
    * assignment over the MinHash candidate graph. Shared by the
    * q_dedup_resolve oracle and the end-to-end corpus pipeline oracle
    * ([[Pipeline]]); callers must prefix `WITH RECURSIVE`. */
  private[queries] lazy val resolveCtes: String = {
    val mins = (0 until Seeds)
      .map(o => s"MIN(substr(md5(g), ${o + 1}, 16)) AS m$o").mkString(", ")
    val bandRows = (0 until Seeds / 2)
      .map(b => s"SELECT doc_id, $b AS band, m${2 * b} || '|' || m${2 * b + 1} AS bv FROM sig")
      .mkString("\n          UNION ALL ")
    s"""$ngCte,
       |sig AS (SELECT doc_id, $mins FROM ng GROUP BY doc_id),
       |bands AS ($bandRows),
       |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |       FROM bands a
       |       JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |          UNION ALL SELECT doc_b, doc_a FROM pr),
       |walk(doc, lbl) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.lbl FROM edges e JOIN walk w ON w.doc = e.src
       |),
       |comp AS (SELECT doc, MIN(lbl) AS comp FROM walk GROUP BY doc)""".stripMargin
  }

  private val ngCte =
    """toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      |         FROM documents),
      |ng AS (SELECT DISTINCT doc_id, g FROM (
      |         SELECT doc_id,
      |                UNNEST(list_transform(range(1, len(w) - 1),
      |                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
      |         FROM toks WHERE len(w) >= 3) z)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_dup_spans" ->
      s"""WITH $ngCte,
         |dfc AS (SELECT g, COUNT(*) AS df FROM ng GROUP BY g)
         |SELECT ng.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS dup_span_frac,
         |  (CAST(SUM(CASE WHEN dfc.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) < 0.9) AS span_ok
         |FROM ng JOIN dfc USING (g)
         |GROUP BY ng.doc_id ORDER BY ng.doc_id""".stripMargin,

    // replays the shingle-anchored span excision: dup keys by distinct-doc
    // count, start positions via IN (semi), coverage as the bounded
    // range(p, p+SpanL) expansion, kept tokens via NOT EXISTS (anti),
    // reassembly ordered by position — 1:1 with the Spark stages
    "q_substring_dedup" ->
      s"""WITH toks AS (SELECT doc_id,
         |          string_split_regex(lower(trim(text)), '\\s+') AS w
         |        FROM documents),
         |sh AS (SELECT doc_id, p,
         |         array_to_string(list_slice(w, p, p + ${SpanL - 1}), ' ') AS k
         |       FROM toks, UNNEST(range(1, len(w) - ${SpanL - 2})) AS u(p)
         |       WHERE len(w) >= $SpanL),
         |dupk AS (SELECT k FROM sh GROUP BY k
         |         HAVING COUNT(DISTINCT doc_id) >= 2),
         |starts AS (SELECT DISTINCT doc_id, p FROM sh
         |           WHERE k IN (SELECT k FROM dupk)),
         |cov AS (SELECT DISTINCT doc_id, t
         |        FROM starts, UNNEST(range(p, p + $SpanL)) AS u(t)),
         |tk AS (SELECT doc_id, t, w[CAST(t AS INTEGER)] AS tok
         |       FROM toks, UNNEST(range(1, len(w) + 1)) AS u(t)),
         |kept AS (SELECT tk.doc_id, tk.t, tk.tok FROM tk
         |         WHERE NOT EXISTS (SELECT 1 FROM cov
         |           WHERE cov.doc_id = tk.doc_id AND cov.t = tk.t)),
         |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
         |              string_agg(tok, ' ' ORDER BY t) AS cleaned
         |       FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
         |  CAST(len(d.w) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
         |  COALESCE(ka.cleaned, '') AS cleaned_text
         |FROM toks d LEFT JOIN ka USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // replays winnowing with a per-doc window-min over the gram-hash
    // sequence (the oracle's window twin of Spark's in-row array
    // pipeline); full windows only (i <= n_grams - 3), then the same
    // df-capped fingerprint join
    "q_winnowing" ->
      s"""WITH toks AS (SELECT doc_id,
         |          string_split_regex(lower(trim(text)), '\\s+') AS w
         |        FROM documents),
         |g AS (SELECT doc_id, i,
         |        w[CAST(i AS INTEGER)] || ' ' || w[CAST(i + 1 AS INTEGER)]
         |          || ' ' || w[CAST(i + 2 AS INTEGER)] AS gt
         |      FROM toks, UNNEST(range(1, len(w) - 1)) AS u(i)
         |      WHERE len(w) >= 6),
         |h AS (SELECT doc_id, i, (${Sampling.sqlBucketN("gt", 8)}) AS h,
         |        COUNT(*) OVER (PARTITION BY doc_id) AS ng
         |      FROM g),
         |w1 AS (SELECT doc_id, i, ng,
         |         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |       FROM h),
         |fps AS (SELECT DISTINCT doc_id, fp FROM w1 WHERE i <= ng - 3),
         |pd AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id),
         |keep AS (SELECT fp FROM fps GROUP BY fp
         |         HAVING COUNT(*) BETWEEN 2 AND 64),
         |cap AS (SELECT doc_id, fp FROM fps
         |        WHERE fp IN (SELECT fp FROM keep)),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         COUNT(*) AS shared
         |       FROM cap a JOIN cap b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |r AS (SELECT doc_a, doc_b, shared, pa.n_fp AS n_a, pb.n_fp AS n_b,
         |        CAST(shared AS DOUBLE)
         |          / CAST(LEAST(pa.n_fp, pb.n_fp) AS DOUBLE) AS score,
         |        ROW_NUMBER() OVER (ORDER BY shared DESC, doc_a, doc_b) AS rk
         |      FROM pr JOIN pd pa ON pr.doc_a = pa.doc_id
         |              JOIN pd pb ON pr.doc_b = pb.doc_id)
         |SELECT doc_a, doc_b, shared, n_a, n_b, score
         |FROM r WHERE rk <= 50 ORDER BY shared DESC, doc_a, doc_b""".stripMargin,

    "q_dedup_ngram" ->
      s"""WITH $ngCte,
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM ng GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
         |       FROM ng a JOIN ng b ON a.g = b.g AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT doc_a, doc_b, common, ca.n AS n_a, cb.n AS n_b,
         |  CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) AS jaccard
         |FROM pr
         |JOIN cnt ca ON ca.doc_id = doc_a
         |JOIN cnt cb ON cb.doc_id = doc_b
         |WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_ngram_capped" ->
      s"""WITH $ngCte,
         |capv AS (SELECT GREATEST(2, COUNT(*) // 20) AS cap FROM toks WHERE len(w) >= 3),
         |rare AS (SELECT g FROM ng GROUP BY g HAVING COUNT(*) <= (SELECT cap FROM capv)),
         |ng2 AS (SELECT ng.doc_id, ng.g FROM ng JOIN rare USING (g)),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM ng2 GROUP BY doc_id),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
         |       FROM ng2 a JOIN ng2 b ON a.g = b.g AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT doc_a, doc_b, common, ca.n AS n_a, cb.n AS n_b,
         |  CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) AS jaccard
         |FROM pr
         |JOIN cnt ca ON ca.doc_id = doc_a
         |JOIN cnt cb ON cb.doc_id = doc_b
         |WHERE CAST(common AS DOUBLE) / CAST(ca.n + cb.n - common AS DOUBLE) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_minhash" -> {
      val mins = (0 until Seeds)
        .map(o => s"MIN(substr(md5(g), ${o + 1}, 16)) AS m$o").mkString(", ")
      val bandRows = (0 until Seeds / 2)
        .map(b => s"SELECT doc_id, $b AS band, m${2 * b} || '|' || m${2 * b + 1} AS bv FROM sig")
        .mkString("\n          UNION ALL ")
      s"""WITH $ngCte,
         |sig AS (SELECT doc_id, $mins FROM ng GROUP BY doc_id),
         |bands AS ($bandRows)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a
         |JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "q_dedup_cluster_stats" ->
      s"""WITH RECURSIVE $resolveCtes,
         |lab AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component
         |        FROM (SELECT DISTINCT doc_id FROM documents) d
         |        LEFT JOIN comp c ON c.doc = d.doc_id),
         |sz AS (SELECT component, COUNT(*) AS size FROM lab GROUP BY 1),
         |tot AS (SELECT CAST(SUM(size) AS BIGINT) AS tot_docs FROM sz)
         |SELECT size, COUNT(*) AS n_clusters,
         |  CAST(size * COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(size * COUNT(*) AS DOUBLE) / CAST(tot_docs AS DOUBLE) AS doc_share
         |FROM sz, tot GROUP BY size, tot_docs ORDER BY size""".stripMargin,

    "q_dedup_resolve" ->
      s"""WITH RECURSIVE $resolveCtes
         |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS component,
         |  CAST(CASE WHEN COALESCE(c.comp, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM (SELECT DISTINCT doc_id FROM documents) d
         |LEFT JOIN comp c ON c.doc = d.doc_id
         |ORDER BY doc_id""".stripMargin,

    "q_dedup_cross_source" ->
      s"""WITH RECURSIVE $resolveCtes,
         |lab AS (SELECT d.doc_id, d.source,
         |          COALESCE(c.comp, d.doc_id) AS component
         |        FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id),
         |cs AS (SELECT component, COUNT(DISTINCT source) AS n_sources,
         |          COUNT(*) AS nd
         |        FROM lab GROUP BY 1)
         |SELECT n_sources, COUNT(*) AS n_components,
         |  CAST(SUM(nd) AS BIGINT) AS n_docs
         |FROM cs GROUP BY 1 ORDER BY n_sources""".stripMargin,

    "q_dedup_canonical" ->
      s"""WITH RECURSIVE $resolveCtes,
         |lab AS (SELECT d.doc_id, d.n_chars, COALESCE(c.comp, d.doc_id) AS component
         |        FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id),
         |mx AS (SELECT component, MAX(n_chars) AS mx FROM lab GROUP BY component),
         |can AS (SELECT lab.component, MIN(lab.doc_id) AS canonical_id
         |        FROM lab JOIN mx ON lab.component = mx.component
         |                        AND lab.n_chars = mx.mx
         |        GROUP BY lab.component)
         |SELECT lab.doc_id, lab.component, can.canonical_id,
         |  CAST(CASE WHEN lab.doc_id = can.canonical_id THEN 1 ELSE 0 END
         |    AS BIGINT) AS keep
         |FROM lab JOIN can ON lab.component = can.component
         |ORDER BY lab.doc_id""".stripMargin,

    "q_split_leakfree" ->
      s"""WITH RECURSIVE $resolveCtes,
         |lab AS (SELECT d.doc_id, d.n_chars, COALESCE(c.comp, d.doc_id) AS component
         |        FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id),
         |tagged AS (SELECT doc_id, n_chars, component,
         |  CASE WHEN ${Sampling.sqlBucket16("component")} < 52429 THEN 'train'
         |       WHEN ${Sampling.sqlBucket16("component")} < 58982 THEN 'dev'
         |       ELSE 'test' END AS split
         |  FROM lab)
         |SELECT split, COUNT(*) AS n_docs,
         |  CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM tagged GROUP BY split ORDER BY split""".stripMargin,

    "q_dedup_fuzzy" -> {
      val mins = (0 until Seeds)
        .map(o => s"MIN(substr(md5(g), ${o + 1}, 16)) AS m$o").mkString(", ")
      val bandRows = (0 until Seeds / 2)
        .map(b => s"SELECT doc_id, $b AS band, m${2 * b} || '|' || m${2 * b + 1} AS bv FROM sig")
        .mkString("\n          UNION ALL ")
      s"""WITH $ngCte,
         |sig AS (SELECT doc_id, $mins FROM ng GROUP BY doc_id),
         |bands AS ($bandRows),
         |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM bands a
         |       JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
         |  1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) /
         |        CAST(GREATEST(length(da.text), length(db.text)) AS DOUBLE) AS edit_sim
         |FROM pr
         |JOIN documents da ON da.doc_id = pr.doc_a
         |JOIN documents db ON db.doc_id = pr.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "q_record_linkage" ->
      s"""WITH p AS (SELECT p_partkey, p_name, sa[len(sa)] AS blk
         |           FROM (SELECT p_partkey, p_name,
         |                   string_split(p_name, ' ') AS sa FROM part)),
         |cand AS (SELECT l.p_partkey AS l_key, l.p_name AS l_name,
         |           r.p_partkey AS r_key, r.p_name AS r_name,
         |           CAST(levenshtein(l.p_name, r.p_name) AS BIGINT) AS dist
         |         FROM p l JOIN p r ON l.blk = r.blk
         |         WHERE l.p_partkey % 2 = 1 AND r.p_partkey % 2 = 0),
         |flt AS (SELECT * FROM cand WHERE dist <= 4),
         |rk AS (SELECT *, ROW_NUMBER() OVER
         |         (PARTITION BY l_key ORDER BY dist, r_key) AS rn FROM flt)
         |SELECT l_key, l_name, r_key, r_name, dist FROM rk WHERE rn = 1
         |ORDER BY l_key""".stripMargin,

    "q_dedup_sweep" -> {
      val mins = (0 until Seeds)
        .map(o => s"MIN(substr(md5(g), ${o + 1}, 16)) AS m$o").mkString(", ")
      val bandRows = (0 until Seeds / 2)
        .map(b => s"SELECT doc_id, $b AS band, m${2 * b} || '|' || m${2 * b + 1} AS bv FROM sig")
        .mkString("\n          UNION ALL ")
      val matchSum = (0 until Seeds)
        .map(o => s"CASE WHEN sa.m$o = sb.m$o THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $ngCte,
         |sig AS (SELECT doc_id, $mins FROM ng GROUP BY doc_id),
         |bands AS ($bandRows),
         |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM bands a
         |       JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |est AS (SELECT pr.doc_a, pr.doc_b,
         |          CAST(($matchSum) AS DOUBLE) / ${Seeds}.0 AS est
         |        FROM pr JOIN sig sa ON sa.doc_id = pr.doc_a
         |                JOIN sig sb ON sb.doc_id = pr.doc_b),
         |tau AS (SELECT UNNEST([0.5, 0.6, 0.7, 0.8, 0.9]) AS tau),
         |dm AS (SELECT doc, MAX(est) AS mx FROM (
         |         SELECT doc_a AS doc, est FROM est
         |         UNION ALL SELECT doc_b AS doc, est FROM est) GROUP BY doc),
         |np AS (SELECT tau, COUNT(*) AS n_pairs FROM est, tau
         |       WHERE est >= tau GROUP BY tau),
         |nf AS (SELECT tau, COUNT(*) AS n_flagged FROM dm, tau
         |       WHERE mx >= tau GROUP BY tau),
         |tot AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT t.tau, COALESCE(np.n_pairs, 0) AS n_pairs,
         |  COALESCE(nf.n_flagged, 0) AS n_flagged,
         |  CAST(COALESCE(nf.n_flagged, 0) AS DOUBLE)
         |    / CAST(n_docs AS DOUBLE) AS frac_flagged
         |FROM tau t LEFT JOIN np USING (tau) LEFT JOIN nf USING (tau), tot
         |ORDER BY t.tau""".stripMargin
    },

    "q_minhash_estimate" -> {
      val mins = (0 until Seeds)
        .map(o => s"MIN(substr(md5(g), ${o + 1}, 16)) AS m$o").mkString(", ")
      val bandRows = (0 until Seeds / 2)
        .map(b => s"SELECT doc_id, $b AS band, m${2 * b} || '|' || m${2 * b + 1} AS bv FROM sig")
        .mkString("\n          UNION ALL ")
      val matchSum = (0 until Seeds)
        .map(o => s"CASE WHEN sa.m$o = sb.m$o THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $ngCte,
         |sig AS (SELECT doc_id, $mins FROM ng GROUP BY doc_id),
         |bands AS ($bandRows),
         |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM bands a
         |       JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM ng GROUP BY doc_id),
         |cm AS (SELECT pr.doc_a, pr.doc_b, COUNT(*) AS common
         |       FROM pr
         |       JOIN ng na ON na.doc_id = pr.doc_a
         |       JOIN ng nb ON nb.doc_id = pr.doc_b AND nb.g = na.g
         |       GROUP BY 1, 2)
         |SELECT pr.doc_a, pr.doc_b,
         |  CAST(($matchSum) AS DOUBLE) / ${Seeds}.0 AS est_jaccard,
         |  CAST(COALESCE(cm.common, 0) AS DOUBLE) /
         |    CAST(ca.n + cb.n - COALESCE(cm.common, 0) AS DOUBLE) AS true_jaccard
         |FROM pr
         |LEFT JOIN cm ON cm.doc_a = pr.doc_a AND cm.doc_b = pr.doc_b
         |JOIN sig sa ON sa.doc_id = pr.doc_a
         |JOIN sig sb ON sb.doc_id = pr.doc_b
         |JOIN cnt ca ON ca.doc_id = pr.doc_a
         |JOIN cnt cb ON cb.doc_id = pr.doc_b
         |ORDER BY pr.doc_a, pr.doc_b""".stripMargin
    },

    // image near-dup replay: the ARITHMETIC spec of the PNG pipeline —
    // md5-derived luminance grid, integer mean-threshold aHash bits
    // (v·64 >= Σv ⟺ the float v/255 >= mean with the engineered ≥192
    // margin), 4×16-bit band slices, xor popcount rerank; LEAST caps the
    // shift because a vectorized engine may evaluate the THEN branch on
    // false rows (bit 63 is provably 0 — cell 63 is forced low)
    "q_image_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |cell AS (SELECT doc_id, i,
        |    CASE WHEN i = 0 THEN 224 WHEN i = 63 THEN 32
        |         WHEN ((strpos('0123456789abcdef',
        |                substr(md5('img:' || CAST(doc_id // 8 AS VARCHAR) || ':' ||
        |                           CAST(i // 32 AS VARCHAR)),
        |                       CAST(i % 32 AS INTEGER) + 1, 1)) - 1) >= 8)
        |              <> (i = 1 + (doc_id * 7) % 62 OR i = 1 + (doc_id * 13) % 62)
        |         THEN 224 ELSE 32 END AS v
        |  FROM ids, (SELECT UNNEST(range(0, 64)) AS i) ii),
        |sv AS (SELECT doc_id, SUM(v) AS s FROM cell GROUP BY 1),
        |hsh AS (SELECT c.doc_id,
        |    CAST(SUM(CASE WHEN c.v * 64 >= sv.s
        |      THEN (CAST(1 AS BIGINT) << CAST(LEAST(c.i, 62) AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS h
        |  FROM cell c JOIN sv USING (doc_id) GROUP BY 1),
        |bnd AS (SELECT doc_id, h, b,
        |    CASE WHEN b < 3 THEN (h >> CAST(b * 16 AS INTEGER)) & 65535
        |         ELSE h >> 48 END AS bv
        |  FROM hsh, (SELECT UNNEST(range(0, 4)) AS b) bb),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |           a.h AS ha, b2.h AS hb
        |  FROM bnd a JOIN bnd b2
        |    ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Arithmetic replay of the audio fingerprint: the md5-derived 65-slice
    // high/low pattern (with the two id-derived flips and the forced-low
    // slice 64), gradient bit i = low(i) AND high(i+1), then the identical
    // 4×16 Hamming banding — bit-exact because the Spark side's codec
    // round-trip lands on exact power-of-two RMS values.
    "q_audio_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |sl AS (SELECT doc_id, k,
        |    CASE WHEN k = 64 THEN FALSE
        |         ELSE ((strpos('0123456789abcdef',
        |                substr(md5('aud:' || CAST(doc_id // 8 AS VARCHAR) || ':' ||
        |                           CAST(k // 32 AS VARCHAR)),
        |                       CAST(k % 32 AS INTEGER) + 1, 1)) - 1) >= 8)
        |              <> (k = 1 + (doc_id * 7) % 62 OR k = 1 + (doc_id * 13) % 62)
        |         END AS hi
        |  FROM ids, (SELECT UNNEST(range(0, 65)) AS k) kk),
        |hsh AS (SELECT a.doc_id,
        |    CAST(COALESCE(SUM(CASE WHEN (NOT a.hi) AND b.hi
        |      THEN (CAST(1 AS BIGINT) << CAST(a.k AS INTEGER)) ELSE 0 END), 0) AS BIGINT) AS h
        |  FROM sl a JOIN sl b ON b.doc_id = a.doc_id AND b.k = a.k + 1
        |  WHERE a.k < 64
        |  GROUP BY 1),
        |bnd AS (SELECT doc_id, h, b,
        |    CASE WHEN b < 3 THEN (h >> CAST(b * 16 AS INTEGER)) & 65535
        |         ELSE h >> 48 END AS bv
        |  FROM hsh, (SELECT UNNEST(range(0, 4)) AS b) bb),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |           a.h AS ha, b2.h AS hb
        |  FROM bnd a JOIN bnd b2
        |    ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // video near-dup replay: the per-frame image arithmetic (md5 grid →
    // integer mean-threshold aHash, LEAST caps the shift as in the image
    // replay — cell 63 is provably low) lifted to (doc, frame), banded per
    // aligned frame index, then the ≥ 3-of-4 matched-frame pair rollup.
    "q_video_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |cell AS (SELECT doc_id, f, i,
        |    CASE WHEN i = 0 THEN 224 WHEN i = 63 THEN 32
        |         WHEN ((strpos('0123456789abcdef',
        |                substr(md5('vid:' || CAST(doc_id // 8 AS VARCHAR) || ':' ||
        |                           CAST(f AS VARCHAR) || ':' ||
        |                           CAST(i // 32 AS VARCHAR)),
        |                       CAST(i % 32 AS INTEGER) + 1, 1)) - 1) >= 8)
        |              <> (i = 1 + (doc_id * 7 + f * 11) % 62)
        |         THEN 224 ELSE 32 END AS v
        |  FROM ids, (SELECT UNNEST(range(0, 4)) AS f) ff,
        |       (SELECT UNNEST(range(0, 64)) AS i) ii),
        |sv AS (SELECT doc_id, f, SUM(v) AS s FROM cell GROUP BY 1, 2),
        |hsh AS (SELECT c.doc_id, c.f,
        |    CAST(SUM(CASE WHEN c.v * 64 >= sv.s
        |      THEN (CAST(1 AS BIGINT) << CAST(LEAST(c.i, 62) AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS h
        |  FROM cell c JOIN sv ON sv.doc_id = c.doc_id AND sv.f = c.f
        |  GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, f, h, b,
        |    CASE WHEN b < 3 THEN (h >> CAST(b * 16 AS INTEGER)) & 65535
        |         ELSE h >> 48 END AS bv
        |  FROM hsh, (SELECT UNNEST(range(0, 4)) AS b) bb),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |           a.f AS f, a.h AS ha, b2.h AS hb
        |  FROM bnd a JOIN bnd b2
        |    ON a.f = b2.f AND a.b = b2.b AND a.bv = b2.bv
        |       AND a.doc_id < b2.doc_id),
        |fm AS (SELECT doc_a, doc_b, f, bit_count(xor(ha, hb)) AS hm
        |  FROM cand WHERE bit_count(xor(ha, hb)) <= 3)
        |SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS frames_matched,
        |  CAST(SUM(hm) AS BIGINT) AS hamming_sum
        |FROM fm GROUP BY 1, 2 HAVING COUNT(*) >= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // temporal-alignment replay: per-(doc, frame) hash at timeline
    // position f + doc_id % 3, banded WITHOUT the frame key, per-offset
    // support vote, ROW_NUMBER argmax (support desc, |offset|, offset).
    "q_video_offset" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |cell AS (SELECT doc_id, f, i,
        |    CASE WHEN i = 0 THEN 224 WHEN i = 63 THEN 32
        |         WHEN (strpos('0123456789abcdef',
        |                substr(md5('off:' || CAST(doc_id // 8 AS VARCHAR) || ':' ||
        |                           CAST(f + doc_id % 3 AS VARCHAR) || ':' ||
        |                           CAST(i // 32 AS VARCHAR)),
        |                       CAST(i % 32 AS INTEGER) + 1, 1)) - 1) >= 8
        |         THEN 224 ELSE 32 END AS v
        |  FROM ids, (SELECT UNNEST(range(0, 6)) AS f) ff,
        |       (SELECT UNNEST(range(0, 64)) AS i) ii),
        |sv AS (SELECT doc_id, f, SUM(v) AS s FROM cell GROUP BY 1, 2),
        |hsh AS (SELECT c.doc_id, c.f,
        |    CAST(SUM(CASE WHEN c.v * 64 >= sv.s
        |      THEN (CAST(1 AS BIGINT) << CAST(LEAST(c.i, 62) AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS h
        |  FROM cell c JOIN sv ON sv.doc_id = c.doc_id AND sv.f = c.f
        |  GROUP BY 1, 2),
        |bnd AS (SELECT doc_id, f, h, b,
        |    CASE WHEN b < 3 THEN (h >> CAST(b * 16 AS INTEGER)) & 65535
        |         ELSE h >> 48 END AS bv
        |  FROM hsh, (SELECT UNNEST(range(0, 4)) AS b) bb),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        |           a.f AS f_a, b2.f AS f_b, a.h AS ha, b2.h AS hb
        |  FROM bnd a JOIN bnd b2
        |    ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id),
        |votes AS (SELECT doc_a, doc_b, f_b - f_a AS off,
        |    COUNT(*) AS support
        |  FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |  GROUP BY 1, 2, 3),
        |best AS (SELECT doc_a, doc_b, off, support,
        |    ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
        |      ORDER BY support DESC, abs(off), off) AS rn
        |  FROM votes)
        |SELECT doc_a, doc_b, CAST(off AS BIGINT) AS best_offset,
        |  CAST(support AS BIGINT) AS support
        |FROM best WHERE rn = 1 AND support >= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // scene-cut replay: per (doc, frame) hash keyed on scene index
    // f // (1 + doc_id % 3), consecutive-frame xor popcount vs the cut
    // threshold, per-video rollup.
    "q_video_scenes" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |cell AS (SELECT doc_id, f, i,
        |    CASE WHEN i = 0 THEN 224 WHEN i = 63 THEN 32
        |         WHEN (strpos('0123456789abcdef',
        |                substr(md5('scn:' || CAST(doc_id AS VARCHAR) || ':' ||
        |                           CAST(f // (1 + doc_id % 3) AS VARCHAR) || ':' ||
        |                           CAST(i // 32 AS VARCHAR)),
        |                       CAST(i % 32 AS INTEGER) + 1, 1)) - 1) >= 8
        |         THEN 224 ELSE 32 END AS v
        |  FROM ids, (SELECT UNNEST(range(0, 6)) AS f) ff,
        |       (SELECT UNNEST(range(0, 64)) AS i) ii),
        |sv AS (SELECT doc_id, f, SUM(v) AS s FROM cell GROUP BY 1, 2),
        |hsh AS (SELECT c.doc_id, c.f,
        |    CAST(SUM(CASE WHEN c.v * 64 >= sv.s
        |      THEN (CAST(1 AS BIGINT) << CAST(LEAST(c.i, 62) AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS h
        |  FROM cell c JOIN sv ON sv.doc_id = c.doc_id AND sv.f = c.f
        |  GROUP BY 1, 2),
        |cut AS (SELECT a.doc_id,
        |    CASE WHEN bit_count(xor(a.h, b.h)) > 10 THEN 1 ELSE 0 END AS c
        |  FROM hsh a JOIN hsh b ON b.doc_id = a.doc_id AND b.f = a.f + 1)
        |SELECT i.doc_id, CAST(6 AS BIGINT) AS n_frames,
        |  CAST(SUM(c) AS BIGINT) AS n_cuts,
        |  CAST(SUM(c) + 1 AS BIGINT) AS n_scenes
        |FROM ids i JOIN cut ON cut.doc_id = i.doc_id
        |GROUP BY 1 ORDER BY i.doc_id""".stripMargin,

    "q_dedup_simhash" ->
      """WITH tok AS (SELECT DISTINCT doc_id, tkn FROM (
        |         SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tkn
        |         FROM documents) z),
        |bits AS (SELECT doc_id, b,
        |           SUM(2 * (((strpos('0123456789abcdef',
        |                             substr(md5(tkn), CAST(b // 4 AS INT) + 1, 1)) - 1)
        |                     // CAST(POWER(2, 3 - (b % 4)) AS BIGINT)) % 2) - 1) AS sb
        |         FROM tok, (SELECT UNNEST(range(0, 16)) AS b) bb
        |         GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN sb >= 0 THEN CAST(POWER(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash16
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_containment" -> {
      val mins = (0 until Seeds)
        .map(o => s"MIN(substr(md5(g), ${o + 1}, 16)) AS m$o").mkString(", ")
      val bandRows = (0 until Seeds / 2)
        .map(b => s"SELECT doc_id, $b AS band, m${2 * b} || '|' || m${2 * b + 1} AS bv FROM sig")
        .mkString("\n          UNION ALL ")
      s"""WITH $ngCte,
         |sig AS (SELECT doc_id, $mins FROM ng GROUP BY doc_id),
         |bands AS ($bandRows),
         |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM bands a
         |       JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM ng GROUP BY doc_id),
         |cm AS (SELECT pr.doc_a, pr.doc_b, COUNT(*) AS common
         |       FROM pr
         |       JOIN ng na ON na.doc_id = pr.doc_a
         |       JOIN ng nb ON nb.doc_id = pr.doc_b AND nb.g = na.g
         |       GROUP BY 1, 2)
         |SELECT pr.doc_a, pr.doc_b,
         |  CAST(COALESCE(cm.common, 0) AS BIGINT) AS common,
         |  CAST(COALESCE(cm.common, 0) AS DOUBLE) / CAST(ca.n AS DOUBLE) AS contain_a,
         |  CAST(COALESCE(cm.common, 0) AS DOUBLE) / CAST(cb.n AS DOUBLE) AS contain_b,
         |  (GREATEST(CAST(COALESCE(cm.common, 0) AS DOUBLE) / CAST(ca.n AS DOUBLE),
         |            CAST(COALESCE(cm.common, 0) AS DOUBLE) / CAST(cb.n AS DOUBLE))
         |   >= 0.9) AS contained
         |FROM pr
         |LEFT JOIN cm ON cm.doc_a = pr.doc_a AND cm.doc_b = pr.doc_b
         |JOIN cnt ca ON ca.doc_id = pr.doc_a
         |JOIN cnt cb ON cb.doc_id = pr.doc_b
         |ORDER BY pr.doc_a, pr.doc_b""".stripMargin
    },

    // the oracle replays the whole prefix-filter pipeline — df-ranked
    // per-doc shingle prefixes, length-filtered candidate join,
    // exact-integer Jaccard threshold (2·common ≥ union, no float
    // boundary); output contract identical to q_dedup_ngram's
    "q_ssjoin_prefix" ->
      s"""WITH $ngCte,
         |sz AS (SELECT doc_id, COUNT(*) AS sz FROM ng GROUP BY 1),
         |dfx AS (SELECT g, COUNT(*) AS df FROM ng GROUP BY 1),
         |rk AS (SELECT n.doc_id, n.g, s.sz,
         |    ROW_NUMBER() OVER (PARTITION BY n.doc_id ORDER BY d.df, n.g) AS r
         |  FROM ng n JOIN dfx d USING (g) JOIN sz s USING (doc_id)),
         |pfx AS (SELECT doc_id, g, sz FROM rk
         |  WHERE r <= sz - ((sz + 1) // 2) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pfx a JOIN pfx b ON a.g = b.g AND a.doc_id < b.doc_id
         |    AND a.sz <= b.sz * 2 AND b.sz <= a.sz * 2),
         |cm AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS common
         |  FROM cand c
         |  JOIN ng na ON na.doc_id = c.doc_a
         |  JOIN ng nb ON nb.doc_id = c.doc_b AND nb.g = na.g
         |  GROUP BY 1, 2)
         |SELECT cm.doc_a, cm.doc_b, cm.common, sa.sz AS n_a, sb.sz AS n_b,
         |  CAST(cm.common AS DOUBLE)
         |    / CAST(sa.sz + sb.sz - cm.common AS DOUBLE) AS jaccard
         |FROM cm
         |JOIN sz sa ON sa.doc_id = cm.doc_a
         |JOIN sz sb ON sb.doc_id = cm.doc_b
         |WHERE cm.common * 2 >= sa.sz + sb.sz - cm.common
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_incremental_dedup" ->
      """WITH fp AS (SELECT doc_id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |       FROM documents),
        |corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 != 0)
        |SELECT MIN(b.doc_id) AS doc_id, b.fp, COUNT(*) AS n_copies
        |FROM fp b
        |WHERE b.doc_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
        |GROUP BY b.fp ORDER BY doc_id""".stripMargin
  )
}
