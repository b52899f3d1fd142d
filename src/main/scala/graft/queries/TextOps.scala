package graft.queries

import graft.{Num, Tables}
import graft.operators.Prefix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Text analysis over the documents table — language ID, quality scoring,
  * token counting, fingerprinting (training-data-pipeline extensions).
  *
  * All per-document, embarrassingly parallel map work: no shuffle at any
  * scale, all counts integer, divisions double-at-the-end (deterministic
  * vs the DuckDB oracle).
  */
object TextOps {
  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // Stopword alternations per language (n-gram-free heuristic langid).
  private val Stops = Seq(
    "en" -> "(?:the|and|of|to|is|a)",
    "es" -> "(?:el|la|de|que|y|es)",
    "de" -> "(?:der|die|das|und|ist)",
    "fr" -> "(?:le|la|les|et|est)")

  private def hits(lang: String, pat: String) =
    size(regexp_extract_all(lower(col("text")), lit(s"\\b$pat\\b"), lit(0)))
      .as(s"h_$lang")

  /** Char-trigram language model (the fastText-lite shape, round-12
    * directive #7): per language, a literal table of characteristic
    * trigrams with integer distinctiveness weights. score(text, L) = Σ
    * over the text's SLIDING 3-codepoint windows of weight_L(window);
    * integer sums, so both engines agree bit-for-bit. A trigram may carry
    * weight in several languages (weighted voting, like the real model).
    * The stopword tier ([[Stops]]/[[predLangExpr]]) stays as the cheap
    * tier; this one reads signal from morphology, not just isolated
    * function words, so accented/affix-heavy text identifies even when
    * no full stopword appears. The model LIVES in
    * [[graft.expressions.LangTriScores]] — the codegen'd native
    * expression that computes all four scores in one pass (the HOF
    * `aggregate(transform(...))` spelling ran in the interpreter and cost
    * 13× the rest of the query); this side only re-emits it as the
    * oracle's CASE replay. */
  private def TriModel: Seq[(String, Seq[(String, Int)])] =
    graft.expressions.LangTriScores.Model

  private def triCase(lang: String): String =
    TriModel.toMap.apply(lang)
      .map { case (g, w) => s"WHEN '$g' THEN $w" }
      .mkString("CASE g ", " ", " ELSE 0 END")

  /** Per-language trigram score off the native scores array (NULL text →
    * NULL array → score 0, matching the oracle's COALESCE). */
  private def triScore(lang: String): org.apache.spark.sql.Column = {
    val idx = graft.expressions.LangTriScores.Langs.indexOf(lang) + 1
    coalesce(element_at(col("tris"), idx), lit(0L))
  }

  /** DuckDB twin: the sliding windows (`greatest(len-2, 1)` keeps the
    * range ascending on degenerate input — one short window that can
    * never match a 3-char trigram) folded through the model CASE. */
  private def sqlTris: String =
    "list_transform(range(1, greatest(length(lower(text)) - 2, 1) + 1), " +
      "i -> substring(lower(text), CAST(i AS INTEGER), 3))"

  private def sqlTriScore(lang: String): String =
    s"CAST(COALESCE(list_sum(list_transform(tris, g -> ${triCase(lang)})), 0) AS BIGINT)"

  /** Chained trigram argmax over [[graft.expressions.LangTriScores.Langs]]
    * (first in model order wins ties), 'und' when no score is positive —
    * GENERATED from the language list, so widening the model widens every
    * consumer and the oracle in lockstep. */
  private def triArgmaxChain(
      score: String => org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val langs = graft.expressions.LangTriScores.Langs
    langs.zipWithIndex.foldRight(lit("und"): org.apache.spark.sql.Column) {
      case ((l, i), acc) =>
        val cond = langs.drop(i + 1)
          .map(l2 => score(l) >= score(l2))
          .foldLeft(score(l) > 0)(_ && _)
        when(cond, l).otherwise(acc)
    }
  }

  /** The oracle's spelling of [[triArgmaxChain]] over `<prefix><lang>`
    * score columns. */
  private def sqlTriArgmax(prefix: String): String = {
    val langs = graft.expressions.LangTriScores.Langs
    val whens = langs.zipWithIndex.map { case (l, i) =>
      val conds = s"$prefix$l > 0" +:
        langs.drop(i + 1).map(l2 => s"$prefix$l >= $prefix$l2")
      s"WHEN ${conds.mkString(" AND ")} THEN '$l'"
    }
    s"CASE ${whens.mkString(" ")} ELSE 'und' END"
  }

  /** Decile thresholds on the logit axis (q_model_calibration): the
    * score-k/10 boundary is z = ln(k/(10−k)). Shared VERBATIM with the
    * oracle (Scala's shortest-round-trip Double.toString parses back to
    * the identical double in DuckDB), so both engines bin on the same
    * 9 exact literals instead of each calling its own libm exp(). */
  private val calibThr: Seq[Double] =
    (1 to 9).map(k => math.log(k.toDouble / (10 - k)))

  /** Quality-model logit over a `text` column (shared by
    * q_model_calibration and q_auc — one definition, no drift): pure IEEE
    * arithmetic over integer counts with a fixed expression tree, so both
    * engines produce bit-identical doubles; the libm-dependent exp() is
    * applied only AFTER binning/ranking decisions are made on z.
    *
    * DOMAIN: text must be non-empty. punct/chars is 0/0 = NaN on the
    * empty string, and NaN semantics DIVERGE across engines (Spark keeps
    * the NaN row, DuckDB's NULL division drops it from filtered
    * aggregates), so consumers that feed the oracle gate filter
    * `length(text) > 0` in BOTH engines (q_auc, q_isotonic_calibration,
    * q_gate_agreement) rather than rely on a no-empty-text corpus
    * invariant. Inline replicas of this formula (q_quality_model,
    * q_preference_pairs, q_model_calibration) share the same domain. */
  def qualityLogitExpr: org.apache.spark.sql.Column = {
    val wordsD = size(split(trim(col("text")), "\\s+")).cast("double")
    val punctD = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
      .cast("double")
    val stopD = size(regexp_extract_all(lower(col("text")),
      lit("\\b(?:the|and|of|to|is|a)\\b"), lit(0))).cast("double")
    val charsD = length(col("text")).cast("double")
    lit(-1.0) + lit(0.004) * wordsD +
      lit(8.0) * (stopD / wordsD) - lit(12.0) * (punctD / charsD)
  }

  /** Quality verdict over a `text` column (shared by q_text_quality and the
    * end-to-end corpus pipeline — one definition, no drift). */
  def qualityOkExpr: org.apache.spark.sql.Column = {
    val words = size(split(trim(col("text")), "\\s+"))
    val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
    words >= 5 && words <= 1000 && punct * 5 < length(col("text"))
  }

  /** Predicted language over a `text` column — the TRIGRAM tier (argmax
    * of [[TriModel]] scores, 'und' when nothing matches; same tie order
    * as the stopword tier). Pure in-row map work like [[predLangExpr]];
    * prefer it when the input is real multilingual prose — the spec
    * measures it ≥ the stopword tier on a planted multilingual fixture. */
  def predLangNgramExpr: org.apache.spark.sql.Column = {
    val langs = graft.expressions.LangTriScores.Langs
    def sc(l: String) = coalesce(element_at(
      expr("graft_lang_tri(lower(text))"), lit(langs.indexOf(l) + 1)), lit(0L))
    triArgmaxChain(sc)
  }

  /** Predicted language over a `text` column (argmax stopword heuristic). */
  def predLangExpr: org.apache.spark.sql.Column = {
    val Seq(en, es, de, fr) = Stops.map { case (l, p) =>
      size(regexp_extract_all(lower(col("text")), lit(s"\\b$p\\b"), lit(0)))
    }
    when(en >= es && en >= de && en >= fr && en > 0, "en")
      .when(es >= de && es >= fr && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Normalized-text md5 fingerprint — THE exact-dedup key: lowercase,
    * whitespace-collapsed, trimmed. Shared by the batch corpus build
    * (q_pipeline_corpus stage 4) and the streaming ingest's content dedup
    * — one definition, no batch/stream drift. */
  def normFpExpr: org.apache.spark.sql.Column =
    md5(encode(trim(regexp_replace(lower(col("text")), "\\s+", " ")), "UTF-8"))

  // PII patterns — the Java-regex ∩ RE2 subset so Spark and DuckDB agree:
  // no backrefs, no lookaround, plain classes/quantifiers only.
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Occurrences of a PII pattern in a text column. */
  def piiCount(c: org.apache.spark.sql.Column, re: String): org.apache.spark.sql.Column =
    size(regexp_extract_all(c, lit(re), lit(0)))

  /** Text with all three PII patterns redacted to typed placeholders.
    * Order matters: email first (digit-heavy local parts must collapse
    * before the phone pass can see them), then IP, then phone. */
  def piiScrub(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** CCNet-style LM quality gate: documents above this perplexity under the
    * corpus bigram LM are dropped (measured range on the testdata corpus is
    * ~26–38, median ~29.5 — the threshold cuts the worst tail). */
  val PplMax = 32.0

  /** Vocabulary cap for q_vocab_build — the oracle's `rank <= 512` twin. */
  val VocabSize = 512

  /** Merge-candidate scoreboard size for q_bpe_step (rank 1 is the merge). */
  val BpeTopPairs = 64

  /** Merges learned by q_bpe_train / applied by q_bpe_encode. */
  val BpeMerges = 8

  /** Token-frequency cap for q_bpe_encode's output table. */
  val BpeEncodeTop = 64

  /** Weighted distinct-word table (w, wcnt) — the ONLY corpus-sized pass
    * the BPE family makes; everything downstream is vocabulary-sized. */
  private def wordCounts(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))

  /** Per-document bigram-LM score: (doc_id, n_bigrams, logprob, ppl) —
    * ppl = exp(-logprob / n_bigrams) under the LM trained on the SAME
    * corpus (so every scored bigram is in-vocabulary; no smoothing term).
    * This is the CCNet-shape perplexity filter the bigram LM exists for.
    *
    * Scale shape: bigrams are one in-row transform (no positional
    * self-join); the LM is two partial+final aggregates over the bigram
    * table; scoring is ONE shuffle equi-join of the bigram table against
    * the LM keyed by (w1, w2) — fanout exactly 1 (the LM is unique per
    * key), so Zipf-hot bigrams skew partition sizes (AQE rebalances) but
    * never explode rows. The per-doc log-prob sum goes through
    * DECIMAL(28,12) so it is order-independent and bit-identical across
    * engines (the [[graft.Num]] exact-sum discipline); docs with < 2
    * tokens have no bigrams and are absent by definition.
    *
    * MEMOIZED per dataset dir (the labeledDocs discipline applied to the
    * LM gate): the scored table is the narrow per-doc artifact a real
    * pipeline trains/scores once and every downstream gate reads — both
    * consumers (q_lm_perplexity, the q_pipeline_corpus capstone) probe
    * one parquet instead of re-training the LM and re-scoring the
    * corpus. NOT applied to q_bigram_lm, whose registered output IS the
    * training. */
  private[graft] def docPerplexity(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, graft.Assets.dir("bigram_ppl", d) { out =>
      computeDocPerplexity(graft.Tables.load(s, d, "documents"))
        .write.mode("overwrite").parquet(out)
    })

  /** One full train+score build (the path [[docPerplexity]] amortizes). */
  private[graft] def computeDocPerplexity(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> " +
          "struct(element_at(w, i) as w1, element_at(w, i+1) as w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cnt = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val fst = cnt.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
    val lm = cnt.join(fst, "w1")
      .select(col("w1"), col("w2"),
        (col("c").cast("double") / col("c1").cast("double")).as("prob"))
    bg.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log(col("prob")).cast("decimal(28,12)")).cast("double").as("logprob"))
      .select(col("doc_id"), col("n_bigrams"), col("logprob"),
        exp(-col("logprob") / col("n_bigrams").cast("double")).as("ppl"))
  }

  /** (c, r): every vocabulary word's corpus count with its GLOBAL
    * frequency rank (1 = most frequent; ties by word): a
    * [[graft.operators.Prefix]] rank over (count desc, word-prefix)
    * buckets. The word prefix is a PREFIX of the tie-break key, so
    * bucket-major order equals (c desc, w) exactly — and the hapax
    * stratum (half the vocabulary at c=1) fans out over ~1.3k prefix
    * buckets instead of one task's sort. Shared by q_zipf_fit and
    * q_vocab_coverage. */
  private def rankedVocab(s: SparkSession, d: String): DataFrame = {
    val wc = t(s, d, "documents")
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .withColumn("wb", substring(col("w"), 1, 2))
    Prefix(wc, within = Nil, buckets = Seq(Prefix.desc("c"), Prefix.asc("wb")),
        order = Seq(col("w")), measures = Seq(Prefix.Rank("r")), inclusive = true)
      .select(col("c"), col("r"))
  }

  val queries: Map[String, QFn] = Map(
    // Token-coverage curve — the tokenizer-design primitive: what share
    // of all corpus TOKENS does a top-k frequency vocabulary cover? (The
    // vocab-size-vs-OOV trade every tokenizer build starts from; Zipf
    // says coverage grows fast then crawls — this measures it.) Built on
    // the same distributed [[rankedVocab]] as q_zipf_fit; the coverage
    // at each checkpoint is a CONDITIONAL SUM over ranks (r ≤ k), so the
    // whole curve is one map-side-combined aggregate — no running sum,
    // no second window. Exact integer sums → double division is
    // engine-identical.
    "q_vocab_coverage" -> ((s, d) => {
      val ranked = rankedVocab(s, d)
      val ks = Seq(64L, 256L, 1024L, 4096L)
      val aggs = count(lit(1)).as("n_types") +: sum(col("c")).as("n_tokens") +:
        ks.map(k => sum(when(col("r") <= k, col("c")).otherwise(0L)).as(s"cov$k"))
      val m = ranked.agg(aggs.head, aggs.tail: _*)
      val tot = col("n_tokens").cast("double")
      m.select(col("n_types") +: col("n_tokens") +: ks.map(k =>
        (col(s"cov$k").cast("double") / tot).as(s"coverage_top$k")): _*)
    }),


    // The bigram LM APPLIED — per-document perplexity + keep verdict (the
    // quality gate q_bigram_lm's table exists for; also the fourth stage
    // of q_pipeline_corpus).
    "q_lm_perplexity" -> ((s, d) =>
      docPerplexity(s, d)
        .withColumn("lm_ok", col("ppl") <= PplMax)
        .orderBy(col("doc_id"))),

    // CCNet-STYLE PERPLEXITY BUCKETS (Wenzek et al. 2020): per language,
    // split the corpus into head/middle/tail thirds by LM perplexity —
    // the standard recipe for grading crawl text by fluency before
    // choosing which thirds to train on. Reads the memoized bigram-LM
    // asset (one train+score per dataset dir, shared with
    // q_lm_perplexity / the pipeline capstone). Thirds are EXACT-RANK
    // cuts, not interpolated quantiles: rank by normalized log-prob
    // (nlp = −logprob/n_bigrams — a bit-identical double in both
    // engines, unlike exp(nlp) whose libm may differ in the last ulp)
    // via a [[graft.operators.Prefix]] rank per language over coarse
    // ⌊4·nlp⌋ bins, so no single-partition window ever sees a whole
    // language; the bucket verdict is integer logic (3r ≤ n / 3r ≤ 2n).
    // Docs under 2 words have no LM rows and take no bucket, as in
    // q_lm_perplexity.
    "q_ppl_buckets" -> ((s, d) => {
      val scored = docPerplexity(s, d)
        .select(col("doc_id"), col("ppl"),
          (-col("logprob") / col("n_bigrams").cast("double")).as("nlp"))
        .join(t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("fl", floor(col("nlp") * 4).cast("long"))
      Prefix(scored, within = Seq("lang"), buckets = Seq(Prefix.asc("fl")),
          order = Seq(col("nlp"), col("doc_id")),
          measures = Seq(Prefix.Rank("r", total = Some("n"))), inclusive = true)
        .withColumn("bucket",
          when(col("r") * 3 <= col("n"), "head")
            .when(col("r") * 3 <= col("n") * 2, "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("lang"), col("ppl"), col("r"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition filter: duplicate-word fraction, most-
    // frequent-word fraction, most-frequent-bigram fraction + verdict
    // (thresholds sit just above this corpus's medians: top-word 0.15,
    // top-bigram 0.08 — heavily repetitive machine text trips them).
    // Scale shape: two (doc, term)-keyed partial+final aggregates (word
    // counts, bigram counts) each collapsed by a doc-keyed aggregate —
    // every stage is map-side combined, nothing exceeds the token table,
    // and the two branches join 1:1 on doc_id.
    "q_repetition_filter" -> ((s, d) => {
      val docsW = t(s, d, "documents")
        .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      val wc = docsW.select(col("doc_id"), explode(col("w")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      val byDoc = wc.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_word_n"))
      val bc = docsW.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), i -> " +
            "concat_ws(' ', element_at(w, i), element_at(w, i+1)))")).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      val bDoc = bc.groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_n"))
      val topW = col("top_word_n").cast("double") / col("n_words").cast("double")
      val topB = col("top_bigram_n").cast("double") / col("n_bigrams").cast("double")
      byDoc.join(bDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          (lit(1.0) - col("n_distinct").cast("double") / col("n_words").cast("double"))
            .as("dup_word_frac"),
          topW.as("top_word_frac"),
          topB.as("top_bigram_frac"),
          (topW <= 0.15 && coalesce(topB <= 0.08, lit(true))).as("rep_ok"))
        .orderBy(col("doc_id"))
    }),

    // PII scrub: redact email / phone / IPv4 patterns and count what was
    // removed — the privacy pass every released training corpus runs.
    // Pure map work (regex extract + replace, no shuffle at any scale);
    // the patterns are cross-engine (Java regex ∩ RE2) and the scrub
    // expressions are shared with TextOpsSpec, which proves the redaction
    // on synthetic PII (this corpus is clean, so the query's counts are
    // zero — the spec is where the behavior is exercised).
    // Counts report what each redaction pass actually REMOVES: emails are
    // counted on the raw text, IPs after the email pass, phones after the
    // email+IP passes — so a digit-heavy email local part counts (and is
    // redacted) once as <EMAIL>, never double-counted as a phone.
    "q_pii_scrub" -> ((s, d) => {
      val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
      val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
      t(s, d, "documents")
        .select(col("doc_id"),
          piiCount(col("text"), EmailRe).as("n_emails"),
          piiCount(afterIp, PhoneRe).as("n_phones"),
          piiCount(afterEmail, Ipv4Re).as("n_ips"),
          regexp_replace(afterIp, PhoneRe, "<PHONE>").as("scrubbed"))
        .withColumn("pii_free",
          col("n_emails") + col("n_phones") + col("n_ips") === 0)
        .orderBy(col("doc_id"))
    }),

    // Document CHUNKING: overlapping token windows (size 64, stride 48) —
    // the pre-tokenization split every long-context training pipeline
    // runs. Pure in-row work (one transform + posexplode over the token
    // array), no shuffle at any scale; the chunk key is (doc_id,
    // chunk_id) with start_tok carried for downstream stitch-back.
    "q_doc_chunks" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, size(w), 48), st -> named_struct(" +
            "'start_tok', cast(st as bigint), " +
            "'n_tokens', cast(size(slice(w, st, 64)) as bigint), " +
            "'chunk_text', concat_ws(' ', slice(w, st, 64))))")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_id"),
          col("col.start_tok").as("start_tok"), col("col.n_tokens").as("n_tokens"),
          col("col.chunk_text").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Sequence PACKING: concatenate the corpus in doc_id order and cut it
    // into fixed 512-token context windows — each doc's global token
    // offset decides which windows it spans (the LLM-training batch
    // layout). The global offset is an exclusive
    // [[graft.operators.Prefix]] sum over `doc_id div 1000` buckets
    // (range-aligned with the ordering key), not a single-partition
    // window over the corpus.
    "q_seq_pack" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          size(split(trim(lower(col("text"))), "\\s+")).cast("long").as("n_tokens"))
        .withColumn("bucket", expr("doc_id div 1000"))
      Prefix(docs, within = Nil, buckets = Seq(Prefix.asc("bucket")),
          order = Seq(col("doc_id")),
          measures = Seq(Prefix.Sum("tok_offset", col("n_tokens"))), inclusive = false)
        .select(col("doc_id"), col("n_tokens"), col("tok_offset"),
          expr("tok_offset div 512").as("start_win"),
          expr("(tok_offset + n_tokens - 1) div 512").as("end_win"))
        .orderBy(col("doc_id"))
    }),

    // MODEL-BASED quality scoring: a fixed-weight logistic classifier over
    // the rule-based signals (the fasttext-style learned quality gate a
    // curation pipeline ships once trained — here the "model" is literal
    // weights, so inference is pure codegen'd map work and the oracle
    // reproduces it exactly). score = sigmoid(w·x); at 100 TB this is the
    // shape any shipped scorer should have: no UDF, no per-row JNI, just
    // column arithmetic the optimizer can fuse with the rest of the scan.
    "q_quality_model" -> ((s, d) => {
      val words = size(split(trim(col("text")), "\\s+")).cast("double")
      val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
        .cast("double")
      val stop = size(regexp_extract_all(lower(col("text")),
        lit("\\b(?:the|and|of|to|is|a)\\b"), lit(0))).cast("double")
      val chars = length(col("text")).cast("double")
      // weights: longer docs + stopword density up, punctuation density down
      val z = lit(-1.0) + lit(0.004) * words +
        lit(8.0) * (stop / words) - lit(12.0) * (punct / chars)
      val score = lit(1.0) / (lit(1.0) + exp(-z))
      t(s, d, "documents")
        .select(col("doc_id"), z.as("logit"), score.as("score"),
          (score >= 0.5).as("model_ok"))
        .orderBy(col("doc_id"))
    }),

    // PREFERENCE-PAIR batch construction (the RLHF/DPO loader shape):
    // per prompt-group — here the (lang, source) slice — emit ONE
    // (chosen, rejected) document pair: the group's best and worst under
    // the verified q_quality_model scorer. Composition discipline: the
    // scorer is the same literal-weight logistic (pure codegen'd map
    // work), the pair selection is TWO in-aggregate argmaxes per group
    // (max/min over struct — the library's distributed-argmax idiom, no
    // window, no per-group sort), so the whole query is one scan + one
    // |groups|-sized aggregate at any scale. Ordering runs on the LOGIT
    // (bit-identical IEEE arithmetic over integer counts in both
    // engines), never on the exp'd score (1-ulp libm risk — the
    // q_model_calibration lesson); ties break on doc_id. Groups need
    // ≥ 2 docs (chosen ≠ rejected by construction).
    "q_preference_pairs" -> ((s, d) => {
      val words = size(split(trim(col("text")), "\\s+")).cast("double")
      val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
        .cast("double")
      val stop = size(regexp_extract_all(lower(col("text")),
        lit("\\b(?:the|and|of|to|is|a)\\b"), lit(0))).cast("double")
      val chars = length(col("text")).cast("double")
      val z = lit(-1.0) + lit(0.004) * words +
        lit(8.0) * (stop / words) - lit(12.0) * (punct / chars)
      val sig = lit(1.0) / (lit(1.0) + exp(-col("z")))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), z.as("z"))
        .withColumn("score", sig)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          // ties: chosen → lowest doc_id, rejected → HIGHEST doc_id, so
          // an all-tied group still yields a valid (distinct) pair
          max(struct(col("z"), negate(col("doc_id")).as("nid"),
            col("doc_id"), col("score"))).as("ch"),
          min(struct(col("z"), negate(col("doc_id")).as("nid"),
            col("doc_id"), col("score"))).as("rj"))
        .filter(col("n_docs") >= 2)
        .select(col("lang"), col("source"), col("n_docs"),
          col("ch.doc_id").as("chosen_id"),
          col("rj.doc_id").as("rejected_id"),
          col("ch.score").as("chosen_score"),
          col("rj.score").as("rejected_score"),
          (col("ch.z") - col("rj.z")).as("margin_logit"))
        .orderBy(col("lang"), col("source"))
    }),

    // MODEL CALIBRATION panel (reliability diagram, DeGroot & Fienberg
    // 1983) — the model-QA table run before trusting a learned quality
    // scorer at corpus scale: bin the model's probability into deciles
    // and compare, per bin, the mean predicted score against the
    // OBSERVED pass rate of the independent rule gate (q_text_quality's
    // verdict as the reference label). A well-calibrated scorer tracks
    // the diagonal; the per-bin gap is the miscalibration the serving
    // threshold must absorb. Shape at 100 TB: both scorers are pure
    // in-row map work over one scan, the panel is ONE ≤10-group
    // map-side-combinable aggregate — no join, no window, no second
    // pass. Decimal-exact mean keeps the bin means engine-identical.
    "q_model_calibration" -> ((s, d) => {
      val z = qualityLogitExpr
      val score = lit(1.0) / (lit(1.0) + exp(-col("z")))
      val wordsI = size(split(trim(col("text")), "\\s+"))
      val punctI = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
      val gateOk = wordsI >= 5 && wordsI <= 1000 &&
        punctI * 5 < length(col("text"))
      // Decile from the LOGIT, not the score (round-11 advice):
      // floor(score·10) would make the bin depend on the bit-identity of
      // exp() across libms (each only 1-ulp-accurate) exactly at bin
      // boundaries; z is pure IEEE arithmetic over integer counts with a
      // fixed expression tree — bit-identical in both engines — and the
      // boundaries move to the shared [[calibThr]] double literals
      // (score ≥ k/10 ⟺ z ≥ ln(k/(10−k))).
      t(s, d, "documents")
        .select(z.as("z"), gateOk.as("ok"))
        .withColumn("score", score)
        .withColumn("decile", calibThr
          .map(v => when(col("z") >= lit(v), 1L).otherwise(0L))
          .reduce(_ + _))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          Num.davg(col("score")).as("mean_score"),
          (sum(when(col("ok"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)).cast("double")).as("gate_pass_rate"))
        .withColumn("calib_gap", col("mean_score") - col("gate_pass_rate"))
        .orderBy(col("decile"))
    }),

    // ROC AUC of the quality logit as an English detector — the
    // ranking-power scalar next to q_model_calibration's reliability
    // panel (calibration says "are the probabilities honest", AUC says
    // "does the score ORDER positives above negatives at all"). The
    // label is the corpus's own lang tag (lang = 'en'): z's stopword
    // term counts ENGLISH stopwords, so AUC measures exactly how much
    // language signal leaks into the quality score — the standard bias
    // audit before gating a multilingual corpus on an English-trained
    // scorer. (The rule gate itself is useless as the label here: it
    // passes every sf document, making that AUC vacuous.) Rank-based
    // (Mann–Whitney U): AUC is invariant to any monotone transform of
    // the score, so it is computed on the logit z directly — pure IEEE
    // arithmetic over integer counts with a fixed expression tree,
    // bit-identical across engines, never exp() (the q_model_calibration
    // lesson). Tie-aware via the grouped half-credit formulation
    // pos_z · (2·cumneg_below + neg_z), INTEGER to the end; the one
    // double division happens at the exit. Distribution shape: one
    // per-doc map pass, one groupBy(z) (map-side combined), and the
    // cumulative negative count as an exclusive [[graft.operators.Prefix]]
    // sum over rangeBucket(z) buckets; NO global single-partition row
    // sort at any scale.
    // Products run in DECIMAL(19,0)×DECIMAL(19,0)→(38,0): at 100 TB
    // pos·cumneg exceeds 2^53 and a double sum would silently round.
    "q_auc" -> ((s, d) => {
      val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val z = qualityLogitExpr
      // z > -13 always (the negative terms are bounded: punct/chars ≤ 1,
      // stop/words ≥ 0), so z+16 is safely in rangeBucket's non-negative
      // contract; equal z → same bucket, bucket order = value order.
      val grouped = t(s, d, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          length(col("text")) > 0)
        .select(z.as("z"), (col("lang") === "en").as("ok"))
        .groupBy(col("z"))
        .agg(sum(when(col("ok"), 1L).otherwise(0L)).as("pos_z"),
          sum(when(col("ok"), 0L).otherwise(1L)).as("neg_z"))
        .withColumn("rb", Num.rangeBucket(col("z") + lit(16.0)))
        // Prefix reads the histogram twice; lazy, each read re-runs the
        // per-doc regexes (measured 3x slower at sf0.1), so persist it
        .persist(StorageLevel.MEMORY_AND_DISK)
      Prefix(grouped, within = Nil, buckets = Seq(Prefix.asc("rb")),
          order = Seq(col("z")),
          measures = Seq(Prefix.Sum("cumneg", col("neg_z"))), inclusive = false)
        .select(col("pos_z"), col("neg_z"),
          (col("pos_z").cast(d19) *
            (lit(2L) * col("cumneg") + col("neg_z")).cast(d19))
            .as("half2"))
        .agg(sum(col("pos_z")).as("n_pos"), sum(col("neg_z")).as("n_neg"),
          sum(col("half2")).as("s2"))
        .filter(col("n_pos") > 0L && col("n_neg") > 0L)
        .select(col("n_pos"), col("n_neg"),
          (col("s2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
            .as("auc"))
        .withColumn("gini_coef", lit(2.0) * col("auc") - lit(1.0))
    }),

    // ISOTONIC CALIBRATION (Pool-Adjacent-Violators) — the standard fix
    // once the reliability panel shows a scorer off the diagonal:
    // project the per-decile observed label rates onto the monotone cone
    // (Robertson et al. 1988; sklearn's isotonic), giving the
    // calibration MAP a serving layer applies. The label is lang='en'
    // (the q_auc pairing — the scorer as an English detector, whose raw
    // decile rates are genuinely non-monotone so PAV does real pooling;
    // the rule gate passes every sf document, which would make this
    // vacuous). PAV is inherently sequential, but the CLOSED FORM of the
    // weighted isotonic fit needs no iteration at all:
    //   iso_i = max_{j<=i} min_{k>=i} (Sigma p_{j..k}) / (Sigma n_{j..k})
    // and the triple (j, i, k) index lives on the BIN table — 10 rows at
    // any corpus size (the q_backtest_forecast model-size discipline),
    // so the whole fit is two prefix sums, one <=55-row interval frame,
    // and two tiny aggregates. (An earlier unrolled adjacent-pooling
    // formulation could 2-cycle because re-segmentation split previously
    // pooled blocks — the stack-PAV replay in TextOpsSpec caught it; the
    // closed form has no convergence question.) Interval means stay
    // INTEGER sums with one double division — engine-identical; the
    // data is touched once for the bin counts.
    "q_isotonic_calibration" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val z = qualityLogitExpr
      val decile = calibThr
        .map(v => when(z >= lit(v), 1L).otherwise(0L))
        .reduce(_ + _)
      val bins = t(s, d, "documents")
        .filter(col("text").isNotNull && col("lang").isNotNull &&
          length(col("text")) > 0)
        .select(decile.as("b"),
          when(col("lang") === "en", 1L).otherwise(0L).as("ok"))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n0"), sum(col("ok")).as("p0"))
      // prefix sums over the <=10-row bin frame (model-sized global
      // window, the q_backtest_forecast exception)
      val wc = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = bins
        .withColumn("cn", sum(col("n0")).over(wc))
        .withColumn("cp", sum(col("p0")).over(wc))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val jf = pre.select(col("b").as("bj"),
        (col("cn") - col("n0")).as("jn"), (col("cp") - col("p0")).as("jp"))
      val kf = pre.select(col("b").as("bk"), col("cn").as("kn"), col("cp").as("kp"))
      val intervals = jf.join(broadcast(kf), col("bj") <= col("bk"))
        .select(col("bj"), col("bk"),
          ((col("kp") - col("jp")).cast("double") /
            (col("kn") - col("jn")).cast("double")).as("ratio"))
      val iso = pre.select(col("b").as("bi"))
        .join(broadcast(intervals),
          col("bj") <= col("bi") && col("bk") >= col("bi"))
        .groupBy(col("bi"), col("bj")).agg(min(col("ratio")).as("mn"))
        .groupBy(col("bi")).agg(max(col("mn")).as("iso"))
      pre.join(broadcast(iso), col("b") === col("bi"))
        .select(col("b").as("bin"), col("n0").as("n_docs"),
          (col("p0").cast("double") / col("n0").cast("double")).as("raw_rate"),
          col("iso").as("iso_rate"))
        .orderBy(col("bin"))
    }),

    // GATE AGREEMENT — do the rule gate and the learned scorer make the
    // SAME call on the same documents? The two-rater audit (Cohen 1960;
    // McNemar 1947) a pipeline runs before swapping gates: the 2×2
    // confusion matrix between the rule verdict and the scorer at its
    // serving threshold (score ≥ 0.5 ⟺ z ≥ 0 — decided on the logit
    // axis in exact IEEE arithmetic, the q_model_calibration lesson),
    // chance-corrected agreement κ = (p_o − p_e)/(1 − p_e), and
    // McNemar's χ² = (b−c)²/(b+c) on the discordant cells — the paired
    // test for "is one gate systematically stricter". Shape at 100 TB:
    // per-doc booleans are in-row map work over ONE text-only scan; the
    // matrix is a single global 4-sum aggregate (map-side combined) and
    // every statistic is computed on that 1-row frame from integer
    // counts — no join, no window, no second pass.
    "q_gate_agreement" -> ((s, d) => {
      val aGate = qualityOkExpr
      val bGate = qualityLogitExpr >= lit(0.0)
      val m = t(s, d, "documents")
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(aGate.as("a"), bGate.as("b"))
        .agg(sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n_both_pass"),
          sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n_rule_only"),
          sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n_model_only"),
          sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n_both_fail"))
      val n = (col("n_both_pass") + col("n_rule_only") +
        col("n_model_only") + col("n_both_fail")).cast("double")
      val po = (col("n_both_pass") + col("n_both_fail")).cast("double") / n
      val pa1 = (col("n_both_pass") + col("n_rule_only")).cast("double") / n
      val pb1 = (col("n_both_pass") + col("n_model_only")).cast("double") / n
      val pe = pa1 * pb1 + (lit(1.0) - pa1) * (lit(1.0) - pb1)
      val bc = col("n_rule_only") + col("n_model_only")
      val bmc = (col("n_rule_only") - col("n_model_only")).cast("double")
      m.select(col("n_both_pass"), col("n_rule_only"),
        col("n_model_only"), col("n_both_fail"),
        po.as("p_agree"),
        // κ is 0/0 when both raters are constant AND equal (p_e = 1):
        // agreement is then perfect, so release 1.0, not NaN
        when(lit(1.0) - pe === lit(0.0), lit(1.0))
          .otherwise((po - pe) / (lit(1.0) - pe)).as("kappa"),
        when(bc === 0L, lit(0.0))
          .otherwise(bmc * bmc / bc.cast("double")).as("mcnemar_chi2"))
    }),

    // GATE ATTRIBUTION — the filter-funnel ablation panel every corpus
    // build reads before shipping: for each quality gate, how many docs
    // fail it at all, how many docs ONLY it rejects (its unique
    // contribution), and how many docs would pass if it were dropped
    // (the marginal recovery). This is the standard diagnosis for "which
    // filter is eating my data" (cf. Gopher/RefinedWeb filtering
    // ablations). Gate predicates are the integer-exact ones shared with
    // q_text_quality. Shape at 100 TB: per-doc booleans are pure in-row
    // map work over ONE scan; everything collapses into a single global
    // aggregate (map-side combined, 13 sums), and the 4-row unpivot +
    // rate arithmetic happen on that 1-row model-sized frame — no join,
    // no window, no second pass over the corpus.
    "q_gate_attribution" -> ((s, d) => {
      val words = size(split(trim(col("text")), "\\s+"))
      val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
      val stop = size(regexp_extract_all(lower(col("text")),
        lit("\\b(?:the|and|of|to|is|a)\\b"), lit(0)))
      val p = Seq(
        "g1_min_words" -> (words >= 5),
        "g2_max_words" -> (words <= 1000),
        "g3_punct" -> (punct * 5 < length(col("text"))),
        "g4_stopword" -> (stop >= 1))
      val flagged = t(s, d, "documents").select(
        p.map { case (n, c) => when(c, 1L).otherwise(0L).as(n) }: _*)
      def s0(c: org.apache.spark.sql.Column) = coalesce(sum(c), lit(0L))
      val passAll = p.map(g => col(g._1)).reduce(_ * _)
      val aggCols = p.map { case (n, _) =>
        val others = p.filter(_._1 != n).map(g => col(g._1)).reduce(_ * _)
        struct(
          s0(lit(1L) - col(n)).as("n_fail"),
          s0((lit(1L) - col(n)) * others).as("n_only_fail"),
          s0(others).as("n_pass_without")).as(n)
      } ++ Seq(s0(passAll).as("n_pass_all"), count(lit(1)).as("n_docs"))
      val one = flagged.agg(aggCols.head, aggCols.tail: _*)
      one.select(explode(array(p.map { case (n, _) =>
          struct(lit(n).as("gate"), col(s"$n.n_fail").as("n_fail"),
            col(s"$n.n_only_fail").as("n_only_fail"),
            col(s"$n.n_pass_without").as("n_pass_without"))
        }: _*)).as("g"), col("n_pass_all"), col("n_docs"))
        .select(col("g.gate").as("gate"), col("g.n_fail").as("n_fail"),
          col("g.n_only_fail").as("n_only_fail"),
          col("g.n_pass_without").as("n_pass_without"),
          col("n_pass_all"), col("n_docs"),
          // empty-shard floor (EmptyAllSpec): ANSI div throws on 0 docs
          when(col("n_docs") === 0, lit(0.0)).otherwise(
            (col("g.n_pass_without") - col("n_pass_all")).cast("double") /
              col("n_docs").cast("double")).as("marginal_rate"))
        .orderBy(col("gate"))
    }),

    // DATASET CARD — the datasheet table a corpus release ships with
    // (Gebru et al., "Datasheets for Datasets"): per-(lang, source)
    // census with corpus shares. Two aggregates — one grouped (map-side
    // combined), one global collapsed to a 1-row broadcast joined onto
    // the group rows — no window, no distinct, no corpus shuffle beyond
    // the |groups|-sized aggregate; the identical plan at 100 TB.
    "q_dataset_card" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("lang"), col("source"), col("n_chars"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
      val g = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("toks")).as("sum_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
      val tot = docs.agg(count(lit(1)).as("tot_docs"),
        sum(col("n_chars")).as("tot_chars"))
      g.crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n_docs"), col("sum_chars"),
          col("sum_tokens"), col("min_chars"), col("max_chars"),
          (col("n_docs").cast("double") / col("tot_docs").cast("double"))
            .as("doc_share"),
          (col("sum_chars").cast("double") / col("tot_chars").cast("double"))
            .as("char_share"))
        .orderBy(col("lang"), col("source"))
    }),

    // Token counting: whitespace tokens + a BPE-ish regex segmentation.
    "q_token_count" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe_tokens"),
          length(col("text")).as("chars"))
        .orderBy(col("doc_id"))),

    // TOKENIZER FERTILITY panel — the per-language tokenizer-efficiency
    // census (fertility = subword tokens per word; chars per token):
    // the standard diagnostic for how fairly one tokenizer taxes each
    // language's context budget (cf. multilingual-tokenizer fertility
    // analyses around mBERT/XLM-R). Composes the two verified q_token_count
    // segmentations; integer sums per lang, ratios on the |langs|-sized
    // aggregate. One scan + one map-side-combined aggregate — no join,
    // no window, the identical plan at 100 TB.
    "q_tokenizer_fertility" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("ws"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe"),
          length(col("text")).cast("long").as("chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"),
          sum(col("chars")).as("chars"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"),
          col("bpe_tokens"), col("chars"),
          (col("bpe_tokens").cast("double") / col("ws_tokens").cast("double"))
            .as("fertility"),
          (col("chars").cast("double") / col("bpe_tokens").cast("double"))
            .as("chars_per_token"))
        .orderBy(col("lang"))),

    // HASHING-TRICK featurizer (Weinberger et al. 2009 — the
    // HashingVectorizer shape): each token lands in one of 256 buckets by
    // hash, with a ±1 sign drawn from the next hash bit so collisions
    // cancel in expectation — the fixed-width, vocabulary-free text
    // featurization that needs NO trained vocab table and therefore no
    // broadcast at inference. Per document: nonzero width, L1 and
    // squared-L2 of the signed bucket sums — the feature-vector stats a
    // training loader QAs before fitting. Shape at 100 TB: one token
    // explode → one (doc, bucket) aggregate → one doc aggregate, all
    // map-side combinable, all integer math (oracle-exact), hashing via
    // the codegen'd graft_md5_u32.
    "q_feature_hash" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tkn"))
        .withColumn("h", expr("graft_md5_u32(tkn)"))
        .select(col("doc_id"), (col("h") % 256).as("bkt"),
          when(expr("(h div 256) % 2") === 0, 1L).otherwise(-1L).as("sgn"))
        .groupBy(col("doc_id"), col("bkt"))
        .agg(sum(col("sgn")).as("v"))
        .filter(col("v") =!= 0)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_nonzero"),
          sum(abs(col("v"))).as("l1"),
          sum(col("v") * col("v")).as("l2_sq"))
        .orderBy(col("doc_id"))),

    // Corpus VOCABULARY build — the tokenizer-training precursor: global
    // token counts + document frequencies, deterministically ranked
    // (count desc, token asc) and capped at VocabSize. Scale shape: one
    // token-keyed partial+final aggregate over the exploded token table
    // (map-side combined; count(distinct doc_id) expands to a two-level
    // aggregate, still token-keyed — never doc×token materialized twice),
    // then TakeOrdered top-N on the rank key; the single-partition
    // row_number window runs over the N-row RESULT (model-sized), never
    // the corpus-sized aggregate.
    "q_vocab_build" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("token"))
      toks.groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("cnt").desc, col("token")).limit(VocabSize)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("token"))).cast("long"))
        .orderBy(col("rank"))
    }),

    // One BPE TRAINING step — the tokenizer-training kernel that
    // q_vocab_build is the precursor to: adjacent symbol-pair frequencies,
    // deterministically ranked (count desc, pair asc); rank 1 is the merge
    // a BPE trainer (Sennrich et al. 2016) would apply this iteration.
    // Scale shape: the corpus collapses to the DISTINCT-WORD table FIRST
    // (one token-keyed partial+final aggregate; vocabulary grows ~log of
    // corpus size, so the word table is a few million rows at 100 TB) and
    // pair explosion + the pair-keyed aggregate run over that word table
    // WEIGHTED BY word count — never over corpus tokens. This
    // count-once-then-pair factorization is exactly how production BPE
    // trainers scale; the alphabet-sized pair aggregate is a broadcastable
    // result, and the row_number window sees only the capped scoreboard.
    "q_bpe_step" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.operators.Bpe.pairCounts(
          graft.operators.Bpe.symbolized(wordCounts(s, d), Nil))
        .orderBy(col("cnt").desc, col("sym_l"), col("sym_r")).limit(BpeTopPairs)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("sym_l"), col("sym_r"))).cast("long"))
        .orderBy(col("rank"))
    }),

    // The BPE TRAINING LOOP — q_bpe_step iterated, via
    // [[graft.operators.Bpe]]: 8 rounds of (pair-count aggregate over the
    // distinct-word table → 1-row argmax collect → literal replace). The
    // output is the learned merge table itself — model state, like
    // q_kmeans_train's centroids — and the DuckDB oracle replays every
    // round as chained CTEs (same argmax tie-break, same left-to-right
    // replace semantics), matching bit-for-bit.
    "q_bpe_train" -> ((s, d) => {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types._
      val merges = graft.operators.Bpe.train(wordCounts(s, d), BpeMerges)
      val rows = merges.zipWithIndex.map { case ((l, r, c), i) =>
        org.apache.spark.sql.Row((i + 1).toLong, l, r, l + r, c)
      }
      s.createDataFrame(rows.asJava, StructType(Seq(
          StructField("rank", LongType, nullable = false),
          StructField("sym_l", StringType), StructField("sym_r", StringType),
          StructField("merged", StringType),
          StructField("cnt", LongType, nullable = false))))
        .orderBy(col("rank"))
    }),

    // The trained tokenizer APPLIED: encode the corpus with the 8 learned
    // merges and emit the resulting token-frequency table (top-64) — the
    // actual artifact a token-counting pipeline consumes. Encoding is the
    // same merge `replace` chain over the distinct-word table weighted by
    // word count: corpus tokens never re-enter after the initial word
    // collapse, so the encode costs vocabulary-sized map work regardless
    // of corpus size.
    "q_bpe_encode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // ONE corpus pass total: the word table persists across the train
      // loop and the final encode read. The residue is deliberate — the
      // returned frame is lazy, so freeing here would force the second
      // corpus pass this cache exists to prevent.
      val words = wordCounts(s, d).persist(StorageLevel.DISK_ONLY)
      val merges = graft.operators.Bpe.train(words, BpeMerges, manageCache = false)
      graft.operators.Bpe.symbolized(words, merges)
        .withColumn("sa", split(col("ws"), ";"))
        .select(col("wcnt"), explode(expr("slice(sa, 1, size(sa) - 1)")).as("token"))
        .groupBy(col("token")).agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(BpeEncodeTop)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("token"))).cast("long"))
        .orderBy(col("rank"))
    }),

    // Quality scoring: length/word/punctuation/stopword signals + verdict.
    "q_text_quality" -> ((s, d) => {
      val words = size(split(trim(col("text")), "\\s+"))
      val nonSpace = length(regexp_replace(col("text"), "\\s", ""))
      val punct = length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
      val stop = size(regexp_extract_all(lower(col("text")),
        lit("\\b(?:the|and|of|to|is|a)\\b"), lit(0)))
      t(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars_m"),
          words.as("n_words"),
          (nonSpace.cast("double") / words.cast("double")).as("avg_word_len"),
          (punct.cast("double") / length(col("text")).cast("double")).as("punct_ratio"),
          (stop.cast("double") / words.cast("double")).as("stop_ratio"),
          (words >= 5 && words <= 1000 && punct * 5 < length(col("text"))).as("quality_ok"))
        .orderBy(col("doc_id"))
    }),

    // Language ID, two tiers per document: the CHEAP stopword argmax
    // (h_*/pred_lang — isolated function-word hits) and the char-TRIGRAM
    // model (s_*/pred_lang_ngram — the fastText-lite literal-weight tier,
    // round-12 directive #7): sliding 3-char windows scored against the
    // per-language TriModel weights, argmax with the same tie order. Both
    // tiers are pure in-row map work over ONE text scan (the trigram
    // array is built once and all four language scores fold over it);
    // integer CASE sums keep the scores engine-identical. Accuracy ≥ the
    // stopword tier on the planted multilingual fixture (TextOpsSpec).
    "q_lang_id" -> ((s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id") +: col("lang").as("lang_true") +:
          expr("graft_lang_tri(lower(text))").as("tris") +:
          Stops.map { case (l, p) => hits(l, p) }: _*)
      val Seq(en, es, de, fr) = Stops.map { case (l, _) => col(s"h_$l") }
      val langs = graft.expressions.LangTriScores.Langs
      val withScores = langs.foldLeft(base)((df, l) =>
        df.withColumn(s"s_$l", triScore(l)))
      withScores
        .withColumn("pred_lang",
          when(en >= es && en >= de && en >= fr && en > 0, "en")
            .when(es >= de && es >= fr && es > 0, "es")
            .when(de >= fr && de > 0, "de")
            .when(fr > 0, "fr")
            .otherwise("und"))
        .withColumn("pred_lang_ngram", triArgmaxChain(l => col(s"s_$l")))
        .drop("tris")
        .orderBy(col("doc_id"))
    }),

    // MIXED-LANGUAGE DETECTION — the per-document language-consistency
    // check (CCNet-class pipelines run language ID per paragraph and
    // quarantine documents whose sections disagree; code-switched or
    // concatenated-crawl docs poison monolingual training slices while
    // PASSING whole-doc language ID, because the majority language wins
    // the aggregate vote). Documents have no paragraph marks here, so the
    // unit is the half: the codegen'd `graft_lang_tri` scores each half
    // independently (two native single-pass calls per row — the argmax
    // chain and model are q_lang_id's, applied per section), and a doc is
    // mixed when the halves identify as two different known languages.
    // The corpus fixture is monolingual, so the oracle row certifies the
    // all-consistent census (the q_pii_scrub precedent); the
    // planted-fixture behavior contract (en+de concatenations flagged,
    // monolingual and short-half docs not) lives in TextOpsSpec. Pure map
    // work — two expression evaluations per row, no shuffle at any scale.
    "q_lang_mix" -> ((s, d) => {
      val langs = graft.expressions.LangTriScores.Langs
      val base = t(s, d, "documents")
        .select(col("doc_id"), lower(col("text")).as("lt"))
        .withColumn("cut", expr("length(lt) div 2"))
        .withColumn("tris_h", expr("graft_lang_tri(substring(lt, 1, cut))"))
        .withColumn("tris_t", expr("graft_lang_tri(substring(lt, cut + 1))"))
      def sc(c: String, l: String) = {
        val idx = langs.indexOf(l) + 1
        coalesce(element_at(col(c), idx), lit(0L))
      }
      base
        .withColumn("lang_head", triArgmaxChain(l => sc("tris_h", l)))
        .withColumn("lang_tail", triArgmaxChain(l => sc("tris_t", l)))
        .withColumn("mixed",
          col("lang_head") =!= col("lang_tail") &&
            col("lang_head") =!= "und" && col("lang_tail") =!= "und")
        .select(col("doc_id"), col("lang_head"), col("lang_tail"), col("mixed"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprint: md5 over whitespace-normalized lowercase text,
    // plus a 16-bit shard bucket from the first 4 hex chars.
    "q_fingerprint" -> ((s, d) => {
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      t(s, d, "documents")
        .select(col("doc_id"), md5(encode(norm, "UTF-8")).as("fp"))
        .withColumn("bucket",
          conv(substring(col("fp"), 1, 4), 16, 10).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // Top-3 TF-IDF terms per document — the standard keyword extractor.
    // Scale shape: two partial+final aggregates (term frequency keyed by
    // (doc, term), document frequency keyed by term), the corpus size as an
    // in-plan one-row broadcast (no driver count), a 1:1 equi-join of tf
    // against the vocabulary-sized df table (per-term fanout is 1 — Zipf
    // skew makes partitions uneven but never explodes pairs; AQE rebalances),
    // and one doc_id-keyed window for the per-doc top-3. No stage touches
    // more rows than the token table itself.
    "q_tfidf" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfx = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
      tf.join(dfx, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rnk"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // BM25 relevance of the fixed query {hash, join, spark} — the sparse
    // retrieval scorer (k1=1.2, b=0.75). Scale shape: the token table is
    // filtered to the query's terms FIRST (a broadcastable literal set →
    // the scan prunes everything else map-side), per-term df and the corpus
    // stats (N, total tokens) are one-row/3-row broadcast aggregates, and
    // the per-doc score is a fixed-order sum of per-term conditional
    // aggregates — no double-summation order nondeterminism, bit-identical
    // to the oracle. One shuffle keyed by doc_id.
    "q_bm25" -> ((s, d) =>
      bm25Scored(s, d)
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(20)),

    // RETRIEVAL-QUALITY evaluation panel (nDCG@10 / MRR@10 / P@10) — the
    // IR eval every retrieval stack ships next to its index: the BM25 run
    // is scored against graded relevance rel = n_terms (how many of the 3
    // query terms the doc matches; the ideal ranking is the same pool
    // re-sorted by grade). Both rankings are TakeOrdered top-10 cuts
    // (never a global sort over the run); the 10-row DCG folds are
    // driver-size. DCG gain 2^rel − 1 is exact-integer; the only
    // float work is the shared ln() and the final divisions, computed
    // identically in both engines (the q_bm25 precedent proves the score
    // column matches bit-for-bit, so the rank cut is identical too).
    // At 100 TB: the run is term-matched docs only (inverted-index
    // shape), both cuts are top-k — evaluation cost is O(run), driver
    // cost is O(10).
    "q_retrieval_eval" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val run = bm25Scored(s, d)
      val n = run.agg(count(lit(1)).as("n_run"))
      // 10-row frames: the window runs AFTER the TakeOrdered cut
      val top = run.orderBy(col("bm25").desc, col("doc_id").asc).limit(10)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      val ideal = run.orderBy(col("n_terms").desc, col("doc_id").asc).limit(10)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("n_terms").desc, col("doc_id").asc)))
      def dcg = sum((pow(lit(2.0), col("n_terms").cast("double")) - lit(1.0)) *
        log(lit(2.0)) / log(col("rnk").cast("double") + lit(1.0)))
      val dcg10 = top.agg(coalesce(dcg, lit(0.0)).as("dcg10"),
        coalesce(max(when(col("n_terms") === 3,
          lit(1.0) / col("rnk").cast("double"))), lit(0.0)).as("mrr10"),
        coalesce(sum(when(col("n_terms") === 3, 1L).otherwise(0L)), lit(0L))
          .as("full_hits"))
      val idcg10 = ideal.agg(coalesce(dcg, lit(0.0)).as("idcg10"))
      n.crossJoin(dcg10).crossJoin(idcg10)
        .select(col("n_run"), col("dcg10"), col("idcg10"),
          when(col("idcg10") === 0.0, lit(0.0))
            .otherwise(col("dcg10") / col("idcg10")).as("ndcg10"),
          col("mrr10"),
          (col("full_hits").cast("double") / lit(10.0)).as("p_at_10"))
    }),

    // Bigram language model: P(w2|w1) = c(w1,w2) / Σ_w c(w1,w), top 20
    // bigrams by count — the n-gram LM table behind perplexity-style
    // quality filters (CCNet-shape). Bigrams come from one in-row
    // transform over the token array (no positional self-join); two
    // partial+final aggregates; the conditional-probability join fans out
    // 1:1 on w1. TakeOrdered collapses the top-20 (no global sort).
    "q_bigram_lm" -> ((s, d) => {
      val bi = t(s, d, "documents")
        .select(split(trim(lower(col("text"))), "\\s+").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1), i -> " +
            "struct(element_at(w, i) as w1, element_at(w, i+1) as w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val cnt = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      val first = cnt.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
      cnt.join(first, "w1")
        .select(col("w1"), col("w2"), col("c"), col("c1"),
          (col("c").cast("double") / col("c1").cast("double")).as("prob"))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // Unicode text cleanup — the pass a web corpus runs before ANY
    // hashing/dedup stage (decomposed "é" and composed "é" must
    // fingerprint identically): NFC-normalize via the codegen'd
    // [[graft.expressions.NfcNormalize]] (no normalization builtin in
    // Spark; a UDF would box every row out of Tungsten), then strip
    // C0/DEL control characters, collapse whitespace runs, trim. Pure
    // per-row map work — no shuffle at any scale. Control chars are
    // stripped BEFORE the whitespace collapse so \x0B/\x0C (in Java's \s
    // but not RE2's) never reach the cross-engine regex.
    "q_unicode_clean" -> ((s, d) => {
      val cleaned = trim(regexp_replace(regexp_replace(
          expr("graft_nfc(text)"),
          "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
        "\\s+", " "))
      t(s, d, "documents")
        .select(col("doc_id"), cleaned.as("text_clean"))
        .select(col("doc_id"), col("text_clean"),
          length(col("text_clean")).as("clean_chars"))
        .orderBy(col("doc_id"))
    }),

    // URL CANONICALIZATION + DEDUP CENSUS — the first stage of every
    // web-corpus pipeline (CommonCrawl/CCNet/RefinedWeb dedupe by
    // canonical URL before touching any text). The sf dirs carry no URL
    // column, so the fixture derives a deterministic raw URL per doc
    // (4 variants: clean, SHOUTED-scheme/host + default port + trailing
    // slash, utm-tracking params, unsorted params + fragment) and the
    // operator canonicalizes GENERICALLY — nothing in the algorithm
    // knows the fixture: lowercase scheme+host, strip the scheme's
    // default port, drop the fragment, drop utm_* tracking params, sort
    // surviving params, strip trailing slashes. Census = one hash
    // aggregate keyed on the canonical URL (min-doc keep rule, variant
    // count). Pure per-row map work + one narrow-key aggregate — no
    // corpus shuffle wider than the URL column at any scale.
    "q_url_canonical" -> ((s, d) => {
      val pid = (col("doc_id") % 40).cast("string")
      val v = col("doc_id") % 4
      val hostLower = concat(lit("www."), col("source"), lit(".example.com"))
      val raw = concat(
        when(v === 1, lit("HTTPS")).otherwise(lit("https")), lit("://"),
        when(v === 1, upper(hostLower)).otherwise(hostLower),
        when(v === 1, lit(":443")).otherwise(lit("")),
        lit("/articles/"), pid,
        when(v === 1, lit("/")).otherwise(lit("")),
        when(v === 2, lit("?utm_source=feed&utm_campaign=x"))
          .when(v === 3, lit("?b=2&a=1")).otherwise(lit("")),
        when(v === 3, lit("#frag")).otherwise(lit("")))
      val noFrag = regexp_replace(raw, "#.*$", "")
      val base = regexp_replace(noFrag, "\\?.*$", "")
      val qs = when(noFrag.contains("?"),
        regexp_replace(noFrag, "^[^?]*\\?", "")).otherwise(lit(""))
      val scheme = lower(regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
      val hostport = lower(regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1))
      val host = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
        .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
        .otherwise(hostport)
      val path = regexp_replace(
        regexp_extract(base, "^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$", 1),
        "/+$", "")
      val canonQ = expr(
        "array_join(array_sort(filter(split(qs, '&'), " +
          "p -> p != '' AND NOT startswith(p, 'utm_'))), '&')")
      t(s, d, "documents")
        .select(col("doc_id"), raw.as("raw_url"), scheme.as("scheme"),
          host.as("host"), path.as("path"), qs.as("qs"))
        .withColumn("canon_url",
          concat(col("scheme"), lit("://"), col("host"), col("path"),
            when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ))))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_raw"),
          countDistinct(col("raw_url")).as("n_variants"),
          min(col("doc_id")).as("keep_doc"))
        .orderBy(col("canon_url"))
    }),

    // HTML BOILERPLATE EXTRACTION — the text-extraction stage of a web
    // pipeline (the trafilatura/jusText slot): recover the main content
    // from a page, strip markup, and measure text density. The sf dirs
    // carry no HTML, so the fixture wraps each doc's text in a
    // deterministic page (title/nav chrome, an id-gated <aside> ad,
    // <main> around the payload, a footer) and the operator extracts
    // GENERICALLY: <main> slice → tag strip → whitespace collapse, with
    // page-level tag-stripped length as the denominator. The
    // clean_roundtrip bit re-checks extraction against the original text
    // — the oracle-replayable stand-in for a gold-standard extraction
    // eval. Pure per-row map work (three regexes per row), no shuffle,
    // no UDF — all codegen'd builtins at any scale.
    "q_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><nav>home | about | contact</nav>"),
        when(col("doc_id") % 3 === 0,
          lit("<aside>sponsored: buy now</aside>")).otherwise(lit("")),
        lit("<main><p>"), col("text"),
        lit("</p></main><footer>(c) example.com | src="), col("source"),
        lit("</footer></body></html>"))
      def stripTags(c: org.apache.spark.sql.Column) =
        trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))
      t(s, d, "documents")
        .select(col("doc_id"), col("text"), html.as("html"))
        .select(col("doc_id"), col("text"),
          stripTags(regexp_extract(col("html"), "<main>(.*)</main>", 1))
            .as("main_text"),
          stripTags(col("html")).as("page_text"))
        .select(col("doc_id"),
          length(col("main_text")).cast("long").as("main_chars"),
          length(col("page_text")).cast("long").as("page_chars"),
          (length(col("main_text")).cast("double") /
            length(col("page_text")).cast("double")).as("density"),
          (col("main_text") === trim(regexp_replace(col("text"), "\\s+", " ")))
            .as("clean_roundtrip"))
        .orderBy(col("doc_id"))
    }),

    // Out-of-vocabulary rate per document against the top-512 corpus
    // vocabulary (q_vocab_build's ranking) — the tokenizer-coverage
    // metric that decides whether a vocab is big enough for a corpus
    // slice. The vocab is MODEL-sized and broadcast; scoring is one
    // token-keyed left join + one doc-keyed aggregate — the corpus is
    // never shuffled on anything wider than its own tokens.
    "q_oov_rate" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("token"))
      val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(VocabSize)
        .select(col("token"), lit(1L).as("inv"))
      toks.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_tokens").cast("double"))
            .as("oov_rate"))
        .orderBy(col("doc_id"))
    }),

    // Token-distribution (Shannon) entropy per document — the gibberish/
    // boilerplate signal orthogonal to the repetition fractions: machine
    // text with few distinct tokens scores low H even when no single
    // token dominates. H = −Σ p·ln p in nats, each term DECIMAL(28,12)-
    // cast before summing (the q_lm_perplexity discipline) so the sum is
    // order-independent and oracle-exact. One (doc, token) aggregate +
    // one doc aggregate — map-side combined at any scale.
    "q_entropy" -> ((s, d) => {
      val wc = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("tkn"))
        .groupBy(col("doc_id"), col("tkn")).agg(count(lit(1)).as("c"))
      val tot = wc.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
      val p = col("c").cast("double") / col("n").cast("double")
      val h = (-sum((p * log(p)).cast("decimal(28,12)"))).cast("double")
      wc.join(tot, "doc_id")
        .groupBy(col("doc_id"), col("n"))
        .agg(h.as("entropy"))
        .select(col("doc_id"), col("n"), col("entropy"),
          (col("entropy") >= 2.0).as("diverse"))
        .orderBy(col("doc_id"))
    }),

    // Inverted-index build — the retrieval-side complement of
    // q_vocab_build: token → document frequency + a TRUNCATED posting
    // list (first 20 doc ids ascending, joined to one string; full df
    // kept alongside, the convention real postings engines use for
    // scoreboard heads). Scale shape: one explode + (token, doc_id)
    // distinct (two-level aggregate, map-side deduped), collect_set runs
    // per token AFTER the distinct so hot tokens carry ≤ df entries not
    // corpus positions, the truncation is in-row slice, and the top-100
    // cut is TakeOrdered on (df desc, token) — the full index is the
    // pre-limit frame, partitioned by token, ready to write bucketed.
    "q_inverted_index" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+"), lit(0))).as("token"))
        .filter(length(col("token")) >= 4)
        .distinct()
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"),
          array_join(slice(sort_array(collect_set(col("doc_id"))), 1, 20), ",")
            .as("postings"))
        .filter(col("df") >= 5)
        .orderBy(col("df").desc, col("token"))
        .limit(100)),

    // Zipf-law fit + corpus diagnostics — the one-row health panel a
    // tokenizer build starts from: type/token counts, hapax ratio (one-
    // occurrence words — high hapax = noisy corpus), and the Zipf
    // exponent from the closed-form OLS slope of log freq on log rank.
    // The vocabulary rank over (count desc, word) is [[rankedVocab]]'s
    // distributed one. Regression sums are per-term decimal-cast so the
    // slope is order-independent despite the float logs. A natural
    // corpus fits slope ≈ −1.
    "q_zipf_fit" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(28, 12)
      val ranked = rankedVocab(s, d)
      val x = log(col("r").cast("double"))
      val y = log(col("c").cast("double"))
      val m = ranked.agg(count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(x.cast(dec)).cast("double").as("sx"),
        sum(y.cast(dec)).cast("double").as("sy"),
        sum((x * y).cast(dec)).cast("double").as("sxy"),
        sum((x * x).cast(dec)).cast("double").as("sxx"))
      val nd = col("n_types").cast("double")
      m.select(col("n_types"), col("n_tokens"), col("n_hapax"),
        (col("n_hapax").cast("double") / nd).as("hapax_ratio"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"),
        ((col("sxy") - col("sx") * col("sy") / nd) /
          (col("sxx") - col("sx") * col("sx") / nd)).as("zipf_slope"))
    }),

    // Chi-square independence — is document language independent of its
    // source? The contingency table is one (lang, source) aggregate;
    // row/column margins are two model-sized re-aggregates broadcast
    // back; expected = row·col/N and the χ² term per cell are pure map
    // arithmetic on exact integer counts, so the statistic is
    // engine-identical without any decimal detour. The per-cell terms
    // ship (not just the scalar) so the analyst sees WHICH cells drive
    // the dependence.
    "q_chi2_independence" -> ((s, d) => {
      val cells = t(s, d, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      val rowM = cells.groupBy(col("lang").as("l2")).agg(sum(col("n")).as("rn"))
      val colM = cells.groupBy(col("source").as("s2")).agg(sum(col("n")).as("cn"))
      val tot = cells.agg(sum(col("n")).as("tn"))
      val expected = col("rn").cast("double") * col("cn").cast("double") /
        col("tn").cast("double")
      cells.join(broadcast(rowM), col("lang") === col("l2"))
        .join(broadcast(colM), col("source") === col("s2"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("source"), col("n"), expected.as("expected"),
          ((col("n").cast("double") - expected) *
            (col("n").cast("double") - expected) / expected).as("chi2_term"))
        .orderBy(col("lang"), col("source"))
    }),

    // Token co-occurrence PMI — word-association mining: which token
    // pairs appear in the same document far more often than their
    // individual frequencies predict (pmi = ln(df_ab·N / (df_a·df_b))).
    // Scale shape: the corpus first collapses to the DISTINCT
    // (doc, token) table, so the within-doc pair join fans out by the
    // per-doc VOCABULARY (bounded, ~tens) not by token positions; the
    // canonical a<b orientation counts each pair once, document
    // frequencies broadcast back, and the df_ab ≥ 5 support cut bounds
    // the result the way association miners always do. ln on identical
    // doubles is engine-exact.
    "q_cooccur_pmi" -> ((s, d) => {
      val td = t(s, d, "documents")
        .select(col("doc_id"), explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+"), lit(0))).as("tk"))
        .distinct()
      val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val pairs = td.as("x").join(td.as("y"),
          col("x.doc_id") === col("y.doc_id") && col("x.tk") < col("y.tk"))
        .groupBy(col("x.tk").as("a"), col("y.tk").as("b"))
        .agg(count(lit(1)).as("df_ab"))
        .filter(col("df_ab") >= 5)
      val dfT = td.groupBy(col("tk")).agg(count(lit(1)).as("df"))
      pairs
        .join(broadcast(dfT.select(col("tk").as("a"), col("df").as("df_a"))), "a")
        .join(broadcast(dfT.select(col("tk").as("b"), col("df").as("df_b"))), "b")
        .crossJoin(broadcast(nDocs))
        .select(col("a"), col("b"), col("df_ab"),
          log(col("df_ab").cast("double") * col("n_docs").cast("double") /
            (col("df_a").cast("double") * col("df_b").cast("double")))
            .as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(50)
    }),

    // Quantile-gated quality filter — the dynamic-threshold corpus cut:
    // keep documents at or above the corpus 75th percentile of word
    // count. Unlike the fixed-bound gates (q_text_quality), the
    // threshold is DATA-DEPENDENT: one exact interpolated percentile
    // over the score column (1-row result, broadcast back via cross
    // join), then a map-side filter. Two passes over a single projected
    // column, no shuffle beyond the 1-row aggregate — at 100 TB swap
    // percentile for approx_percentile and re-verify the edge docs.
    "q_quality_quantile" -> ((s, d) => {
      val scored = t(s, d, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"))
      val cut = scored.agg(
        expr("percentile(n_words, 0.75)").as("threshold"))
      scored.crossJoin(broadcast(cut))
        .filter(col("n_words") >= col("threshold"))
        .select(col("doc_id"), col("n_words"), col("threshold"))
        .orderBy(col("doc_id"))
    })
  )

  private def sqlHits(pat: String) =
    s"CAST(len(regexp_extract_all(lower(text), '\\b$pat\\b')) AS INT)"

  /** Oracle CTE chain ending in `pscore(doc_id, n_bigrams, logprob)` — the
    * per-document bigram-LM log-prob (DuckDB twin of [[docPerplexity]]).
    * Names are p-prefixed so the chain composes with [[Dedup.resolveCtes]]
    * in one WITH (the pipeline oracle uses both). */
  private[queries] lazy val pplCtes: String =
    """ptoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
      |          FROM documents),
      |pbg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
      |        SELECT doc_id, UNNEST(list_transform(range(1, len(w)),
      |               i -> {'w1': w[i], 'w2': w[i+1]})) AS b
      |        FROM ptoks WHERE len(w) >= 2) z),
      |pcnt AS (SELECT w1, w2, COUNT(*) AS c FROM pbg GROUP BY 1, 2),
      |pfst AS (SELECT w1, SUM(c) AS c1 FROM pcnt GROUP BY 1),
      |plm AS (SELECT w1, w2, CAST(c AS DOUBLE) / CAST(c1 AS DOUBLE) AS prob
      |        FROM pcnt JOIN pfst USING (w1)),
      |pscore AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |             CAST(SUM(CAST(ln(prob) AS DECIMAL(28,12))) AS DOUBLE) AS logprob
      |           FROM pbg JOIN plm USING (w1, w2) GROUP BY doc_id)""".stripMargin

  /** BPE oracle base: the weighted distinct-word table, symbolized
    * (';'-terminated symbols — the [[graft.operators.Bpe]] twin). */
  private val bpeBase =
    """tok AS (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS w
      |  FROM documents),
      |wc AS (SELECT w, COUNT(*) AS wcnt FROM tok GROUP BY w),
      |w0 AS (SELECT regexp_replace(w, '(.)', '\1;', 'g') AS ws, wcnt FROM wc)""".stripMargin

  /** BPE training rounds 1..n as chained CTEs (the Bpe.train replay):
    * round k counts pairs over w{k-1}, picks the argmax as best{k}, and
    * applies it with the same left-to-right literal replace. */
  private def bpeRoundCtes(n: Int): String = (1 to n).map { k =>
    val prev = s"w${k - 1}"
    s"""sp$k AS (SELECT string_split(ws, ';') AS sa, wcnt FROM $prev),
       |pos$k AS (SELECT sa, wcnt,
       |    UNNEST(generate_series(1, CAST(len(sa) - 2 AS BIGINT))) AS i
       |  FROM sp$k WHERE len(sa) >= 3),
       |pp$k AS (SELECT sa[i] AS sym_l, sa[i + 1] AS sym_r, SUM(wcnt) AS cnt
       |  FROM pos$k GROUP BY 1, 2),
       |best$k AS (SELECT sym_l, sym_r, cnt FROM (
       |    SELECT sym_l, sym_r, cnt,
       |      ROW_NUMBER() OVER (ORDER BY cnt DESC, sym_l, sym_r) AS rn
       |    FROM pp$k) z WHERE rn = 1),
       |w$k AS (SELECT replace(x.ws, b.sym_l || ';' || b.sym_r || ';',
       |                       b.sym_l || b.sym_r || ';') AS ws, x.wcnt
       |  FROM $prev x, best$k b)""".stripMargin
  }.mkString(",\n")

  /** Per-document BM25 score for the fixed query terms — the scored list
    * shared by q_bm25 (top-20 report) and q_hybrid_rrf (rank-fusion
    * input). Shape: token explode → (doc, term) tf aggregate restricted
    * to the query terms, broadcast df/corpus stats, one doc-keyed final
    * aggregate — never a corpus-wide score sort (consumers TakeOrdered
    * their k). */
  private[queries] val Bm25Terms = Seq("hash", "join", "spark")
  private[graft] def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val qTerms = Bm25Terms
    val docs = t(s, d, "documents")
    val tok = docs.select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val qtf = tok.filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfx = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(size(split(trim(lower(col("text"))), "\\s+")).cast("long")).as("toks"))
    val idf = log(lit(1.0) +
      (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val avgdl = col("toks").cast("double") / col("n").cast("double")
    val contrib = idf * (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
    val scored = qtf.join(broadcast(dfx), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), contrib.as("contrib"))
    val aggCols = count(lit(1)).as("n_terms") +:
      qTerms.map(q => sum(when(col("term") === q, col("contrib"))
        .otherwise(lit(0.0))).as(s"s_$q"))
    scored.groupBy(col("doc_id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("doc_id"), col("n_terms"),
        qTerms.map(q => col(s"s_$q")).reduce(_ + _).as("bm25"))
  }

  /** DuckDB CTE chain ending in `bscore(doc_id, n_terms, bm25)` — the
    * oracle twin of [[bm25Scored]], shared by the q_bm25 and
    * q_hybrid_rrf oracles. */
  private[queries] val bm25Ctes: String =
    """tok AS (SELECT doc_id,
      |         UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS term
      |       FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      |qtf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
      |        WHERE term IN ('hash', 'join', 'spark') GROUP BY 1, 2),
      |dfx AS (SELECT term, COUNT(*) AS df FROM qtf GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n,
      |            SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS toks
      |          FROM documents),
      |scored AS (SELECT qtf.doc_id, qtf.term,
      |    ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |             / (CAST(df AS DOUBLE) + 0.5))
      |    * (CAST(tf AS DOUBLE) * 2.2)
      |    / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |         / (CAST(toks AS DOUBLE) / CAST(n AS DOUBLE)))) AS contrib
      |  FROM qtf JOIN dfx USING (term) JOIN dl USING (doc_id), stats),
      |bscore AS (SELECT doc_id, COUNT(*) AS n_terms,
      |    SUM(CASE WHEN term = 'hash' THEN contrib ELSE 0.0 END)
      |    + SUM(CASE WHEN term = 'join' THEN contrib ELSE 0.0 END)
      |    + SUM(CASE WHEN term = 'spark' THEN contrib ELSE 0.0 END) AS bm25
      |  FROM scored GROUP BY doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_quality_model" ->
      """WITH f AS (SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS words,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|is|a)\b')) AS DOUBLE) AS stop,
        |    CAST(length(text) AS DOUBLE) AS chars
        |  FROM documents),
        |z AS (SELECT doc_id,
        |        -1.0 + 0.004 * words + 8.0 * (stop / words) - 12.0 * (punct / chars) AS logit
        |      FROM f)
        |SELECT doc_id, logit,
        |  1.0 / (1.0 + exp(-logit)) AS score,
        |  (1.0 / (1.0 + exp(-logit)) >= 0.5) AS model_ok
        |FROM z ORDER BY doc_id""".stripMargin,

    // same logit features; chosen/rejected replayed as ROW_NUMBER windows
    // with the exact tie rules (z DESC, id ASC) / (z ASC, id DESC)
    "q_preference_pairs" ->
      s"""WITH f AS (SELECT doc_id, lang, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS words,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|is|a)\\b')) AS DOUBLE) AS stop,
         |    CAST(length(text) AS DOUBLE) AS chars
         |  FROM documents),
         |sc AS (SELECT doc_id, lang, source,
         |         (-1.0 + 0.004 * words + 8.0 * (stop / words)
         |           - 12.0 * (punct / chars)) AS z
         |       FROM f),
         |ch AS (SELECT lang, source, doc_id, z, ROW_NUMBER() OVER (
         |         PARTITION BY lang, source ORDER BY z DESC, doc_id ASC) AS rk
         |       FROM sc),
         |rj AS (SELECT lang, source, doc_id, z, ROW_NUMBER() OVER (
         |         PARTITION BY lang, source ORDER BY z ASC, doc_id DESC) AS rk
         |       FROM sc),
         |cnt AS (SELECT lang, source, COUNT(*) AS n_docs
         |        FROM sc GROUP BY 1, 2)
         |SELECT c.lang, c.source, cnt.n_docs,
         |  c.doc_id AS chosen_id, r.doc_id AS rejected_id,
         |  1.0 / (1.0 + exp(-c.z)) AS chosen_score,
         |  1.0 / (1.0 + exp(-r.z)) AS rejected_score,
         |  c.z - r.z AS margin_logit
         |FROM ch c
         |JOIN rj r ON r.lang = c.lang AND r.source = c.source AND r.rk = 1
         |JOIN cnt ON cnt.lang = c.lang AND cnt.source = c.source
         |WHERE c.rk = 1 AND cnt.n_docs >= 2
         |ORDER BY c.lang, c.source""".stripMargin,

    "q_model_calibration" ->
      s"""WITH f AS (SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS words,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|is|a)\\b')) AS DOUBLE) AS stop,
         |    CAST(length(text) AS DOUBLE) AS chars,
         |    (len(string_split_regex(trim(text), '\\s+')) BETWEEN 5 AND 1000
         |     AND length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) * 5
         |         < length(text)) AS ok
         |  FROM documents),
         |sc AS (SELECT
         |         (-1.0 + 0.004 * words + 8.0 * (stop / words)
         |           - 12.0 * (punct / chars)) AS z,
         |         ok
         |       FROM f),
         |b AS (SELECT
         |        CAST(${calibThr.map(v =>
                   s"(CASE WHEN z >= $v THEN 1 ELSE 0 END)").mkString(" + ")}
         |          AS BIGINT) AS decile,
         |        1.0 / (1.0 + exp(-z)) AS score, ok
         |      FROM sc)
         |SELECT decile, COUNT(*) AS n_docs,
         |  ${Num.sqlDavg("score")} AS mean_score,
         |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS gate_pass_rate,
         |  ${Num.sqlDavg("score")}
         |    - CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) AS calib_gap
         |FROM b GROUP BY decile ORDER BY decile""".stripMargin,

    "q_auc" ->
      """WITH f AS (SELECT
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS words,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|is|a)\b')) AS DOUBLE) AS stop,
        |    CAST(length(text) AS DOUBLE) AS chars,
        |    (lang = 'en') AS ok
        |  FROM documents
        |  WHERE text IS NOT NULL AND lang IS NOT NULL AND length(text) > 0),
        |g AS (SELECT
        |        (-1.0 + 0.004 * words + 8.0 * (stop / words)
        |          - 12.0 * (punct / chars)) AS z,
        |        CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS pos_z,
        |        CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS neg_z
        |      FROM f GROUP BY 1),
        |c AS (SELECT pos_z, neg_z,
        |        COALESCE(SUM(neg_z) OVER (ORDER BY z
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
        |      FROM g),
        |a AS (SELECT CAST(SUM(pos_z) AS BIGINT) AS n_pos,
        |        CAST(SUM(neg_z) AS BIGINT) AS n_neg,
        |        SUM(CAST(pos_z AS DECIMAL(19,0))
        |            * CAST(2 * cumneg + neg_z AS DECIMAL(19,0))) AS s2
        |      FROM c)
        |SELECT n_pos, n_neg,
        |  CAST(s2 AS DOUBLE)
        |    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc,
        |  2.0 * (CAST(s2 AS DOUBLE)
        |    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))) - 1.0
        |    AS gini_coef
        |FROM a WHERE n_pos > 0 AND n_neg > 0""".stripMargin,

    "q_isotonic_calibration" ->
      s"""WITH f AS (SELECT
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS words,
         |    CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|is|a)\\b')) AS DOUBLE) AS stop,
         |    CAST(length(text) AS DOUBLE) AS chars,
         |    (lang = 'en') AS ok
         |  FROM documents
         |  WHERE text IS NOT NULL AND lang IS NOT NULL AND length(text) > 0),
         |zc AS (SELECT
         |         (-1.0 + 0.004 * words + 8.0 * (stop / words)
         |           - 12.0 * (punct / chars)) AS z, ok
         |       FROM f),
         |b0 AS (SELECT
         |    CAST(${calibThr.map(v =>
               s"(CASE WHEN z >= $v THEN 1 ELSE 0 END)").mkString(" + ")}
         |      AS BIGINT) AS b,
         |    CAST(COUNT(*) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS p0
         |  FROM zc GROUP BY 1),
         |pre AS (SELECT b, n0, p0,
         |    SUM(n0) OVER (ORDER BY b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         |    SUM(p0) OVER (ORDER BY b
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
         |  FROM b0),
         |iv AS (SELECT j.b AS bj, k.b AS bk,
         |    CAST(k.cp - (j.cp - j.p0) AS DOUBLE)
         |      / CAST(k.cn - (j.cn - j.n0) AS DOUBLE) AS ratio
         |  FROM pre j JOIN pre k ON j.b <= k.b),
         |mn AS (SELECT i.b AS bi, iv.bj, MIN(iv.ratio) AS mn
         |  FROM pre i JOIN iv ON iv.bj <= i.b AND iv.bk >= i.b
         |  GROUP BY 1, 2),
         |iso AS (SELECT bi, MAX(mn) AS iso FROM mn GROUP BY 1)
         |SELECT b AS bin, n0 AS n_docs,
         |  CAST(p0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS raw_rate,
         |  iso AS iso_rate
         |FROM pre JOIN iso ON b = bi ORDER BY bin""".stripMargin,

    "q_gate_agreement" ->
      """WITH f AS (SELECT
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS words,
        |    CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS punct,
        |    CAST(len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|is|a)\b')) AS DOUBLE) AS stop,
        |    CAST(length(text) AS DOUBLE) AS chars,
        |    (len(string_split_regex(trim(text), '\s+')) BETWEEN 5 AND 1000
        |     AND length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) * 5
        |         < length(text)) AS a
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |g AS (SELECT a,
        |        ((-1.0 + 0.004 * words + 8.0 * (stop / words)
        |          - 12.0 * (punct / chars)) >= 0.0) AS b
        |      FROM f),
        |m AS (SELECT
        |    CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_pass,
        |    CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_only,
        |    CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_model_only,
        |    CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_fail
        |  FROM g),
        |k AS (SELECT n_both_pass, n_rule_only, n_model_only, n_both_fail,
        |    CAST(n_both_pass + n_rule_only + n_model_only + n_both_fail AS DOUBLE) AS n,
        |    CAST(n_both_pass + n_both_fail AS DOUBLE)
        |      / CAST(n_both_pass + n_rule_only + n_model_only + n_both_fail AS DOUBLE) AS po,
        |    CAST(n_both_pass + n_rule_only AS DOUBLE)
        |      / CAST(n_both_pass + n_rule_only + n_model_only + n_both_fail AS DOUBLE) AS pa1,
        |    CAST(n_both_pass + n_model_only AS DOUBLE)
        |      / CAST(n_both_pass + n_rule_only + n_model_only + n_both_fail AS DOUBLE) AS pb1
        |  FROM m)
        |SELECT n_both_pass, n_rule_only, n_model_only, n_both_fail,
        |  po AS p_agree,
        |  CASE WHEN 1.0 - (pa1 * pb1 + (1.0 - pa1) * (1.0 - pb1)) = 0.0 THEN 1.0
        |       ELSE (po - (pa1 * pb1 + (1.0 - pa1) * (1.0 - pb1)))
        |            / (1.0 - (pa1 * pb1 + (1.0 - pa1) * (1.0 - pb1))) END AS kappa,
        |  CASE WHEN n_rule_only + n_model_only = 0 THEN 0.0
        |       ELSE CAST(n_rule_only - n_model_only AS DOUBLE)
        |            * CAST(n_rule_only - n_model_only AS DOUBLE)
        |            / CAST(n_rule_only + n_model_only AS DOUBLE) END AS mcnemar_chi2
        |FROM k""".stripMargin,

    "q_gate_attribution" -> {
      val unions = Seq(
        ("g1_min_words", Seq("g2", "g3", "g4")),
        ("g2_max_words", Seq("g1", "g3", "g4")),
        ("g3_punct", Seq("g1", "g2", "g4")),
        ("g4_stopword", Seq("g1", "g2", "g3"))).map { case (name, others) =>
        val g = name.take(2)
        val oth = others.mkString(" * ")
        s"""SELECT '$name' AS gate,
           |  CAST(COALESCE(SUM(1 - $g), 0) AS BIGINT) AS n_fail,
           |  CAST(COALESCE(SUM((1 - $g) * $oth), 0) AS BIGINT) AS n_only_fail,
           |  CAST(COALESCE(SUM($oth), 0) AS BIGINT) AS n_pass_without,
           |  CAST(COALESCE(SUM(g1 * g2 * g3 * g4), 0) AS BIGINT) AS n_pass_all,
           |  COUNT(*) AS n_docs,
           |  CAST(COALESCE(SUM($oth), 0) - COALESCE(SUM(g1 * g2 * g3 * g4), 0)
           |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS marginal_rate
           |FROM f""".stripMargin
      }.mkString("\n", "\nUNION ALL\n", "\n")
      s"""WITH f AS (SELECT
         |    CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 5
         |         THEN 1 ELSE 0 END AS g1,
         |    CASE WHEN len(string_split_regex(trim(text), '\\s+')) <= 1000
         |         THEN 1 ELSE 0 END AS g2,
         |    CASE WHEN length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) * 5
         |           < length(text) THEN 1 ELSE 0 END AS g3,
         |    CASE WHEN len(regexp_extract_all(lower(text), '\\b(?:the|and|of|to|is|a)\\b')) >= 1
         |         THEN 1 ELSE 0 END AS g4
         |  FROM documents)
         |SELECT gate, n_fail, n_only_fail, n_pass_without, n_pass_all, n_docs,
         |  marginal_rate
         |FROM ($unions) ORDER BY gate""".stripMargin
    },

    "q_doc_chunks" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |              FROM documents),
        |ch AS (SELECT doc_id, st, (st - 1) // 48 + 1 AS chunk_id,
        |         w[st:least(st + 63, len(w))] AS cw
        |       FROM (SELECT doc_id, w, UNNEST(range(1, len(w) + 1, 48)) AS st
        |             FROM toks) z)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(st AS BIGINT) AS start_tok,
        |  CAST(len(cw) AS BIGINT) AS n_tokens,
        |  array_to_string(cw, ' ') AS chunk_text
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    // The oracle's single global window IS the semantics; the Spark side
    // computes the same prefix sum with graft.operators.Prefix.
    "q_seq_pack" ->
      """WITH tk AS (SELECT doc_id,
        |       CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
        |     FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS tok_offset
        |      FROM tk)
        |SELECT doc_id, n_tokens, tok_offset,
        |  tok_offset // 512 AS start_win,
        |  (tok_offset + n_tokens - 1) // 512 AS end_win
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_repetition_filter" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        |              FROM documents),
        |wc AS (SELECT doc_id, t, COUNT(*) AS c FROM (
        |         SELECT doc_id, UNNEST(w) AS t FROM toks) z GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |        COUNT(*) AS n_distinct, MAX(c) AS topw
        |      FROM wc GROUP BY 1),
        |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM (
        |         SELECT doc_id, UNNEST(list_transform(range(1, len(w)),
        |                i -> w[i] || ' ' || w[i+1])) AS b
        |         FROM toks WHERE len(w) >= 2) z GROUP BY 1, 2),
        |bd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS topb
        |       FROM bc GROUP BY 1)
        |SELECT d.doc_id, n_words, n_distinct,
        |  1.0 - CAST(n_distinct AS DOUBLE) / n_words AS dup_word_frac,
        |  CAST(topw AS DOUBLE) / n_words AS top_word_frac,
        |  CAST(topb AS DOUBLE) / n_bigrams AS top_bigram_frac,
        |  (CAST(topw AS DOUBLE) / n_words <= 0.15 AND
        |   COALESCE(CAST(topb AS DOUBLE) / n_bigrams <= 0.08, TRUE)) AS rep_ok
        |FROM d LEFT JOIN bd USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" -> {
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val phone = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
      val ip = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
      s"""WITH st AS (SELECT doc_id, text,
         |    regexp_replace(text, '$email', '<EMAIL>', 'g') AS after_email
         |  FROM documents),
         |st2 AS (SELECT doc_id, text, after_email,
         |    regexp_replace(after_email, '$ip', '<IP>', 'g') AS after_ip
         |  FROM st)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(after_ip, '$phone')) AS INT) AS n_phones,
         |  CAST(len(regexp_extract_all(after_email, '$ip')) AS INT) AS n_ips,
         |  regexp_replace(after_ip, '$phone', '<PHONE>', 'g') AS scrubbed,
         |  (len(regexp_extract_all(text, '$email'))
         |   + len(regexp_extract_all(after_ip, '$phone'))
         |   + len(regexp_extract_all(after_email, '$ip')) = 0) AS pii_free
         |FROM st2 ORDER BY doc_id""".stripMargin
    },

    "q_lm_perplexity" ->
      s"""WITH $pplCtes
         |SELECT doc_id, n_bigrams, logprob,
         |  exp(-logprob / n_bigrams) AS ppl,
         |  (exp(-logprob / n_bigrams) <= $PplMax) AS lm_ok
         |FROM pscore ORDER BY doc_id""".stripMargin,

    // The oracle ranks with ONE window per language — the reference
    // semantics the Spark side's graft.operators.Prefix rank must
    // equal exactly (rank key (nlp, doc_id); nlp = −logprob/n is the
    // pre-exp double, bit-identical across engines).
    "q_ppl_buckets" ->
      s"""WITH $pplCtes,
         |sc AS (SELECT p.doc_id, d.lang,
         |    exp(-logprob / n_bigrams) AS ppl,
         |    -(logprob / CAST(n_bigrams AS DOUBLE)) AS nlp
         |  FROM pscore p JOIN documents d ON d.doc_id = p.doc_id),
         |rk AS (SELECT doc_id, lang, ppl,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY nlp, doc_id) AS r,
         |    COUNT(*) OVER (PARTITION BY lang) AS n
         |  FROM sc)
         |SELECT doc_id, lang, ppl, CAST(r AS BIGINT) AS r,
         |  CASE WHEN r * 3 <= n THEN 'head'
         |       WHEN r * 3 <= n * 2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM rk ORDER BY doc_id""".stripMargin,
    "q_vocab_build" ->
      s"""WITH tok AS (SELECT doc_id,
         |    UNNEST(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS token
         |  FROM documents),
         |agg AS (SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
         |        FROM tok GROUP BY token),
         |r AS (SELECT token, cnt, df,
         |        ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank
         |      FROM agg)
         |SELECT token, cnt, df, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= $VocabSize ORDER BY rank""".stripMargin,

    "q_bpe_step" ->
      s"""WITH tok AS (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS w
         |  FROM documents),
         |wc AS (SELECT w, COUNT(*) AS wcnt FROM tok GROUP BY w HAVING length(w) >= 2),
         |pos AS (SELECT w, wcnt,
         |    UNNEST(generate_series(1, CAST(length(w) - 1 AS BIGINT))) AS i
         |  FROM wc),
         |p AS (SELECT substr(w, CAST(i AS INT), 1) AS sym_l,
         |             substr(w, CAST(i AS INT) + 1, 1) AS sym_r, wcnt
         |      FROM pos),
         |agg AS (SELECT sym_l, sym_r, SUM(wcnt) AS cnt FROM p GROUP BY sym_l, sym_r),
         |r AS (SELECT sym_l, sym_r, cnt,
         |        ROW_NUMBER() OVER (ORDER BY cnt DESC, sym_l, sym_r) AS rank
         |      FROM agg)
         |SELECT sym_l, sym_r, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= $BpeTopPairs ORDER BY rank""".stripMargin,

    "q_bpe_train" -> {
      val union = (1 to BpeMerges).map { k =>
        s"SELECT CAST($k AS BIGINT) AS rank, sym_l, sym_r, " +
          s"sym_l || sym_r AS merged, CAST(cnt AS BIGINT) AS cnt FROM best$k"
      }.mkString("\nUNION ALL ")
      s"""WITH $bpeBase,
         |${bpeRoundCtes(BpeMerges)}
         |SELECT * FROM (
         |$union
         |) z ORDER BY rank""".stripMargin
    },

    "q_bpe_encode" -> {
      s"""WITH $bpeBase,
         |${bpeRoundCtes(BpeMerges)},
         |spf AS (SELECT string_split(ws, ';') AS sa, wcnt FROM w$BpeMerges),
         |posf AS (SELECT sa, wcnt,
         |    UNNEST(generate_series(1, CAST(len(sa) - 1 AS BIGINT))) AS i
         |  FROM spf),
         |tf AS (SELECT sa[i] AS token, SUM(wcnt) AS cnt FROM posf GROUP BY 1),
         |rk AS (SELECT token, cnt,
         |         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank FROM tf)
         |SELECT token, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS BIGINT) AS rank
         |FROM rk WHERE rank <= $BpeEncodeTop ORDER BY rank""".stripMargin
    },

    "q_dataset_card" ->
      """WITH d AS (SELECT lang, source, n_chars,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |g AS (SELECT lang, source, COUNT(*) AS n_docs,
        |        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |        CAST(SUM(toks) AS BIGINT) AS sum_tokens,
        |        MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |      FROM d GROUP BY 1, 2),
        |t AS (SELECT COUNT(*) AS tot_docs, CAST(SUM(n_chars) AS BIGINT) AS tot_chars
        |      FROM d)
        |SELECT g.lang, g.source, g.n_docs, g.sum_chars, g.sum_tokens,
        |  g.min_chars, g.max_chars,
        |  CAST(g.n_docs AS DOUBLE) / CAST(t.tot_docs AS DOUBLE) AS doc_share,
        |  CAST(g.sum_chars AS DOUBLE) / CAST(t.tot_chars AS DOUBLE) AS char_share
        |FROM g, t ORDER BY g.lang, g.source""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS bpe_tokens,
        |  CAST(length(text) AS INT) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_tokenizer_fertility" ->
      """WITH f AS (SELECT lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe,
        |    CAST(length(text) AS BIGINT) AS chars
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST(SUM(chars) AS BIGINT) AS chars,
        |  CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE) AS fertility,
        |  CAST(SUM(chars) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE) AS chars_per_token
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "q_feature_hash" ->
      s"""WITH tk AS (
         |  SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS tkn
         |  FROM documents),
         |hh AS (SELECT doc_id, ${Sampling.sqlBucketN("tkn", 8)} AS h FROM tk),
         |sg AS (SELECT doc_id, h % 256 AS bkt,
         |         CASE WHEN (h // 256) % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |       FROM hh),
         |bv AS (SELECT doc_id, bkt, CAST(SUM(sgn) AS BIGINT) AS v
         |       FROM sg GROUP BY 1, 2)
         |SELECT doc_id, COUNT(*) AS n_nonzero,
         |  CAST(SUM(ABS(v)) AS BIGINT) AS l1,
         |  CAST(SUM(v * v) AS BIGINT) AS l2_sq
         |FROM bv WHERE v <> 0 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars_m,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_words,
        |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')) AS avg_word_len,
        |  CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE)
        |    / length(text) AS punct_ratio,
        |  CAST(len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|is|a)\b')) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')) AS stop_ratio,
        |  (len(string_split_regex(trim(text), '\s+')) BETWEEN 5 AND 1000
        |   AND length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) * 5 < length(text)) AS quality_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_id" -> {
      val h = Stops.map { case (l, p) => s"${sqlHits(p)} AS h_$l" }.mkString(",\n  ")
      val langs = graft.expressions.LangTriScores.Langs
      val sc = langs.map(l => s"${sqlTriScore(l)} AS s_$l").mkString(",\n  ")
      val sCols = langs.map(l => s"s_$l").mkString(", ")
      s"""WITH h AS (SELECT doc_id, lang AS lang_true, $sqlTris AS tris,
         |  $h
         |FROM documents),
         |sc AS (SELECT doc_id, lang_true, h_en, h_es, h_de, h_fr,
         |  $sc
         |FROM h)
         |SELECT doc_id, lang_true, h_en, h_es, h_de, h_fr,
         |  CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en > 0 THEN 'en'
         |       WHEN h_es >= h_de AND h_es >= h_fr AND h_es > 0 THEN 'es'
         |       WHEN h_de >= h_fr AND h_de > 0 THEN 'de'
         |       WHEN h_fr > 0 THEN 'fr'
         |       ELSE 'und' END AS pred_lang,
         |  $sCols,
         |  ${sqlTriArgmax("s_")} AS pred_lang_ngram
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    // Per-half trigram replay: each half's sliding windows fold through
    // the same literal model CASE, argmaxed with q_lang_id's chain.
    "q_lang_mix" -> {
      val langs = graft.expressions.LangTriScores.Langs
      val sh = langs.map(l => s"${sqlTriScore(l)} AS sh_$l").mkString(",\n  ")
      val st = langs.map(l => s"${sqlTriScore(l)} AS st_$l").mkString(",\n  ")
      s"""WITH base AS (SELECT doc_id, lower(text) AS lt,
         |    CAST(length(lower(text)) // 2 AS INTEGER) AS cut FROM documents),
         |hx AS (SELECT doc_id,
         |    list_transform(range(1, greatest(length(substring(lt, 1, cut)) - 2, 1) + 1),
         |      i -> substring(substring(lt, 1, cut), CAST(i AS INTEGER), 3)) AS tris
         |  FROM base),
         |tx AS (SELECT doc_id,
         |    list_transform(range(1, greatest(length(substring(lt, cut + 1)) - 2, 1) + 1),
         |      i -> substring(substring(lt, cut + 1), CAST(i AS INTEGER), 3)) AS tris
         |  FROM base),
         |hs AS (SELECT doc_id, $sh FROM hx),
         |ts AS (SELECT doc_id, $st FROM tx),
         |am AS (SELECT hs.doc_id,
         |    ${sqlTriArgmax("sh_")} AS lang_head,
         |    ${sqlTriArgmax("st_")} AS lang_tail
         |  FROM hs JOIN ts ON ts.doc_id = hs.doc_id)
         |SELECT doc_id, lang_head, lang_tail,
         |  (lang_head <> lang_tail AND lang_head <> 'und' AND lang_tail <> 'und')
         |    AS mixed
         |FROM am ORDER BY doc_id""".stripMargin
    },

    "q_fingerprint" ->
      """WITH f AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents)
        |SELECT doc_id, fp,
        |  CAST((((strpos('0123456789abcdef', substr(fp, 1, 1)) - 1) * 4096)
        |      + ((strpos('0123456789abcdef', substr(fp, 2, 1)) - 1) * 256)
        |      + ((strpos('0123456789abcdef', substr(fp, 3, 1)) - 1) * 16)
        |      +  (strpos('0123456789abcdef', substr(fp, 4, 1)) - 1)) AS BIGINT) AS bucket
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id,
        |         UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS term
        |       FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
        |    CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfx.df AS DOUBLE)) AS tfidf
        |  FROM tf JOIN dfx USING (term), n),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |         ORDER BY tfidf DESC, term ASC) AS rnk FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, rnk
        |FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "q_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms, bm25 FROM bscore
         |ORDER BY bm25 DESC, doc_id ASC LIMIT 20""".stripMargin,

    // replays the run ranking, both top-10 cuts, and the DCG folds;
    // gain 2^rel − 1 is exact-integer, ln() matches the q_bm25 precedent
    "q_retrieval_eval" ->
      s"""WITH $bm25Ctes,
         |top AS (SELECT n_terms, ROW_NUMBER() OVER (
         |    ORDER BY bm25 DESC, doc_id ASC) AS rnk
         |  FROM bscore ORDER BY bm25 DESC, doc_id ASC LIMIT 10),
         |ideal AS (SELECT n_terms, ROW_NUMBER() OVER (
         |    ORDER BY n_terms DESC, doc_id ASC) AS rnk
         |  FROM bscore ORDER BY n_terms DESC, doc_id ASC LIMIT 10),
         |d AS (SELECT
         |    COALESCE(SUM((POWER(2.0, CAST(n_terms AS DOUBLE)) - 1.0)
         |      * LN(2.0) / LN(CAST(rnk AS DOUBLE) + 1.0)), 0.0) AS dcg10,
         |    COALESCE(MAX(CASE WHEN n_terms = 3
         |      THEN 1.0 / CAST(rnk AS DOUBLE) END), 0.0) AS mrr10,
         |    COALESCE(SUM(CASE WHEN n_terms = 3 THEN 1 ELSE 0 END), 0)
         |      AS full_hits
         |  FROM top),
         |i AS (SELECT
         |    COALESCE(SUM((POWER(2.0, CAST(n_terms AS DOUBLE)) - 1.0)
         |      * LN(2.0) / LN(CAST(rnk AS DOUBLE) + 1.0)), 0.0) AS idcg10
         |  FROM ideal),
         |n AS (SELECT COUNT(*) AS n_run FROM bscore)
         |SELECT n.n_run, d.dcg10, i.idcg10,
         |  CASE WHEN i.idcg10 = 0.0 THEN 0.0
         |       ELSE d.dcg10 / i.idcg10 END AS ndcg10,
         |  d.mrr10,
         |  CAST(d.full_hits AS DOUBLE) / 10.0 AS p_at_10
         |FROM n, d, i""".stripMargin,

    "q_bigram_lm" ->
      """WITH toks AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w
        |              FROM documents),
        |bi AS (SELECT UNNEST(list_transform(range(1, len(w)),
        |                     i -> {'w1': w[i], 'w2': w[i+1]})) AS b
        |       FROM toks WHERE len(w) >= 2),
        |cnt AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |fst AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM cnt GROUP BY 1)
        |SELECT cnt.w1, w2, c, c1, CAST(c AS DOUBLE) / CAST(c1 AS DOUBLE) AS prob
        |FROM cnt JOIN fst USING (w1)
        |ORDER BY c DESC, cnt.w1, w2 LIMIT 20""".stripMargin,

    // nfc_normalize = utf8proc NFC; graft_nfc = java.text.Normalizer NFC —
    // both Unicode-conformant canonical composition, same output.
    "q_unicode_clean" ->
      """WITH c AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '\s+', ' ', 'g')) AS text_clean
        |  FROM documents)
        |SELECT doc_id, text_clean, CAST(length(text_clean) AS INT) AS clean_chars
        |FROM c ORDER BY doc_id""".stripMargin,

    // Raw-URL fixture rebuilt verbatim, then the SAME generic
    // canonicalization: strip fragment/query, lowercase scheme+host,
    // default-port strip, utm_* filter + param sort, trailing-slash
    // strip; census keyed on the canonical string.
    "q_url_canonical" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN doc_id % 4 = 1 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    (CASE WHEN doc_id % 4 = 1 THEN upper('www.' || source || '.example.com')
        |          ELSE 'www.' || source || '.example.com' END) ||
        |    (CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END) ||
        |    '/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 4 = 2 THEN '?utm_source=feed&utm_campaign=x'
        |          WHEN doc_id % 4 = 3 THEN '?b=2&a=1' ELSE '' END) ||
        |    (CASE WHEN doc_id % 4 = 3 THEN '#frag' ELSE '' END) AS raw_url
        |  FROM documents),
        |parsed AS (
        |  SELECT doc_id, raw_url,
        |    regexp_replace(regexp_replace(raw_url, '#.*$', ''), '\?.*$', '') AS base,
        |    CASE WHEN contains(regexp_replace(raw_url, '#.*$', ''), '?')
        |         THEN regexp_replace(regexp_replace(raw_url, '#.*$', ''), '^[^?]*\?', '')
        |         ELSE '' END AS qs
        |  FROM docs),
        |canon AS (
        |  SELECT doc_id, raw_url,
        |    lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1)) AS hostport,
        |    regexp_replace(regexp_extract(base,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$', 1), '/+$', '') AS pth,
        |    COALESCE(array_to_string(list_sort(list_filter(string_split(qs, '&'),
        |      p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&'), '') AS cq
        |  FROM parsed),
        |cu AS (
        |  SELECT doc_id, raw_url,
        |    scheme || '://' ||
        |    (CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |          WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |          ELSE hostport END) || pth ||
        |    (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS canon_url
        |  FROM canon)
        |SELECT canon_url, COUNT(*) AS n_raw,
        |  CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_variants,
        |  MIN(doc_id) AS keep_doc
        |FROM cu GROUP BY 1 ORDER BY canon_url""".stripMargin,

    // Page fixture rebuilt verbatim, then the SAME generic extraction:
    // <main> slice → tag strip → whitespace collapse ('g' flags — DuckDB
    // replaces first-only by default, Spark replaces all).
    "q_html_extract" ->
      """WITH pg AS (
        |  SELECT doc_id, text,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><nav>home | about | contact</nav>' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '<aside>sponsored: buy now</aside>'
        |          ELSE '' END) ||
        |    '<main><p>' || text || '</p></main><footer>(c) example.com | src=' ||
        |    source || '</footer></body></html>' AS html
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(
        |      regexp_extract(html, '<main>(.*)</main>', 1), '<[^>]*>', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS main_text,
        |    trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS page_text
        |  FROM pg)
        |SELECT doc_id,
        |  CAST(length(main_text) AS BIGINT) AS main_chars,
        |  CAST(length(page_text) AS BIGINT) AS page_chars,
        |  CAST(length(main_text) AS DOUBLE) / CAST(length(page_text) AS DOUBLE)
        |    AS density,
        |  (main_text = trim(regexp_replace(text, '\s+', ' ', 'g')))
        |    AS clean_roundtrip
        |FROM ex ORDER BY doc_id""".stripMargin,

    "q_oov_rate" ->
      s"""WITH tok AS (SELECT doc_id,
         |    UNNEST(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS token
         |  FROM documents),
         |v AS (SELECT token FROM (
         |        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1
         |        ORDER BY cnt DESC, token LIMIT $VocabSize) z),
         |j AS (SELECT t.doc_id, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM tok t LEFT JOIN v ON t.token = v.token)
         |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(oov) AS BIGINT) AS n_oov,
         |  CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
         |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Per-term p·ln p decimal-cast before summing — same op order as Spark.
    "q_entropy" ->
      """WITH wc AS (SELECT doc_id, tkn, COUNT(*) AS c FROM (
        |         SELECT doc_id,
        |                UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS tkn
        |         FROM documents) z GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM wc GROUP BY 1),
        |terms AS (SELECT wc.doc_id, n,
        |    CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |         * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(28,12)) AS t
        |  FROM wc JOIN tot USING (doc_id))
        |SELECT doc_id, n, CAST(-SUM(t) AS DOUBLE) AS entropy,
        |  (CAST(-SUM(t) AS DOUBLE) >= 2.0) AS diverse
        |FROM terms GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,

    "q_inverted_index" ->
      """WITH td AS (
        |  SELECT DISTINCT token, doc_id FROM (
        |    SELECT doc_id,
        |           UNNEST(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS token
        |    FROM documents) z
        |  WHERE length(token) >= 4)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |  LIST_AGGREGATE(LIST(doc_id ORDER BY doc_id)[1:20], 'string_agg', ',')
        |    AS postings
        |FROM td GROUP BY 1
        |HAVING COUNT(*) >= 5
        |ORDER BY df DESC, token LIMIT 100""".stripMargin,

    "q_vocab_coverage" -> {
      val covs = Seq(64, 256, 1024, 4096).map(k =>
        s"""CAST(SUM(CASE WHEN r <= $k THEN c ELSE 0 END) AS DOUBLE)
           |    / CAST(SUM(c) AS DOUBLE) AS coverage_top$k""".stripMargin)
        .mkString(",\n  ")
      s"""WITH wc AS (
         |  SELECT w, COUNT(*) AS c FROM (
         |    SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS w
         |    FROM documents) z GROUP BY 1),
         |r AS (SELECT c,
         |        CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r
         |      FROM wc)
         |SELECT COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  $covs
         |FROM r""".stripMargin
    },

    "q_zipf_fit" ->
      """WITH wc AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT UNNEST(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS w
        |    FROM documents) z GROUP BY 1),
        |r AS (SELECT c,
        |        CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS r
        |      FROM wc),
        |m AS (SELECT COUNT(*) AS n_types,
        |        CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |        CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
        |        CAST(SUM(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS sy,
        |        CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))
        |                 AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
        |        CAST(SUM(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
        |                 AS DECIMAL(28,12))) AS DOUBLE) AS sxx
        |      FROM r)
        |SELECT n_types, n_tokens, n_hapax,
        |  CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_ratio,
        |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
        |  (sxy - sx * sy / CAST(n_types AS DOUBLE))
        |    / (sxx - sx * sx / CAST(n_types AS DOUBLE)) AS zipf_slope
        |FROM m""".stripMargin,

    "q_chi2_independence" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |rm AS (SELECT lang AS l2, CAST(SUM(n) AS BIGINT) AS rn FROM cells GROUP BY 1),
        |cm AS (SELECT source AS s2, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM cells)
        |SELECT lang, source, n,
        |  CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE) AS expected,
        |  (CAST(n AS DOUBLE) - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE))
        |  * (CAST(n AS DOUBLE) - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE))
        |  / (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE)) AS chi2_term
        |FROM cells JOIN rm ON lang = l2 JOIN cm ON source = s2, tot
        |ORDER BY lang, source""".stripMargin,

    "q_cooccur_pmi" ->
      """WITH td AS (
        |  SELECT DISTINCT doc_id, tk FROM (
        |    SELECT doc_id,
        |      UNNEST(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS tk
        |    FROM documents) z),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |pairs AS (
        |  SELECT x.tk AS a, y.tk AS b, COUNT(*) AS df_ab
        |  FROM td x JOIN td y ON x.doc_id = y.doc_id AND x.tk < y.tk
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |dft AS (SELECT tk, COUNT(*) AS df FROM td GROUP BY 1)
        |SELECT a, b, df_ab,
        |  ln(CAST(df_ab AS DOUBLE) * CAST(n_docs AS DOUBLE)
        |     / (CAST(da.df AS DOUBLE) * CAST(db.df AS DOUBLE))) AS pmi
        |FROM pairs
        |JOIN dft da ON a = da.tk
        |JOIN dft db ON b = db.tk, nd
        |ORDER BY pmi DESC, a, b LIMIT 50""".stripMargin,

    "q_quality_quantile" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words
        |  FROM documents),
        |cut AS (SELECT quantile_cont(n_words, 0.75) AS threshold FROM scored)
        |SELECT doc_id, n_words, threshold
        |FROM scored, cut WHERE n_words >= threshold
        |ORDER BY doc_id""".stripMargin
  )
}
