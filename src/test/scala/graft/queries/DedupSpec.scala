package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-safety contracts of the dedup family: degenerate LSH buckets
  * (exact-duplicate clusters) must not go quadratic, the capped edge list
  * must resolve to the SAME components as the exact pair list, and the
  * deliberately-quadratic exact baseline must refuse corpus-scale input. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** A signature frame (doc_id, m0..m7) where docs 0..n-1 all carry THE
    * SAME signature (an exact-duplicate cluster — every band collides)
    * and docs 1000..1000+k-1 are pairwise distinct. */
  private def degenerateSig(n: Int, k: Int): DataFrame = {
    val dupes = (0 until n).map(i => (i.toLong, "same"))
    val rest = (0 until k).map(i => (1000L + i, s"uniq$i"))
    (dupes ++ rest).toDF("doc_id", "seed")
      .select(col("doc_id") +:
        (0 until 8).map(o => concat(col("seed"), lit(s"_$o")).as(s"m$o")): _*)
  }

  test("graft.dedup.minhash.rows widens the band: candidates shrink, exact copies always collide, default untouched") {
    def pairs(rows: Option[String]): Set[(Long, Long)] = {
      val s2 = spark.newSession()
      rows.foreach(r => s2.conf.set("graft.dedup.minhash.rows", r))
      Dedup.minhashPairs(s2, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val def2 = pairs(None)
    // knob neutrality: explicit 2 ≡ default, bit-for-bit
    assert(pairs(Some("2")) == def2, "explicit rows=2 diverged from default")
    val wide3 = pairs(Some("3"))
    info(s"minhash candidates on sf: rows=2 -> ${def2.size}, rows=3 -> ${wide3.size}")
    // the FP knob must move: wider bands can only lose collisions on this
    // corpus (per-band collision prob drops from J^2 to J^3)
    assert(wide3.size <= def2.size,
      s"rows=3 produced MORE candidates (${def2.size} -> ${wide3.size})")
    // exact copies (J = 1 on the distinct-shingle set) carry identical
    // signatures at EVERY geometry — never lost, whatever the knob
    val exactCopies = graft.SparkEntry.queries("q_dedup_ngram")(spark, sf)
      .filter(col("jaccard") >= 1.0)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactCopies.subsetOf(wide3),
      s"rows=3 lost exact-copy pairs: ${exactCopies.diff(wide3)}")
    // recall of the exact J >= 1/2 truth at the widened geometry, measured
    val truth = graft.SparkEntry.queries("q_dedup_ngram")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (truth.nonEmpty) {
      val rec = truth.intersect(wide3).size.toDouble / truth.size
      info(f"rows=3 candidate recall of exact J>=1/2 pairs: $rec%.2f")
    }
  }

  test("q_ssjoin_prefix refuses the dense-vocabulary quadratic regime past the guard") {
    val s2 = spark.newSession()
    s2.conf.set("graft.ssjoin.maxCandPairs", "1")
    val e = intercept[IllegalArgumentException] {
      graft.SparkEntry.queries("q_ssjoin_prefix")(s2, sf).collect()
    }
    assert(e.getMessage.contains("q_dedup_minhash"),
      s"guard message must route to the scale tier: ${e.getMessage}")
    // and the default budget admits the sf fixture (the gate's regime)
    assert(graft.SparkEntry.queries("q_ssjoin_prefix")(spark, sf).count() >= 0)
  }

  test("ssjoin prefix filter prunes hard on a natural (Zipfian) vocabulary and stays exact") {
    // The sf fixture's 30-word vocabulary is the ADVERSARIAL regime for
    // prefix filtering (every shingle is dense, Σdf² explodes — round-12
    // verdict). This control plants the regime real text lives in: a
    // 2000-word Zipf-weighted vocabulary, 400 docs × ~40 tokens, plus 25
    // near-dup pairs (doc + its lightly-edited copy, J ≥ 1/2), and
    // measures what the prefix+positional filter actually buys.
    val dir = tmpDir("ssjoin-natural")
    val rnd = new scala.util.Random(1311)
    val vocabN = 2000
    // Zipf via inverse-power sampling: rank ∝ u^(-1/s) with s ≈ 1
    def word(): String = {
      val r = math.min(vocabN - 1,
        math.floor(math.pow(rnd.nextDouble() + 1e-9, -0.9)).toInt - 1)
      s"w$r"
    }
    val base = (0 until 400).map { i =>
      (i.toLong, Seq.fill(30 + rnd.nextInt(20))(word()).mkString(" "))
    }
    // near-dup copies: drop the last 3 tokens, append 2 fresh ones —
    // overlap stays well above the J >= 1/2 bar on 30+-token docs
    val dups = base.take(25).map { case (id, t) =>
      val toks = t.split(" ")
      (10000L + id,
        (toks.dropRight(3) ++ Seq(word(), word())).mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")

    val n = 425L
    val quadPairs = n * (n - 1) / 2
    val cands = Dedup.ssjoinCandidates(spark, dir).count()
    val prune = cands.toDouble / quadPairs.toDouble
    info(f"candidates $cands of $quadPairs quadratic pairs (${prune * 100}%.2f%%)")
    // natural vocabulary: the filter must remove (almost) everything the
    // verify stage would otherwise pay for — measured ~0.1%, asserted
    // with 50× headroom; the dense sf fixture sits near 100% by design
    assert(prune < 0.05, f"prefix filter stopped pruning: ${prune * 100}%.2f%%")

    // and the exact contract holds on this fixture too: candidates ⊇ the
    // brute-force J >= 1/2 pairs, and the registered query returns them
    val rows = graft.SparkEntry.queries("q_ssjoin_prefix")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def shingleSet(t: String): Set[String] =
      t.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val sets = (base ++ dups).map { case (id, t) => id -> shingleSet(t) }
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = sa.intersect(sb).size
      if inter * 2 >= sa.size + sb.size - inter
    } yield (a, b)).toSet
    assert(rows == brute,
      s"natural-text result diverged: extra=${rows.diff(brute).take(5)} missing=${brute.diff(rows).take(5)}")
    assert(brute.size >= 20, s"fixture lost its planted near-dups: ${brute.size}")
  }

  test("degenerate bucket short-circuits to a star: edge count is linear, not quadratic") {
    val n = 2000 // uncapped banding would emit 4 bands × n(n-1)/2 ≈ 8M pairs
    val edges = Dedup.candidateEdges(degenerateSig(n, 5), bucketCap = 64)
    val cnt = edges.count()
    // star on the min doc: exactly n-1 distinct edges from the cluster
    assert(cnt == (n - 1).toLong, s"expected ${n - 1} star edges, got $cnt")
  }

  test("capped edges resolve to the same components as exact band pairs") {
    // Mixed shape: one oversized duplicate cluster + unique docs + a small
    // near-dup group sharing only bands 0-1 (distinct m4..m7).
    val cluster = (0 until 300).map(i => (i.toLong, Seq.fill(8)("c")))
    val uniques = (0 until 40).map(i => (500L + i, (0 until 8).map(o => s"u${i}_$o")))
    val partial = (0 until 6).map(i =>
      (900L + i, Seq("p", "p", "p", "p") ++ (4 until 8).map(o => s"x${i}_$o")))
    val sig = (cluster ++ uniques ++ partial)
      .map { case (id, ms) => (id, ms(0), ms(1), ms(2), ms(3), ms(4), ms(5), ms(6), ms(7)) }
      .toDF("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
    def comps(edges: DataFrame): Map[Long, Long] =
      graft.operators.Graph.connectedComponents(edges)
        .as[(Long, Long)].collect().toMap
    // ground truth: the exact band-pair clique list, no collapse, no cap
    val truth = comps(Dedup.bandPairs(sig)
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val exact = comps(Dedup.candidateEdges(sig, bucketCap = Int.MaxValue))
    val capped = comps(Dedup.candidateEdges(sig, bucketCap = 32))
    assert(exact == truth)
    assert(capped == truth)
  }

  test("candidateEdges is a lazy plan: building stores nothing, the loop's final round is the only residue") {
    spark.sharedState.cacheManager.clearCache()
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val (edges, jobs) = jobsDuring(Dedup.candidateEdges(degenerateSig(300, 20), bucketCap = 64))
    assert(jobs == 0)
    assert(edges.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds0)
    val labels = graft.operators.Graph.connectedComponents(edges)
      .as[(Long, Long)].collect()
    assert(labels.length == 300 && labels.forall(_._2 == 0L))
    val added = spark.sparkContext.getPersistentRDDs.keySet -- rdds0
    assert(added.size == 1, added.mkString(", "))
    added.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("q_dedup_canonical keeps the largest doc per component (tie: lowest id), one per cluster") {
    val resolve = graft.SparkEntry.queries("q_dedup_resolve")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = graft.SparkEntry.queries("q_dedup_canonical")(spark, sf).collect()
    // same cluster structure as q_dedup_resolve, doc for doc
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap === resolve)
    val sizes = graft.Tables.load(spark, sf, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getLong(1)).foreach { case (comp, members) =>
      // exactly one keeper per component, and it IS the canonical
      val kept = members.filter(_.getLong(3) == 1L)
      assert(kept.length === 1, s"component $comp kept ${kept.length}")
      val canon = members.head.getLong(2)
      assert(members.forall(_.getLong(2) == canon))
      assert(kept.head.getLong(0) === canon)
      // the canonical is the largest member; ties resolve to lowest id
      val best = members.map(_.getLong(0)).minBy(id => (-sizes(id), id))
      assert(canon === best, s"component $comp canonical $canon != $best")
    }
  }

  test("q_split_leakfree: no measured near-dup pair straddles a split boundary") {
    val census = graft.SparkEntry.queries("q_split_leakfree")(spark, sf).collect()
    val docs = graft.Tables.load(spark, sf, "documents").count()
    assert(census.map(_.getLong(1)).sum === docs, "census must cover every doc")
    // recompute each doc's split through its component and check the
    // measured near-dup candidate pairs never cross train/dev/test
    val comp = graft.SparkEntry.queries("q_dedup_resolve")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val split = Sampling.withSplit(
        comp.values.toSeq.distinct.toDF("component"), "component")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    graft.SparkEntry.queries("q_dedup_minhash")(spark, sf).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(split(comp(a)) === split(comp(b)),
        s"near-dup pair ($a,$b) straddles ${split(comp(a))}/${split(comp(b))}")
    }
  }

  test("q_dedup_resolve end-to-end through RELIABLE FS checkpoints matches the local-checkpoint labeling") {
    // the cluster-mode CC loop (executor-loss-tolerant FS checkpoints,
    // Graph.scala) exercised through a REGISTERED QUERY, not just the
    // operator spec: a fresh copy of the corpus forces a labeling build
    // (the memoized labeling is keyed by dataset dir), the conf routes the
    // loop through the FS, and the result must be identical to the
    // default-path labeling of the same documents.
    val local = graft.SparkEntry.queries("q_dedup_resolve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val ds = tmpDir("graft-ds-ck")
    spark.read.parquet(s"$sf/documents.parquet")
      .write.parquet(s"$ds/documents.parquet")
    val ck = tmpDir("graft-cc-ck")
    spark.conf.set("graft.dedup.checkpointDir", ck)
    try {
      val viaFs = graft.SparkEntry.queries("q_dedup_resolve")(spark, ds).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(viaFs.sameElements(local),
        "FS-checkpointed labeling diverged from the local-checkpoint labeling")
      // the loop really went through the FS: the final round's checkpoint
      // files exist under the conf'd dir...
      val ckRoot = java.nio.file.Paths.get(ck)
      val files = java.nio.file.Files.walk(ckRoot).filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no checkpoint files written under $ck — the FS path did not run")
    } finally {
      spark.conf.unset("graft.dedup.checkpointDir")
      // ...and, the labeling being parquet-materialized, they are now dead
      // weight — sweep them (the caller-owned cleanup Graph documents)
      val ckRoot = java.nio.file.Paths.get(ck)
      java.nio.file.Files.walk(ckRoot).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("q_dedup_ngram reads the shingle asset as-is: collecting it leaves no cache") {
    spark.sharedState.cacheManager.clearCache()
    val pairs = graft.SparkEntry.queries("q_dedup_ngram")(spark, sf).collect()
    assert(pairs.nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("q_dedup_ngram guard refuses corpus-scale input until explicitly raised") {
    spark.conf.set("graft.dedup.ngram.maxDocs", "1")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.SparkEntry.queries("q_dedup_ngram")(spark, sf).collect()
      }
      assert(e.getMessage.contains("graft.dedup.ngram.maxDocs"))
    } finally spark.conf.unset("graft.dedup.ngram.maxDocs")
    // default guard admits the test corpus
    assert(graft.SparkEntry.queries("q_dedup_ngram")(spark, sf).count() >= 0)
  }

  test("q_dedup_sweep census equals a replay over q_minhash_estimate's pair table") {
    val est = graft.SparkEntry.queries("q_minhash_estimate")(spark, sf)
      .select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nDocs = graft.Tables.load(spark, sf, "documents").count()
    val got = graft.SparkEntry.queries("q_dedup_sweep")(spark, sf).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    got.foreach { case (tau, (nPairs, nFlagged, frac)) =>
      val hits = est.filter(_._3 >= tau)
      assert(nPairs == hits.length.toLong, s"tau=$tau pairs")
      val docs = hits.flatMap(p => Seq(p._1, p._2)).distinct.length
      assert(nFlagged == docs.toLong, s"tau=$tau flagged docs")
      assert(math.abs(frac - docs.toDouble / nDocs) < 1e-12, s"tau=$tau frac")
    }
    // the sweep is monotone: raising tau never flags more
    val fl = got.map(_._2._2)
    assert(fl.zip(fl.tail).forall { case (a, b) => a >= b }, fl.mkString(","))
  }

  test("q_record_linkage equals the brute-force blocked best match on the collected catalogs") {
    val parts = graft.Tables.load(spark, sf, "part")
      .select("p_partkey", "p_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val want = parts.groupBy(_._2.split(" ").last).toSeq.flatMap {
      case (_, grp) =>
        val rights = grp.filter(_._1 % 2 == 0)
        grp.filter(_._1 % 2 == 1).flatMap { case (lk, ln) =>
          val cands = rights
            .map { case (rk, rn) => (lev(ln, rn).toLong, rk, rn) }
            .filter(_._1 <= 4L)
          if (cands.isEmpty) None
          else { val b = cands.min; Some((lk, ln, b._2, b._3, b._1)) }
        }
    }.toSet
    val got = graft.SparkEntry.queries("q_record_linkage")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got === want)
    assert(got.nonEmpty, "no links found — blocking too strict for the fixture")
    // best-match resolution: one row per linked left entity
    assert(got.map(_._1).size == got.size)
  }

  test("q_substring_dedup excises exactly the planted cross-doc spans") {
    // Fixture: a 5-token span planted in docs 1 and 2 amid unique context;
    // doc 3 shares no span; doc 4 is an exact copy of doc 5 (fully
    // covered); doc 6 is shorter than the span length.
    val span = "the quick brown fox jumps"
    val copy = "identical document body repeated verbatim across two docs"
    val docs = Seq(
      (1L, s"aaa bbb ccc $span ddd eee fff"),
      (2L, s"ggg hhh $span iii jjj kkk lll"),
      (3L, "mmm nnn ooo ppp qqq rrr sss ttt"),
      (4L, copy),
      (5L, copy),
      (6L, "uuu vvv www")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("fixture"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = tmpDir("subdedup")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("q_substring_dedup")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // the planted span (5 tokens) is removed from BOTH carriers; the
    // unique context survives in order
    assert(got(1L) === ((11L, 5L, "aaa bbb ccc ddd eee fff")))
    assert(got(2L) === ((11L, 5L, "ggg hhh iii jjj kkk lll")))
    // untouched doc: zero removed, text round-trips (lowered/trimmed)
    assert(got(3L) === ((8L, 0L, "mmm nnn ooo ppp qqq rrr sss ttt")))
    // exact copies: every token covered by overlapping dup spans → both
    // removed in toto (the Lee et al. degenerate case)
    assert(got(4L) === ((8L, 8L, "")))
    assert(got(5L) === ((8L, 8L, "")))
    // shorter than the span: passes through whole
    assert(got(6L) === ((3L, 0L, "uuu vvv www")))
  }
}
