package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("q_negative_sample equals the brute-force seeded draw with collision drop") {
    import org.apache.spark.sql.functions._
    val got = graft.SparkEntry.queries("q_negative_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // independent replication: same md5-uniform convention, in-memory
    val pos = graft.Tables.load(spark, sf, "lineitem")
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // draw space is 1..max(p_partkey): part keys are 1-based, id 0 (and
    // the off-by-one ghost) must never be emitted as a negative
    val nParts = graft.Tables.load(spark, sf, "part")
      .agg(max(col("p_partkey"))).head().getLong(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def u32(key: String): Long = {
      val hex = md.digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val want = for {
      (s, p) <- pos
      j <- 1L to 3L
      cand = 1L + u32(s + ":" + p + ":" + j) % nParts
      if !pos.contains((s, cand))
    } yield (s, p, j, cand)
    assert(got === want, "sample disagrees with the independent seeded draw")
    // no kept negative is a positive, and the collision rate is visible
    assert(got.forall { case (s, _, _, c) => !pos.contains((s, c)) })
    assert(got.size < pos.size * 3, "no draw ever collided — suspicious")
    // every emitted negative references a REAL item (round-11 advice)
    assert(got.forall { case (_, _, _, c) => c >= 1L && c <= nParts })
  }

  test("q_span_corruption: input+target reconstruct the doc; one <X> per masked span") {
    val rows = graft.SparkEntry.queries("q_span_corruption")(spark, sf).collect()
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long, span: Long): Double = {
      val hex = md.digest(s"$id:$span".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    var anyMasked = false
    rows.foreach { r =>
      val id = r.getLong(0)
      val orig = docs(id).trim.toLowerCase.split("\\s+").toIndexedSeq
      assert(r.getLong(1) == orig.length.toLong, s"doc $id n_tokens")
      // independent replay of the seeded mask decision
      val masked = orig.indices.filter(p => u(id, p / 3) < 0.15)
      assert(r.getLong(2) == masked.size.toLong, s"doc $id n_masked")
      assert(r.getString(4) == masked.map(orig).mkString(" "), s"doc $id target")
      val wantInput = orig.indices.flatMap { p =>
        if (u(id, p / 3) >= 0.15) Some(orig(p))
        else if (p % 3 == 0) Some("<X>") else None
      }.mkString(" ")
      assert(r.getString(3) == wantInput, s"doc $id input")
      // sentinel count = number of distinct masked spans
      val nSpans = masked.map(_ / 3).distinct.size
      assert(r.getString(3).split(" ").count(_ == "<X>") == nSpans, s"doc $id spans")
      anyMasked |= masked.nonEmpty
    }
    assert(anyMasked, "no document had any masked span — corruption vacuous")
  }

  test("q_dp_quantile: in-memory replay of the exponential mechanism picks the same bin") {
    val r = graft.SparkEntry.queries("q_dp_quantile")(spark, sf).collect()
    assert(r.length == 1)
    val (bin, dpq, n) = (r(0).getLong(1), r(0).getDouble(2), r(0).getLong(3))
    val vs = graft.Tables.load(spark, sf, "orders")
      .select("o_totalprice").collect().map(_.getDouble(0))
    assert(n == vs.length.toLong)
    val mx = vs.max
    val cnt = Array.fill(64)(0L)
    vs.foreach { v => cnt(math.min(math.floor(v / (mx / 64.0)).toLong, 63L).toInt) += 1 }
    val cum = cnt.scanLeft(0L)(_ + _).tail
    val md = java.security.MessageDigest.getInstance("MD5")
    def gumbel(b: Int): Double = {
      val hex = md.digest(s"dpq:$b".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
      -math.log(-math.log(u))
    }
    val scores = (0 until 64).map { b =>
      0.5 * (-math.abs(cum(b).toDouble - n.toDouble / 2.0)) / 2.0 + gumbel(b)
    }
    val wantBin = scores.indices.maxBy(scores)
    assert(bin == wantBin.toLong, s"mechanism picked $bin, replay picked $wantBin")
    assert(math.abs(dpq - (bin + 0.5) * (mx / 64.0)) < 1e-9)
    // the release is actually useful: the chosen bin's rank error is small
    assert(math.abs(cum(bin.toInt).toDouble - n / 2.0) <= 0.1 * n,
      s"released bin rank error ${math.abs(cum(bin.toInt) - n / 2.0)} of $n")
  }

  test("hash split is a pure function of id: stable across partitionings") {
    val docs = Tables.load(spark, sf, "documents")
    val a = Sampling.withSplit(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = Sampling.withSplit(docs.repartition(7), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
    val frac = a.values.count(_ == "train").toDouble / a.size
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
  }

  test("splits partition the corpus (every doc in exactly one split)") {
    val docs = Tables.load(spark, sf, "documents")
    val split = Sampling.withSplit(docs, "doc_id")
    assert(split.count() == docs.count())
    assert(split.select("split").distinct().count() == 3)
  }

  test("stratified sample respects per-stratum fractions (seeded, tolerant)") {
    val docs = Tables.load(spark, sf, "documents")
    val fracs = Map("en" -> 0.5, "es" -> 0.1, "de" -> 1.0, "fr" -> 0.0, "zh" -> 0.3)
    val sampled = Sampling.stratifiedSample(docs, "lang", fracs, seed = 7L)
    val byLang = sampled.groupBy("lang").count().as[(String, Long)].collect().toMap
    val base = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(!byLang.contains("fr"))
    assert(byLang("de") == base("de"))
    val enFrac = byLang.getOrElse("en", 0L).toDouble / base("en")
    assert(enFrac > 0.25 && enFrac < 0.75, s"en fraction $enFrac")
    // deterministic for a fixed seed
    val again = Sampling.stratifiedSample(docs, "lang", fracs, seed = 7L)
    assert(again.select("doc_id").as[Long].collect().sorted.toSeq ==
      sampled.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("q_ess_weights matches the brute-force (Σw)²/Σw², bounded by (1, n]") {
    val Array(r) = graft.SparkEntry.queries("q_ess_weights")(spark, sf).collect()
    val chars = Tables.load(spark, sf, "documents")
      .select(col("n_chars")).as[Long].collect()
    val mx = chars.max.toDouble
    val ws = chars.map(_ / mx)
    val ess = math.pow(ws.sum, 2) / ws.map(w => w * w).sum
    assert(r.getLong(0) === chars.length.toLong)
    assert(math.abs(r.getDouble(1) - ess) < 1e-6)
    assert(r.getDouble(1) > 1.0 && r.getDouble(1) <= chars.length.toDouble)
    assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
  }

  test("temperature mix (α=0.5) keeps a superset of the equal-count mix (α=1)") {
    // same per-doc hash draw, larger rate (m/c ≤ 1 ⇒ (m/c)^0.5 ≥ m/c):
    // every α=1 pick must survive at α=0.5, and the smallest language is
    // kept whole under both (rate = 1)
    val hot = graft.SparkEntry.queries("q_temperature_mix")(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val eq = graft.SparkEntry.queries("q_domain_mix")(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(eq.subsetOf(hot), "α=1 picks lost at α=0.5")
    assert(hot.size > eq.size, "temperature must keep strictly more overall")
    // size ordering survives α=0.5 in expectation: the largest language
    // keeps at least as many docs as the smallest keeps in total
    val byLang = graft.SparkEntry.queries("q_temperature_mix")(spark, sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val base = Tables.load(spark, sf, "documents")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val smallest = base.minBy(_._2)._1
    assert(byLang(smallest) == base(smallest), "smallest language must be kept whole")
  }

  test("q_stratified_split: exact ceil(0.8n)/ceil(0.9n) cuts per stratum") {
    val rows = graft.SparkEntry.queries("q_stratified_split")(spark, sf)
      .select("lang", "split", "n_docs").as[(String, String, Long)]
      .collect().groupBy(_._1)
      .view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val base = Tables.load(spark, sf, "documents")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(rows.keySet == base.keySet)
    for ((lang, n) <- base) {
      val m = rows(lang)
      val train = (8 * n + 9) / 10 // = ceil(0.8n): #{k in [0,n): 10k < 8n}
      val dev = (9 * n + 9) / 10 - train
      assert(m.getOrElse("train", 0L) == train, s"$lang train")
      assert(m.getOrElse("dev", 0L) == dev, s"$lang dev")
      assert(m.values.sum == n, s"$lang must be partitioned exactly")
    }
  }

  test("stratified split's two-pass rank equals the single-window oracle rank") {
    // the distributed bucket-prefix rank must reproduce the plain
    // row_number-over-stratum semantics the oracle states
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        md5(encode(col("doc_id").cast("string"), "UTF-8")).as("h"))
      .as[(Long, String, String)].collect()
    val expect = docs.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      val n = ds.length
      ds.sortBy(d => (d._3, d._1)).zipWithIndex.map { case (_, i) =>
        val split = if (10L * i < 8L * n) "train"
        else if (10L * i < 9L * n) "dev" else "test"
        (lang, split)
      }
    }.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val got = graft.SparkEntry.queries("q_stratified_split")(spark, sf)
      .select("lang", "split", "n_docs").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got == expect)
  }

  test("q_epoch_shuffle: the seeded permutation, shards contiguous and balanced") {
    val got = graft.SparkEntry.queries("q_epoch_shuffle")(spark, sf)
      .as[(Long, Long, Long)].collect()
    val ids = Tables.load(spark, sf, "documents")
      .select(col("doc_id")).as[Long].collect()
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = mdig.digest(s"epoch7:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // brute-force permutation: position = rank in (md5, id) order
    val expectPos = ids.map(id => (h(id), id)).sorted.map(_._2)
      .zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    assert(got.length == ids.length)
    got.foreach { case (id, pos, _) => assert(pos == expectPos(id), s"doc $id") }
    val n = ids.length
    // shards are contiguous position ranges, balanced to the row
    got.foreach { case (_, pos, sh) => assert(sh == pos * 8 / n) }
    val sizes = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.keySet == (0L until 8L).toSet)
    assert(sizes.values.max - sizes.values.min <= 1,
      s"unbalanced shards: $sizes")
    // a different epoch seed is a DIFFERENT permutation of the same ids
    val other = ids.map(id => (mdig.digest(s"epoch8:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString, id)).sorted.map(_._2)
    assert(other.toSeq != ids.map(id => (h(id), id)).sorted.map(_._2).toSeq)
  }

  test("q_curriculum: pos is a permutation, bands monotone along it, in-band order is the seeded hash") {
    val got = graft.SparkEntry.queries("q_curriculum")(spark, sf)
      .as[(Long, Int, Long)].collect().sortBy(_._3)
    val n = Tables.load(spark, sf, "documents").count()
    assert(got.length == n)
    // pos is exactly 1..n
    assert(got.map(_._3).toSeq == (1L to n).toSeq)
    // bands never decrease along the curriculum
    got.sliding(2).filter(_.length == 2).foreach { w =>
      assert(w(0)._2 <= w(1)._2, s"band order broken: ${w(0)._2} then ${w(1)._2}")
    }
    // within a band, order is the seeded md5 permutation (shuffled, not id
    // order): verify against a brute-force sort
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long) = mdig.digest(s"curr:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    got.groupBy(_._2).foreach { case (band, rows) =>
      val inPos = rows.sortBy(_._3).map(_._1).toSeq
      val inHash = rows.map(r => (h(r._1), r._1)).sorted.map(_._2).toSeq
      assert(inPos == inHash, s"band $band not in seeded-hash order")
    }
    // the banding has signal at sf0.001: more than one band occupied
    assert(got.map(_._2).distinct.length > 1)
  }

  test("q_raking: three IPF rounds land both margins on the uniform targets") {
    val rows = SparkEntry.queries("q_raking")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"),
        r.getAs[Double]("w"), r.getAs[Double]("fitted")))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4 > 0.0), "weights must stay positive")
    val total = rows.map(_._3).sum.toDouble
    val langT = total / rows.map(_._1).distinct.length
    val srcT = total / rows.map(_._2).distinct.length
    // the LAST scaling was on source, so source margins are exact;
    // lang margins converge to within 1% of target after 3 rounds
    rows.groupBy(_._2).foreach { case (src, cs) =>
      assert(math.abs(cs.map(_._5).sum - srcT) < 1e-6, s"source margin $src")
    }
    rows.groupBy(_._1).foreach { case (lang, cs) =>
      assert(math.abs(cs.map(_._5).sum - langT) / langT < 0.01,
        s"lang margin $lang: ${cs.map(_._5).sum} vs $langT")
    }
    // raking preserves mass: Σ fitted = Σ n
    assert(math.abs(rows.map(_._5).sum - total) / total < 0.01)
  }

  test("q_raking is one lazy plan: building starts no job, collecting caches nothing") {
    val build = SparkEntry.queries("q_raking")
    val want = build(spark, sf).collect() // tables and schemas resolved
    spark.sharedState.cacheManager.clearCache()
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val (df, jobs) = jobsDuring(build(spark, sf))
    assert(jobs == 0)
    assert(df.collect().toSeq == want.toSeq)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("q_ldiversity flags the homogeneous group and clears the diverse one") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // source s1, bucket [0,256): 3 docs all 'en'  -> l = 1, at risk
    // source s2, bucket [0,256): 3 docs en/de/fr  -> l = 3, safe
    val docs = Seq(
      (1L, "s1", "en", 10L), (2L, "s1", "en", 20L), (3L, "s1", "en", 30L),
      (4L, "s2", "en", 10L), (5L, "s2", "de", 20L), (6L, "s2", "fr", 30L)
    ).toDF("doc_id", "source", "lang", "n_chars")
      .withColumn("text", lit("x"))
    val dir = tmpDir("ldiv")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_ldiversity")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("l_distinct"), r.getAs[Boolean]("at_risk"))).toMap
    assert(got("s1") == ((1L, true)), got.toString)
    assert(got("s2") == ((3L, false)), got.toString)
  }

  test("q_dsir: importance weights favor the target domain; keep is the exact top quarter") {
    val got = SparkEntry.queries("q_dsir")(spark, sf).collect()
    assert(got.nonEmpty)
    val n = got.length.toLong
    // the keep rule is exactly floor(n/4) docs, and they are exactly the
    // top-ranked ones
    val kept = got.filter(_.getAs[Boolean]("keep"))
    assert(kept.length.toLong == n / 4, s"kept ${kept.length} of $n")
    assert(kept.map(_.getAs[Long]("rnk")).max <= n / 4)
    // ranks are a permutation of 1..n
    assert(got.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to n).toSeq)
    // the method works: target-domain (en) docs carry higher importance
    // weights than the rest on average — that is DSIR's whole point
    val lang = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (en, rest) = got.partition(r => lang(r.getAs[Long]("doc_id")) == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getAs[Double]("w")).sum / rs.length
    assert(mean(en) > mean(rest),
      s"en mean ${mean(en)} must exceed non-en mean ${mean(rest)}")
    // and the kept quarter is en-enriched vs the corpus base rate
    val enShareKept = kept.count(r => lang(r.getAs[Long]("doc_id")) == "en").toDouble / kept.length
    val enShareAll = en.length.toDouble / n
    assert(enShareKept > enShareAll,
      s"kept en share $enShareKept must exceed base rate $enShareAll")
  }
}
