package graft.streaming

import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming media ingest — the multimodal twin of [[DocsStream]]: media
  * rows (the [[Multimodal.mediaSchema]] layout, GFV1 video payloads)
  * arrive as parquet files per micro-batch, each batch is screened for
  * near-duplicate videos IN-BATCH (frame-aligned Hamming banding, min-id
  * keep — two near-dup uploads in one batch land exactly one
  * representative) and against the EXISTING media corpus' frame-hash
  * band index (a static memoized asset, the [[DocsStream]] quarantine
  * discipline applied to frames), and survivors land batch-keyed. The
  * screen reuses the EXACT batch operators ([[Multimodal.videoHashes]],
  * [[Multimodal.frameBands]], the q_video_neardup pair rule), so stream
  * and batch can never drift on what counts as a near-dup.
  */
object MediaStream {

  def readMedia(spark: SparkSession, dir: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(Multimodal.mediaSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toString))
      .parquet(dir)
  }

  /** Frame-hash band index of the media corpus at `dir/media.parquet`,
    * MATERIALIZED ONCE per (dir, frames, radius) per JVM (the Dedup band
    * index discipline): the streaming probe joins this narrow static
    * asset every micro-batch, so it must not re-decode the corpus per
    * trigger. */
  private def frameBandIndex(spark: SparkSession, dir: String,
                             nFrames: Int, maxHamming: Int): DataFrame = {
    import spark.implicits._
    val path = graft.Assets.dir("media_band_index", (dir, nFrames, maxHamming)) { out =>
      val corpus = spark.read.schema(Multimodal.mediaSchema)
        .parquet(s"$dir/media.parquet").as[Multimodal.Media]
      Multimodal.frameBands(
          Multimodal.videoHashes(corpus, nFrames).toDF(), maxHamming)
        .write.mode("overwrite").parquet(out)
    }
    graft.Tables.parquet(spark, path)
  }

  /** Batch-local screen: ids dropped by the min-id keep rule — the
    * higher id of every in-batch near-dup video pair. */
  private[streaming] def batchNearDupDropIds(
      fh: DataFrame, maxHamming: Int, minFrames: Int): DataFrame = {
    import fh.sparkSession.implicits._
    Multimodal.nearDupVideoPairs(
        fh.as[Multimodal.VideoFrameHash], maxHamming, minFrames)
      .select(col("id_b").as("id")).distinct()
  }

  /** Corpus screen: stream videos whose sampled frames match a corpus
    * video on ≥ minFrames aligned frames within maxHamming are
    * QUARANTINED. One equi-join of the batch's band rows against the
    * static index + the exact popcount rerank + a pair rollup — no
    * stream state accumulates. */
  private[streaming] def corpusNearDupIds(
      fh: DataFrame, idx: DataFrame,
      maxHamming: Int, minFrames: Int): DataFrame =
    Multimodal.frameBands(fh, maxHamming).as("s")
      .join(idx.as("c"),
        col("s.frame_idx") === col("c.frame_idx") &&
          col("s.band") === col("c.band") && col("s.bv") === col("c.bv"))
      .filter(bit_count(col("s.h").bitwiseXOR(col("c.h"))) <= maxHamming)
      .select(col("s.id").as("id"), col("c.id").as("cid"),
        col("s.frame_idx").as("f"))
      .distinct()
      .groupBy(col("id"), col("cid"))
      .agg(count(lit(1)).as("fm"))
      .filter(col("fm") >= minFrames)
      .select(col("id")).distinct()

  /** Screen + land a media stream. Survivors land under
    * `out/b=<batchId>` (overwrite — the idempotent at-least-once replay
    * discipline), quarantined ids under `out/quarantine/b=<batchId>` as
    * the audit ledger. */
  def mediaIngest(media: DataFrame, out: String,
                  corpus: Option[String] = None, nFrames: Int = 4,
                  maxHamming: Int = 3, minFrames: Int = 3): DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        import batch.sparkSession.implicits._
        val spark = batch.sparkSession
        val cached = batch.persist()
        try {
          val fh = Multimodal
            .videoHashes(cached.as[Multimodal.Media], nFrames).toDF()
            .persist()
          // hash-less payloads (no decodable frames) cannot collide and
          // pass both screens — exact byte dedup is their path, as in the
          // batch operators
          val allIds = cached.select(col("id")).distinct()
          val selfKeptIds = allIds.join(
            batchNearDupDropIds(fh, maxHamming, minFrames), Seq("id"), "left_anti")
          val selfKeptFh = fh.join(selfKeptIds, Seq("id"), "left_semi")
          val corpusDrop = corpus.fold(
            spark.emptyDataset[Long].toDF("id"))(d =>
            corpusNearDupIds(selfKeptFh,
              frameBandIndex(spark, d, nFrames, maxHamming),
              maxHamming, minFrames))
          val keptIds = selfKeptIds.join(corpusDrop, Seq("id"), "left_anti")
          cached.join(keptIds, Seq("id"), "left_semi")
            .write.mode("overwrite").parquet(f"$out/b=$id%05d")
          cached.select(col("id"))
            .join(keptIds, Seq("id"), "left_anti")
            .write.mode("overwrite").parquet(f"$out/quarantine/b=$id%05d")
          fh.unpersist(blocking = false)
          ()
        } finally { cached.unpersist(blocking = false); () }
      }
}
