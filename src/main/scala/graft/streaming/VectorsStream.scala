package graft.streaming

import graft.functions.VectorFunctions.intVec
import graft.operators.KMeans
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming vector encode — train offline, serve online: a PQ codebook
  * ([[graft.operators.KMeans.Model]] per subspace, the q_ann_pq training)
  * is frozen into literal centroids and an arriving vector stream encodes
  * per micro-batch with the SAME in-row argmax expression the batch index
  * build uses ([[KMeans.centArgmaxOn]] — one definition, no batch/stream
  * drift; VectorsStreamSpec pins the parity). Encoding is STATELESS pure
  * map work: no watermark, no state store, no shuffle — scan → project per
  * batch, the only stream shape that keeps up with an ingest firehose. At
  * 100 TB the codes land beside the raw vectors at ingest time, so the
  * batch index build never re-scans full vectors (q_ann_pq's probe reads
  * codes only).
  */
object VectorsStream {

  /** The embeddings table schema (TESTDATA.md) as parquet carries it. */
  def vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def readVecs(spark: SparkSession, dir: String,
               maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(vecSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toString))
      .parquet(dir)
  }

  /** (vec_id, label, code0..code{M-1}) under the FROZEN per-subspace
    * codebooks. Works identically on a batch frame — the spec runs both
    * paths through this one definition and asserts equality. Requires the
    * `graft_long_dot` expression (registered by [[graft.Session.setup]]). */
  def pqEncode(vecs: DataFrame, models: Seq[KMeans.Model],
               subDims: Int): DataFrame = {
    val iv = vecs.select(col("vec_id"), col("label"),
      intVec("embedding").as("v"))
    models.zipWithIndex.foldLeft(iv) { case (df, (m, i)) =>
      val vm = s"slice(v, ${i * subDims + 1}, $subDims)"
      df.withColumn(s"code$i",
        KMeans.centArgmaxOn(m, vm, s"graft_long_dot($vm, $vm)"))
    }.drop("v")
  }
}
