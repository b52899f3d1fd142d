package graftbench

import com.fasterxml.jackson.databind.JsonNode
import graft.io.DatasetConvention
import graft.prune.Pagination
import graft.schema.SchemaInference
import graft.streaming.DocsStream
import graft.tables.TableOps
import java.time.Instant
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** `etl`: graft's write surface on seeded JSON records, in order —
  * schema inference, table create / chunked insert / keyed upserts /
  * replace, partitioned-dataset appends and reads, pagination over the
  * dataset, then a document stream. Each pass writes under its own table
  * name and directories, so every pass does the same work. With `observe`
  * (the cold pass) each step records, untimed, the state it left behind. */
final class Etl(r: Run, cfg: JsonNode) extends Workload {
  import Main.jmap

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private val v1 = StructType(Seq(StructField("id", LongType), StructField("kind", StringType),
    StructField("amount", DoubleType)))
  private val v2 = v1.add(StructField("channel", StringType))
  private val observed = new JMap[Int, JMap[String, Any]]()

  private def table(pass: Int) = s"etl_p$pass"
  private def dir(kind: String, pass: Int) = s"${r.root}/$kind/p$pass"
  private def day(d: Int) = Instant.parse(f"2024-03-$d%02dT12:00:00Z")

  private def spark: SparkSession = r.spark
  private def json(recs: Seq[String], schema: StructType): DataFrame =
    spark.read.schema(schema).json(spark.createDataset(recs)(Encoders.STRING))
  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
  private def keys(tbl: String): JList[Any] =
    new JList[Any](spark.table(tbl).select("id").collect().map(_.getLong(0)).sorted
      .toSeq.map(k => k: Any).asJava)
  private def rowsJson(df: DataFrame): JList[Any] =
    new JList[Any](df.orderBy("id").toJSON.collect().toSeq.asJava)

  def ops(pass: Int, observe: Boolean): Seq[Op] = {
    val obs = jmap()
    if (observe) observed.put(pass, obs)
    val tbl = table(pass)
    val base = dir("datasets", pass)
    val chunks = cfg.get("chunks").elements().asScala.map(strings).toSeq
    val upserts = cfg.get("upserts").elements().asScala.map(strings).toSeq
    val appends = cfg.get("appends").elements().asScala.toSeq
    val pages = cfg.get("pages").asInt
    var schema: StructType = null
    var token: Option[String] = None
    val pageIds = new JList[Any]()
    def pageRows(pg: Pagination.Page): Unit = {
      val ids = pg.rows.select("id").collect().map(_.getLong(0))
      if (observe) ids.foreach(pageIds.add)
      token = pg.nextToken
    }

    Seq(Op("schema.infer", _ => schema = SchemaInference.inferFromJson(chunks.flatten)),
      Op("tableops.create", _ =>
        TableOps.createTableFromRecords(spark, tbl, chunks.head, schema = Some(schema)))) ++
    chunks.tail.map(c => Op("tableops.insert", _ => TableOps.insertRecords(spark, tbl, c))) ++
    upserts.zipWithIndex.map { case (u, i) => Op("tableops.upsert",
      _ => TableOps.upsertTableFromRecords(spark, tbl, u, Seq("id")),
      () => obs.put(s"after_upsert_$i", keys(tbl)))
    } ++
    Seq(Op("tableops.replace",
      _ => TableOps.replaceTable(spark, tbl, json(strings(cfg.get("replace")), schema)),
      () => obs.put("after_replace", keys(tbl)))) ++
    appends.map { a =>
      val version = a.get("version").asInt
      Op("convention.append", _ => DatasetConvention.append(
        json(strings(a.get("rows")), if (version == 1) v1 else v2),
        base, "sales", version, day(a.get("day").asInt)))
    } ++
    Seq(
      Op("convention.read_latest",
        _ => noop(DatasetConvention.read(spark, base, "sales", latestOnly = true)),
        () => obs.put("latest_rows", rowsJson(
          DatasetConvention.read(spark, base, "sales", latestOnly = true)
            .drop("version", "year", "month", "day")))),
      Op("convention.read_all", _ => noop(DatasetConvention.read(spark, base, "sales")),
        () => obs.put("all_rows", DatasetConvention.read(spark, base, "sales").count())),
      Op("convention.read_schema", _ =>
        noop(DatasetConvention.read(spark, base, "sales", dataSchema = Some(v2)))),
      Op("convention.read_versions",
        _ => noop(DatasetConvention.readVersions(spark, base, "sales")),
        () => {
          val df = DatasetConvention.readVersions(spark, base, "sales")
          obs.put("versions_rows", df.count())
          obs.put("versions_columns", new JList[Any](df.columns.toSeq.asJava))
        }),
      Op("pagination.first_page", _ => pageRows(Pagination.firstPage(
        DatasetConvention.read(spark, base, "sales", dataSchema = Some(v2)),
        Seq("id"), cfg.get("page_size").asInt, dir("pages", pass))))) ++
    (1 until pages).map(_ => Op("pagination.next_page", _ =>
      pageRows(Pagination.nextPage(spark, token.getOrElse(
        throw new IllegalStateException("cursor ended early")))))) ++
    Seq(Op("streaming.ingest", rec => {
      val q = DocsStream.corpusIngest(
          DocsStream.readDocs(spark, cfg.get("stage_dir").asText, Some(1)),
          dir("corpus", pass), "corpus", 1, day(1))
        .option("checkpointLocation", dir("checkpoints", pass))
        .trigger(Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(120000L)) {
        q.stop()
        throw new IllegalStateException("stream did not finish within 120 s")
      }
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      rec.put("stream_batches", progress.length)
      rec.put("stream_rows_in", progress.map(_.numInputRows).sum)
      rec.put("stream_batch_ms", new JList[Any](progress.map(
        _.durationMs.getOrDefault("triggerExecution", 0L): Any).toSeq.asJava))
    }, () => {
      obs.put("page_ids", pageIds)
      obs.put("stream_rows_out",
        DatasetConvention.read(spark, dir("corpus", pass), "corpus").count())
    }))
  }

  def check(pass: Int): JMap[String, Any] = observed.getOrDefault(pass, jmap())

  override def cleanup(pass: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${table(pass)}")
    Seq("datasets", "pages", "corpus", "checkpoints").foreach { k =>
      val p = new org.apache.hadoop.fs.Path(dir(k, pass))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
