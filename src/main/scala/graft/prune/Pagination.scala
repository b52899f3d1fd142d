package graft.prune

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import java.nio.charset.StandardCharsets
import java.util.Base64

/** Stateless result pagination with opaque continuation tokens
  * (≙ reference query_paginated, bq.py:165-217, fixture A8).
  *
  * The reference runs the query once into a server-side destination table
  * and pages from it with base64(JSON{destination, page_token}). Here the
  * destination is a session-scoped parquet materialization carrying an
  * explicit global row index:
  *
  *   - the query is sorted once (total order), zipWithIndex assigns a
  *     contiguous Long `__idx` distributively (one counting pass + one map —
  *     no single-partition window), and the result is written out with the
  *     sort's range partitioning intact, so every parquet file covers a
  *     contiguous `__idx` range;
  *   - `total` is counted ONCE at materialization (parquet metadata count)
  *     and carried in the token — later pages never re-count the
  *     destination;
  *   - a page is `__idx ∈ [offset, offset+pageSize)` — a pushed-down range
  *     predicate that prunes to the file(s) covering the page via parquet
  *     min/max stats, instead of `offset().limit()` re-scanning every
  *     preceding row (and truncating offsets at 2³¹);
  *   - tokens are base64(jackson JSON) — offsets stay Long end-to-end and
  *     paths survive any quoting.
  */
object Pagination {

  /** One result page. `nextToken=None` terminates the cursor (fixture A8);
    * `token` identifies the page's own cursor and stays valid on the FINAL
    * page, so a caller that paged to exhaustion still has something to
    * hand [[release]]. */
  final case class Page(rows: DataFrame, nextToken: Option[String], token: String)

  private final case class Token(path: String, offset: Long, pageSize: Int, total: Long)

  /** Row-index column written into the materialization; stripped from pages. */
  private val IdxCol = "__idx"

  private val mapper = new ObjectMapper()

  private def encode(t: Token): String = {
    val n = mapper.createObjectNode()
    n.put("path", t.path); n.put("offset", t.offset)
    n.put("pageSize", t.pageSize); n.put("total", t.total)
    Base64.getEncoder.encodeToString(n.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def decode(token: String): Token = {
    val n = mapper.readTree(new String(Base64.getDecoder.decode(token), StandardCharsets.UTF_8))
    Token(n.get("path").asText, n.get("offset").asLong,
      n.get("pageSize").asInt, n.get("total").asLong)
  }

  /** First call: materialize `query` (sorted by `sortCols`, indexed, range
    * partitioned) under `destDir`, count it once, return page 0 + token.
    * zipWithIndex keeps the sort's partition order: partition k's rows get
    * indices after partition k-1's — a contiguous global index without a
    * global window. */
  def firstPage(query: DataFrame, sortCols: Seq[String], pageSize: Int,
                destDir: String): Page =
    firstPage(query.orderBy(sortCols.map(col): _*), pageSize, destDir)

  /** UNORDERED first call — full reference parity for `query_paginated`
    * on arbitrary SELECTs (bq.py:193-215 pages ANY query because BigQuery
    * materializes a destination table in whatever order the result
    * arrived): no sortCols required. zipWithIndex stamps `__idx` in
    * ARRIVAL (partition) order — still one distributed counting pass +
    * one map, no global sort, no single-partition window — and the
    * materialized parquet freezes that order, so pages are stable and
    * non-overlapping across the cursor's lifetime even though the order
    * is not semantically meaningful (exactly the reference's contract:
    * stable within a destination, unspecified across re-runs). */
  def firstPage(query: DataFrame, pageSize: Int, destDir: String): Page = {
    val spark = query.sparkSession
    val indexed = spark.createDataFrame(
      query.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      query.schema.add(IdxCol, LongType, nullable = false))
    indexed.write.mode(SaveMode.Overwrite).parquet(destDir)
    val total = Tables.parquet(spark, destDir).count() // once; metadata-only scan
    pageAt(spark, Token(destDir, 0L, pageSize, total))
  }

  /** Continuation call: decode the token, skip the query AND the count
    * entirely (≙ bq.py:198-204), range-read the materialized destination. */
  def nextPage(spark: SparkSession, token: String): Page =
    pageAt(spark, decode(token))

  /** End-of-cursor cleanup: drop the materialized destination. BigQuery's
    * destination tables expire server-side (24 h TTL); the local parquet
    * materialization has no expiry daemon, so the lifecycle is
    * caller-scoped — call this when the cursor is abandoned or exhausted.
    * Idempotent: releasing an already-released token is a no-op, and any
    * token of the same cursor releases the same destination. */
  def release(spark: SparkSession, token: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(decode(token).path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Age-based expiry sweep (≙ BigQuery destination tables expiring
    * server-side after 24 h, bq.py:193-195): delete every materialized
    * destination directly under `destRoot` whose newest file is older than
    * `ttlMs`. [[release]] stays the precise caller-scoped path; this is
    * the janitor for cursors that were abandoned without one — run it
    * periodically next to a long-lived paging service. Returns the swept
    * destination paths. `nowMs` is injectable for deterministic tests. */
  def sweepExpired(spark: SparkSession, destRoot: String, ttlMs: Long,
                   nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(destRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val children = fs.listStatus(st.getPath)
      val newest =
        if (children.isEmpty) st.getModificationTime
        else children.map(_.getModificationTime).max
      if (nowMs - newest > ttlMs) {
        fs.delete(st.getPath, true)
        Some(st.getPath.toString)
      } else None
    }
  }

  private def pageAt(spark: SparkSession, t: Token): Page = {
    val rows = Tables.parquet(spark, t.path)
      .filter(col(IdxCol) >= t.offset && col(IdxCol) < t.offset + t.pageSize)
      .orderBy(col(IdxCol)) // tiny: at most pageSize rows survive the pushdown
      .drop(IdxCol)
    val nextOff = t.offset + t.pageSize
    Page(rows,
      if (nextOff >= t.total) None // ≙ next_page_token=None terminates (A8)
      else Some(encode(t.copy(offset = nextOff))),
      encode(t))
  }
}
