package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Num, Tables}
import graft.operators.Prefix

/** Wide multi-join TPC-H query shapes beyond Q1/Q3/Q5/Q18/Q21.
  *
  * The reference's contract is arbitrary delegated SQL (reference:
  * bq.py:149-163, bq.py:219-234), so classic decision-support shapes —
  * outer-join count distributions, max-over-aggregate ties, correlated
  * scalar subqueries, scalar-cutoff anti-joins, multi-dimension volume
  * cubes — are part of its surface. Each is re-expressed Spark-first here:
  * correlated subqueries become aggregate-then-join, scalar subqueries
  * become broadcast 1-row frames, EXISTS chains become semi/anti joins,
  * and every pre-aggregation is placed BEFORE the join it feeds so the
  * big shuffles run on already-reduced inputs.
  */
object Shapes {
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Fanned-out scan (Tables.loadFan) for heavy-map call sites — the
    * round-14 measured ledger (OPTIMIZATION_r14.md). */
  private def tf(s: SparkSession, d: String, n: String) = Tables.loadFan(s, d, n)

  /** The year-2000 co-purchase edge table (a < b, cnt = co-purchase
    * count) — MATERIALIZED ONCE per dataset dir per JVM (the Dedup
    * signatureTable / labeledDocs asset idiom): the same
    * (order, part)-distinct self-join feeds FOUR graph queries
    * (q_triangle_count, q_shortest_path, q_label_prop, q_kcore), and a
    * real pipeline computes the edge list in one job and serves every
    * graph analysis from storage. Narrow (2 keys + 1 count). Unweighted
    * consumers read (a, b); q_shortest_path reads the count as its
    * tie-strength weight. */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val path = graft.Assets.dir("copurchase_edges", d) { out =>
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("2000-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("2001-01-01")))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(out)
    }
    Tables.parquet(s, path)
  }

  /** ONE SQL text, TWO engines: this exact string is executed by Spark
    * (via temp views over the parquet tables) in q_sql_passthrough AND
    * runs verbatim as its DuckDB oracle — the literal restatement of the
    * reference's delegated-SQL contract (reference: bq.py:149-163, the
    * query() gateway), proven by the hash-exact comparison. Stays inside
    * the dialect intersection: CTEs, joins, grouped decimal-exact sums,
    * a rank window; the decimal sum is cast to DOUBLE because the two
    * engines widen decimal sums differently. */
  val PassthroughSql: String =
    """WITH cust_rev AS (
      |  SELECT o_custkey AS ck,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      |  FROM orders GROUP BY o_custkey),
      |seg AS (
      |  SELECT c_mktsegment AS segment, COUNT(*) AS n_customers,
      |         CAST(SUM(rev) AS DOUBLE) AS segment_rev
      |  FROM customer JOIN cust_rev ON c_custkey = ck
      |  GROUP BY c_mktsegment)
      |SELECT segment, n_customers, segment_rev,
      |  CAST(RANK() OVER (ORDER BY segment_rev DESC) AS BIGINT) AS rev_rank
      |FROM seg ORDER BY segment""".stripMargin

  /** The gateway exercised beyond one text: three more dialect-
    * intersection statements spanning the SQL surface a delegated-SQL
    * user actually sends — set operators, window frames over a grouped
    * series, and correlated EXISTS / NOT EXISTS with an outer join.
    * Same contract as [[PassthroughSql]]: each string runs verbatim in
    * BOTH engines and the hash-exact gate is the parity proof. */
  val PassthroughSetopsSql: String =
    """WITH cust_n AS (SELECT DISTINCT CAST(c_nationkey AS INT) AS k FROM customer),
      |supp_n AS (SELECT DISTINCT CAST(s_nationkey AS INT) AS k FROM supplier),
      |asia_n AS (SELECT CAST(n_nationkey AS INT) AS k FROM nation
      |           JOIN region ON n_regionkey = r_regionkey
      |           WHERE r_name = 'ASIA')
      |SELECT 'asia_cust' AS side, COUNT(*) AS n
      |FROM (SELECT k FROM asia_n INTERSECT SELECT k FROM cust_n) t
      |UNION ALL
      |SELECT 'cust_only' AS side, COUNT(*) AS n
      |FROM (SELECT k FROM cust_n EXCEPT SELECT k FROM supp_n) t
      |UNION ALL
      |SELECT 'either' AS side, COUNT(*) AS n
      |FROM (SELECT k FROM cust_n UNION SELECT k FROM supp_n) t
      |ORDER BY side""".stripMargin

  // The rolling sum re-enters DECIMAL(18,6) inside the frame: a float
  // window aggregate would expose the engines' different summation
  // orders; exact decimal is order-free (the Num.dsum discipline).
  val PassthroughWindowSql: String =
    """WITH daily AS (
      |  SELECT o_orderdate AS d, COUNT(*) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      |  FROM orders GROUP BY o_orderdate)
      |SELECT d, n_orders, rev,
      |  CAST(SUM(n_orders) OVER (ORDER BY d
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7row,
      |  LAG(n_orders, 1) OVER (ORDER BY d) AS prev_n,
      |  CAST(SUM(CAST(rev AS DECIMAL(18,6))) OVER (ORDER BY d
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_3row
      |FROM daily ORDER BY d""".stripMargin

  val PassthroughSemijoinSql: String =
    """SELECT c_mktsegment AS segment, COUNT(*) AS n_active,
      |  CAST(SUM(CASE WHEN b.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_big
      |FROM customer
      |LEFT JOIN (SELECT DISTINCT o_custkey AS ck FROM orders
      |           WHERE o_totalprice > 400000) b ON c_custkey = b.ck
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c_custkey
      |                    AND o2.o_orderstatus = 'F'
      |                    AND o2.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY segment""".stripMargin

  /** name → (tables to expose as views, the SQL text both engines run). */
  val PassthroughTexts: Map[String, (Seq[String], String)] = Map(
    "q_sql_passthrough" -> (Seq("orders", "customer"), PassthroughSql),
    "q_sql_passthrough_setops" ->
      (Seq("customer", "supplier", "nation", "region"), PassthroughSetopsSql),
    "q_sql_passthrough_window" -> (Seq("orders"), PassthroughWindowSql),
    "q_sql_passthrough_semijoin" ->
      (Seq("customer", "orders"), PassthroughSemijoinSql))

  // The delegated-SQL gateway made literal: register the tables as
  // views and run each [[PassthroughTexts]] statement through
  // spark.sql — the SAME text the DuckDB oracle executes. This is the
  // reference's core contract (arbitrary SQL in, table out) expressed
  // as queries() entries, and the hash-exact gate is the cross-engine
  // parity proof — over joins, windows, and set ops, not one toy text.
  private val passthroughQueries: Map[String, (SparkSession, String) => DataFrame] =
    PassthroughTexts.map { case (name, (tables, sqlText)) =>
      name -> ((s: SparkSession, d: String) => {
        tables.foreach(tb => t(s, d, tb).createOrReplaceTempView(tb))
        s.sql(sqlText)
      })
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = passthroughQueries ++ Map[String, (SparkSession, String) => DataFrame](
    // TPC-H Q13 shape: how many customers placed 0, 1, 2, … orders. The
    // naive plan joins raw orders to customer and counts after the join;
    // here orders are pre-aggregated to one (custkey, n) row FIRST — the
    // only corpus-sized shuffle is the map-side-combined count on
    // o_custkey, the outer join then carries one row per customer, and
    // the final distribution aggregate is model-sized (distinct counts).
    // At 100 TB the join input is |customers|, never |orders|.
    "q_order_count_dist" -> ((s, d) => {
      val perCust = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      t(s, d, "customer").select(col("c_custkey"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("n"), lit(0L)).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 shape: supplier(s) achieving the maximum 3-month revenue —
    // max-over-aggregated-view with exact tie semantics. Revenue per
    // supplier is one partial+final aggregate over the date-pruned scan;
    // the global max is a 1-row aggregate broadcast back (no second scan
    // of the fact), and the equality cut runs on [[Num.dsum]] values so
    // the tie comparison is exact in both engines. The surviving row set
    // (usually 1) is broadcast into the supplier dim join.
    "q_top_supplier" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-04-01")))
        .groupBy(col("l_suppkey"))
        .agg(Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      val top = rev.join(broadcast(mx), col("total_revenue") === col("mx"))
        .select(col("l_suppkey"), col("total_revenue"))
      t(s, d, "supplier")
        .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q17 shape: revenue lost to small-quantity orders — the
    // correlated scalar subquery `l_quantity < 0.2 * (SELECT AVG(...)
    // WHERE l2.l_partkey = p_partkey)` decorrelated into a per-part
    // average aggregate joined back. The brand cut runs FIRST as a
    // broadcast semi-restriction of the fact, so both the average and
    // the final sum touch only the brand's lineitems (~1/25 of the
    // fact); the avg is [[Num.davg]] (exact decimal sum / count) so the
    // threshold compare is bit-identical cross-engine.
    "q_small_qty_revenue" -> ((s, d) => {
      val pk = t(s, d, "part").filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey"))
      val li = t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      val avgQ = li.groupBy(col("p_partkey").as("ak"))
        .agg(Num.davg(col("l_quantity")).as("avg_q"))
      li.join(avgQ, col("l_partkey") === col("ak"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_q"))
        .agg((Num.dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }),

    // TPC-H Q22 shape: high-balance customers gone quiet. The scalar
    // subquery (average positive balance) is a 1-row aggregate broadcast
    // into the filter; "quiet" is a LEFT ANTI join against the
    // date-pruned, pre-distinct recent-buyer keys (distinct BEFORE the
    // anti join: the shuffle carries unique keys, not raw orders). The
    // final per-nation rollup is model-sized.
    "q_inactive_customers" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val cutoff = cust.filter(col("c_acctbal") > 0.0)
        .agg(Num.davg(col("c_acctbal")).as("cut"))
      val recent = t(s, d, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01")))
        .select(col("o_custkey")).distinct()
      cust.join(broadcast(cutoff)).filter(col("c_acctbal") > col("cut"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          Num.dsum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("cntrycode"))
    }),

    // One-pass table profile — the data-quality primitive a
    // data-engineering client runs before trusting a feed (the
    // reference's strict-insert validation is the per-row cousin,
    // reference: bq.py:523-531): per numeric column, row/null/distinct
    // counts and min/max, ALL columns in ONE columnar scan (a single
    // wide aggregate row, exploded to per-column rows with stack —
    // never one pass per column). At 100 TB this is the difference
    // between one fact-table read and four.
    "q_table_profile" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap { c =>
          Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
            countDistinct(col(c)).as(s"${c}_ndv"),
            min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))
        }
      val stackExpr = cols.map(c =>
        s"'$c', ${c}_nulls, ${c}_ndv, ${c}_min, ${c}_max").mkString(", ")
      t(s, d, "lineitem").agg(aggs.head, aggs.tail: _*)
        .selectExpr("n_rows",
          s"stack(${cols.length}, $stackExpr) AS " +
            "(column_name, n_nulls, ndv, minv, maxv)")
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("ndv"), col("minv"), col("maxv"))
        .orderBy(col("column_name"))
    }),

    // MARKET-BASKET association rules — co-purchased part pairs ranked
    // by lift = P(a,b) / (P(a)·P(b)): the recommender/assortment
    // primitive. Pair generation is the one self-join that is SAFE at
    // any scale because it keys on the ORDER (bounded fanout — an order
    // holds a handful of items, so an order contributes O(items²) ≈
    // constant pairs, never a cross of the catalog); supports are
    // item-cardinality aggregates; the total is a 1-row broadcast. A
    // min-support cut (≥ 3 co-occurrences) kills the noise tail before
    // ranking; ties in lift break on the part ids so the top-50 is
    // deterministic across engines.
    "q_basket_lift" -> ((s, d) => {
      // un-fanned (r15): the distinct's own exchange makes the fan-out
      // redundant (r14 bench: 2.00→2.30 regressed under the fanned scan)
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val pairs = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")),
          "l_orderkey")
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      val supp = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_i"))
      val total = li.agg(countDistinct(col("l_orderkey")).as("n_orders"))
      pairs
        .join(supp.select(col("l_partkey").as("pa"), col("n_i").as("n_a")), "pa")
        .join(supp.select(col("l_partkey").as("pb"), col("n_i").as("n_b")), "pb")
        .crossJoin(broadcast(total))
        .select(col("pa"), col("pb"), col("n_ab"),
          (col("n_ab").cast("double") * col("n_orders").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")))
            .as("lift"))
        .orderBy(col("lift").desc, col("pa"), col("pb"))
        .limit(50)
    }),

    // Join-key SKEW PROFILE — the ops panel that decides whether a join
    // needs the salted path (prune.Skew) BEFORE running it: per-key
    // counts of each candidate key (a key-cardinality-sized aggregate,
    // never the fact table itself), reduced to the straggler predictors —
    // max/median/p99 key fanout and skew_ratio = max/mean. A ratio near 1
    // means hash partitioning balances; >4 means the hottest key's
    // partition runs ~ratio× longer than average and salting (or AQE
    // skew-split) pays. Exact percentile over the counts is fine at any
    // scale: the aggregate is |keys|-sized, not |rows|-sized.
    "q_skew_profile" -> ((s, d) => {
      def profile(df: org.apache.spark.sql.DataFrame, key: String) = {
        val ratio = col("max_cnt").cast("double") *
          col("n_keys").cast("double") / col("total_rows").cast("double")
        df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
          .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("total_rows"),
            max(col("cnt")).as("max_cnt"),
            expr("percentile(cnt, 0.5)").as("median_cnt"),
            expr("percentile(cnt, 0.99)").as("p99_cnt"))
          .select(lit(key).as("key_name"), col("n_keys"), col("total_rows"),
            col("max_cnt"), col("median_cnt"), col("p99_cnt"),
            ratio.as("skew_ratio"), (ratio > lit(4.0)).as("salt_advised"))
      }
      profile(t(s, d, "lineitem"), "l_suppkey")
        .unionAll(profile(t(s, d, "events"), "user_id"))
        .orderBy(col("key_name"))
    }),

    // Map-typed column pack — the BigQuery RECORD/key-value analog
    // (reference: test_bq.py:211-249 nested records): parse the JSON
    // props payload into map<string,string>, synthesize a literal map,
    // merge them, and read keys/values/point lookups back out. All pure
    // map work (no shuffle before the order-by); arrays sorted so the
    // output is deterministic regardless of map iteration order.
    "q_map_ops" -> ((s, d) =>
      t(s, d, "events").filter(col("event_id") % 200 === 0)
        .select(col("event_id"), col("event_type"), col("user_id"),
          from_json(col("props"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)).as("pm"))
        .select(col("event_id"),
          map_keys(col("pm")).as("pkeys"),
          element_at(col("pm"), lit("k")).as("k_val"),
          map_concat(col("pm"),
            map(lit("type"), col("event_type"),
              lit("uid"), col("user_id").cast("string"))).as("merged"))
        .select(col("event_id"),
          // arrays joined to strings: no registered query emits raw
          // array columns, so the compare surface stays scalar-only
          concat_ws(",", col("pkeys")).as("pkeys"),
          col("k_val"),
          size(col("merged")).as("n_entries"),
          concat_ws(",", array_sort(map_values(col("merged"))))
            .as("merged_vals"))
        .orderBy(col("event_id"))),

    // Mergeable-sketch REAGGREGATION — the 100 TB rollup pattern: build
    // one HLL sketch per event type (a fixed-size binary partial), then
    // answer the GLOBAL distinct-user question by merging the sketches
    // (`hll_union_agg`), never re-scanning the events. Per-type exact
    // distincts are the hash-compared values; the sketch estimates (the
    // per-type ones and the merged-union one) are asserted within 5% of
    // exact in-row, oracle-pinned TRUE — same discipline as
    // q_approx_distinct. At scale the per-type sketch table is the stored
    // artifact: daily partitions union-merge into weekly/monthly distincts
    // at the cost of k registers per group, not a corpus re-scan.
    "q_hll_union" -> ((s, d) => {
      val bound = 0.05
      val ev = t(s, d, "events")
      val perType = ev.groupBy(col("event_type"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          countDistinct(col("user_id")).as("nd_users"))
      val totalApx = perType
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("apx"))
      val totalExact = ev.agg(countDistinct(col("user_id")).as("nd_users"))
      perType
        .select(col("event_type"), col("nd_users"),
          (abs(expr("hll_sketch_estimate(sk)") - col("nd_users")) <=
            col("nd_users") * bound).as("apx_ok"))
        .unionByName(totalExact.crossJoin(broadcast(totalApx))
          .select(lit("TOTAL").as("event_type"), col("nd_users"),
            (abs(col("apx") - col("nd_users")) <=
              col("nd_users") * bound).as("apx_ok")))
        .orderBy(col("event_type"))
    }),

    // Order-independent table checksum — the cross-engine table-diff
    // primitive: two clusters (or two engines) compare a 100 TB table by
    // exchanging one row per group instead of the data. Each row
    // contributes a 40-bit integer slice of md5 over its canonical key
    // string; the per-group SUM is commutative (partition-order-free) and
    // accumulates in DECIMAL(38,0) so it cannot overflow at any scale
    // (~1e26 rows/group of 40-bit slices fit in 38 digits), then the
    // result is reduced modulo 2^61 and emitted as BIGINT: every operand
    // is non-negative so the modulus is representation-stable across
    // engines (DECIMAL/HUGEINT wide sums round-trip differently through
    // different client result paths; int64 is bit-identical everywhere).
    // Pure map work + one map-side-combined aggregate; md5 (not
    // xxhash64) so any engine can reproduce it.
    "q_table_checksum" -> ((s, d) =>
      tf(s, d, "lineitem") // per-row md5: fanned scan (r14)
        .select(col("l_returnflag"),
          conv(substring(md5(encode(
            concat_ws(":", col("l_orderkey"), col("l_linenumber")), "UTF-8")),
            1, 10), 16, 10)
            .cast("decimal(38,0)").as("h"))
        .groupBy(col("l_returnflag"))
        .agg((sum(col("h")) % lit(Num.ChecksumMod)).cast("long").as("checksum"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))),

    // TPC-H Q8 shape: one nation's share of a market, by year — the
    // conditional-sum-over-sum ratio pattern. All three dims (part type
    // cut, supplier→nation name, customer→ASIA region) are broadcast
    // restrictions applied BEFORE the fact-fact shuffle on o_orderkey;
    // numerator and denominator are both [[Num.dsum]]-exact, so the final
    // double division is bit-identical cross-engine.
    "q_market_share" -> ((s, d) => {
      val pk = t(s, d, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val sup = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val asiaCust = t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")
          .join(broadcast(t(s, d, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("ck"))),
          col("c_nationkey") === col("ck"))
        .select(col("c_custkey"))
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev")
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("supp_nation"), rev)
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((Num.dsum(when(col("supp_nation") === "NATION_5", col("rev"))
          .otherwise(lit(0.0))) / Num.dsum(col("rev"))).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q14 shape: promo revenue percentage within one shipping month
    // — conditional aggregate over a date-pruned scan. The month predicate
    // reaches the parquet scan (min/max pruning), the part-type flag rides
    // a broadcast join, and one partial+final aggregate produces both
    // sums; no second pass.
    "q_promo_share" -> ((s, d) => {
      val pt = t(s, d, "part").select(col("p_partkey"), col("p_type"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-02-01")))
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) * Num.dsum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0.0))) / Num.dsum(col("rev"))).as("promo_share"))
    }),

    // TPC-H Q11 shape: parts whose total traded value exceeds a fraction
    // of the global total — the HAVING-against-scalar-subquery pattern.
    // Per-part values are one map-side-combined aggregate; the global
    // total and part count come from a 1-row re-aggregate of that
    // model-sized result (never a second fact scan), broadcast into the
    // filter. Threshold = 1.25× the average part share, so the cut is
    // data-relative and survives any scale factor.
    "q_part_contribution" -> ((s, d) => {
      val pv = t(s, d, "lineitem").groupBy(col("l_partkey"))
        .agg(Num.dsum(col("l_extendedprice")).as("value"))
      val tot = pv.agg(Num.dsum(col("value")).as("tot"),
        count(lit(1)).as("n"))
      pv.join(broadcast(tot))
        .filter(col("value") > lit(1.25) * col("tot") / col("n"))
        .select(col("l_partkey"), col("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    // TPC-H Q4 shape: EXISTS with a correlated residual predicate — orders
    // (date-pruned at the scan) semi-joined against late-shipping
    // lineitems where the lateness condition compares BOTH sides
    // (l_shipdate > o_orderdate + 60 days), then a 5-group rollup. The
    // semi join carries the residual comparison on the equi-join output;
    // the fact is never widened.
    "q_priority_exists" -> ((s, d) => {
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-07-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-10-01")))
      ord.join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_shipdate")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q10 shape: top-20 customers by returned-merchandise revenue
    // in one quarter — join + group + top-k. Returnflag and date cuts
    // reach the scans; the nation name rides a broadcast; the top-20 cut
    // collapses to TakeOrderedAndProject on exact decimal revenue.
    "q_returned_topcust" -> ((s, d) => {
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-07-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-10-01")))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      ord.join(li, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(Num.dsum(col("rev")).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q19 shape: disjunctive multi-column predicates spanning both
    // join sides (OR of brand×size×quantity conjunctions). Catalyst
    // extracts the common l_quantity bounds and per-side IN/range
    // predicates for pushdown where legal; the residual OR evaluates on
    // the (broadcast) join output. One aggregate row, exact decimal.
    "q_disjunctive_pred" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 40)))
        .agg(Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))),

    // TPC-H Q20 shape: supply concentration — suppliers carrying more
    // than 2× the fair share of some part's shipped quantity. Two stacked
    // model-sized aggregates ((part, supp) then part), one equi-join
    // between them, threshold data-relative (2×/n_suppliers) so the cut
    // survives any scale factor; supplier names ride a final equi-join
    // after the concentrated set has collapsed to ≤|suppliers| rows.
    "q_volume_supplier" -> ((s, d) => {
      val ps = t(s, d, "lineitem").groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(Num.dsum(col("l_quantity")).as("sq"))
      val pt = ps.groupBy(col("l_partkey").as("pk"))
        .agg(Num.dsum(col("sq")).as("tot"), count(lit(1)).as("ns"))
      val conc = ps.join(pt, col("l_partkey") === col("pk"))
        .filter(col("sq") > lit(2.0) * col("tot") / col("ns"))
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_parts"))
      conc.join(t(s, d, "supplier").select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_parts"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q9 shape: profit by supplier nation and year over a
    // part-name pattern — the 5-table profit rollup. Synthetic cost
    // (0.5 × p_retailprice × l_quantity — this schema has no
    // ps_supplycost) keeps the amount expression per-row; the part
    // filter and both dims broadcast, the only corpus shuffles are the
    // orderkey join and the final (nation, year) aggregate.
    "q_profit_by_nation" -> ((s, d) => {
      val pk = t(s, d, "part").filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val sup = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      t(s, d, "lineitem")
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("n_name"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            lit(0.5) * col("p_retailprice") * col("l_quantity")).as("amount"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(Num.dsum(col("amount")).as("sum_profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    }),

    // TPC-H Q7 shape: cross-nation trade volume by year, both directions
    // of one nation pair. The nation restriction is applied to the
    // supplier and customer dims FIRST via broadcast joins (map-side, no
    // shuffle), so the two fact shuffles — lineitem⋈orders on orderkey,
    // then ⋈customer on custkey — run against already-2/25-pruned dims;
    // the asymmetry filter sn≠cn is a residual predicate, never a
    // cartesian. Yearly rollup is exact decimal revenue.
    "q_nation_volume" -> ((s, d) => {
      val pair = t(s, d, "nation")
        .filter(col("n_name").isin("NATION_18", "NATION_19"))
      val sup = t(s, d, "supplier")
        .join(broadcast(pair), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cus = t(s, d, "customer")
        .join(broadcast(pair.select(col("n_nationkey").as("nk2"),
          col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("nk2"))
        .select(col("c_custkey"), col("cust_nation"))
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(Num.dsum(col("rev")).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q2 shape: minimum-cost supplier per part — the correlated
    // scalar subquery `cost = (SELECT MIN(cost) WHERE ps_partkey =
    // p_partkey)` decorrelated into aggregate-then-equality-join. This
    // schema has no partsupp, so the cost table is derived: per
    // (part, supplier) the minimum observed sale price. The part slice
    // broadcasts into the fact scan FIRST, so both aggregates run on the
    // pruned fact; the per-part min is a second (tiny, part-keyed)
    // aggregate joined back on exact equality — MIN of doubles is
    // order-independent, so the equality cut is engine-exact. Ties (two
    // suppliers at the same minimum) survive, as in Q2.
    "q_min_cost_supplier" -> ((s, d) => {
      val pq = t(s, d, "part")
        .filter(col("p_size") <= 10 && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_name"))
      val cost = t(s, d, "lineitem")
        .join(broadcast(pq.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("cost"))
      val minCost = cost.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("cost")).as("mincost"))
      cost.join(minCost,
          col("l_partkey") === col("mk") && col("cost") === col("mincost"))
        .join(broadcast(pq), col("l_partkey") === col("p_partkey"))
        .join(t(s, d, "supplier").select(col("s_suppkey"), col("s_name"),
          col("s_acctbal")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("p_partkey"),
          col("p_name"), col("cost"))
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
    }),

    // TPC-H Q6 shape: the forecast-revenue single-aggregate — three range
    // predicates and a product sum, no joins. The point at 100 TB is the
    // scan: all three predicates reach the parquet reader (shipdate →
    // row-group min/max pruning, discount/quantity → PushedFilters) and
    // the projection is 4 columns of 11, so the scan IS the query; the
    // aggregate is one map-side-combined partial to a 1-row result.
    "q_revenue_forecast" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(Num.dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_rows"))),

    // AUTOCORRELATION PANEL (ACF at lags 1..7) — the first thing a
    // forecaster reads before fitting anything (is there weekly
    // structure? how fast does memory decay?): per lag k, the Pearson
    // correlation between the daily-revenue series and itself shifted k
    // days. Shape at 100 TB: the fact table is touched ONCE (the daily
    // rollup — map-side combinable, decimal-exact); the lag window and
    // everything after run on the CALENDAR-sized series (~2.4k rows at
    // any scale — the q_backtest_forecast model-size discipline), with
    // all 7 lags produced by ONE window pass and unpivoted via stack()
    // into a single 7-group moment aggregate (the q_price_elasticity
    // five-sum Pearson, applied per lag).
    "q_acf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val d38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderdate").as("dt"))
        .agg(Num.dsum(col("o_totalprice")).as("v"))
      val w = Window.orderBy(col("dt"))
      val lagged = daily.select(
        col("v") +: (1 to 7).map(k => lag(col("v"), k).over(w).as(s"v$k")): _*)
      val pairs = lagged.select(expr(
        "stack(7, " + (1 to 7).map(k => s"$k, v, v$k").mkString(", ") +
          ") as (lag, x, y)"))
        .filter(col("y").isNotNull)
      val m = pairs.groupBy(col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(d38)).cast("double").as("sx"),
          sum(col("y").cast(d38)).cast("double").as("sy"),
          sum((col("x") * col("y")).cast(d38)).cast("double").as("sxy"),
          sum((col("x") * col("x")).cast(d38)).cast("double").as("sxx"),
          sum((col("y") * col("y")).cast(d38)).cast("double").as("syy"))
      val nd = col("n").cast("double")
      val cov = col("sxy") - col("sx") * col("sy") / nd
      val vx = col("sxx") - col("sx") * col("sx") / nd
      val vy = col("syy") - col("sy") * col("sy") / nd
      m.filter(col("n") >= 2 && vx > 0.0 && vy > 0.0)
        .select(col("lag"), col("n"), (cov / sqrt(vx * vy)).as("acf"))
        .orderBy(col("lag"))
    }),

    // ROBUST TREND TEST — Mann–Kendall S/z + Theil–Sen slope over the
    // monthly revenue series: the nonparametric pair every monitoring
    // stack runs when least squares would chase one outlier month
    // (MK: Mann 1945/Kendall 1975; slope: Sen 1968). Shape at 100 TB:
    // the fact table is touched ONCE (decimal-exact monthly rollup);
    // the O(m²) pairwise pass runs on the CALENDAR-sized series (~84
    // months → ~3.5k pairs at any scale — the q_backtest_forecast
    // model-size discipline). S is INTEGER (a sign sum); Sen's slope is
    // the exact median over the identical pairwise-slope multiset in
    // both engines (the percentile/quantile_cont interpolation already
    // bit-matches, q_psi_drift precedent); the z uses the no-tie
    // variance n(n−1)(2n+5)/18 with continuity correction — revenue
    // sums make value ties measure-zero, and a tie contributes sign 0
    // to S either way.
    "q_trend_test" -> ((s, d) => {
      val monthly = t(s, d, "orders")
        .groupBy(((year(col("o_orderdate")) - 1990) * 12 +
          month(col("o_orderdate"))).cast("long").as("mi"))
        .agg(Num.dsum(col("o_totalprice")).as("v"))
      val a = monthly.select(col("mi").as("i"), col("v").as("vi"))
      val b = monthly.select(col("mi").as("j"), col("v").as("vj"))
      val pairs = a.join(b, col("i") < col("j"))
        .select(signum(col("vj") - col("vi")).cast("long").as("sgn"),
          ((col("vj") - col("vi")) /
            (col("j") - col("i")).cast("double")).as("slope"))
      val st = pairs.agg(sum(col("sgn")).as("mk_s"),
        expr("percentile(slope, 0.5d)").as("sen_slope"))
      val n = monthly.agg(count(lit(1)).as("n_months"))
      st.crossJoin(broadcast(n))
        .filter(col("n_months") >= 3L)
        .withColumn("var_s",
          (col("n_months") * (col("n_months") - 1) *
            (lit(2) * col("n_months") + 5)).cast("double") / lit(18.0))
        .withColumn("mk_z",
          when(col("mk_s") > 0L,
            (col("mk_s") - 1L).cast("double") / sqrt(col("var_s")))
            .when(col("mk_s") < 0L,
              (col("mk_s") + 1L).cast("double") / sqrt(col("var_s")))
            .otherwise(lit(0.0)))
        .select(col("n_months"), col("mk_s"), col("mk_z"),
          (abs(col("mk_z")) > 1.96).as("trending"), col("sen_slope"))
    }),

    // ROLLING-ORIGIN FORECAST BACKTEST (time-series cross-validation,
    // Tashman 2000) — the leakage-aware eval discipline for temporal
    // models, next to q_pit_join (point-in-time features) and
    // q_pipeline_features (cutoff-gated propensity): for each of the 3
    // most recent months, fit a linear trend on STRICTLY EARLIER months
    // only (normal equations via four sums — no iteration), predict the
    // origin month, report the absolute percentage error. Shape at
    // 100 TB: the data is touched ONCE (the monthly rollup — map-side
    // combinable); everything after runs on the model-sized month series
    // (|months|×3 rows through one conditional aggregate). Exact decimal
    // sums make the normal equations engine-identical; the double
    // algebra then follows the same operation order as the oracle.
    "q_backtest_forecast" -> ((s, d) => {
      // EXACT-DECIMAL normal equations — the cross-engine float
      // discipline taken to its conclusion: every sum, product, and
      // difference up to the final ŷ numerator is exact decimal/integer
      // (the month index is centered at year-2000 so the magnitudes stay
      // inside tight decimal widths BOTH engines accept), and the ONLY
      // inexact step is one decimal→double cast per side of one
      // division. Plain double algebra here (n·sxy − sx·sy as doubles)
      // disagreed between engines in the 10th significant digit —
      // catastrophic cancellation amplifying a double→decimal re-cast of
      // the aggregated revenue; keeping the algebra exact removes the
      // entire class.
      // Decimal→double is only cross-engine-identical when the decimal's
      // UNSCALED value fits 2^53 (DuckDB converts unscaled/10^scale in
      // two roundings; Java converts correctly-rounded — they agree iff
      // the unscaled int→double step is exact). Prices are whole cents,
      // so every exact-decimal quantity here is rescaled to scale 2
      // (lossless) right before its ONE double cast, and the month index
      // is centered so the magnitudes stay far under 2^53 cents.
      // SF HEADROOM (round-11 advice): the largest unscaled magnitude is
      // num = n·sxy − sx·sy in cents; with |t−center| ≤ ~40, n ≤ 84
      // months and monthly revenue ≈ sf·6e9 cents, |num| ≲ sf·6e14 —
      // under 2^53 ≈ 9.0e15 for sf ≤ ~10 (three decades above the tested
      // fixtures; asserted with extrapolation in ShapesSpec). Past that,
      // normalize units first (divide sums by n in decimal) — the
      // 2^53 rule, not DECIMAL(38,6) width, is the binding constraint.
      import org.apache.spark.sql.types.DecimalType
      val d186 = DecimalType(18, 6)
      val m = t(s, d, "orders")
        .select(date_trunc("month", col("o_orderdate")).as("mon"),
          col("o_totalprice"))
        .groupBy(col("mon"))
        .agg(sum(col("o_totalprice").cast(d186)).cast(d186).as("rev_d"))
        .withColumn("t",
          (year(col("mon")) * 12 + month(col("mon")) - 24020).cast("long"))
      val origins = m.orderBy(col("t").desc).limit(3)
        .select(col("t").as("ot"), col("mon").as("origin_mon"),
          col("rev_d").as("ytrue_d"))
      m.crossJoin(broadcast(origins))
        .filter(col("t") < col("ot"))
        .groupBy(col("ot"), col("origin_mon"), col("ytrue_d"))
        .agg(count(lit(1)).as("n"),
          sum(col("t")).as("sx"),
          sum(col("rev_d")).cast(DecimalType(24, 6)).as("sy"),
          sum((col("t") * col("rev_d")).cast(DecimalType(20, 6)))
            .cast(DecimalType(24, 6)).as("sxy"),
          sum(col("t") * col("t")).as("sxx"))
        .withColumn("num",
          ((col("n").cast(DecimalType(4, 0)) * col("sxy"))
            .cast(DecimalType(38, 6)) -
            (col("sx").cast(DecimalType(8, 0)) * col("sy"))
              .cast(DecimalType(38, 6)))
            .cast(DecimalType(20, 2)))
        .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("b", col("num").cast("double") / col("den").cast("double"))
        .withColumn("term1",
          col("sy").cast(DecimalType(18, 2)).cast("double") /
            col("n").cast("double"))
        .withColumn("term2", col("ot").cast("double") -
          col("sx").cast("double") / col("n").cast("double"))
        .withColumn("y_hat", col("term1") + col("b") * col("term2"))
        .withColumn("y_true",
          col("ytrue_d").cast(DecimalType(18, 2)).cast("double"))
        .select(col("origin_mon"), col("y_true"), col("y_hat"),
          (abs(col("y_hat") - col("y_true")) / col("y_true")).as("ape"))
        .orderBy(col("origin_mon"))
    }),

    // TPC-H Q12 shape: urgent-vs-other order counts per line status (this
    // schema has no l_shipmode; l_linestatus is the grouping analog).
    // Both sides project to the join key + one column BEFORE the
    // orderkey shuffle, the lineitem side is date-pruned at the scan, and
    // the conditional split is two map-side-combined CASE sums — the
    // classic one-pass pivot that never runs the fact twice.
    "q_priority_split" -> ((s, d) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01")))
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),

    // TPC-H Q16 shape: distinct-supplier counts per part group, excluding
    // a blacklisted supplier set (NOT IN → LEFT ANTI; the Q16 complaint
    // filter becomes the negative-balance cut this schema can express).
    // Both dims broadcast — the exclusion list is tiny and the part slice
    // prunes the fact map-side — so the only shuffle is the two-level
    // (group-keyed, then +suppkey) distinct aggregate, which is how
    // COUNT(DISTINCT) should run at 100 TB: never a row explosion,
    // always partial-deduped before the exchange.
    "q_supplier_cnt" -> ((s, d) => {
      val excl = t(s, d, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val pk = t(s, d, "part")
        .filter(col("p_brand") =!= "Brand#5" && col("p_size").isin(5, 10, 15, 20, 25))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      t(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // Triangle count on the co-purchase graph — the graph-analytics
    // shape beyond PageRank/connected-components: parts appearing in the
    // same order are adjacent; triangles are closed wedges. The canonical
    // a<b orientation makes each edge and each triangle counted exactly
    // once, and the wedge join (ab⋈bc on b) probed against the closing
    // edge set is the standard distributed algorithm. Scale shape: the
    // per-order pair fanout is quadratic in order width — bounded here by
    // the date slice and TPC-H's ~4 lines/order; at 100 TB orient edges
    // from the LOWER-degree endpoint instead of the lower id (compute
    // degrees first, one extra broadcast), which provably bounds wedge
    // work at O(E^1.5) regardless of hot-node skew. Edges come from the
    // shared [[coPurchaseEdges]] asset.
    "q_triangle_count" -> ((s, d) => {
      val e = coPurchaseEdges(s, d).select(col("a"), col("b"))
      val wedges = e.as("ab").join(e.as("bc"), col("ab.b") === col("bc.a"))
        .select(col("ab.a").as("wa"), col("ab.b").as("wb"), col("bc.b").as("wc"))
      val tri = wedges.join(e.as("ac"),
          col("wa") === col("ac.a") && col("wc") === col("ac.b"))
        .agg(count(lit(1)).as("n_triangles"))
      e.agg(count(lit(1)).as("n_edges")).crossJoin(tri)
    }),

    // Bounded-depth BFS reachability — the traversal member of the graph
    // family (PageRank = authority, components = partition, triangles =
    // cohesion): how many nodes sit at hop-distance 0/1/2 from a seed
    // set on the undirected co-purchase graph. Each hop is one
    // frontier⋈edges equi-join plus LEFT ANTI de-visits — the standard
    // distributed BFS round, shuffles keyed on node ids and the frontier
    // only ever holds one hop's nodes. At 100 TB the same loop runs to
    // depth k with the visited set as the only growing state (and
    // Loop.fixpoint's per-round cut bounds its lineage).
    "q_bfs_reach" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("2000-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("2001-01-01")))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val e0 = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
        .distinct()
      val und = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      val seeds = und.select(col("a").as("n")).distinct()
        .filter(col("n") % 100 === 0)
      val d1 = und.join(seeds.select(col("n").as("a")), "a")
        .select(col("b").as("n")).distinct()
        .join(seeds, Seq("n"), "left_anti")
      val d2 = und.join(d1.select(col("n").as("a")), "a")
        .select(col("b").as("n")).distinct()
        .join(seeds.unionByName(d1), Seq("n"), "left_anti")
      seeds.select(lit(0L).as("depth"), col("n"))
        .unionByName(d1.select(lit(1L).as("depth"), col("n")))
        .unionByName(d2.select(lit(2L).as("depth"), col("n")))
        .groupBy(col("depth")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("depth"))
    }),

    // Weighted single-source shortest paths, bounded to 2 relaxation
    // rounds — the WEIGHTED traversal member of the graph family (BFS
    // counts hops; this measures tie strength): edge cost = 1/cnt where
    // cnt = number of orders co-containing the two parts, so strongly
    // co-purchased parts are "close". Each round is one Bellman-Ford
    // relaxation — frontier⋈edges equi-join, then a min-aggregate per
    // node — the standard distributed SSSP round (Pregel's formulation),
    // here unrolled twice so the DuckDB oracle replays it as chained
    // CTEs. All distances are sums computed in the identical order in
    // both engines (d_prev + w), so the doubles are bit-identical. At
    // 100 TB the same round iterates under Loop.fixpoint with the
    // distance table as the only growing state.
    "q_shortest_path" -> ((s, d) => {
      val pc = coPurchaseEdges(s, d)
      val e = pc.select(col("a"), col("b"), (lit(1.0) / col("cnt")).as("w"))
        .unionByName(pc.select(col("b").as("a"), col("a").as("b"),
          (lit(1.0) / col("cnt")).as("w")))
      // empty-shard degrade: min over zero edges is NULL — drop it so the
      // query yields an empty result instead of a phantom (null, 0.0) row
      val d0 = e.agg(min(col("a")).as("n")).select(col("n"), lit(0.0).as("dist"))
        .filter(col("n").isNotNull)
      def relax(dk: DataFrame): DataFrame =
        dk.unionByName(
            e.as("ed").join(dk.as("dd"), col("ed.a") === col("dd.n"))
              .select(col("ed.b").as("n"), (col("dd.dist") + col("ed.w")).as("dist")))
          .groupBy(col("n")).agg(min(col("dist")).as("dist"))
      relax(relax(d0))
        .select(col("n").as("part"), col("dist"))
        .orderBy(col("dist"), col("part"))
    }),

    // Community detection via synchronous label propagation (Raghavan et
    // al. 2007) — the clustering member of the graph family (PageRank =
    // authority, components = connectivity, triangles = cohesion, BFS =
    // traversal): each node repeatedly adopts the MODE of its neighbors'
    // labels, so densely connected part-groups converge onto one label
    // while bridges stay thin. Deterministic variant: synchronous rounds,
    // initial label = node id, tie-break highest count then SMALLEST
    // label — expressed shuffle-free-per-row as max(struct(cnt, -lbl)),
    // an in-aggregate argmax with NO window. Two fixed rounds (the oracle
    // unrolls the same two as chained CTEs — fixed rounds keep the result
    // engine-independent; LPA-to-convergence is not deterministic across
    // engines without this). Each round is one edge⋈labels equi-join plus
    // two map-side-combinable aggregates — the same per-round cost as the
    // components loop; at 100 TB the rounds run under Loop.fixpoint
    // (operators/Loop.scala) with edge-count-sized shuffles. Output: the
    // community census.
    "q_label_prop" -> ((s, d) => {
      val e0 = coPurchaseEdges(s, d).select(col("a"), col("b"))
      val und = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      def step(labels: DataFrame): DataFrame =
        und.as("e").join(labels.as("lb"), col("e.b") === col("lb.n"))
          .groupBy(col("e.a").as("a"), col("lb.lbl").as("l"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("a"))
          .agg(max(struct(col("cnt"), (-col("l")).as("neg"))).as("m"))
          .select(col("a").as("n"), (-col("m.neg")).as("lbl"))
      val l0 = und.select(col("a").as("n")).distinct()
        .select(col("n"), col("n").as("lbl"))
      step(step(l0)).groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("community"))
    }),

    // k-core peel (k=3, 2 rounds) — the DENSITY member of the graph
    // family (LPA = communities, triangles = local cohesion; the k-core
    // is the global "how deep does the dense region go" measure, the
    // standard spam/bot-subgraph and graph-sampling primitive). Each
    // round drops every node of degree < k and the edges touching it —
    // one degree aggregate + two LEFT SEMI equi-joins — the Pregel peel
    // round; 2 fixed rounds unrolled so the DuckDB oracle replays them
    // as chained CTEs (peel-to-fixpoint iterates the same round under
    // Loop.fixpoint at scale). Output: the (round, nodes, edges) shrink
    // census — how much graph survives each peel. Shuffles are
    // node/edge-keyed only; no window, no collect.
    "q_kcore" -> ((s, d) => {
      val k = 3
      // the memoized asset replaces the per-query persist: rescans of e0
      // are parquet reads of the narrow edge file, not join recomputes
      val e0 = coPurchaseEdges(s, d).select(col("a"), col("b"))
      def und(e: DataFrame): DataFrame =
        e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      def peel(e: DataFrame): DataFrame = {
        val alive = und(e).groupBy(col("a").as("n"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("n"))
        e.join(alive.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(alive.select(col("n").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
      }
      def census(e: DataFrame, r: Int): DataFrame =
        und(e).select(col("a")).distinct().agg(count(lit(1)).as("n_nodes"))
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      val e1 = peel(e0)
      census(e0, 0).unionByName(census(e1, 1))
        .unionByName(census(peel(e1), 2)).orderBy(col("round"))
    }),

    // Heavy hitters via count-min sketch — the frequency member of the
    // mergeable-sketch family (q_hll_union is the cardinality member):
    // one codegen'd partial+final count_min_sketch aggregate over the
    // corpus (fixed-size counters, mergeable across partitions — at
    // 100 TB each executor folds its partition into w×d integers and one
    // reduce merges them), then the exact top-10 is probed against the
    // sketch in-row. CMS error is one-sided, so the check est ≥ exact AND
    // est ≤ exact + ⌈eps·N⌉ is the textbook (Cormode–Muthukrishnan)
    // guarantee; seed fixed, so the sketch — and the boolean — are
    // deterministic per dataset. EAGER like the other sketch/model ops:
    // the 1-row sketch collect runs at build time.
    "q_heavy_hitters" -> ((s, d) => {
      import org.apache.spark.util.sketch.CountMinSketch
      val eps = 0.0001
      val ev = t(s, d, "events")
      val row = ev.agg(
        expr(s"count_min_sketch(user_id, ${eps}d, 0.99d, 42)").as("sk"),
        count(lit(1)).as("n")).head()
      if (row.isNullAt(0)) {
        // empty shard: the sketch aggregate yields NULL — degrade to an
        // empty scoreboard (the EmptyInputSpec contract), same schema
        import s.implicits._
        Seq.empty[(Long, Long, Boolean)].toDF("user_id", "cnt", "cms_ok")
      } else {
        val cms = CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
        val slack = math.ceil(eps * row.getLong(1)).toLong
        val est = udf((uid: Long) => cms.estimateCount(uid))
        ev.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("user_id")).limit(10)
          .withColumn("e", est(col("user_id")))
          .select(col("user_id"), col("cnt"),
            (col("e") >= col("cnt") && col("e") <= col("cnt") + slack).as("cms_ok"))
          .orderBy(col("cnt").desc, col("user_id"))
      }
    }),

    // Sliding-window distinct users — the time-series face of sketch
    // reaggregation (q_hll_union is the group-by face): exact distincts
    // cannot be merged across windows, so at 100 TB the daily HLL sketch
    // is the ONLY per-day state kept and every trailing 7-day window is a
    // union of 7 sketches. No non-equi join anywhere: each day's sketch
    // (and each distinct (day,user) pair for the exact twin) EXPLODES to
    // the ≤7 windows it feeds via sequence(), then it's equi-joins and
    // map-side-combined aggregates all the way down; the window list is
    // semi-joined against observed days so partial leading windows match
    // the oracle's BETWEEN semantics. Estimate vs exact pinned in-row.
    "q_sliding_distinct" -> ((s, d) => {
      val bound = 0.05
      val ev = t(s, d, "events")
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      val days = ev.select(col("day")).distinct().select(col("day").as("w"))
      val wExpr = explode(expr(
        "sequence(day, day + interval 6 days, interval 1 day)")).as("w")
      val apx = ev.groupBy(col("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        .select(col("sk"), wExpr)
        .join(broadcast(days), Seq("w"), "left_semi")
        .groupBy(col("w"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("apx"))
      val exact = ev.distinct()
        .select(col("user_id"), wExpr)
        .join(broadcast(days), Seq("w"), "left_semi")
        .groupBy(col("w")).agg(countDistinct(col("user_id")).as("nd_users"))
      exact.join(apx, "w")
        .select(col("w").as("window_day"), col("nd_users"),
          (abs(col("apx") - col("nd_users")) <=
            col("nd_users") * bound).as("apx_ok"))
        .orderBy(col("window_day"))
    }),

    // Partition-level snapshot diff — the incremental-recompute primitive
    // built on q_table_checksum: given two versions of a table, find WHICH
    // partitions changed so a 100 TB pipeline recomputes only those. Both
    // versions' checksums come from ONE scan (the older snapshot is the
    // deterministic row subset l_orderkey % 97 ≠ 0, so version membership
    // is a per-row predicate and the diff is two conditional sums in the
    // same map-side-combined aggregate — never two passes, never a join
    // of two scans). Output: per ship-month, both checksums + row counts
    // and the changed verdict; at real scale the month key is the
    // physical partition and the changed list drives partition-pruned
    // recompute.
    "q_partition_diff" -> ((s, d) => {
      val h = conv(substring(md5(encode(
          concat_ws(":", col("l_orderkey"), col("l_linenumber")), "UTF-8")),
          1, 10), 16, 10).cast("decimal(38,0)")
      val inOld = col("l_orderkey") % 97 =!= 0
      t(s, d, "lineitem")
        // project the hash ONCE below the aggregate — inlining `h` into
        // both conditional sums would md5 every row twice
        .select(date_trunc("month", col("l_shipdate")).as("p_month"),
          h.as("h"), inOld.as("in_old"))
        .groupBy(col("p_month"))
        // same mod-2^61 BIGINT emission discipline as q_table_checksum:
        // exact DECIMAL(38,0) accumulation, representation-stable output
        .agg((sum(when(col("in_old"), col("h")).otherwise(lit(0)))
            % lit(Num.ChecksumMod)).cast("long").as("checksum_old"),
          (sum(col("h")) % lit(Num.ChecksumMod)).cast("long").as("checksum_new"),
          sum(when(col("in_old"), 1L).otherwise(0L)).as("rows_old"),
          count(lit(1)).as("rows_new"))
        .withColumn("changed",
          col("checksum_old") =!= col("checksum_new") ||
            col("rows_old") =!= col("rows_new"))
        .orderBy(col("p_month"))
    }),

    // Equi-DEPTH histogram — the optimizer-statistics shape (ANALYZE's
    // height-balanced histogram): band boundaries are exact interpolated
    // quintiles, so each band holds ~20% of rows no matter how skewed
    // the values — where the equi-WIDTH q_histogram starves on skew.
    // One percentile pass (1 row, broadcast back) + one banded count
    // pass; band assignment is CASE comparisons on doubles both engines
    // computed identically. At 100 TB swap the exact percentile for
    // approx_percentile — q_histogram_eqdepth_approx IS that swap,
    // registered and green, plan-shape identical (spec-pinned).
    "q_histogram_eqdepth" -> ((s, d) => {
      // fanned scan (r14): the exact-percentile partial buffers the full
      // value set per task — building 32 partial buffers in parallel beats
      // one task buffering 600k values
      val e = tf(s, d, "lineitem").select(col("l_extendedprice").as("v"))
      // ONE array-percentile aggregate: four scalar percentile calls
      // would each buffer the full value set (4× the state and 4× the
      // merge cost — measured 7.8s vs 2s at sf0.1)
      val b = e.agg(expr("percentile(v, array(0.2d, 0.4d, 0.6d, 0.8d))").as("bs"))
        .select(element_at(col("bs"), 1).as("b1"), element_at(col("bs"), 2).as("b2"),
          element_at(col("bs"), 3).as("b3"), element_at(col("bs"), 4).as("b4"))
      e.crossJoin(broadcast(b))
        .select(when(col("v") <= col("b1"), 0)
          .when(col("v") <= col("b2"), 1)
          .when(col("v") <= col("b3"), 2)
          .when(col("v") <= col("b4"), 3)
          .otherwise(4).as("band"), col("v"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("v")).as("band_sum"))
        .orderBy(col("band"))
    }),

    // Approx twin of q_histogram_eqdepth — DEMONSTRATES the claimed
    // 100 TB swap instead of promising it: the plan shape is identical
    // (one boundary aggregate broadcast back + one banded count pass),
    // with the exact percentile's full-value-set buffer replaced by
    // approx_percentile's bounded GK-sketch state (accuracy 10000 →
    // ≤ 1/10000 rank error, constant memory per partial). The sketch
    // boundaries are engine-specific, so the cross-engine contract is
    // the q_approx_distinct discipline: each band must hold 20% ± 5% of
    // rows, verified IN-ROW and pinned TRUE in the oracle.
    "q_histogram_eqdepth_approx" -> ((s, d) => {
      // un-fanned (r15): the GK sketch's partial state is bounded and its
      // map side is cheap — unlike the exact twin there is no full value
      // set to buffer, so the fan-out exchange was pure cost (r14 bench:
      // 0.63→1.05 regressed)
      val e = t(s, d, "lineitem").select(col("l_extendedprice").as("v"))
      val b = e.agg(expr(
          "approx_percentile(v, array(0.2d, 0.4d, 0.6d, 0.8d), 10000)").as("bs"),
          count(lit(1)).as("total"))
        .select(element_at(col("bs"), 1).as("b1"), element_at(col("bs"), 2).as("b2"),
          element_at(col("bs"), 3).as("b3"), element_at(col("bs"), 4).as("b4"),
          col("total"))
      e.crossJoin(broadcast(b))
        .select(when(col("v") <= col("b1"), 0)
          .when(col("v") <= col("b2"), 1)
          .when(col("v") <= col("b3"), 2)
          .when(col("v") <= col("b4"), 3)
          .otherwise(4).as("band"), col("total"))
        .groupBy(col("band"), col("total"))
        .agg(count(lit(1)).as("n"))
        .select(col("band"),
          (abs(col("n").cast("double") / col("total").cast("double") - 0.2)
            <= 0.05).as("depth_ok"))
        .orderBy(col("band"))
    }),

    // Reorder cadence — the repeat-purchase rhythm: per customer, gaps
    // between consecutive orders from one custkey-partitioned sort
    // window (integer days), then a one-row percentile panel over all
    // gaps. Customers with a single order contribute no gap — the
    // n_customers/n_with_gaps pair makes that visible instead of
    // silent.
    "q_reorder_cadence" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val gaps = t(s, d, "orders")
        .select(col("o_custkey"),
          datediff(col("o_orderdate"),
            lag(col("o_orderdate"), 1).over(w)).cast("long").as("gap_d"))
      gaps.agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(col("gap_d")).as("n_gaps"),
        expr("percentile(gap_d, 0.5d)").as("med_gap_d"),
        expr("percentile(gap_d, 0.9d)").as("p90_gap_d"))
    }),

    // Latency SLO panel — treat the event value as a latency sample:
    // p50/p95/p99 per event type from ONE array-percentile aggregate
    // (shared sort buffer — the q_histogram_eqdepth lesson), plus the
    // in-row SLO verdict against a fixed p99 budget. The ops dashboard
    // shape: exact here, approx_percentile at 100 TB with the same plan
    // (demonstrated by the q_histogram_eqdepth_approx twin).
    "q_latency_slo" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(value, array(0.5d, 0.95d, 0.99d))").as("ps"))
        .select(col("event_type"), col("n"),
          element_at(col("ps"), 1).as("p50"),
          element_at(col("ps"), 2).as("p95"),
          element_at(col("ps"), 3).as("p99"),
          (element_at(col("ps"), 3) <= lit(150.0)).as("slo_ok"))
        .orderBy(col("event_type"))),

    // Order-width distribution — how many orders carry 1, 2, … line
    // items: the fanout histogram that underpins every per-order
    // quadratic bound in this repo (the co-purchase pair join and
    // triangle count are O(width²) per order — THIS query is the
    // evidence the width is bounded). Two stacked aggregates, both
    // map-side combined.
    "q_order_width" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("width"))
        .groupBy(col("width")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("width"))),

    // Per-user behavioral entropy — how diverse is each user's event
    // mix (0 = single-behavior bot-like, high = broad engagement): the
    // q_entropy shape applied to (user, event_type) counts, with the
    // same DECIMAL(28,12) per-term cast making the float p·ln p sum
    // order-independent. One narrow aggregate + fanout-1 join of the
    // per-user totals.
    "q_user_entropy" -> ((s, d) => {
      val uc = t(s, d, "events")
        .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      val tot = uc.groupBy(col("user_id").as("u2")).agg(sum(col("c")).as("n"))
      val p = col("c").cast("double") / col("n").cast("double")
      val h = (-sum((p * log(p)).cast(
        org.apache.spark.sql.types.DecimalType(28, 12)))).cast("double")
      uc.join(tot, col("user_id") === col("u2"))
        .groupBy(col("user_id"), col("n"))
        .agg(h.as("entropy"))
        .orderBy(col("user_id"))
    }),

    // Catalog coverage — assortment health: per part type, how much of
    // the catalog has EVER sold. The never-sold set is a LEFT ANTI from
    // the part dim against the distinct sold-part keys (fact collapsed
    // to its key set first — the anti join probes |parts| rows, never
    // the fact); coverage is a per-type ratio over the broadcast-sized
    // dim aggregate.
    "q_catalog_coverage" -> ((s, d) => {
      val sold = t(s, d, "lineitem").select(col("l_partkey")).distinct()
      val parts = t(s, d, "part").select(col("p_partkey"), col("p_type"))
      val unsold = parts.join(sold, col("p_partkey") === col("l_partkey"),
        "left_anti").groupBy(col("p_type").as("t2"))
        .agg(count(lit(1)).as("n_unsold"))
      parts.groupBy(col("p_type")).agg(count(lit(1)).as("n_parts"))
        .join(broadcast(unsold), col("p_type") === col("t2"), "left")
        .select(col("p_type"), col("n_parts"),
          (col("n_parts") - coalesce(col("n_unsold"), lit(0L))).as("n_sold"),
          ((col("n_parts") - coalesce(col("n_unsold"), lit(0L))).cast("double") /
            col("n_parts").cast("double")).as("coverage"))
        .orderBy(col("p_type"))
    }),

    // User lifespan summary — the retention scalar panel: per user the
    // span from first to last activity (integer days), then one row of
    // percentiles plus the one-day share (users who never came back
    // after their first day). Two aggregates: user-keyed min/max, then
    // the model-sized summary.
    "q_lifespan" -> ((s, d) => {
      val span = t(s, d, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .groupBy(col("user_id"))
        .agg(datediff(max(col("day")), min(col("day"))).cast("long").as("span_d"))
      span.agg(count(lit(1)).as("n_users"),
        expr("percentile(span_d, 0.5d)").as("med_span_d"),
        expr("percentile(span_d, 0.9d)").as("p90_span_d"),
        (sum(when(col("span_d") === 0L, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("one_day_share"))
    }),

    // Pareto 80/20 — the smallest customer set covering 80% of revenue:
    // rank customers by revenue descending, running decimal-exact share,
    // count ranks needed to cross 0.8. The running sum and the total are
    // an inclusive [[graft.operators.Prefix]] sum over DESCENDING
    // [[Num.rangeBucket]] buckets of revenue, so no task sorts the
    // customer dimension. Decimal addition is exact/associative, so the
    // two-level sum equals the single-window sum bit for bit. Output is
    // one row: population,
    // heavy-set size, and the heavy fraction — the "how concentrated is
    // my business" scalar next to q_gini's full-curve integral.
    "q_pareto_8020" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 6)
      val rev = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(Num.dsum(col("o_totalprice")).as("x"))
        .withColumn("rb", Num.rangeBucket(col("x")))
      Prefix(rev, within = Nil, buckets = Seq(Prefix.desc("rb")),
          order = Seq(col("x").desc, col("o_custkey")),
          measures = Seq(Prefix.Sum("cum", col("x").cast(dec), total = Some("tx"))),
          inclusive = true)
        .select((col("cum").cast("double") / col("tx").cast("double")).as("cum_share"))
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("cum_share") < 0.8, 1L).otherwise(0L)).as("below"))
        .select(col("n_customers"),
          (col("below") + 1).as("top_n_for_80pct"),
          ((col("below") + 1).cast("double") /
            col("n_customers").cast("double")).as("heavy_fraction"))
    }),

    // Growth accounting — each day's active users split into NEW (first
    // ever seen that day) vs RETURNING: the min-day per user is one
    // user-keyed aggregate joined back to the distinct (day, user)
    // table, then a conditional daily count. The standard DAU
    // decomposition a growth dashboard draws; new + returning = DAU by
    // construction (spec-pinned).
    "q_growth_accounting" -> ((s, d) => {
      val du = t(s, d, "events")
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct()
      val firstDay = du.groupBy(col("user_id").as("u2"))
        .agg(min(col("day")).as("first_day"))
      du.join(firstDay, col("user_id") === col("u2"))
        .groupBy(col("day"))
        .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"),
          sum(when(col("day") === col("first_day"), 0L).otherwise(1L))
            .as("n_returning"))
        .orderBy(col("day"))
    }),

    // Discount elasticity — does discounting move volume, per brand:
    // Pearson correlation of (l_discount, l_quantity) from the five
    // moment sums, all exact decimals, one map-side-combined aggregate
    // per brand (the q_agg_stats discipline applied per dimension
    // member). Groups with no discount variance are dropped — their
    // correlation is undefined and NaN compares differently across
    // engines.
    "q_price_elasticity" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val x = col("l_discount")
      val y = col("l_quantity")
      val m = tf(s, d, "lineitem") // 6 decimal sums/row: fanned scan (r14)
        .join(broadcast(t(s, d, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(x.cast(d38)).cast("double").as("sx"),
          sum(y.cast(d38)).cast("double").as("sy"),
          sum((x * y).cast(d38)).cast("double").as("sxy"),
          sum((x * x).cast(d38)).cast("double").as("sxx"),
          sum((y * y).cast(d38)).cast("double").as("syy"))
      val nd = col("n").cast("double")
      val cov = col("sxy") - col("sx") * col("sy") / nd
      val vx = col("sxx") - col("sx") * col("sx") / nd
      val vy = col("syy") - col("sy") * col("sy") / nd
      m.filter(col("n") >= 2 && vx > 0.0 && vy > 0.0)
        .select(col("p_brand"), col("n"),
          (cov / sqrt(vx * vy)).as("corr_disc_qty"))
        .orderBy(col("p_brand"))
    }),

    // Herfindahl–Hirschman concentration per part type — the
    // market-structure scalar regulators compute: HHI = Σ share² over
    // suppliers' revenue within each type (1/n_suppliers when even, →1
    // when one supplier owns the type). Two type-keyed aggregates (per-
    // (type, supplier) revenue, then the share-square sum against the
    // broadcast type total); shares are exact-decimal revenue ratios.
    "q_supplier_hhi" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"), col("l_suppkey"))
        .agg(Num.dsum(col("l_extendedprice")).as("r"))
      val tot = rev.groupBy(col("p_type").as("t2"))
        .agg(Num.dsum(col("r")).as("tr"), count(lit(1)).as("n_suppliers"))
      val share = col("r") / col("tr")
      rev.join(broadcast(tot), col("p_type") === col("t2"))
        .groupBy(col("p_type"), col("n_suppliers"))
        .agg(sum((share * share).cast(
          org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double").as("hhi"))
        .orderBy(col("p_type"))
    }),

    // RFM segmentation — the customer-analytics composite: recency /
    // frequency / monetary per customer, each quintile-binned, rolled up
    // to segment counts. Binning is PERCENTILE boundaries + CASE (the
    // q_histogram_eqdepth discipline), NOT a global ntile window — the
    // window needs a single-partition sort of every customer, the
    // boundary route needs one 1-row aggregate broadcast back, which is
    // the difference between scaling and not at 100 TB. All three
    // boundary arrays come from ONE aggregate; the reference date is the
    // table's own max order date, so the query is reproducible on any
    // snapshot without a wall clock.
    "q_rfm" -> ((s, d) => {
      val cust = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("freq"),
          Num.dsum(col("o_totalprice")).as("monetary"))
      val ref = cust.agg(max(col("last_order")).as("ref"))
      val w = cust.crossJoin(broadcast(ref))
        .withColumn("rec", datediff(col("ref"), col("last_order")).cast("long"))
      val qs = "array(0.2d, 0.4d, 0.6d, 0.8d)"
      val b = w.agg(expr(s"percentile(rec, $qs)").as("rb"),
        expr(s"percentile(freq, $qs)").as("fb"),
        expr(s"percentile(monetary, $qs)").as("mb"))
      def band(v: org.apache.spark.sql.Column, arr: String) =
        when(v <= element_at(col(arr), 1), 1)
          .when(v <= element_at(col(arr), 2), 2)
          .when(v <= element_at(col(arr), 3), 3)
          .when(v <= element_at(col(arr), 4), 4)
          .otherwise(5)
      w.crossJoin(broadcast(b))
        .select((band(col("rec"), "rb") * 100 + band(col("freq"), "fb") * 10 +
          band(col("monetary"), "mb")).as("segment"), col("monetary"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_customers"),
          Num.dsum(col("monetary")).as("total_value"))
        .orderBy(col("segment"))
    }),

    // Hash-split A/B analysis — the experiment-analysis shape: variant
    // assignment is the deterministic md5 bucket (reproducible across
    // rebuilds, the q_hash_split discipline), and per event type the
    // two variants' counts/means/variances fold into ONE conditional
    // aggregate pass; the Welch t statistic is then driver-free row
    // arithmetic on the 5-row result. Exact decimal sums make the means
    // engine-identical; groups need n≥2 per arm for the variance.
    "q_ab_test" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val arm = (conv(substring(md5(encode(col("user_id").cast("string"),
        "UTF-8")), 1, 8), 16, 10).cast("long") % 2).cast("int")
      val e = t(s, d, "events").select(col("event_type"), col("value"),
        arm.as("arm"))
      def armAgg(a: Int, f: org.apache.spark.sql.Column) =
        sum(when(col("arm") === a, f).otherwise(lit(0).cast(d38)))
          .cast("double")
      val m = e.groupBy(col("event_type")).agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        armAgg(0, col("value").cast(d38)).as("s0"),
        armAgg(1, col("value").cast(d38)).as("s1"),
        armAgg(0, (col("value") * col("value")).cast(d38)).as("ss0"),
        armAgg(1, (col("value") * col("value")).cast(d38)).as("ss1"))
      val (n0d, n1d) = (col("n0").cast("double"), col("n1").cast("double"))
      val m0 = col("s0") / n0d
      val m1 = col("s1") / n1d
      val v0 = (col("ss0") - col("s0") * col("s0") / n0d) / (n0d - 1)
      val v1 = (col("ss1") - col("s1") * col("s1") / n1d) / (n1d - 1)
      m.filter(col("n0") >= 2 && col("n1") >= 2)
        .select(col("event_type"), col("n0"), col("n1"),
          (m0 - m1).as("mean_diff"),
          ((m0 - m1) / sqrt(v0 / n0d + v1 / n1d)).as("t_welch"))
        .orderBy(col("event_type"))
    }),

    // One-way ANOVA — the k-group extension of q_ab_test's two-arm
    // Welch t: does event value differ ACROSS ALL event types at once
    // (F = between-group/within-group mean square)? Everything reduces
    // to per-group moment sums (n, Σv, Σv²) — ONE map-side-combined
    // aggregate over the fact scan, decimal-exact so the totals are
    // order-independent. The cross-group reduction Σ s_g²/n_g is the
    // only sum of non-exact terms; it runs in DECIMAL(38,12) after the
    // per-group double division (the q_supplier_hhi discipline — the
    // double→decimal cast is deterministic and identical in both
    // engines, and 12 dp leaves no realistic tie). The F arithmetic
    // happens on the final 1-row frame in doubles. Shape at 100 TB:
    // one fact scan, one |event_types|-row frame, one 1-row frame —
    // no join, no window, no second pass over the data.
    "q_anova" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val d3812 = org.apache.spark.sql.types.DecimalType(38, 12)
      val g = t(s, d, "events")
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ng"),
          sum(col("value").cast(d38)).as("sg"),
          sum((col("value") * col("value")).cast(d38)).as("ssg"))
      val a = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sg")).cast("double").as("s"),
        sum(col("ssg")).cast("double").as("ss"),
        sum(((col("sg").cast("double") * col("sg").cast("double")) /
          col("ng").cast("double")).cast(d3812)).cast("double").as("t"))
      val nd = col("n").cast("double")
      val kd = col("k").cast("double")
      val c = col("s") * col("s") / nd
      val ssb = col("t") - c
      val ssw = col("ss") - col("t")
      a.filter(col("k") >= 2L && col("n") > col("k"))
        .select(col("k").as("n_groups"), col("n"),
          ssb.as("ss_between"), ssw.as("ss_within"),
          ((ssb / (kd - lit(1.0))) / (ssw / (nd - kd))).as("f_stat"))
    }),

    // COVARIATE MATCHING ATT — the observational-causal estimator when
    // arms aren't hashed but chosen (here: is the BUILDING market
    // segment's spend premium real once you compare balance-alike
    // customers?): each treated customer is matched WITH REPLACEMENT to
    // the nearest control on the account-balance axis (1-NN covariate
    // matching, the degenerate propensity-score match), ATT = mean
    // (treated outcome − matched-control outcome). Matching on a VALUE
    // axis at scale is the real content: controls collapse to one
    // deterministic representative per distinct balance (min custkey),
    // both sides bucket by [[Num.rangeBucket]] (balance shifted ≥ 0 —
    // TPC-H floors acctbal at −999.99), the nearest-below/above scan is
    // a per-bucket last/first window over the control∪treated union
    // (tag-ordered so equality counts as BELOW only), and cross-bucket
    // misses fall back to broadcast prefix-max / suffix-min carries over
    // the tiny bucket frame — the Prefix bucket layout pointed at a join
    // instead of a rank, so no task ever sorts the whole axis. Ties
    // below-vs-above resolve to below (documented, oracle-mirrored).
    "q_match_att" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cy = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("double").as("x"))
        .join(t(s, d, "orders").groupBy(col("o_custkey"))
            .agg(Num.dsum(col("o_totalprice")).as("y0")),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_mktsegment"), col("x"),
          coalesce(col("y0"), lit(0.0)).as("y"))
      val treated = cy.filter(col("c_mktsegment") === "BUILDING")
      val ctrl = cy.filter(col("c_mktsegment") =!= "BUILDING")
      // one deterministic representative per distinct control balance:
      // the min-custkey holder and ITS outcome (struct min is
      // lexicographic, so custkey decides)
      val rep = ctrl.groupBy(col("x").as("cb"))
        .agg(min(struct(col("c_custkey"), col("y"))).as("r"))
        .select(col("cb"), col("r").getField("y").as("ym"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rb = Num.rangeBucket(col("bal") + lit(1000.0))
      val u = rep.select(col("cb").as("bal"), lit(0).as("tag"),
          col("cb").as("cbal"), lit(null).cast("long").as("k"),
          lit(null).cast("double").as("yt"))
        .unionByName(treated.select(col("x").as("bal"), lit(1).as("tag"),
          lit(null).cast("double").as("cbal"), col("c_custkey").as("k"),
          col("y").as("yt")))
        .withColumn("rb", rb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wBelow = Window.partitionBy(col("rb"))
        .orderBy(col("bal"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAbove = Window.partitionBy(col("rb"))
        .orderBy(col("bal").desc, col("tag").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // cross-bucket carries: the greatest control bal in any EARLIER
      // bucket / least in any LATER bucket, computed on the bucket frame
      val wPre = Window.orderBy(col("rb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wSuf = Window.orderBy(col("rb").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      // bucket frame from the UNION (not just control buckets): a bucket
      // holding only treated rows still needs its carries; max/min skip
      // the null cbal of treated rows
      val carries = u.groupBy(col("rb"))
        .agg(max(col("cbal")).as("bmax"), min(col("cbal")).as("bmin"))
        .withColumn("carry_below", max(col("bmax")).over(wPre))
        .withColumn("carry_above", min(col("bmin")).over(wSuf))
        .select(col("rb").as("rb2"), col("carry_below"), col("carry_above"))
      val scanned = u
        .withColumn("below_loc", last(col("cbal"), ignoreNulls = true).over(wBelow))
        .withColumn("above_loc", last(col("cbal"), ignoreNulls = true).over(wAbove))
        .filter(col("tag") === 1)
        .join(broadcast(carries), col("rb") === col("rb2"), "left")
        .select(col("k"), col("bal"), col("yt"),
          coalesce(col("below_loc"), col("carry_below")).as("below"),
          coalesce(col("above_loc"), col("carry_above")).as("above"))
      val pick = when(col("above").isNull, col("below"))
        .when(col("below").isNull, col("above"))
        .when(col("bal") - col("below") <= col("above") - col("bal"),
          col("below"))
        .otherwise(col("above"))
      val nt = treated.agg(count(lit(1)).as("n_treated"))
      scanned.select(col("k"), col("yt"), pick.as("mb"))
        .filter(col("mb").isNotNull)
        .join(rep, col("mb") === col("cb"))
        .agg(count(lit(1)).as("n_matched"),
          Num.davg(col("yt")).as("avg_treated"),
          Num.davg(col("ym")).as("avg_matched"),
          Num.davg(col("yt") - col("ym")).as("att"))
        .filter(col("n_matched") > 0L)
        .crossJoin(broadcast(nt))
        .select(col("n_treated"), col("n_matched"),
          col("avg_treated"), col("avg_matched"), col("att"))
    }),

    // DIFFERENCE-IN-DIFFERENCES — the quasi-experimental causal panel
    // when randomization isn't available (Card & Krueger 1994 shape):
    // treated/control arms from the q_ab_test user hash, pre/post from
    // the window's own midpoint (the q_psi_drift snapshot-reproducible
    // split), DiD = (T_post − T_pre) − (C_post − C_pre) — the treatment
    // effect net of the shared time trend. All four cell means come
    // from ONE conditional 8-sum aggregate (map-side combined, decimal-
    // exact sums); the estimate is 1-row double algebra. At 100 TB this
    // is a scan + one aggregate — no join, no window, no second pass.
    "q_did" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val arm = (conv(substring(md5(encode(col("user_id").cast("string"),
        "UTF-8")), 1, 8), 16, 10).cast("long") % 2).cast("int")
      val ev = t(s, d, "events")
        .filter(col("value").isNotNull)
        .select(col("ts"), col("value"), arm.as("arm"))
      val mid = ev.agg(((min(unix_micros(col("ts"))) +
        max(unix_micros(col("ts")))) / 2).as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
        .select(col("arm"), (unix_micros(col("ts")) >= col("mid")).as("post"),
          col("value"))
      def cell(a: Int, p: Boolean) = col("arm") === a && col("post") === p
      def nOf(a: Int, p: Boolean) =
        sum(when(cell(a, p), 1L).otherwise(0L))
      def sOf(a: Int, p: Boolean) =
        sum(when(cell(a, p), col("value").cast(d38))
          .otherwise(lit(0).cast(d38))).cast("double")
      val m = tagged.agg(
        nOf(0, false).as("n_c_pre"), nOf(0, true).as("n_c_post"),
        nOf(1, false).as("n_t_pre"), nOf(1, true).as("n_t_post"),
        sOf(0, false).as("s_c_pre"), sOf(0, true).as("s_c_post"),
        sOf(1, false).as("s_t_pre"), sOf(1, true).as("s_t_post"))
      def mean(s: String, n: String) = col(s) / col(n).cast("double")
      m.filter(col("n_c_pre") > 0L && col("n_c_post") > 0L &&
          col("n_t_pre") > 0L && col("n_t_post") > 0L)
        .select(col("n_c_pre"), col("n_c_post"), col("n_t_pre"), col("n_t_post"),
          mean("s_c_pre", "n_c_pre").as("m_c_pre"),
          mean("s_c_post", "n_c_post").as("m_c_post"),
          mean("s_t_pre", "n_t_pre").as("m_t_pre"),
          mean("s_t_post", "n_t_post").as("m_t_post"),
          ((mean("s_t_post", "n_t_post") - mean("s_t_pre", "n_t_pre")) -
            (mean("s_c_post", "n_c_post") - mean("s_c_pre", "n_c_pre")))
            .as("did"))
    }),

    // POISSON BOOTSTRAP confidence interval (Chamandy et al. 2012 — the
    // resampling scheme built for map-reduce): error bars on any metric
    // without N×B resampled copies. Each of B=32 replicates weights every
    // order by an independent Poisson(1) draw (≈ sampling with
    // replacement at scale), realized as a seeded md5-uniform of
    // (o_orderkey, b) pushed through the Poisson inverse CDF — a pure
    // in-row CASE, so the resample is rerun-stable and oracle-exact.
    // Shape at 100 TB: the ×32 fanout is in-row map work, the replicate
    // estimates are ONE 32-group map-side-combinable aggregate (decimal
    // sums keep each weighted mean order-free), and the CI is order
    // statistics over the 32-row estimate table — never a second pass
    // over the data, never a driver loop. Reported: the exact full-data
    // mean, the bootstrap median, and the [2nd, 31st] order statistics
    // (a ~94% CI at B=32).
    "q_bootstrap_ci" -> ((s, d) => {
      // graft_md5_u32 = the conv(substring(md5(...),1,8),16,10) chain as
      // one codegen'd digest read — bit-identical, ~4× the throughput in
      // this ×32 fanout (the hottest seeded-uniform site in the registry)
      val u = expr("cast(graft_md5_u32(concat_ws(':', o_orderkey, b)) as double)") /
        lit(4294967296.0)
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val est = o
        // the in-row ×32 fanout inherits the SCAN's split count — a small
        // dimension-table parquet is one split, which would serialize all
        // 32·N hash evaluations on one core. Spreading the SEED rows first
        // is cheap (N skinny rows) and parallelizes the fanout; the count
        // is pinned (REPARTITION_BY_NUM) because AQE would coalesce a
        // by-column spread of a megabyte-sized seed table right back to
        // one partition — the advisory size sees the rows BEFORE the ×B
        // blow-up. On a real fact table the scan already has thousands of
        // splits and this exchange is a rounding error next to the work
        // it spreads.
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(expr("sequence(0L, 31L)")).as("b"))
        // u lands in its OWN multi-referenced projection (the Dedup fuzzy
        // idiom): CollapseProject would otherwise inline the md5+conv
        // chain into every CASE arm AND the filter — 8 hash evaluations
        // per row instead of 1 (measured 15 s → ~4 s at sf0.1)
        .withColumn("u", u)
        .withColumn("w",
          when(col("u") < 0.36787944117144233, 0L) // P(X=0), X~Poisson(1)
            .when(col("u") < 0.7357588823428847, 1L) // + P(X=1)
            .when(col("u") < 0.9196986029286058, 2L) // + P(X=2)
            .when(col("u") < 0.9810118431238462, 3L) // + P(X=3)
            .otherwise(4L))                          // tail collapsed to 4
        .filter(col("w") > 0)
        .groupBy(col("b"))
        .agg((Num.dsum(col("w") * col("o_totalprice"))
          / sum(col("w")).cast("double")).as("est"))
      val full = o.agg(Num.davg(col("o_totalprice")).as("mean_full"))
      est.agg(sort_array(collect_list(col("est"))).as("ests"))
        // empty shard → no replicates → no CI row (not an ANSI
        // out-of-bounds throw from element_at on [])
        .filter(size(col("ests")) >= 31)
        .crossJoin(broadcast(full))
        .select(col("mean_full"),
          element_at(col("ests"), 16).as("boot_med"),
          element_at(col("ests"), 2).as("ci_lo"),
          element_at(col("ests"), 31).as("ci_hi"))
    }),

    // 2-D skyline (Pareto frontier): parts no other part beats on BOTH
    // price and size. The O(N²) NOT-EXISTS self-join collapses to sort
    // algebra: per price group take the min size, then a prefix-min over
    // price-ascending groups — a row survives iff no strictly-cheaper
    // group reaches its size (minStrict ≤ sz kills it) and nothing in
    // its own group is strictly smaller (gmin < sz kills it). Equal
    // (price, size) pairs are mutually non-dominating and both survive,
    // matching the oracle's strict-dominance NOT EXISTS. The prefix-min
    // is an exclusive [[graft.operators.Prefix]] min over
    // [[Num.rangeBucket]] buckets of price, so no task ever sorts the
    // whole price dimension; the very first group's is NULL.
    "q_skyline" -> ((s, d) => {
      val p = t(s, d, "part").select(col("p_partkey"),
        col("p_retailprice").as("price"), col("p_size").cast("long").as("sz"))
      val byPrice = p.groupBy(col("price").as("gp"))
        .agg(min(col("sz")).as("gmin"))
        .withColumn("rb", Num.rangeBucket(col("gp")))
      val strict = Prefix(byPrice, within = Nil, buckets = Seq(Prefix.asc("rb")),
        order = Seq(col("gp")), measures = Seq(Prefix.Min("min_strict", col("gmin"))),
        inclusive = false)
      p.join(strict, col("price") === col("gp"))
        .filter(!(coalesce(col("min_strict") <= col("sz"), lit(false)) ||
          col("gmin") < col("sz")))
        .select(col("p_partkey"), col("price"), col("sz"))
        .orderBy(col("price"), col("sz"), col("p_partkey"))
    }),

    // Declarative data-quality gate — the constraint checker a pipeline
    // runs before promoting a snapshot: completeness (no null keys),
    // range bounds, enum domain, key uniqueness, and referential
    // integrity, each reported as (constraint, metric, ok). Scale shape:
    // all lineitem-local constraints fold into ONE map-side-combined
    // aggregate over one scan; uniqueness is a two-level distinct on the
    // orders key; the FK check is a LEFT ANTI count against the
    // broadcast-ineligible orders key set (key-partitioned shuffle, the
    // same cost class as the join the FK protects). One violated
    // constraint anywhere flips exactly its own row — the gate never
    // aborts the scan that feeds it.
    "q_constraint_check" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val ord = t(s, d, "orders")
      val liAgg = li.agg(
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("nulls"),
        min(col("l_quantity")).as("qmin"), max(col("l_quantity")).as("qmax"),
        sum(when(col("l_returnflag").isin("A", "N", "R"), 0L).otherwise(1L))
          .as("bad_enum")).head()
      val uniq = ord.agg(count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("nd")).head()
      val orphans = li.select(col("l_orderkey"))
        .join(ord.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti").count()
      import s.implicits._
      // empty-shard discipline: SUM/MIN/MAX over zero rows are NULL —
      // read them as vacuous passes (0 violations; range checks pass by
      // NaN metric) instead of NPE-ing the audit that exists to catch
      // exactly such degenerate shards
      val nulls = if (liAgg.isNullAt(0)) 0L else liAgg.getLong(0)
      val badEnum = if (liAgg.isNullAt(3)) 0L else liAgg.getLong(3)
      val qmin = if (liAgg.isNullAt(1)) None else Some(liAgg.getDouble(1))
      val qmax = if (liAgg.isNullAt(2)) None else Some(liAgg.getDouble(2))
      Seq(
        ("completeness_l_orderkey", nulls.toDouble, nulls == 0L),
        ("enum_l_returnflag", badEnum.toDouble, badEnum == 0L),
        ("fk_lineitem_orders", orphans.toDouble, orphans == 0L),
        ("range_l_quantity_max", qmax.getOrElse(Double.NaN),
          qmax.forall(_ <= 50.0)),
        ("range_l_quantity_min", qmin.getOrElse(Double.NaN),
          qmin.forall(_ >= 1.0)),
        ("unique_o_orderkey", uniq.getLong(1).toDouble,
          uniq.getLong(0) == uniq.getLong(1)))
        .toDF("check_name", "metric", "ok")
        .orderBy(col("check_name"))
    }),

    // Row-level change-data capture — the row-grain companion to the
    // partition-grain q_partition_diff: a FULL OUTER join of two
    // snapshots on the primary key classifies every row as added /
    // removed / changed / unchanged, the feed a downstream MERGE
    // consumes. Snapshots are derived deterministically (old lacks
    // l_orderkey%97=0 and drifts l_quantity by +1 where l_partkey%101=0;
    // new lacks l_orderkey%89=0), so all four classes actually occur.
    // Scale shape: both sides are key-projected before the join, the
    // join is the ONE key-partitioned shuffle (at 100 TB: bucket both
    // snapshots on the key at write time and it collapses to a zipped
    // scan), and the value compare is per-row — never a second pass.
    "q_cdc_rows" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      // CDC compares KEYED snapshots: (orderkey, partkey, suppkey) is not
      // physically unique in this data, so each snapshot aggregates to
      // the key first (exact decimal sums) — the join is then 1:1 by
      // construction, which is what a MERGE consumer requires anyway
      def snap(pred: org.apache.spark.sql.Column,
               qty: org.apache.spark.sql.Column, tag: String) =
        li.filter(pred)
          .groupBy(col("l_orderkey").as(s"ok_$tag"),
            col("l_partkey").as(s"pk_$tag"), col("l_suppkey").as(s"sk_$tag"))
          .agg(sum(qty.cast(graft.Num.Dec)).as(s"q_$tag"),
            min(col("l_shipdate")).as(s"sd_$tag"))
      val old = snap(col("l_orderkey") % 97 =!= 0,
        when(col("l_partkey") % 101 === 0, col("l_quantity") + 1)
          .otherwise(col("l_quantity")), "old")
      val nw = snap(col("l_orderkey") % 89 =!= 0, col("l_quantity"), "new")
      old.join(nw, col("ok_old") === col("ok_new") &&
          col("pk_old") === col("pk_new") && col("sk_old") === col("sk_new"),
          "full_outer")
        .select(
          date_trunc("month", coalesce(col("sd_new"), col("sd_old")))
            .as("p_month"),
          when(col("ok_old").isNull, lit("added"))
            .when(col("ok_new").isNull, lit("removed"))
            .when(col("q_old") =!= col("q_new"), lit("changed"))
            .otherwise(lit("unchanged")).as("change_class"))
        .groupBy(col("p_month"), col("change_class"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("p_month"), col("change_class"))
    }),

    // Incremental aggregate maintenance — the APPLY half of
    // q_partition_diff's detect half: given the stored per-month rollup
    // of the old snapshot and the list of changed months, rebuild ONLY
    // the changed months from the new data and carry every other month's
    // row forward untouched. The changed list is tiny and broadcast;
    // unchanged months never touch the fact again (LEFT ANTI against the
    // stored rollup), so at 100 TB the recompute scan is pruned to the
    // delta partitions. The oracle is the FULL recompute — incremental
    // maintenance is only correct if it is indistinguishable from it
    // (exact decimal sums make the carried-forward rows bit-identical).
    "q_incremental_agg" -> ((s, d) => {
      val isNewRow = col("l_orderkey") % 97 === 0
      val liM = t(s, d, "lineitem")
        .withColumn("p_month", date_trunc("month", col("l_shipdate")))
      val changed = liM.filter(isNewRow).select(col("p_month")).distinct()
      // stands in for the STORED materialized rollup of the old snapshot
      val oldAgg = liM.filter(!isNewRow)
        .groupBy(col("p_month"))
        .agg(Num.dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_rows"))
      val recomputed = liM.join(broadcast(changed), "p_month")
        .groupBy(col("p_month"))
        .agg(Num.dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_rows"))
      oldAgg.join(broadcast(changed), Seq("p_month"), "left_anti")
        .unionByName(recomputed)
        .orderBy(col("p_month"))
    }),

    // Bloom-filter semi-join reduction — the shuffle-avoidance primitive
    // for selective fact⋈dim joins at 100 TB: build a Bloom filter over
    // the dim's join keys (one small driver job, like Spark's own
    // runtime-bloom rewrite), broadcast it, and drop non-matching fact
    // rows AT THE SCAN, before they pay the orderkey shuffle. No false
    // negatives, so the subsequent hash join sees every true match and
    // removes the (≤ fpp) false positives — the result is EXACTLY the
    // plain join's, which is what the oracle pins. EAGER: the filter
    // build materializes the dim slice at build time.
    "q_bloom_prune" -> ((s, d) => {
      val dim = t(s, d, "customer").filter(col("c_acctbal") > 5000.0)
        .select(col("c_custkey"), col("c_mktsegment"))
      // Empty dim slice → Spark's treeAggregate returns its UNINITIALIZED
      // zero-value filter (null bit array — mightContain NPEs). The
      // correct prune for an empty build side is "nothing passes"; the
      // emptiness probe rides the same eager pass the filter build
      // already is.
      val pruneExpr =
        if (dim.isEmpty) lit(false)
        else {
          val bf = dim.stat.bloomFilter("c_custkey", 100000L, 0.01)
          val mightHave = udf((k: Long) => bf.mightContain(k))
          mightHave(col("o_custkey"))
        }
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .filter(pruneExpr)
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          Num.dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    })
  )

  /** DuckDB spelling of the first-10-hex-chars md5 slice as an integer —
    * the oracle twin of q_table_checksum's per-row hash (same digit-sum
    * convention as Sampling.sqlBucketN). */
  private def sqlMd5Slice10(expr: String): String = (0 until 10).map { i =>
    val mult = 1L << (4 * (9 - i))
    s"((strpos('0123456789abcdef', substr(md5($expr), ${i + 1}, 1)) - 1) * $mult)"
  }.mkString("(", "\n + ", ")")

  val oracleSql: Map[String, String] = Map(
    "q_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_ab
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                         AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |s AS (SELECT l_partkey, COUNT(*) AS n_i FROM li GROUP BY 1),
        |t AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li)
        |SELECT pa, pb, n_ab,
        |  CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
        |    / (CAST(sa.n_i AS DOUBLE) * CAST(sb.n_i AS DOUBLE)) AS lift
        |FROM p JOIN s sa ON sa.l_partkey = pa
        |       JOIN s sb ON sb.l_partkey = pb, t
        |ORDER BY lift DESC, pa, pb LIMIT 50""".stripMargin,

    "q_skew_profile" -> {
      def prof(table: String, key: String) =
        s"""SELECT '$key' AS key_name, COUNT(*) AS n_keys,
           |  CAST(SUM(cnt) AS BIGINT) AS total_rows, MAX(cnt) AS max_cnt,
           |  quantile_cont(cnt, 0.5) AS median_cnt,
           |  quantile_cont(cnt, 0.99) AS p99_cnt,
           |  CAST(MAX(cnt) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
           |    / CAST(SUM(cnt) AS DOUBLE) AS skew_ratio,
           |  CAST(MAX(cnt) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
           |    / CAST(SUM(cnt) AS DOUBLE) > 4.0 AS salt_advised
           |FROM (SELECT $key, COUNT(*) AS cnt FROM $table GROUP BY 1)""".stripMargin
      s"""${prof("lineitem", "l_suppkey")}
         |UNION ALL
         |${prof("events", "user_id")}
         |ORDER BY key_name""".stripMargin
    },

    "q_table_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
           |  MIN($c) AS minv, MAX($c) AS maxv
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    // json_keys/->> give DuckDB the same key/value views of the payload;
    // n_entries counts the merged map's keys (props keys + type + uid,
    // all distinct in this schema).
    "q_map_ops" ->
      """SELECT event_id,
        |  LIST_AGGREGATE(json_keys(props), 'string_agg', ',') AS pkeys,
        |  props ->> 'k' AS k_val,
        |  CAST(LEN(json_keys(props)) + 2 AS INT) AS n_entries,
        |  LIST_AGGREGATE(LIST_SORT(LIST_VALUE(props ->> 'k', event_type,
        |    CAST(user_id AS VARCHAR))), 'string_agg', ',') AS merged_vals
        |FROM events WHERE event_id % 200 = 0
        |ORDER BY event_id""".stripMargin,

    // Exact distincts are the hash target; the sketch estimates (per-type
    // and merged) are verified via the in-row booleans, pinned TRUE.
    "q_hll_union" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_users,
        |       TRUE AS apx_ok
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT 'TOTAL', CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE
        |FROM events
        |ORDER BY event_type""".stripMargin,

    "q_table_checksum" ->
      s"""SELECT l_returnflag,
         |  CAST(SUM(${sqlMd5Slice10(
              "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")})
         |    % ${Num.ChecksumMod} AS BIGINT) AS checksum,
         |  COUNT(*) AS n_rows
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_order_count_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
         |    AND l_shipdate < TIMESTAMP '1998-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q_small_qty_revenue" ->
      s"""SELECT ${Num.sqlDsum("l_extendedprice")} / 7.0 AS avg_yearly
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#1'
         |  AND l_quantity < (
         |    SELECT 0.2 * ${Num.sqlDavg("l2.l_quantity")}
         |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q_inactive_customers" ->
      s"""WITH cutoff AS (
         |  SELECT ${Num.sqlDavg("c_acctbal")} AS cut
         |  FROM customer WHERE c_acctbal > 0.0)
         |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
         |  ${Num.sqlDsum("c_acctbal")} AS totacctbal
         |FROM customer, cutoff
         |WHERE c_acctbal > cut
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey
         |                    AND o_orderdate >= TIMESTAMP '2001-01-01')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_priority_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_returned_topcust" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
         |  ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1997-07-01'
         |  AND o_orderdate < TIMESTAMP '1997-10-01'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_disjunctive_pred" ->
      s"""SELECT ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
         |       AND l_quantity BETWEEN 10 AND 40)""".stripMargin,

    "q_volume_supplier" ->
      s"""WITH ps AS (
         |  SELECT l_partkey, l_suppkey, ${Num.sqlDsum("l_quantity")} AS sq
         |  FROM lineitem GROUP BY 1, 2),
         |pt AS (
         |  SELECT l_partkey, ${Num.sqlDsum("sq")} AS tot, COUNT(*) AS ns
         |  FROM ps GROUP BY 1),
         |conc AS (
         |  SELECT l_suppkey, COUNT(*) AS n_parts
         |  FROM ps JOIN pt USING (l_partkey)
         |  WHERE sq > 2.0 * tot / ns
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, n_parts
         |FROM conc JOIN supplier ON l_suppkey = s_suppkey
         |ORDER BY s_suppkey""".stripMargin,

    "q_profit_by_nation" ->
      s"""SELECT n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
         |  ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount) " +
            "- 0.5 * p_retailprice * l_quantity")} AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin,

    "q_market_share" ->
      s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
         |  ${Num.sqlDsum("CASE WHEN n1.n_name = 'NATION_5' " +
            "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} /
         |  ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS mkt_share
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_promo_share" ->
      s"""SELECT 100.0 * ${Num.sqlDsum("CASE WHEN p_type = 'PROMO' " +
            "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} /
         |  ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS promo_share
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-02-01'""".stripMargin,

    "q_part_contribution" ->
      s"""WITH pv AS (
         |  SELECT l_partkey, ${Num.sqlDsum("l_extendedprice")} AS value
         |  FROM lineitem GROUP BY 1),
         |t AS (SELECT ${Num.sqlDsum("value")} AS tot, COUNT(*) AS n FROM pv)
         |SELECT l_partkey, value FROM pv, t
         |WHERE value > 1.25 * tot / n
         |ORDER BY value DESC, l_partkey""".stripMargin,

    "q_nation_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
         |  ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
         |  AND n2.n_name IN ('NATION_18', 'NATION_19')
         |  AND n1.n_name <> n2.n_name
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_min_cost_supplier" ->
      """WITH pq AS (
        |  SELECT p_partkey, p_name FROM part
        |  WHERE p_size <= 10 AND p_type = 'STANDARD'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
        |  FROM lineitem JOIN pq ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |mc AS (SELECT l_partkey AS mk, MIN(cost) AS mincost FROM cost GROUP BY 1)
        |SELECT s_acctbal, s_name, p_partkey, p_name, cost
        |FROM cost
        |JOIN mc ON l_partkey = mk AND cost = mincost
        |JOIN pq ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY s_acctbal DESC, s_name, p_partkey""".stripMargin,

    "q_revenue_forecast" ->
      s"""SELECT ${Num.sqlDsum("l_extendedprice * l_discount")} AS revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin,

    "q_backtest_forecast" ->
      s"""WITH m AS (
         |  SELECT mon, rev_d,
         |    CAST(year(mon)*12 + month(mon) - 24020 AS BIGINT) AS t
         |  FROM (SELECT date_trunc('month', o_orderdate) AS mon,
         |          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
         |               AS DECIMAL(18,6)) AS rev_d
         |        FROM orders GROUP BY 1)),
         |org AS (SELECT t AS ot, mon AS origin_mon, rev_d AS ytrue_d
         |        FROM m ORDER BY t DESC LIMIT 3),
         |f AS (SELECT ot, origin_mon, ytrue_d,
         |        CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(t) AS BIGINT) AS sx,
         |        CAST(SUM(rev_d) AS DECIMAL(24,6)) AS sy,
         |        CAST(SUM(CAST(t * rev_d AS DECIMAL(20,6))) AS DECIMAL(24,6)) AS sxy,
         |        CAST(SUM(t*t) AS BIGINT) AS sxx
         |      FROM m, org WHERE t < ot GROUP BY 1, 2, 3),
         |h AS (SELECT origin_mon, ytrue_d, ot, n, sx,
         |        CAST(CAST(CAST(n AS DECIMAL(4,0))*sxy AS DECIMAL(38,6))
         |             - CAST(CAST(sx AS DECIMAL(8,0))*sy AS DECIMAL(38,6))
         |             AS DECIMAL(20,2)) AS num,
         |        n*sxx - sx*sx AS den,
         |        CAST(sy AS DECIMAL(18,2)) AS sy2
         |      FROM f),
         |p AS (SELECT origin_mon, ytrue_d,
         |        CAST(sy2 AS DOUBLE) / CAST(n AS DOUBLE)
         |          + (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
         |            * (CAST(ot AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
         |          AS y_hat
         |      FROM h)
         |SELECT origin_mon,
         |  CAST(CAST(ytrue_d AS DECIMAL(18,2)) AS DOUBLE) AS y_true, y_hat,
         |  ABS(y_hat - CAST(CAST(ytrue_d AS DECIMAL(18,2)) AS DOUBLE))
         |    / CAST(CAST(ytrue_d AS DECIMAL(18,2)) AS DOUBLE) AS ape
         |FROM p ORDER BY origin_mon""".stripMargin,

    "q_priority_split" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size IN (5, 10, 15, 20, 25)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_triangle_count" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |    AND l_shipdate < TIMESTAMP '2001-01-01'),
        |e AS (
        |  SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk)
        |SELECT (SELECT COUNT(*) FROM e) AS n_edges,
        |  (SELECT COUNT(*)
        |   FROM e ab JOIN e bc ON ab.b = bc.a
        |   JOIN e ac ON ac.a = ab.a AND ac.b = bc.b) AS n_triangles""".stripMargin,

    "q_shortest_path" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |    AND l_shipdate < TIMESTAMP '2001-01-01'),
        |pc AS (
        |  SELECT x.pk AS a, y.pk AS b, COUNT(*) AS cnt
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2),
        |e AS (SELECT a, b, CAST(1.0 AS DOUBLE) / cnt AS w FROM pc
        |      UNION ALL
        |      SELECT b, a, CAST(1.0 AS DOUBLE) / cnt AS w FROM pc),
        |d0 AS (SELECT MIN(a) AS n, CAST(0 AS DOUBLE) AS dist FROM e
        |       HAVING MIN(a) IS NOT NULL),
        |r1 AS (SELECT n, MIN(dist) AS dist FROM (
        |         SELECT n, dist FROM d0
        |         UNION ALL
        |         SELECT e.b AS n, d0.dist + e.w AS dist
        |         FROM e JOIN d0 ON e.a = d0.n) GROUP BY n),
        |r2 AS (SELECT n, MIN(dist) AS dist FROM (
        |         SELECT n, dist FROM r1
        |         UNION ALL
        |         SELECT e.b AS n, r1.dist + e.w AS dist
        |         FROM e JOIN r1 ON e.a = r1.n) GROUP BY n)
        |SELECT n AS part, dist FROM r2 ORDER BY dist, part""".stripMargin,

    "q_label_prop" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |    AND l_shipdate < TIMESTAMP '2001-01-01'),
        |e0 AS (
        |  SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |und AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |l0 AS (SELECT DISTINCT a AS n, a AS lbl FROM und),
        |c1 AS (SELECT und.a AS n, l0.lbl AS lbl, COUNT(*) AS cnt
        |       FROM und JOIN l0 ON und.b = l0.n GROUP BY 1, 2),
        |l1 AS (SELECT n, lbl FROM (
        |         SELECT n, lbl, ROW_NUMBER() OVER (
        |           PARTITION BY n ORDER BY cnt DESC, lbl ASC) AS r
        |         FROM c1) WHERE r = 1),
        |c2 AS (SELECT und.a AS n, l1.lbl AS lbl, COUNT(*) AS cnt
        |       FROM und JOIN l1 ON und.b = l1.n GROUP BY 1, 2),
        |l2 AS (SELECT n, lbl FROM (
        |         SELECT n, lbl, ROW_NUMBER() OVER (
        |           PARTITION BY n ORDER BY cnt DESC, lbl ASC) AS r
        |         FROM c2) WHERE r = 1)
        |SELECT lbl AS community, COUNT(*) AS n_nodes
        |FROM l2 GROUP BY 1
        |ORDER BY n_nodes DESC, community""".stripMargin,

    // same graph CTEs; each peel round = degree filter + edge semi-joins,
    // replayed as chained CTEs
    "q_kcore" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |    AND l_shipdate < TIMESTAMP '2001-01-01'),
        |e0 AS (
        |  SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |u0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |al1 AS (SELECT a AS n FROM u0 GROUP BY a HAVING COUNT(*) >= 3),
        |e1 AS (SELECT e0.a, e0.b FROM e0
        |       WHERE EXISTS (SELECT 1 FROM al1 WHERE al1.n = e0.a)
        |         AND EXISTS (SELECT 1 FROM al1 WHERE al1.n = e0.b)),
        |u1 AS (SELECT a, b FROM e1 UNION ALL SELECT b, a FROM e1),
        |al2 AS (SELECT a AS n FROM u1 GROUP BY a HAVING COUNT(*) >= 3),
        |e2 AS (SELECT e1.a, e1.b FROM e1
        |       WHERE EXISTS (SELECT 1 FROM al2 WHERE al2.n = e1.a)
        |         AND EXISTS (SELECT 1 FROM al2 WHERE al2.n = e1.b)),
        |u2 AS (SELECT a, b FROM e2 UNION ALL SELECT b, a FROM e2)
        |SELECT CAST(0 AS BIGINT) AS round,
        |  (SELECT COUNT(DISTINCT a) FROM u0) AS n_nodes,
        |  (SELECT COUNT(*) FROM e0) AS n_edges
        |UNION ALL SELECT 1,
        |  (SELECT COUNT(DISTINCT a) FROM u1),
        |  (SELECT COUNT(*) FROM e1)
        |UNION ALL SELECT 2,
        |  (SELECT COUNT(DISTINCT a) FROM u2),
        |  (SELECT COUNT(*) FROM e2)
        |ORDER BY round""".stripMargin,

    "q_bfs_reach" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |    AND l_shipdate < TIMESTAMP '2001-01-01'),
        |e0 AS (
        |  SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |seeds AS (SELECT DISTINCT a AS n FROM und WHERE a % 100 = 0),
        |d1 AS (
        |  SELECT DISTINCT b AS n FROM und JOIN seeds ON und.a = seeds.n
        |  WHERE b NOT IN (SELECT n FROM seeds)),
        |d2 AS (
        |  SELECT DISTINCT b AS n FROM und JOIN d1 ON und.a = d1.n
        |  WHERE b NOT IN (SELECT n FROM seeds) AND b NOT IN (SELECT n FROM d1))
        |SELECT CAST(0 AS BIGINT) AS depth, COUNT(*) AS n_nodes FROM seeds
        |UNION ALL SELECT 1, COUNT(*) FROM d1
        |UNION ALL SELECT 2, COUNT(*) FROM d2
        |ORDER BY depth""".stripMargin,

    // Exact top-10 is the hash target; the sketch bound is the in-row
    // boolean, pinned TRUE (same convention as q_hll_union).
    "q_heavy_hitters" ->
      """SELECT user_id, COUNT(*) AS cnt, TRUE AS cms_ok
        |FROM events GROUP BY 1
        |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin,

    // Exact trailing-window distincts are the hash target; the merged-
    // sketch estimate is the in-row boolean, pinned TRUE.
    "q_sliding_distinct" ->
      """WITH pairs AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM pairs)
        |SELECT d.day AS window_day,
        |  CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS nd_users,
        |  TRUE AS apx_ok
        |FROM days d
        |JOIN pairs p ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_partition_diff" -> {
      val h = sqlMd5Slice10(
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")
      s"""SELECT date_trunc('month', l_shipdate) AS p_month,
         |  CAST(SUM(CASE WHEN l_orderkey % 97 <> 0 THEN $h ELSE 0 END)
         |    % ${Num.ChecksumMod} AS BIGINT) AS checksum_old,
         |  CAST(SUM($h) % ${Num.ChecksumMod} AS BIGINT) AS checksum_new,
         |  CAST(SUM(CASE WHEN l_orderkey % 97 <> 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS rows_old,
         |  COUNT(*) AS rows_new,
         |  (CAST(SUM(CASE WHEN l_orderkey % 97 <> 0 THEN $h ELSE 0 END)
         |     % ${Num.ChecksumMod} AS BIGINT)
         |     <> CAST(SUM($h) % ${Num.ChecksumMod} AS BIGINT)
         |   OR CAST(SUM(CASE WHEN l_orderkey % 97 <> 0 THEN 1 ELSE 0 END)
         |     AS BIGINT) <> COUNT(*)) AS changed
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_histogram_eqdepth" ->
      s"""WITH b AS (
         |  SELECT quantile_cont(l_extendedprice, 0.2) AS b1,
         |         quantile_cont(l_extendedprice, 0.4) AS b2,
         |         quantile_cont(l_extendedprice, 0.6) AS b3,
         |         quantile_cont(l_extendedprice, 0.8) AS b4
         |  FROM lineitem)
         |SELECT CASE WHEN l_extendedprice <= b1 THEN 0
         |            WHEN l_extendedprice <= b2 THEN 1
         |            WHEN l_extendedprice <= b3 THEN 2
         |            WHEN l_extendedprice <= b4 THEN 3
         |            ELSE 4 END AS band,
         |  COUNT(*) AS n, ${Num.sqlDsum("l_extendedprice")} AS band_sum
         |FROM lineitem, b
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Sketch boundaries are engine-specific; the contract is the in-row
    // depth verdict (each band 20% ± 5% of rows), pinned TRUE.
    "q_histogram_eqdepth_approx" ->
      """SELECT CAST(band AS INT) AS band, TRUE AS depth_ok
        |FROM (VALUES (0), (1), (2), (3), (4)) t(band)
        |ORDER BY band""".stripMargin,

    // The SAME texts Spark executes — cross-engine parity by construction.
    "q_sql_passthrough" -> PassthroughSql,
    "q_sql_passthrough_setops" -> PassthroughSetopsSql,
    "q_sql_passthrough_window" -> PassthroughWindowSql,
    "q_sql_passthrough_semijoin" -> PassthroughSemijoinSql,

    "q_reorder_cadence" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day',
        |      CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
        |                                  ORDER BY o_orderdate, o_orderkey) AS DATE),
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_d
        |  FROM orders)
        |SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        |  COUNT(gap_d) AS n_gaps,
        |  quantile_cont(gap_d, 0.5) AS med_gap_d,
        |  quantile_cont(gap_d, 0.9) AS p90_gap_d
        |FROM g""".stripMargin,

    "q_latency_slo" ->
      """SELECT event_type, COUNT(*) AS n,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95,
        |  quantile_cont(value, 0.99) AS p99,
        |  quantile_cont(value, 0.99) <= 150.0 AS slo_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_order_width" ->
      """SELECT width, COUNT(*) AS n_orders FROM (
        |  SELECT l_orderkey, COUNT(*) AS width FROM lineitem GROUP BY 1) w
        |GROUP BY 1 ORDER BY width""".stripMargin,

    "q_user_entropy" ->
      """WITH uc AS (
        |  SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT user_id AS u2, CAST(SUM(c) AS BIGINT) AS n
        |        FROM uc GROUP BY 1),
        |terms AS (
        |  SELECT uc.user_id, n,
        |    CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |         * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS DECIMAL(28,12)) AS t
        |  FROM uc JOIN tot ON uc.user_id = u2)
        |SELECT user_id, n, CAST(-SUM(t) AS DOUBLE) AS entropy
        |FROM terms GROUP BY 1, 2 ORDER BY user_id""".stripMargin,

    "q_catalog_coverage" ->
      """WITH sold AS (SELECT DISTINCT l_partkey FROM lineitem)
        |SELECT p_type, COUNT(*) AS n_parts,
        |  CAST(SUM(CASE WHEN l_partkey IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_sold,
        |  CAST(SUM(CASE WHEN l_partkey IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS coverage
        |FROM part LEFT JOIN sold ON p_partkey = l_partkey
        |GROUP BY 1 ORDER BY p_type""".stripMargin,

    "q_lifespan" ->
      """WITH span AS (
        |  SELECT user_id,
        |    CAST(date_diff('day',
        |      CAST(MIN(date_trunc('day', ts)) AS DATE),
        |      CAST(MAX(date_trunc('day', ts)) AS DATE)) AS BIGINT) AS span_d
        |  FROM events GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        |  quantile_cont(span_d, 0.5) AS med_span_d,
        |  quantile_cont(span_d, 0.9) AS p90_span_d,
        |  CAST(SUM(CASE WHEN span_d = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS one_day_share
        |FROM span""".stripMargin,

    "q_pareto_8020" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS tx FROM rev),
        |c AS (
        |  SELECT CAST(SUM(CAST(x AS DECIMAL(38,6)))
        |           OVER (ORDER BY x DESC, o_custkey
        |                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tx AS cum_share
        |  FROM rev, tot)
        |SELECT COUNT(*) AS n_customers,
        |  CAST(SUM(CASE WHEN cum_share < 0.8 THEN 1 ELSE 0 END) + 1 AS BIGINT)
        |    AS top_n_for_80pct,
        |  CAST(SUM(CASE WHEN cum_share < 0.8 THEN 1 ELSE 0 END) + 1 AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS heavy_fraction
        |FROM c""".stripMargin,

    "q_growth_accounting" ->
      """WITH du AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |fd AS (SELECT user_id AS u2, MIN(day) AS first_day FROM du GROUP BY 1)
        |SELECT day,
        |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(SUM(CASE WHEN day = first_day THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_returning
        |FROM du JOIN fd ON user_id = u2
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "q_price_elasticity" ->
      """WITH m AS (
        |  SELECT p_brand, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_discount * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1)
        |SELECT p_brand, n,
        |  (sxy - sx * sy / CAST(n AS DOUBLE))
        |    / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
        |         * (syy - sy * sy / CAST(n AS DOUBLE))) AS corr_disc_qty
        |FROM m
        |WHERE n >= 2 AND (sxx - sx * sx / CAST(n AS DOUBLE)) > 0.0
        |  AND (syy - sy * sy / CAST(n AS DOUBLE)) > 0.0
        |ORDER BY p_brand""".stripMargin,

    "q_supplier_hhi" ->
      """WITH rev AS (
        |  SELECT p_type, l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS r
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT p_type AS t2,
        |    CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE) AS tr,
        |    COUNT(*) AS n_suppliers
        |  FROM rev GROUP BY 1)
        |SELECT p_type, n_suppliers,
        |  CAST(SUM(CAST((r / tr) * (r / tr) AS DECIMAL(28,12))) AS DOUBLE) AS hhi
        |FROM rev JOIN tot ON p_type = t2
        |GROUP BY 1, 2 ORDER BY p_type""".stripMargin,

    "q_rfm" ->
      """WITH cust AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order, COUNT(*) AS freq,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |ref AS (SELECT MAX(last_order) AS ref FROM cust),
        |w AS (SELECT cust.*,
        |        CAST(date_diff('day', CAST(last_order AS DATE), CAST(ref AS DATE))
        |          AS BIGINT) AS rec
        |      FROM cust, ref),
        |b AS (SELECT quantile_cont(rec, [0.2,0.4,0.6,0.8]) AS rb,
        |             quantile_cont(freq, [0.2,0.4,0.6,0.8]) AS fb,
        |             quantile_cont(monetary, [0.2,0.4,0.6,0.8]) AS mb FROM w)
        |SELECT
        |  (CASE WHEN rec <= rb[1] THEN 1 WHEN rec <= rb[2] THEN 2
        |        WHEN rec <= rb[3] THEN 3 WHEN rec <= rb[4] THEN 4 ELSE 5 END) * 100
        |  + (CASE WHEN freq <= fb[1] THEN 1 WHEN freq <= fb[2] THEN 2
        |          WHEN freq <= fb[3] THEN 3 WHEN freq <= fb[4] THEN 4 ELSE 5 END) * 10
        |  + (CASE WHEN monetary <= mb[1] THEN 1 WHEN monetary <= mb[2] THEN 2
        |          WHEN monetary <= mb[3] THEN 3 WHEN monetary <= mb[4] THEN 4
        |          ELSE 5 END) AS segment,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(monetary AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w, b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ab_test" -> {
      val bucket = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"((strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), ${i + 1}, 1)) - 1) * $mult)"
      }.mkString("(", " + ", ")")
      s"""WITH e AS (
         |  SELECT event_type, value, CAST($bucket % 2 AS INT) AS arm
         |  FROM events),
         |m AS (
         |  SELECT event_type,
         |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(value AS DECIMAL(38,6))
         |             ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS s0,
         |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(value AS DECIMAL(38,6))
         |             ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS s1,
         |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(value * value AS DECIMAL(38,6))
         |             ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS ss0,
         |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(value * value AS DECIMAL(38,6))
         |             ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS ss1
         |  FROM e GROUP BY 1)
         |SELECT event_type, n0, n1,
         |  (s0 / n0 - s1 / n1) AS mean_diff,
         |  ((s0 / n0 - s1 / n1) /
         |   sqrt(((ss0 - s0 * s0 / n0) / (n0 - 1)) / n0
         |      + ((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1)) AS t_welch
         |FROM m WHERE n0 >= 2 AND n1 >= 2
         |ORDER BY event_type""".stripMargin
    },

    "q_match_att" ->
      s"""WITH cy AS (
         |  SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS x,
         |    COALESCE(o.y0, 0.0) AS y
         |  FROM customer LEFT JOIN (
         |    SELECT o_custkey, ${Num.sqlDsum("o_totalprice")} AS y0
         |    FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
         |tr AS (SELECT c_custkey AS k, x, y AS yt FROM cy
         |       WHERE c_mktsegment = 'BUILDING'),
         |rep AS (SELECT x AS cb, arg_min(y, c_custkey) AS ym FROM cy
         |        WHERE c_mktsegment <> 'BUILDING' GROUP BY 1),
         |m AS (SELECT k, x, yt,
         |    (SELECT MAX(cb) FROM rep WHERE cb <= t.x) AS below,
         |    (SELECT MIN(cb) FROM rep WHERE cb > t.x) AS above
         |  FROM tr t),
         |p AS (SELECT k, yt,
         |    CASE WHEN above IS NULL THEN below
         |         WHEN below IS NULL THEN above
         |         WHEN x - below <= above - x THEN below
         |         ELSE above END AS mb
         |  FROM m),
         |a AS (SELECT COUNT(*) AS n_matched,
         |    ${Num.sqlDavg("yt")} AS avg_treated,
         |    ${Num.sqlDavg("ym")} AS avg_matched,
         |    ${Num.sqlDavg("yt - ym")} AS att
         |  FROM p JOIN rep ON p.mb = rep.cb)
         |SELECT CAST(nt.n_treated AS BIGINT) AS n_treated,
         |  CAST(a.n_matched AS BIGINT) AS n_matched,
         |  a.avg_treated, a.avg_matched, a.att
         |FROM a, (SELECT COUNT(*) AS n_treated FROM tr) nt
         |WHERE a.n_matched > 0""".stripMargin,

    "q_did" -> {
      val bucket = (0 until 8).map { i =>
        val mult = 1L << (4 * (7 - i))
        s"((strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), ${i + 1}, 1)) - 1) * $mult)"
      }.mkString("(", " + ", ")")
      def n(c: String) =
        s"CAST(SUM(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT)"
      def sm(c: String) =
        s"CAST(SUM(CASE WHEN $c THEN CAST(value AS DECIMAL(38,6)) " +
          "ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)"
      s"""WITH e AS (
         |  SELECT ts, value, CAST($bucket % 2 AS INT) AS arm
         |  FROM events WHERE value IS NOT NULL),
         |mid AS (
         |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) / 2 AS mid FROM e),
         |tg AS (SELECT arm, epoch_us(ts) >= mid AS post, value FROM e, mid),
         |m AS (SELECT
         |    ${n("arm = 0 AND NOT post")} AS n_c_pre,
         |    ${n("arm = 0 AND post")} AS n_c_post,
         |    ${n("arm = 1 AND NOT post")} AS n_t_pre,
         |    ${n("arm = 1 AND post")} AS n_t_post,
         |    ${sm("arm = 0 AND NOT post")} AS s_c_pre,
         |    ${sm("arm = 0 AND post")} AS s_c_post,
         |    ${sm("arm = 1 AND NOT post")} AS s_t_pre,
         |    ${sm("arm = 1 AND post")} AS s_t_post
         |  FROM tg)
         |SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
         |  s_c_pre / n_c_pre AS m_c_pre,
         |  s_c_post / n_c_post AS m_c_post,
         |  s_t_pre / n_t_pre AS m_t_pre,
         |  s_t_post / n_t_post AS m_t_post,
         |  ((s_t_post / n_t_post - s_t_pre / n_t_pre)
         |    - (s_c_post / n_c_post - s_c_pre / n_c_pre)) AS did
         |FROM m
         |WHERE n_c_pre > 0 AND n_c_post > 0 AND n_t_pre > 0 AND n_t_post > 0""".stripMargin
    },

    "q_trend_test" ->
      s"""WITH monthly AS (
         |  SELECT CAST((year(o_orderdate) - 1990) * 12 + month(o_orderdate)
         |           AS BIGINT) AS mi,
         |    ${Num.sqlDsum("o_totalprice")} AS v
         |  FROM orders GROUP BY 1),
         |p AS (
         |  SELECT CAST(sign(b.v - a.v) AS BIGINT) AS sgn,
         |    (b.v - a.v) / CAST(b.mi - a.mi AS DOUBLE) AS slope
         |  FROM monthly a JOIN monthly b ON a.mi < b.mi),
         |st AS (SELECT CAST(SUM(sgn) AS BIGINT) AS mk_s,
         |         quantile_cont(slope, 0.5) AS sen_slope FROM p),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly),
         |z AS (SELECT n_months, mk_s, sen_slope,
         |    CAST(n_months * (n_months - 1) * (2 * n_months + 5) AS DOUBLE)
         |      / 18.0 AS var_s
         |  FROM st, nn WHERE n_months >= 3)
         |SELECT n_months, mk_s,
         |  CASE WHEN mk_s > 0 THEN CAST(mk_s - 1 AS DOUBLE) / sqrt(var_s)
         |       WHEN mk_s < 0 THEN CAST(mk_s + 1 AS DOUBLE) / sqrt(var_s)
         |       ELSE 0.0 END AS mk_z,
         |  (ABS(CASE WHEN mk_s > 0 THEN CAST(mk_s - 1 AS DOUBLE) / sqrt(var_s)
         |            WHEN mk_s < 0 THEN CAST(mk_s + 1 AS DOUBLE) / sqrt(var_s)
         |            ELSE 0.0 END) > 1.96) AS trending,
         |  sen_slope
         |FROM z""".stripMargin,

    "q_acf" -> {
      val unions = (1 to 7).map(k =>
        s"SELECT $k AS lag, v AS x, v$k AS y FROM l").mkString("\nUNION ALL\n")
      s"""WITH daily AS (
         |  SELECT o_orderdate AS dt,
         |    ${Num.sqlDsum("o_totalprice")} AS v
         |  FROM orders GROUP BY 1),
         |l AS (
         |  SELECT v,
         |    ${(1 to 7).map(k =>
              s"lag(v, $k) OVER (ORDER BY dt) AS v$k").mkString(",\n    ")}
         |  FROM daily),
         |p AS ($unions),
         |m AS (
         |  SELECT lag, COUNT(*) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
         |  FROM p WHERE y IS NOT NULL GROUP BY 1)
         |SELECT lag, n,
         |  (sxy - sx * sy / CAST(n AS DOUBLE))
         |    / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
         |         * (syy - sy * sy / CAST(n AS DOUBLE))) AS acf
         |FROM m
         |WHERE n >= 2 AND (sxx - sx * sx / CAST(n AS DOUBLE)) > 0.0
         |  AND (syy - sy * sy / CAST(n AS DOUBLE)) > 0.0
         |ORDER BY lag""".stripMargin
    },

    "q_anova" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(CAST(value AS DECIMAL(38,6))) AS sg,
        |    SUM(CAST(value * value AS DECIMAL(38,6))) AS ssg
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
        |    CAST(SUM(sg) AS DOUBLE) AS s,
        |    CAST(SUM(ssg) AS DOUBLE) AS ss,
        |    CAST(SUM(CAST(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |        / CAST(ng AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS t
        |  FROM g)
        |SELECT k AS n_groups, n,
        |  (t - s * s / CAST(n AS DOUBLE)) AS ss_between,
        |  (ss - t) AS ss_within,
        |  ((t - s * s / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
        |    / ((ss - t) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f_stat
        |FROM a WHERE k >= 2 AND n > k""".stripMargin,

    "q_bootstrap_ci" ->
      s"""WITH reps AS (
         |  SELECT o_orderkey, o_totalprice, UNNEST(range(0, 32)) AS b
         |  FROM orders),
         |uw AS (
         |  SELECT b, o_totalprice,
         |    ${Sampling.sqlBucketN("(o_orderkey || ':' || b)", 8)}
         |      / 4294967296.0 AS u
         |  FROM reps),
         |w AS (
         |  SELECT b, o_totalprice,
         |    CASE WHEN u < 0.36787944117144233 THEN 0
         |         WHEN u < 0.7357588823428847 THEN 1
         |         WHEN u < 0.9196986029286058 THEN 2
         |         WHEN u < 0.9810118431238462 THEN 3
         |         ELSE 4 END AS w
         |  FROM uw),
         |est AS (
         |  SELECT b, ${Num.sqlDsum("w * o_totalprice")}
         |    / CAST(SUM(w) AS DOUBLE) AS est
         |  FROM w WHERE w > 0 GROUP BY b),
         |arr AS (SELECT list(est ORDER BY est) AS ests FROM est),
         |f AS (SELECT ${Num.sqlDavg("o_totalprice")} AS mean_full FROM orders)
         |SELECT mean_full, ests[16] AS boot_med, ests[2] AS ci_lo,
         |  ests[31] AS ci_hi
         |FROM arr, f""".stripMargin,

    // Strict-dominance NOT EXISTS — the quadratic reference semantics
    // the sort-algebra plan must reproduce exactly.
    "q_skyline" ->
      """SELECT p_partkey, p_retailprice AS price, CAST(p_size AS BIGINT) AS sz
        |FROM part p1
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part p2
        |  WHERE p2.p_retailprice <= p1.p_retailprice
        |    AND p2.p_size <= p1.p_size
        |    AND (p2.p_retailprice < p1.p_retailprice
        |         OR p2.p_size < p1.p_size))
        |ORDER BY price, sz, p_partkey""".stripMargin,

    "q_constraint_check" ->
      """SELECT 'completeness_l_orderkey' AS check_name,
        |  CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
        |    AS DOUBLE) AS metric,
        |  (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) = 0 AS ok
        |UNION ALL SELECT 'enum_l_returnflag',
        |  CAST((SELECT COUNT(*) FROM lineitem
        |        WHERE l_returnflag NOT IN ('A','N','R')) AS DOUBLE),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_returnflag NOT IN ('A','N','R')) = 0
        |UNION ALL SELECT 'fk_lineitem_orders',
        |  CAST((SELECT COUNT(*) FROM lineitem
        |        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |    AS DOUBLE),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0
        |UNION ALL SELECT 'range_l_quantity_max',
        |  (SELECT MAX(l_quantity) FROM lineitem),
        |  (SELECT MAX(l_quantity) FROM lineitem) <= 50.0
        |UNION ALL SELECT 'range_l_quantity_min',
        |  (SELECT MIN(l_quantity) FROM lineitem),
        |  (SELECT MIN(l_quantity) FROM lineitem) >= 1.0
        |UNION ALL SELECT 'unique_o_orderkey',
        |  CAST((SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS DOUBLE),
        |  (SELECT COUNT(*) FROM orders) =
        |    (SELECT COUNT(DISTINCT o_orderkey) FROM orders)
        |ORDER BY check_name""".stripMargin,

    "q_cdc_rows" ->
      """WITH old AS (
        |  SELECT l_orderkey AS ok_old, l_partkey AS pk_old,
        |    l_suppkey AS sk_old,
        |    SUM(CAST(CASE WHEN l_partkey % 101 = 0 THEN l_quantity + 1
        |             ELSE l_quantity END AS DECIMAL(18,6))) AS q_old,
        |    MIN(l_shipdate) AS sd_old
        |  FROM lineitem WHERE l_orderkey % 97 <> 0 GROUP BY 1, 2, 3),
        |nw AS (
        |  SELECT l_orderkey AS ok_new, l_partkey AS pk_new,
        |    l_suppkey AS sk_new,
        |    SUM(CAST(l_quantity AS DECIMAL(18,6))) AS q_new,
        |    MIN(l_shipdate) AS sd_new
        |  FROM lineitem WHERE l_orderkey % 89 <> 0 GROUP BY 1, 2, 3)
        |SELECT date_trunc('month', COALESCE(sd_new, sd_old)) AS p_month,
        |  CASE WHEN ok_old IS NULL THEN 'added'
        |       WHEN ok_new IS NULL THEN 'removed'
        |       WHEN q_old <> q_new THEN 'changed'
        |       ELSE 'unchanged' END AS change_class,
        |  COUNT(*) AS n_rows
        |FROM old FULL OUTER JOIN nw
        |  ON ok_old = ok_new AND pk_old = pk_new AND sk_old = sk_new
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The oracle is the full recompute over the new snapshot — the
    // incremental path must be indistinguishable from it.
    "q_incremental_agg" ->
      s"""SELECT date_trunc('month', l_shipdate) AS p_month,
         |  ${Num.sqlDsum("l_extendedprice")} AS revenue,
         |  COUNT(*) AS n_rows
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // The Bloom pre-filter is invisible to semantics: the oracle is the
    // PLAIN join (no false negatives; positives die in the hash join).
    "q_bloom_prune" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |  ${Num.sqlDsum("o_totalprice")} AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE c_acctbal > 5000.0
         |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
