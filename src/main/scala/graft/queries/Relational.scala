package graft.queries

import graft.{Num, Tables}
import graft.merge.Merge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational query pack — SURVEY.md §2b.
  *
  * Every query is declarative DataFrame API so Catalyst gets full freedom
  * (pushdown, pruning, join selection, AQE). Each carries a DuckDB oracle in
  * [[oracleSql]] with bit-identical numeric conventions (see [[graft.Num]]).
  * All queries end in a total ORDER BY over their output columns so the
  * row-order of the verification dump is deterministic in both engines.
  */
object Relational {
  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Fanned-out scan (Tables.loadFan) for heavy-map call sites — the
    * round-14 measured ledger (OPTIMIZATION_r14.md). */
  private def tf(s: SparkSession, d: String, n: String) = Tables.loadFan(s, d, n)

  val queries: Map[String, QFn] = Map(

    // TPC-H Q1 shape: scan → pushed filter → partial+final hash aggregate.
    "q_agg_hash" -> ((s, d) => {
      val l = tf(s, d, "lineitem") // 8-sum decimal panel per row: fanned scan (r14)
      l.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Num.dsum(col("l_quantity")).as("sum_qty"),
          Num.dsum(col("l_extendedprice")).as("sum_base_price"),
          Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          Num.davg(col("l_quantity")).as("avg_qty"),
          Num.davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Projection + pushed predicate; ReadSchema must be 4 columns only.
    "q_scan_project" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") >= 48)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))),

    // Compound predicate incl. timestamp bound — all pushed to the scan.
    "q_filter_pred" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_quantity").between(10, 20) &&
          col("l_shipdate") >= to_timestamp(lit("2000-01-01")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // Inner equi-join; Catalyst picks broadcast (customer is small) or SMJ.
    "q_join_inner" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_totalprice") > 450000)
      val c = t(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_orderkey"), col("c_name"), col("o_totalprice"))
    }),

    // Star join with explicit broadcast of both small dims — the 100 TB plan:
    // fact shuffles zero times for the join, once for the aggregate.
    "q_join_broadcast" -> ((s, d) => {
      val c = t(s, d, "customer")
      val n = broadcast(t(s, d, "nation"))
      val r = broadcast(t(s, d, "region"))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), Num.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Left outer join + aggregate (customers keep 0-order rows).
    "q_join_left" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),

    // Left-semi: existence test without row multiplication.
    "q_join_semi" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 450000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"), col("c_name"))
    }),

    // Left-anti: the NOT EXISTS building block of upsert (≙ MERGE NOT MATCHED).
    "q_join_anti" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"), col("c_name"))
    }),

    // Pure non-equi (theta) join → BroadcastNestedLoopJoin on tiny filtered
    // inputs; at scale you'd band-bucket the range instead.
    "q_join_theta" -> ((s, d) => {
      val sup = t(s, d, "supplier").filter(col("s_acctbal") > 9000)
      val cus = t(s, d, "customer").filter(col("c_acctbal") > 9800)
      sup.join(cus, col("s_acctbal") > col("c_acctbal"))
        .select(col("s_suppkey"), col("c_custkey"))
        .orderBy(col("s_suppkey"), col("c_custkey"))
    }),

    // Band (proximity range) join — the SCALE shape q_join_theta's comment
    // promises: |s - c| <= W re-expressed as an EQUI-join on width-W value
    // buckets. One side keeps its bucket, the other explodes to
    // {k-1, k, k+1}; a qualifying pair lands in exactly one bucket match
    // (no dedup pass), the exact predicate prunes the rest. Shuffles on the
    // bucket key → distributes by value range instead of a
    // BroadcastNestedLoopJoin over everything.
    "q_join_banded" -> ((s, d) => {
      val W = 10
      val sup = t(s, d, "supplier")
        .select(col("s_suppkey"), col("s_acctbal"),
          expr(s"cast(floor(s_acctbal / $W) as bigint)").as("bk"))
      val cus = t(s, d, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          explode(expr(
            s"array(cast(floor(c_acctbal / $W) as bigint) - 1, " +
              s"cast(floor(c_acctbal / $W) as bigint), " +
              s"cast(floor(c_acctbal / $W) as bigint) + 1)")).as("bk"))
      sup.join(cus, "bk")
        .filter(abs(col("s_acctbal") - col("c_acctbal")) <= W)
        .select(col("s_suppkey"), col("c_custkey"), col("s_acctbal"), col("c_acctbal"))
        .orderBy(col("s_suppkey"), col("c_custkey"))
    }),

    // Salted join (hot-key mitigation): result must be IDENTICAL to the
    // plain equi-join — the oracle runs the plain join, so the salt
    // round-trip is semantics-checked, not just spec-checked.
    "q_join_salted" -> ((s, d) => {
      val l = t(s, d, "lineitem")
      val sup = t(s, d, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
      graft.prune.Skew.saltedJoin(l, sup, "l_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_nationkey"))
    }),

    // FULL OUTER join — the reconciliation primitive (which keys exist
    // only left, only right, or both) and the one join kind that can
    // NEVER broadcast: both sides must survive into the output, so the
    // only scale shape is a shuffle on the key and a sort-merge full
    // outer — exactly what Catalyst plans here. Two overlapping customer
    // subsets (mod-3 vs mod-2 survivors) reconcile into the three-way
    // census; acctbal sums prove both sides' payloads carry through.
    "q_join_full" -> ((s, d) => {
      val base = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      val a = base.filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey").as("ka"), col("c_acctbal").as("bal_a"))
      val b = base.filter(col("c_custkey") % 2 =!= 0)
        .select(col("c_custkey").as("kb"), col("c_acctbal").as("bal_b"))
      a.join(b, col("ka") === col("kb"), "full")
        .select(
          when(col("kb").isNull, "left_only")
            .when(col("ka").isNull, "right_only")
            .otherwise("both").as("side"),
          col("bal_a"), col("bal_b"))
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n"),
          Num.dsum(coalesce(col("bal_a"), lit(0.0))).as("sum_a"),
          Num.dsum(coalesce(col("bal_b"), lit(0.0))).as("sum_b"))
        .orderBy(col("side"))
    }),

    // Join-cardinality ESTIMATION by key synopsis — the planner primitive
    // for sizing a join without running it: filter BOTH sides to the same
    // deterministic 1/16 key sample (first md5 hex digit of the JOIN KEY
    // = '0'), join the synopses, scale by 16. Sampling the KEY (not rows
    // independently per side) keeps every surviving key's full fanout, so
    // the estimate is unbiased with variance ~1/#sampled-keys — the
    // classic join-synopsis trick; independent row samples would need a
    // 16× bigger sample for the same error. The 1/16 join costs ~6% of
    // the real one; `ok` asserts the estimate lands within 50% of the
    // actual (computed here only to grade the estimator).
    "q_join_card_est" -> ((s, d) => {
      def keySampled(df: DataFrame, key: String) = df.filter(
        substring(md5(encode(col(key).cast("string"), "UTF-8")), 1, 1) === "0")
      val o = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val l = t(s, d, "lineitem").select(col("l_orderkey"))
      val est = keySampled(o, "o_orderkey")
        .join(keySampled(l, "l_orderkey"),
          col("o_orderkey") === col("l_orderkey"))
        .agg((count(lit(1)) * 16).as("est_rows"))
      val act = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("actual_rows"))
      est.crossJoin(act)
        .select(col("est_rows"), col("actual_rows"),
          (abs(col("est_rows") - col("actual_rows")) * 2 <=
            col("actual_rows")).as("ok"))
    }),

    // Null-safe equi-join (<=>): null keys match each other, unlike plain =.
    "q_join_nullsafe" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(nullif(col("c_nationkey") % 5, lit(0)).as("k"), col("c_custkey"))
      val n = t(s, d, "nation")
        .select(nullif(col("n_nationkey") % 5, lit(0)).as("k"), col("n_nationkey"))
      c.join(n, c("k") <=> n("k"))
        .groupBy(c("k").as("k"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(asc_nulls_first("k"))
    }),

    // Upsert as anti-join + union (≙ reference MERGE, bq.py:538-547),
    // summarized per status so the verification dump stays small.
    "q_upsert_antijoin" -> ((s, d) => {
      val o = t(s, d, "orders")
      val upd = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.1))
      Merge.upsert(o, upd, Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), Num.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // Exact distinct aggregation (expand + two-phase agg under the hood).
    "q_agg_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // Sketch-based approximate distinct (HLL++). Sketch estimates are
    // implementation-specific, so the raw estimate can't be a hash target;
    // instead the hash targets are the exact counts (match DuckDB's
    // COUNT(DISTINCT)) plus one boolean per sketch asserting the estimate
    // sits within 3×rsd of the exact value (rsd = 0.05 default ⇒ bound
    // 15%). The oracle expects TRUE, so a wildly-wrong sketch flips the
    // boolean and fails the hash — real verification, not rows-only. At
    // 100 TB the sketch is the one you run (fixed-size partial state vs
    // the expand+dedup shuffle of exact distinct).
    "q_approx_distinct" -> ((s, d) => {
      val bound = 0.15
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          approx_count_distinct(col("l_partkey")).as("apx_part"),
          approx_count_distinct(col("l_suppkey")).as("apx_supp"))
        .select(col("l_returnflag"), col("nd_part"), col("nd_supp"),
          (abs(col("apx_part") - col("nd_part")) <=
            col("nd_part") * bound).as("apx_part_ok"),
          (abs(col("apx_supp") - col("nd_supp")) <=
            col("nd_supp") * bound).as("apx_supp_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Quantile SKETCH next to the exact percentile — same verification
    // shape as q_approx_distinct: the exact medians/p90s are the
    // hash-compared values, and in-row booleans assert the
    // percentile_approx sketch (accuracy 100 ⇒ rank error ≤ 1%, checked
    // here against a generous value-space bound) stays inside it. At
    // 100 TB the sketch's fixed-size mergeable partial state replaces the
    // exact percentile's per-group value sort.
    "q_approx_percentile" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          expr("percentile_approx(l_quantity, 0.5, 100)").as("apx_median"),
          expr("percentile_approx(l_quantity, 0.9, 100)").as("apx_p90"))
        .select(col("l_returnflag"), col("median_qty"), col("p90_qty"),
          (abs(col("apx_median") - col("median_qty")) <= lit(2.0)).as("apx_median_ok"),
          (abs(col("apx_p90") - col("p90_qty")) <= lit(2.0)).as("apx_p90_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // TPC-H Q5-shape star join — the canonical multi-table analytical
    // query: fact (lineitem) joined to orders/customer/supplier, dims
    // (nation, region) BROADCAST, the Q5 twist (customer and supplier in
    // the same nation) as an equi-condition, revenue via exact decimal
    // sums. At 100 TB the fact table shuffles only on its join keys;
    // every dimension rides broadcast; Catalyst pushes the region filter
    // to the nation/region side before the broadcast.
    "q_star_join" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val su = t(s, d, "supplier")
      val n = broadcast(t(s, d, "nation"))
      val r = broadcast(t(s, d, "region"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(n, su("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ROLLUP grouping sets over the star join.
    "q_agg_rollup" -> ((s, d) => {
      val c = t(s, d, "customer")
      val n = broadcast(t(s, d, "nation"))
      val r = broadcast(t(s, d, "region"))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"), col("n_cust"))
    }),

    // Arbitrary-SQL entry point (≙ the reference's query(sql) surface,
    // bq.py:149-163): GROUPING SETS + HAVING expressed as raw Spark SQL
    // over a registered view — the path a reference user's own SQL takes.
    "q_grouping_sets" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |HAVING COUNT(*) > 10
          |ORDER BY o_orderstatus ASC NULLS FIRST,
          |         o_orderpriority ASC NULLS FIRST, n""".stripMargin)
    }),

    // Explicit cartesian product (tiny sides only — by construction).
    "q_cross_join" -> ((s, d) => {
      val r = t(s, d, "region").select(col("r_name"))
      val st = t(s, d, "orders").select(col("o_orderstatus")).distinct()
      r.crossJoin(st).orderBy(col("r_name"), col("o_orderstatus"))
    }),

    // Ranking window: top-3 orders per customer.
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rk"))
    }),

    // Distribution windows: ntile / percent_rank / cume_dist under a total
    // order (tie-broken), so bucket boundaries are deterministic.
    "q_window_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, d, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Frame window: running decimal-exact sum + lag, per customer.
    "q_window_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders").filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(Num.Dec))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("run_sum"),
          lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Top-k: Catalyst collapses to TakeOrderedAndProject (no full sort).
    "q_topk" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // Stable pagination page (≙ reference destination-table paging,
    // bq.py:165-217): TOTAL order + offset + limit. (l_orderkey,
    // l_linenumber) is not unique in this data, so the sort must include
    // every output column or page boundaries are tie-dependent.
    "q_pagination" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .offset(500).limit(100)),

    // Correlated EXISTS with an extra predicate — Catalyst decorrelates to
    // a semi-join with a compound condition.
    "q_exists_correlated" -> ((s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey") &&
          o("o_totalprice") > c("c_acctbal") * 50, "left_semi")
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"), col("c_acctbal"))
    }),

    // Aggregate to a (sorted, hence deterministic) array / joined string.
    "q_collect_agg" -> ((s, d) =>
      t(s, d, "nation")
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy(col("n_regionkey"))),

    // Regex group extraction (group 1 capture → typed cast).
    "q_regexp_extract" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_type"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(max(col("k")).as("max_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    "q_intersect_all" -> ((s, d) => {
      val a = t(s, d, "lineitem").filter(col("l_quantity") >= 45).select(col("l_suppkey").as("k"))
      val b = t(s, d, "lineitem").filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
      a.intersectAll(b).groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
    }),

    "q_except_all" -> ((s, d) => {
      val a = t(s, d, "lineitem").filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
      val b = t(s, d, "lineitem").filter(col("l_quantity") >= 45).select(col("l_suppkey").as("k"))
      a.exceptAll(b).groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
    }),

    "q_union" -> ((s, d) => {
      val a = t(s, d, "customer").filter(col("c_acctbal") > 9000).select(col("c_custkey").as("k"))
      val b = t(s, d, "orders").filter(col("o_totalprice") > 400000).select(col("o_custkey").as("k"))
      a.union(b).distinct().orderBy(col("k"))
    }),

    "q_intersect" -> ((s, d) => {
      val a = t(s, d, "customer").filter(col("c_acctbal") > 9000).select(col("c_custkey").as("k"))
      val b = t(s, d, "orders").filter(col("o_totalprice") > 400000).select(col("o_custkey").as("k"))
      a.intersect(b).orderBy(col("k"))
    }),

    "q_except" -> ((s, d) => {
      val a = t(s, d, "customer").filter(col("c_acctbal") > 9000).select(col("c_custkey").as("k"))
      val b = t(s, d, "orders").filter(col("o_totalprice") > 400000).select(col("o_custkey").as("k"))
      a.except(b).orderBy(col("k"))
    }),

    // String scalar pack (≙ sheets string handling, sheets.py:250-253).
    "q_scalar_string" -> ((s, d) =>
      t(s, d, "part").filter(col("p_partkey") % 20 === 0)
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 8).as("name8"),
          concat(col("p_brand"), lit("#"), col("p_type")).as("bt"),
          col("p_name").like("%ol%").as("has_ol"),
          regexp_replace(col("p_type"), "[aeiou]", "").as("novowel"))
        .orderBy(col("p_partkey"))),

    // Date/time scalar pack (≙ DateTimePartitions, gcs.py:42-55).
    "q_scalar_date" -> ((s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("od"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mstart"))
        .orderBy(col("o_orderkey"))),

    // Date arithmetic: interval add, day difference, truncation round-trip.
    "q_date_arith" -> ((s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") % 300 === 0)
        .select(col("o_orderkey"),
          date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
          datediff(col("o_orderdate").cast("date"),
            to_date(lit("1995-01-01"))).as("days_since_epoch_start"),
          last_day(col("o_orderdate").cast("date")).as("month_end"))
        .orderBy(col("o_orderkey"))),

    // Math + CASE WHEN pack. floor() → BIGINT in both engines.
    "q_scalar_math" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") % 700 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 30, "mid")
            .otherwise("high").as("qband"),
          floor(col("l_extendedprice") / 1000.0).as("price_kbucket"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // JSON extraction from the events.props payload (≙ JSONL records,
    // gcs.py:342-347; nested RECORDs, test_bq.py:211-249).
    "q_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // Schema-based JSON parsing (from_json → typed struct) — the typed
    // sibling of q_json_extract's path extraction.
    "q_json_struct" -> ((s, d) =>
      t(s, d, "events").filter(col("event_id") % 97 === 0)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("j"))
        .select(col("event_id"), col("j.k").as("k"))
        .orderBy(col("event_id"))),

    // Positional explode of the embedding array (scaled to exact ints).
    "q_posexplode" -> ((s, d) =>
      t(s, d, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .filter(col("pos") < 8)
        .select(col("vec_id"), col("pos"),
          (round(col("x").cast("double") * 1000000)).cast("long").as("x6"))
        .orderBy(col("vec_id"), col("pos"))),

    // Inclusive-start/exclusive-end time window (≙ mtime filters,
    // gcs.py:404-417) — whole-second bounds are ns/µs-truncation safe.
    "q_time_filter" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("ts") >= to_timestamp(lit("2024-01-10")) &&
          col("ts") < to_timestamp(lit("2024-01-21")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))),

    // Array ops over the embedding column; sum via scaled-long so the fold
    // order can't matter (see Num scaladoc).
    "q_array_ops" -> ((s, d) =>
      t(s, d, "embeddings").filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("e_first"),
          expr("aggregate(transform(embedding, x -> cast(round(cast(x as double)*1000000) as bigint)), 0L, (a, x) -> a + x)").as("e_sum6"),
          col("label"))
        .orderBy(col("vec_id"))),

    // Higher-order array functions: filter / exists / forall lambdas.
    "q_array_hof" -> ((s, d) =>
      t(s, d, "embeddings").filter(col("vec_id") % 11 === 0)
        .select(col("vec_id"),
          // compare as double: DuckDB promotes float-vs-literal to double,
          // a float-side comparison would flip near the threshold
          size(filter(col("embedding"), x => x.cast("double") > 0.0)).as("n_pos"),
          exists(col("embedding"), x => x.cast("double") > 0.4).as("has_big"),
          forall(col("embedding"), x => x.cast("double") < 0.45).as("all_small"))
        .orderBy(col("vec_id"))),

    // first/last value over the full partition frame.
    "q_window_firstlast" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders").filter(col("o_custkey") < 40)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Stringly-typed coercion semantics (≙ sheets read, sheets.py:250-253):
    // everything to string, empty string → NULL.
    "q_str_coerce" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_custkey") <= 50)
        .select(col("c_custkey"),
          col("c_custkey").cast("string").as("custkey_s"),
          when(col("c_mktsegment") === "", null).otherwise(col("c_mktsegment")).as("seg"),
          when(lit("") === "", null).otherwise(lit("")).cast("string").as("empty_is_null"))
        .orderBy(col("c_custkey"))),

    // CTAS body (≙ create_or_replace_table_as, bq.py:420-447): SELECT *.
    "q_ctas_scan" -> ((s, d) =>
      t(s, d, "nation").orderBy(col("n_nationkey"))),

    // Latest-partition pruning (≙ gcs.py:499-520): argmax of the partition
    // tuple, then keep only rows in it. Two-phase: tiny max-aggregate
    // broadcast back against the scan → partition pruning at scale.
    "q_latest_partition" -> ((s, d) => {
      val e = t(s, d, "events").withColumn("day", to_date(col("ts")))
      val mx = e.agg(max(col("day")).as("max_day"))
      e.join(broadcast(mx), col("day") === col("max_day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // CUBE grouping sets (all four combinations of the two dims).
    "q_agg_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // Pivot: status × priority count matrix. Spark's relational pivot;
    // oracled as conditional aggregation (engine-portable semantics).
    "q_pivot" -> ((s, d) => {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", prios)
        .agg(count(lit(1)))
        .select(col("o_orderstatus") +: prios.map(p =>
          coalesce(col(s"`$p`"), lit(0L)).as("p" + p.charAt(0))): _*)
        .orderBy(col("o_orderstatus"))
    }),

    // Unpivot (melt): the wide per-flag aggregate back to long
    // (flag, metric, value) rows — the inverse of q_pivot, Spark's native
    // relational unpivot (constant-fanout Expand, pure map work after the
    // aggregate; no shuffle beyond the aggregate's own).
    "q_unpivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"))
        .unpivot(Array(col("flag")),
          Array(col("n_rows"), col("n_orders"), col("n_parts")),
          "metric", "value")
        .orderBy(col("flag"), col("metric"))),

    // Continuous percentiles (median/p90) over an exact integer-valued
    // column — interpolation arithmetic is deterministic across engines.
    // (approx_percentile/approx_count_distinct exist too but are
    // implementation-specific sketches, hence not oracle-comparable.)
    "q_percentile" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"))
        .orderBy(col("l_returnflag"))),

    // Exact dedup, deterministic representative (min doc_id per text).
    "q_dedup" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))),

    // Generic grouped top-k ("top 3 orders per customer") through the
    // BOUNDED typed [[graft.functions.TopKAggregator]] — the 100 TB shape
    // for per-entity leaderboards: the shuffle carries at most k rows per
    // (customer × map task) and nothing is globally sorted, where the
    // window route (`row_number over partitionBy`) shuffles and sorts the
    // whole fact table. Same aggregator the kNN joins use, proven here on
    // relational data against a ROW_NUMBER oracle.
    "q_topk_per_group" -> ((s, d) => {
      import s.implicits._
      val topk = new graft.functions.TopKAggregator(3).toColumn
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
        .as[(Long, Double, Long)]
        .groupByKey(_._1)
        .mapValues { case (_, p, k) => (p, k) }
        .agg(topk)
        .flatMap { case (cust, tops) =>
          tops.zipWithIndex.map { case ((p, k), i) => (cust, k, p, (i + 1).toLong) }
        }
        .toDF("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy(col("o_custkey"), col("rnk"))
    }),

    // Statistical aggregates (variance/stddev/covariance/correlation) from
    // DECIMAL moment sums — n, Σx, Σy, Σxy, Σx², Σy² in ONE map-side-
    // combinable aggregate pass, doubles only in the final fixed-order
    // formulas. The builtin corr/stddev aggregate doubles in partition
    // order (non-deterministic across engines AND across runs at scale);
    // this moment factorization is bit-stable anywhere. DECIMAL(38,6)
    // holds Σ(price²) up to ~10³² — 17 orders of magnitude above the
    // 100 TB corpus's worth.
    "q_agg_stats" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      val m = tf(s, d, "lineitem") // 6 decimal sums/row: fanned scan (r14)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x.cast(d38)).cast("double").as("sx"),
          sum(y.cast(d38)).cast("double").as("sy"),
          sum((x * y).cast(d38)).cast("double").as("sxy"),
          sum((x * x).cast(d38)).cast("double").as("sxx"),
          sum((y * y).cast(d38)).cast("double").as("syy"))
      val nd = col("n").cast("double")
      val varX = (col("sxx") - col("sx") * col("sx") / nd) / (nd - 1)
      val varY = (col("syy") - col("sy") * col("sy") / nd) / (nd - 1)
      val cov = (col("sxy") - col("sx") * col("sy") / nd) / (nd - 1)
      // sample statistics are undefined for n = 1 (division by n-1 would
      // emit Inf/NaN, whose comparison semantics differ across engines)
      m.filter(col("n") >= 2)
        .select(col("l_returnflag").as("flag"), col("n"),
          varX.as("var_qty"), sqrt(varX).as("std_qty"),
          cov.as("covar_qp"), (cov / (sqrt(varX) * sqrt(varY))).as("corr_qp"))
        .orderBy(col("flag"))
    }),

    // One PageRank iteration over the customer→supplier purchase graph —
    // link-graph authority scoring (the harvest-graph quality signal of a
    // web-corpus pipeline), expressed relationally: edges are a distinct
    // equi-join of the two fact tables, out-degrees one aggregate,
    // contributions an equi-join fan-out, inflow one dst-keyed aggregate —
    // every shuffle is key-bounded, nothing quadratic, so the iteration
    // scales to any edge count. Mass is FIXED-POINT integer (1e6 per
    // node, damping 0.85 as 85/100 integer ops) — bit-deterministic in
    // any engine and any partition order, where double mass would drift
    // with summation order. The loop discipline to iterate this to
    // convergence is operators/Graph.connectedComponents.
    "q_pagerank_iter" -> ((s, d) => {
      // the asset carries deg (r15), so the round is join-free up to the
      // node/inflow left join: one projection + one dst-keyed aggregate
      val edges = purchaseEdges(s, d)
      val inflow = edges
        .select(col("dst"), expr("1000000 div deg").as("w"))
        .groupBy(col("dst")).agg(sum(col("w")).as("inflow"))
      val nodes = purchaseNodes(s, d)
      nodes.join(inflow, nodes("node") === inflow("dst"), "left")
        .select(decodeNode(col("node")).as("node"),
          (lit(150000L) + expr("(85 * coalesce(inflow, cast(0 as bigint))) div 100"))
            .as("rank_fp"))
        .orderBy(col("rank_fp").desc, col("node"))
        .limit(25)
    }),

    // PageRank ITERATED — q_pagerank_iter's round run k=3 times through
    // [[graft.operators.PageRank.ranks]]. Fixed round count keeps the query
    // SQL-oracle-expressible (the chained-CTE oracle below is generated
    // from the same PrRounds constant); the convergence-driven twin
    // [[graft.operators.PageRank.trainConverged]] stops at the exact
    // integer fixed point and is spec-proven on closed-form graphs
    // (PageRankSpec). Integer mass end-to-end — bit-identical in DuckDB.
    //
    // LAZY like every other builder here: the k rounds are one plan in the
    // caller's session (each round reads the previous round's ranks once,
    // so the plan grows linearly in k). Once the purchase_edges asset
    // exists, building it runs no Spark job; the caller's action runs the
    // whole loop, with the edge and node exchanges reused across rounds,
    // and leaves no cache behind.
    "q_pagerank_k" -> ((s, d) =>
      graft.operators.PageRank.ranks(purchaseEdges(s, d), PrRounds,
          nodes = Some(purchaseNodes(s, d)))
        .select(decodeNode(col("node")).as("node"), col("rank_fp"))
        .orderBy(col("rank_fp").desc, col("node"))
        .limit(25)),

    // PERSONALIZED PageRank — authority relative to a trusted seed set
    // (high-balance customers): teleport mass lands only on seeds and
    // start mass is seeds-only, so the ranking answers "which suppliers
    // do my vetted customers endorse" instead of the global variant's
    // whole-graph endorsement. Same rounds, same integer arithmetic, same
    // lazy plan as q_pagerank_k; the chained-CTE oracle carries the seed
    // flag through every round.
    "q_pagerank_personal" -> ((s, d) => {
      val seeds = t(s, d, "customer")
        .filter(col("c_acctbal") > 9000)
        .select((col("c_custkey") * 2).as("node"))
      graft.operators.PageRank
        .ranksPersonalized(purchaseEdges(s, d), seeds, PrRounds,
          nodes = Some(purchaseNodes(s, d)))
        .select(decodeNode(col("node")).as("node"), col("rank_fp"))
        .orderBy(col("rank_fp").desc, col("node"))
        .limit(25)
    }),

    // TPC-H Q3 shape: two-fact join through a filtered dimension, grouped
    // revenue, top-10. Catalyst pushes all three filters to the scans
    // (date predicates into parquet min/max pruning), the customer side is
    // projected to the join key alone before the join, and the aggregate
    // is partial+final on the join output — at 100 TB the only big
    // shuffles are the two fact-fact exchanges on o_orderkey, each
    // pre-filtered. The double revenue sum goes through [[Num.dsum]] so
    // the top-10 cut is on exact, order-independent values.
    "q_shipping_priority" -> ((s, d) => {
      val cutoff = to_timestamp(lit("1998-03-15"))
      val cust = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = t(s, d, "orders").filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, d, "lineitem").filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      ord.join(cust, col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(Num.dsum(col("rev")).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q18 shape: HAVING-subquery membership as a LEFT SEMI join
    // against the aggregated fact — the delegated-SQL pattern
    // `WHERE o_orderkey IN (SELECT ... GROUP BY ... HAVING sum > k)`.
    // The big-orders set is tiny after the HAVING cut (sub-1% of orders),
    // so the semi join prunes orders BEFORE the customer join and the
    // re-join with lineitem; both remaining shuffles are on already-pruned
    // keys. Exact decimal quantity sums on both sides of the cut.
    "q_large_orders" -> ((s, d) => {
      // fanned scan (r14) on the AGGREGATE branch only (r15): the fan-out
      // key IS the aggregate key, so the exchange REPLACES the groupBy's
      // own — but `li` is also consumed by the re-join below, and the
      // unpersisted multi-consumer lineage re-paid the REPARTITION_BY_NUM
      // exchange there for nothing (plans/r14/q_large_orders_after.txt: 3
      // Exchanges vs 2 before). The re-join side keeps the 1-task scan;
      // its rows are exchanged by the final groupBy anyway.
      val liFan = tf(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val big = liFan.groupBy(col("l_orderkey"))
        .agg(Num.dsum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 200.0).select(col("l_orderkey").as("big_okey"))
      t(s, d, "orders")
        .join(big, col("o_orderkey") === col("big_okey"), "left_semi")
        .join(t(s, d, "customer").select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
        .agg(Num.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q21 shape: the EXISTS / NOT EXISTS chain as LEFT SEMI + LEFT
    // ANTI self-joins on the fact. "Late" here is l_shipdate more than 90
    // days after o_orderdate (this schema has no commit/receipt dates —
    // same shape, different predicate). The late set is computed ONCE and
    // reused as both the probe side and the anti side; the supplier
    // restriction goes through a broadcast nation dim BEFORE the fact
    // join. All four joins are equi-joins on l_orderkey/s_suppkey with a
    // residual inequality — no cartesian anywhere, and the anti join's
    // build side is the already-late-filtered subset, not the full fact.
    "q_suppliers_waiting" -> ((s, d) => {
      val ordF = t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val late = li.join(ordF, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val l2 = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
      val l3 = late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
      val waiting = late
        .join(l2, col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
          "left_semi")
        .join(l3, col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
          "left_anti")
      val sup = t(s, d, "supplier")
        .join(broadcast(t(s, d, "nation").filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      waiting.join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    })
  )

  /** Rounds for q_pagerank_k (mirrored by its chained-CTE oracle). */
  private val PrRounds = 3

  /** Node ids ride the loop as LONGS — customer k ↦ 2k, supplier k ↦ 2k+1
    * (disjoint by parity) — and decode to the c<k>/s<k> strings only in
    * each query's final projection (r15, guide §2.3 "narrower types"):
    * the ~587k-edge relation is shuffled and joined EVERY round, and
    * 16 bytes/row beats two small strings everywhere in that path. The
    * oracle replays the string form from the facts; decoding before the
    * final ORDER BY keeps tie-breaks on the same string collation. */
  private[graft] def decodeNode(c: Column): Column =
    concat(when(c % 2 === 0, lit("c")).otherwise(lit("s")),
      shiftright(c.cast("long"), 1).cast("string"))

  /** Distinct customer→supplier purchase edges — the link graph behind the
    * PageRank queries — MATERIALIZED ONCE per dataset dir per JVM
    * (round-14: the Shapes.coPurchaseEdges / Dedup.shingles asset idiom
    * applied here): THREE registered queries (q_pagerank_iter / _k /
    * _personal) each rebuilt the same orders⋈lineitem distinct per
    * invocation; a real pipeline materializes the link graph once and every
    * rank job reads that artifact. distinct on the (long, long) pair BEFORE
    * building node labels: the dedup shuffle carries 16 bytes/row instead
    * of two strings. Returns the asset root (`edges/`, `nodes/`). */
  private def purchaseAsset(s: SparkSession, d: String): String =
    graft.Assets.dir("purchase_edges", d) { out =>
      // the asset also carries each edge's src OUT-DEGREE (r15): the
      // degree-widened (src, dst, deg) relation is what every rank
      // round actually probes, and it is as deterministic as the edge
      // list — so the widening join is paid once at build instead of
      // once per rank-query invocation (PageRank skips its own widening
      // for these prepared edges)
      import org.apache.spark.sql.expressions.Window
      val edges = t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"))
        .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct()
        .select((col("ck") * 2).as("src"), (col("sk") * 2 + 1).as("dst"))
        .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      edges.write.mode("overwrite").parquet(s"$out/edges")
      // the distinct node list is index state too (r15): every rank
      // invocation re-ran a distinct over 2·|edges| endpoint rows to
      // seed the rank table — derived once here instead
      val e = Tables.parquet(s, s"$out/edges")
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$out/nodes")
    }

  private def purchaseEdges(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, s"${purchaseAsset(s, d)}/edges")

  /** The edge list's distinct endpoints — built alongside the edge asset
    * (same temp root); see the build comment above. */
  private def purchaseNodes(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, s"${purchaseAsset(s, d)}/nodes")

  private val unionBase =
    """SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
      |%s
      |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_agg_hash" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Num.sqlDsum("l_quantity")} AS sum_qty,
         |  ${Num.sqlDsum("l_extendedprice")} AS sum_base_price,
         |  ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         |  ${Num.sqlDavg("l_quantity")} AS avg_qty,
         |  ${Num.sqlDavg("l_extendedprice")} AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 48
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity BETWEEN 10 AND 20
        |  AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 450000
        |ORDER BY o_orderkey, c_name, o_totalprice""".stripMargin,

    "q_join_broadcast" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_cust, ${Num.sqlDsum("c_acctbal")} AS sum_bal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey, c_name""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey, c_name""".stripMargin,

    "q_join_full" ->
      s"""WITH a AS (SELECT c_custkey AS ka, c_acctbal AS bal_a
         |           FROM customer WHERE c_custkey % 3 <> 0),
         |b AS (SELECT c_custkey AS kb, c_acctbal AS bal_b
         |      FROM customer WHERE c_custkey % 2 <> 0)
         |SELECT CASE WHEN kb IS NULL THEN 'left_only'
         |            WHEN ka IS NULL THEN 'right_only'
         |            ELSE 'both' END AS side,
         |  COUNT(*) AS n,
         |  ${Num.sqlDsum("COALESCE(bal_a, 0)")} AS sum_a,
         |  ${Num.sqlDsum("COALESCE(bal_b, 0)")} AS sum_b
         |FROM a FULL OUTER JOIN b ON ka = kb
         |GROUP BY 1 ORDER BY side""".stripMargin,

    // same deterministic 1/16 key synopsis (first md5 hex digit) on both
    // engines, so est_rows hash-matches exactly
    "q_join_card_est" ->
      """WITH o AS (SELECT o_orderkey FROM orders
        |           WHERE o_orderpriority = '1-URGENT'),
        |s AS (SELECT CAST(COUNT(*) * 16 AS BIGINT) AS est_rows
        |      FROM o JOIN lineitem ON l_orderkey = o_orderkey
        |      WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'),
        |a AS (SELECT COUNT(*) AS actual_rows
        |      FROM o JOIN lineitem ON l_orderkey = o_orderkey)
        |SELECT est_rows, actual_rows,
        |  ABS(est_rows - actual_rows) * 2 <= actual_rows AS ok
        |FROM s, a""".stripMargin,

    "q_join_theta" ->
      """SELECT s_suppkey, c_custkey
        |FROM supplier, customer
        |WHERE s_acctbal > 9000 AND c_acctbal > 9800 AND s_acctbal > c_acctbal
        |ORDER BY s_suppkey, c_custkey""".stripMargin,

    // The oracle states the PREDICATE; the banded bucketing is a pure
    // execution strategy and must not change the result.
    "q_join_banded" ->
      """SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
        |FROM supplier, customer
        |WHERE ABS(s_acctbal - c_acctbal) <= 10
        |ORDER BY s_suppkey, c_custkey""".stripMargin,

    "q_upsert_antijoin" ->
      s"""WITH upd AS (
         |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         |         o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 100 = 0),
         |merged AS (
         |  SELECT * FROM orders o
         |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
         |  UNION ALL SELECT * FROM upd)
         |SELECT o_orderstatus, COUNT(*) AS n_rows, ${Num.sqlDsum("o_totalprice")} AS sum_price
         |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_join_salted" ->
      s"""SELECT s_nationkey, COUNT(*) AS n, ${Num.sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q_join_nullsafe" ->
      """WITH c AS (SELECT NULLIF(c_nationkey % 5, 0) AS k, c_custkey FROM customer),
        |n AS (SELECT NULLIF(n_nationkey % 5, 0) AS k, n_nationkey FROM nation)
        |SELECT c.k AS k, COUNT(*) AS n_pairs
        |FROM c JOIN n ON c.k IS NOT DISTINCT FROM n.k
        |GROUP BY c.k ORDER BY k ASC NULLS FIRST""".stripMargin,

    "q_window_ntile" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders WHERE o_orderkey % 300 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Exact counts are the hash target; the sketch is verified via the
    // within-bound booleans, which the oracle pins to TRUE.
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
        |  TRUE AS apx_part_ok, TRUE AS apx_supp_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Exact percentiles are the hash target; the sketch is verified via
    // the within-bound booleans, which the oracle pins to TRUE.
    "q_approx_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  TRUE AS apx_median_ok, TRUE AS apx_p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_star_join" ->
      s"""SELECT n_name,
         |  ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders   ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation   ON s_nationkey = n_nationkey
         |JOIN region   ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_agg_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST, n_cust""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |HAVING COUNT(*) > 10
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |         o_orderpriority ASC NULLS FIRST, n""".stripMargin,

    "q_cross_join" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
        |ORDER BY r_name, o_orderstatus""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) x
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q_window_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
        |  LAG(o_orderkey, 1) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_orderkey
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q_pagination" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 100 OFFSET 500""".stripMargin,

    "q_exists_correlated" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_totalprice > c_acctbal * 50)
        |ORDER BY c_custkey, c_acctbal""".stripMargin,

    "q_collect_agg" ->
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  COUNT(*) AS n
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_regexp_extract" ->
      """SELECT event_type,
        |  CAST(MAX(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_intersect_all" ->
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity >= 45),
        |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
        |i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
        |SELECT k, COUNT(*) AS n FROM i GROUP BY k ORDER BY k""".stripMargin,

    "q_except_all" ->
      """WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
        |b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity >= 45),
        |e AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
        |SELECT k, COUNT(*) AS n FROM e GROUP BY k ORDER BY k""".stripMargin,

    "q_union" -> (unionBase.format("UNION") + "\nORDER BY k"),
    "q_intersect" -> (unionBase.format("INTERSECT") + "\nORDER BY k"),
    "q_except" -> (unionBase.format("EXCEPT") + "\nORDER BY k"),

    "q_scalar_string" ->
      """SELECT p_partkey,
        |  UPPER(p_brand) AS brand_u,
        |  SUBSTRING(p_name, 1, 8) AS name8,
        |  p_brand || '#' || p_type AS bt,
        |  (p_name LIKE '%ol%') AS has_ol,
        |  REGEXP_REPLACE(p_type, '[aeiou]', '', 'g') AS novowel
        |FROM part WHERE p_partkey % 20 = 0 ORDER BY p_partkey""".stripMargin,

    "q_scalar_date" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS od,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
        |  CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS dom,
        |  CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mstart
        |FROM orders WHERE o_orderkey % 500 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue,
        |  CASE WHEN l_quantity < 10 THEN 'low'
        |       WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qband,
        |  CAST(FLOOR(l_extendedprice / 1000.0) AS BIGINT) AS price_kbucket
        |FROM lineitem WHERE l_orderkey % 700 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_json_struct" ->
      """SELECT event_id, CAST(props->>'k' AS INT) AS k
        |FROM events WHERE event_id % 97 = 0 ORDER BY event_id""".stripMargin,

    "q_posexplode" ->
      """SELECT vec_id, CAST(pos AS INT) AS pos,
        |  CAST(round(CAST(embedding[pos + 1] AS DOUBLE) * 1000000) AS BIGINT) AS x6
        |FROM embeddings, (SELECT UNNEST(range(0, 8)) AS pos) p
        |WHERE vec_id < 10 ORDER BY vec_id, pos""".stripMargin,

    "q_time_filter" ->
      s"""SELECT event_type, COUNT(*) AS n, ${Num.sqlDsum("value")} AS sum_value
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts <  TIMESTAMP '2024-01-21 00:00:00'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_array_ops" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS e_first,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS e_sum6,
        |  label
        |FROM embeddings WHERE vec_id % 7 = 0 ORDER BY vec_id""".stripMargin,

    "q_array_hof" ->
      """SELECT vec_id,
        |  CAST(len(list_filter(embedding, x -> x > 0.0)) AS INT) AS n_pos,
        |  len(list_filter(embedding, x -> x > 0.4)) > 0 AS has_big,
        |  len(list_filter(embedding, x -> NOT (x < 0.45))) = 0 AS all_small
        |FROM embeddings WHERE vec_id % 11 = 0 ORDER BY vec_id""".stripMargin,

    "q_window_firstlast" ->
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
        |  LAST_VALUE(o_orderkey) OVER w AS last_order
        |FROM orders WHERE o_custkey < 40
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_str_coerce" ->
      """SELECT c_custkey,
        |  CAST(c_custkey AS VARCHAR) AS custkey_s,
        |  NULLIF(c_mktsegment, '') AS seg,
        |  NULLIF('', '') AS empty_is_null
        |FROM customer WHERE c_custkey <= 50 ORDER BY c_custkey""".stripMargin,

    "q_ctas_scan" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    "q_latest_partition" ->
      """WITH e AS (SELECT *, CAST(ts AS DATE) AS day FROM events)
        |SELECT event_type, COUNT(*) AS n FROM e
        |WHERE day = (SELECT MAX(day) FROM e)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_dedup" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    "q_topk_per_group" ->
      """WITH rk AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |       ROW_NUMBER() OVER (PARTITION BY o_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |     FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice, rnk
        |FROM rk WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "q_agg_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${Num.sqlDsum("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
        |  COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
        |  COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
        |  COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Oracle spelled as UNION ALL (engine-portable unpivot semantics).
    "q_unpivot" ->
      """WITH agg AS (SELECT l_returnflag AS flag, COUNT(*) AS n_rows,
        |         COUNT(DISTINCT l_orderkey) AS n_orders,
        |         COUNT(DISTINCT l_partkey) AS n_parts
        |       FROM lineitem GROUP BY 1)
        |SELECT flag, metric, value FROM (
        |  SELECT flag, 'n_rows' AS metric, n_rows AS value FROM agg
        |  UNION ALL SELECT flag, 'n_orders', n_orders FROM agg
        |  UNION ALL SELECT flag, 'n_parts', n_parts FROM agg) u
        |ORDER BY flag, metric""".stripMargin,

    // Same moment factorization, same double-op order — bit-identical.
    "q_agg_stats" ->
      """WITH m AS (SELECT l_returnflag AS flag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST((l_quantity * l_extendedprice) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST((l_quantity * l_quantity) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST((l_extendedprice * l_extendedprice) AS DECIMAL(38,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT flag, n,
        |  (sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS var_qty,
        |  sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS std_qty,
        |  (sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS covar_qp,
        |  ((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
        |    / (sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
        |       * sqrt((syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))) AS corr_qp
        |FROM m WHERE n >= 2 ORDER BY flag""".stripMargin,

    // Same fixed-point integer arithmetic — exact in both engines.
    "q_pagerank_iter" ->
      """WITH e AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |od AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
        |infl AS (SELECT dst, CAST(SUM(1000000 // deg) AS BIGINT) AS inflow
        |         FROM e JOIN od USING (src) GROUP BY 1),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e)
        |SELECT node,
        |  CAST(150000 + (85 * COALESCE(inflow, 0)) // 100 AS BIGINT) AS rank_fp
        |FROM n LEFT JOIN infl ON node = dst
        |ORDER BY rank_fp DESC, node LIMIT 25""".stripMargin,

    // q_pagerank_iter's round chained PrRounds times (generated from the
    // same constant the Spark query uses, so query and oracle cannot
    // drift). Integer mass end-to-end, so the match is bit-exact.
    "q_pagerank_k" -> {
      val rounds = (1 to PrRounds).map { i =>
        s"""i$i AS (SELECT dst, CAST(SUM(rank_fp // deg) AS BIGINT) AS inflow
           |        FROM e JOIN od USING (src) JOIN r${i - 1} ON src = r${i - 1}.node
           |        GROUP BY 1),
           |r$i AS (SELECT n.node,
           |          CAST(150000 + (85 * COALESCE(inflow, 0)) // 100 AS BIGINT) AS rank_fp
           |        FROM n LEFT JOIN i$i ON n.node = i$i.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |od AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
         |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_fp FROM n),
         |$rounds
         |SELECT node, rank_fp FROM r$PrRounds
         |ORDER BY rank_fp DESC, node LIMIT 25""".stripMargin
    },

    "q_pagerank_personal" -> {
      val rounds = (1 to PrRounds).map { i =>
        s"""i$i AS (SELECT dst, CAST(SUM(rank_fp // deg) AS BIGINT) AS inflow
           |        FROM e JOIN od USING (src) JOIN r${i - 1} ON src = r${i - 1}.node
           |        GROUP BY 1),
           |r$i AS (SELECT n.node, n.is_seed,
           |          CAST(CASE WHEN n.is_seed THEN 150000 ELSE 0 END
           |               + (85 * COALESCE(inflow, 0)) // 100 AS BIGINT) AS rank_fp
           |        FROM n LEFT JOIN i$i ON n.node = i$i.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |od AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
         |sd AS (SELECT DISTINCT 'c' || c_custkey AS node FROM customer
         |       WHERE c_acctbal > 9000),
         |n AS (SELECT nn.node, sd.node IS NOT NULL AS is_seed FROM
         |        (SELECT src AS node FROM e UNION SELECT dst FROM e) nn
         |      LEFT JOIN sd ON nn.node = sd.node),
         |r0 AS (SELECT node, is_seed,
         |         CAST(CASE WHEN is_seed THEN 1000000 ELSE 0 END AS BIGINT)
         |           AS rank_fp FROM n),
         |$rounds
         |SELECT node, rank_fp FROM r$PrRounds
         |ORDER BY rank_fp DESC, node LIMIT 25""".stripMargin
    },

    "q_shipping_priority" ->
      s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
         |  ${Num.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-03-15'
         |  AND l_shipdate > TIMESTAMP '1998-03-15'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, o_orderdate, o_orderkey LIMIT 10""".stripMargin,

    "q_large_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey AS big_okey FROM lineitem GROUP BY 1
         |  HAVING ${Num.sqlDsum("l_quantity")} > 200.0)
         |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |  ${Num.sqlDsum("l_quantity")} AS sum_qty
         |FROM orders
         |JOIN big ON o_orderkey = big_okey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1, 2, 3, 4, 5
         |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin,

    "q_suppliers_waiting" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM late l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin
  )
}
