package graft.queries

import graft.{Num, Tables}
import graft.io.DatasetConvention
import graft.operators.Prefix
import graft.tables.TableOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.Instant

/** Source/sink parity queries: the JSONL dataset convention round-trip and
  * the batch form of the streaming tumbling-window aggregate.
  */
object Sources {
  type QFn = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // One physical LAYOUT build per (layout kind, dataset dir) per JVM
  // (`Assets.dir("layout_<kind>", d)`): the Z-order/bucketed/ORC layouts
  // are "ingest once, join/probe forever" assets (that is their entire
  // point at 100 TB), so repeat invocations (bench medians, multi-scale
  // verify) re-probe the same on-disk layout instead of re-clustering the
  // table and, for the bucketed case, re-registering a fresh pair of
  // catalog tables each time (round-10 advice).

  val queries: Map[String, QFn] = Map(

    // Sink → source identity through the partitioned-JSONL convention
    // (≙ add_records_to_dataset then get_dataset, gcs.py:162-218/523-597):
    // documents written under {base}/docs/version=1/year=…/… and read back
    // via partition discovery must reproduce the table exactly. The write
    // is a memoized asset (once per dataset dir); the query is the read.
    "q_dataset_roundtrip" -> ((s, d) => {
      val base = graft.Assets.dir("dataset_roundtrip", d) { b =>
        DatasetConvention.append(
          t(s, d, "documents").select(col("doc_id"), col("text"), col("n_chars")),
          b, "docs", version = 1, ts = Instant.parse("2024-01-15T00:00:00Z"))
      }
      // declared schema: no JSON inference pass (the corpus-scale
      // posture), and an empty shard reads back as a well-typed empty
      // frame instead of an unresolved-column failure
      DatasetConvention.read(s, base, "docs", version = Some(1),
          dataSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING, n_chars BIGINT")))
        .select(col("doc_id"), col("text"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Z-ORDER layout → pruned scan, end-to-end through the gate: lay the
    // fact table out 3-dim Z-clustered (ZOrder.layoutK — the
    // clustering-key story for the 100 TB fact table), read it back, and
    // run a two-dimension predicate that single-column clustering could
    // serve on only ONE of. The query RESULT is layout-invariant (the
    // oracle filters the raw table), so the hash gate proves the
    // re-layout is LOSSLESS end-to-end; the pruning evidence — per-file
    // min/max tight in every dimension, so parquet stats skip most files
    // for this predicate — is ZOrderSpec's locality case plus the
    // pushed-filter pin in SourcesSpec.
    "q_zorder_scan" -> ((s, d) => {
      val base = graft.Assets.dir("layout_zorder", d) { b =>
        graft.operators.ZOrder.layoutK(
            t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"),
              col("l_suppkey"), col("l_quantity"), col("l_extendedprice")),
            Seq("l_partkey", "l_suppkey", "l_orderkey"), numFiles = 64)
          .write.mode("overwrite").parquet(b)
      }
      Tables.parquet(s, base)
        .filter(col("l_partkey") <= 200 && col("l_suppkey") <= 40)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("l_suppkey"))
    }),

    // DYNAMIC PARTITION PRUNING — the fourth layout story (after
    // range-cluster, Z-order, buckets): the 100 TB fact table is
    // date-partitioned (the universal warehouse layout), and WHICH month
    // partitions matter is only known at RUNTIME from the dim side's
    // filter — no static predicate on the fact exists to push down.
    // Catalyst inserts a dynamic-pruning subquery on the partition
    // column (spark.sql.optimizer.dynamicPartitionPruning, on by
    // default), reusing the dim's broadcast to skip every unmatched
    // month directory at the FILE-LISTING level — the difference between
    // scanning ~3 and ~80 months of a fact table. The query RESULT is
    // layout-invariant (the oracle joins the raw tables), so the hash
    // gate proves the partitioned re-layout lossless; the pruning
    // evidence is the plan pin (PartitionFilters carries dynamicpruning,
    // SourcesSpec).
    "q_dpp_scan" -> ((s, d) => {
      val raw = t(s, d, "orders")
      val base = graft.Assets.dir("layout_month", d) { b =>
        raw.withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
          .write.mode("overwrite").partitionBy("o_month").parquet(b)
      }
      // declared schema (no inference pass — the corpus-scale posture,
      // and an EMPTY shard reads back as a typed empty frame instead of
      // UNABLE_TO_INFER_SCHEMA)
      val readSchema = raw.schema
        .add("o_month", org.apache.spark.sql.types.StringType)
      val dim = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1995-04-01")))
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("m"))
        .distinct()
      s.read.schema(readSchema).parquet(base)
        .join(dim, col("o_month") === col("m"))
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          Num.dsum(col("o_totalprice")).as("rev"))
        .orderBy(col("o_month"))
    }),

    // INJECTED RUNTIME BLOOM FILTER — DPP's sibling for NON-partition
    // join keys: when a selective dim filter exists but the fact isn't
    // laid out on the join column, Catalyst's InjectRuntimeFilter builds
    // a bloom filter from the filtered dim at runtime and semi-joins the
    // fact scan through `might_contain` BEFORE the shuffle — rows that
    // can't match never leave the mappers (vs q_bloom_prune, which is
    // the MANUAL UDF spelling of the same idea). At 100 TB the stock
    // size thresholds (10 GB application side) trigger this naturally;
    // at test SF everything is below them and the join would be a
    // broadcast anyway, so a cloned session pins the production shape —
    // shuffle join + injected bloom — which the plan pin asserts. The
    // filter is semantically transparent: the oracle is the plain join.
    "q_runtime_filter" -> ((s, d) => {
      val rf = s.newSession()
      rf.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      rf.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables.load(rf, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val or = Tables.load(rf, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          Num.dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("o_orderpriority"))
    }),

    // BUCKETED layout → zero-exchange fact⋈fact join, end-to-end through
    // the gate (the third member of the layout trilogy: range-cluster,
    // Z-order, buckets). orders and lineitem — the join neither side of
    // which is broadcastable at 100 TB — are written once as EXTERNAL
    // bucketed+sorted tables on the join key (TableOps.saveBucketed:
    // bucket at ingest, join forever), then joined and rolled up. The
    // query RESULT is layout-invariant (the oracle joins the raw
    // tables), so the hash gate proves the bucketed write/read lossless;
    // the scale evidence — SortMergeJoin with NO "Exchange
    // hashpartitioning" under either side, sorts satisfied by the
    // bucket-file sort order — is the broadcast-disabled plan pin in
    // SourcesSpec (and BucketedJoinSpec for the operator itself).
    "q_bucketed_join" -> ((s, d) => {
      val base = graft.Assets.dir("layout_bucket", d) { b =>
        val tag = b.replaceAll(".*graft-layout_bucket", "").replaceAll("[^0-9]", "")
        TableOps.saveBucketed(
          t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
          s"graft_b_orders_$tag", "o_orderkey", 16, overwrite = true,
          path = Some(s"$b/orders"))
        TableOps.saveBucketed(
          t(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"),
            col("l_extendedprice")),
          s"graft_b_lineitem_$tag", "o_orderkey", 16, overwrite = true,
          path = Some(s"$b/lineitem"))
      }
      // catalog names carry the temp dir's unique suffix: two dataset
      // dirs in one JVM never collide, and a JVM ever registers at most
      // ONE table pair per dataset (the layout asset contract)
      val tag = base.replaceAll(".*graft-layout_bucket", "").replaceAll("[^0-9]", "")
      val (to, tl) = (s"graft_b_orders_$tag", s"graft_b_lineitem_$tag")
      s.table(to)
        .join(s.table(tl), "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("o_orderpriority"))
    }),

    // Day-over-day INGEST VOLUME anomaly — the pipeline-health alarm
    // that catches a feed going quiet or double-delivering: daily event
    // counts, day-over-day deltas, each delta z-scored against the
    // month's delta distribution (same exact decimal-sum moment math as
    // q_outlier_zscore, so both engines agree to the bit). Everything
    // after the one day-keyed count is calendar-sized — the lag/z
    // windows run over ≤31 rows, never the stream.
    "q_volume_anomaly" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val d38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val daily = t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      val wDay = Window.orderBy(col("day"))
      val deltas = daily
        .withColumn("prev", lag(col("n_events"), 1).over(wDay))
        .filter(col("prev").isNotNull)
        .withColumn("delta", (col("n_events") - col("prev")).cast("double"))
      val nd = col("n").cast("double")
      val stats = deltas.agg(count(lit(1)).as("n"),
          sum(col("delta").cast(d38)).cast("double").as("sx"),
          sum((col("delta") * col("delta")).cast(d38)).cast("double").as("sxx"))
        .select(col("n"), (col("sx") / nd).as("mean_d"),
          sqrt((col("sxx") - col("sx") * col("sx") / nd) / (nd - 1)).as("std_d"))
        .filter(col("n") >= 2 && col("std_d") > 0.0)
      val z = (col("delta") - col("mean_d")) / col("std_d")
      deltas.crossJoin(broadcast(stats))
        .select(col("day"), col("n_events"), col("delta"),
          z.as("z"), (abs(z) > 3.0).as("is_anomaly"))
        .orderBy(col("day"))
    }),

    // CUSUM changepoint — where did the level SHIFT (vs q_volume_anomaly,
    // which flags single-day spikes): the classic mean-shift locator
    // (Page 1954 / Taylor's cumulative-sum charts). S_t = Σ_{i≤t}(x_i−x̄)
    // dips/peaks exactly at a sustained level change; the changepoint
    // estimate is argmax|S_t| over interior days, reported with the two
    // segment means and the shift. Shape at 100 TB: the fact table is
    // touched once (daily count rollup); the cumulative walk runs on the
    // CALENDAR-sized series (the q_volume_anomaly model-size precedent),
    // and the argmax is one max + an equality probe + a struct-min tie
    // rule (earliest day) — every S_t is double arithmetic over integer
    // counts with a fixed expression tree, so both engines pick the
    // identical day.
    "q_changepoint" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val walked = daily
        .withColumn("cum", sum(col("x")).over(w))
        .withColumn("t", row_number().over(Window.orderBy(col("day"))).cast("long"))
        .crossJoin(broadcast(tot))
        // interior points only: a "changepoint" at the last day has an
        // empty after-segment (and a 0/0 mean)
        .filter(col("t") < col("n"))
        .withColumn("s_t", col("cum").cast("double") -
          col("t").cast("double") * (col("sx").cast("double") / col("n").cast("double")))
        .withColumn("abs_s", abs(col("s_t")))
      val mx = walked.agg(max(col("abs_s")).as("mx"))
      val cp = walked.crossJoin(broadcast(mx))
        .filter(col("abs_s") === col("mx"))
        .agg(min(struct(col("day"), col("t"), col("cum"), col("s_t"),
          col("n"), col("sx"))).as("c"))
        .select(col("c.day").as("cp_day"), col("c.t").as("t_cp"),
          col("c.cum").as("cum_cp"), col("c.s_t").as("s_max"),
          col("c.n").as("n_days"), col("c.sx").as("sx"))
      cp.select(col("cp_day"), col("n_days"), col("s_max"),
          (col("cum_cp").cast("double") / col("t_cp").cast("double"))
            .as("mean_before"),
          ((col("sx") - col("cum_cp")).cast("double") /
            (col("n_days") - col("t_cp")).cast("double")).as("mean_after"))
        .withColumn("shift", col("mean_after") - col("mean_before"))
    }),

    // Kaplan-Meier survival panel over user lifetimes — retention with
    // CENSORING done right: a user still active near the corpus end
    // hasn't churned, they're right-censored, and counting them as
    // churned (what a naive lifetime histogram does) biases every
    // survival estimate down. Churn = last activity before the corpus
    // end day (the horizon is a knob — production retention uses
    // days/weeks; the synthetic month is dense, so day-1 is where the
    // churned/censored split is visible); lifetime = days between first
    // and last
    // activity. The KM building blocks are all integers — per-lifetime
    // churned/censored counts and the at-risk reverse cumulative — so
    // the panel is exact across engines; hazard is the one division.
    // Scale shape: one user-keyed aggregate over the stream, then a
    // ≤|days| histogram; the global at-risk window runs over that tiny
    // aggregate, never the events.
    "q_survival_km" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val span = t(s, d, "events")
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      val end = span.agg(max(col("last_day")).as("corpus_end"))
      val hist = span.crossJoin(broadcast(end))
        .select(
          datediff(col("last_day"), col("first_day")).cast("long")
            .as("lifetime_d"),
          (datediff(col("corpus_end"), col("last_day")) >= 1).as("churned"))
        .groupBy(col("lifetime_d"))
        .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("n_churned"),
          sum(when(col("churned"), 0L).otherwise(1L)).as("n_censored"))
      val wRisk = Window.orderBy(col("lifetime_d").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("n_at_risk",
          sum(col("n_churned") + col("n_censored")).over(wRisk))
        .select(col("lifetime_d"), col("n_at_risk"), col("n_churned"),
          col("n_censored"),
          (col("n_churned").cast("double") / col("n_at_risk").cast("double"))
            .as("hazard"))
        .orderBy(col("lifetime_d"))
    }),

    // ORC round-trip — the second columnar format in the source/sink
    // matrix (parquet everywhere else, JSONL via the dataset convention,
    // CSV via sheets). Spark's native ORC reader has the same
    // partition-pruning + predicate-pushdown machinery as parquet; the
    // write is hive-style partitioned on l_returnflag so the read prunes
    // whole directories before the quantity predicate reaches the ORC
    // row-group stats. Result is layout/format-invariant (oracle reads
    // the raw parquet table), so hash equality proves the ORC write/read
    // lossless — including the DECIMAL column, the type most likely to
    // drift across formats. Plan pin in SourcesSpec: partition filter +
    // pushed predicate both visible in the ORC scan.
    "q_orc_roundtrip" -> ((s, d) => {
      val base = graft.Assets.dir("layout_orc", d) { b =>
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice"))
          .write.mode("overwrite").partitionBy("l_returnflag").orc(b)
      }
      // explicit schema (the q_csv_roundtrip discipline): an empty shard
      // writes zero ORC files, and a schema-less read of a fileless dir
      // throws UNABLE_TO_INFER_SCHEMA instead of degrading to empty
      s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
          "l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
            "l_returnflag STRING"))
        .orc(base)
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 30)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("l_extendedprice")).as("rev"))
        .orderBy(col("l_returnflag"))
    }),

    // CSV closes the source/sink matrix (parquet → ORC → JSONL → CSV):
    // the TYPELESS format — every value is text on disk, so the read
    // must re-impose an EXPLICIT schema (never inferSchema at corpus
    // scale: inference is a full extra pass over the data and
    // type-drifts on dirty rows). Doubles round-trip through Java's
    // shortest-round-trip decimal repr, timestamps through an explicit
    // microsecond UTC format, and the partition column re-enters typed
    // through the directory name. The oracle reads the raw parquet
    // table, so hash equality proves the text round-trip lossless for
    // longs, doubles, strings, and timestamps. Built once per JVM like
    // the ORC/Z-order/bucketed layouts; partition pruning on o_orderstatus
    // is pinned in SourcesSpec
    // (CSV has no row-group stats — directory pruning is the ONLY scan
    // reduction the format offers, which is exactly why hive-style
    // partitioning matters more for text formats).
    "q_csv_roundtrip" -> ((s, d) => {
      // o_orderdate is TIMESTAMP_NTZ (naive parquet, the tables'
      // convention) — CSV formats NTZ through timestampNTZFormat, and the
      // re-read schema says TIMESTAMP_NTZ so the type survives the text
      // hop unchanged (an LTZ re-read would silently re-type the column
      // even when the UTC session makes the values agree).
      val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val base = graft.Assets.dir("layout_csv", d) { b =>
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
            col("o_orderstatus"))
          .write.mode("overwrite")
          .option("header", "true").option("timestampNTZFormat", tsFmt)
          .partitionBy("o_orderstatus").csv(b)
      }
      val sch = org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, " +
          "o_orderstatus STRING")
      s.read.schema(sch)
        .option("header", "true").option("timestampNTZFormat", tsFmt)
        .csv(base)
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") >= 100000.0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("rev"),
          max(col("o_orderdate")).as("last_order"))
        .orderBy(col("o_orderstatus"))
    }),

    // Cross-version schema evolution through the convention (the
    // `version=V` directory IS a schema version, gcs.py:58-67): half the
    // corpus written under v1 with the ORIGINAL two-column schema, the
    // other half under v2 with two ADDED columns, then read back through
    // [[DatasetConvention.readVersions]] — per-version schema inference,
    // name-aligned union, v1 rows carrying NULL for the columns their
    // schema predates. The oracle reproduces exactly that null pattern.
    // Both writes are one memoized asset; the query is the read.
    "q_dataset_versions" -> ((s, d) => {
      val base = graft.Assets.dir("dataset_versions", d) { b =>
        val docs = t(s, d, "documents")
        DatasetConvention.append(
          docs.filter(col("n_chars") % 2 === 0).select(col("doc_id"), col("text")),
          b, "docs", version = 1, ts = Instant.parse("2024-01-15T00:00:00Z"))
        DatasetConvention.append(
          docs.filter(col("n_chars") % 2 =!= 0)
            .select(col("doc_id"), col("text"), col("lang"), col("n_chars")),
          b, "docs", version = 2, ts = Instant.parse("2024-02-20T00:00:00Z"))
      }
      // the union schema, declared: v1 rows read NULL for the columns
      // their schema predates (same values as per-version inference +
      // unionByName), and an empty dataset degrades schema-total
      DatasetConvention.readVersions(s, base, "docs",
          dataSchema = Some(org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING, lang STRING, n_chars BIGINT")))
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
          col("version"))
        .orderBy(col("doc_id"))
    }),

    // Batch tumbling window over event time — the exact aggregation
    // EventsStream.windowedCounts runs incrementally; here verifiable
    // against DuckDB's date_trunc.
    "q_tumbling_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))),

    // Batch sessionization — the oracle-checkable twin of
    // EventsStream.sessionize (30-min inactivity gap). Gap-cut via lag +
    // running sum of new-session flags; interval arithmetic (not epoch
    // casts) so both engines compare timestamps exactly. One shuffle on
    // user_id serves both window passes and the final per-session
    // aggregate (same partitioning).
    "q_sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .withColumn("session_num", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_num"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
          Num.dsum(col("value")).as("total_value"))
        .orderBy(col("user_id"), col("session_num"))
    }),

    // Cohort retention — the canonical product-analytics rollup: users
    // bucketed by first-seen week (their cohort), then counted per
    // (cohort, weeks-since-cohort) cell. Weeks are integer epoch-week
    // indices (µs // 604800000000) so both engines bucket identically
    // with no timezone/truncation semantics in play. Three key-bounded
    // shuffles — distinct (user, week) activity, per-user min for the
    // cohort, and the model-sized final cell aggregate; the user-keyed
    // equi-join carries one row per active user-week. At 100 TB the
    // cohort table is a persisted artifact and only the activity delta
    // re-aggregates.
    "q_retention" -> ((s, d) => {
      val wk = (unix_micros(col("ts")) / lit(604800000000L)).cast("long")
      val activity = t(s, d, "events")
        .select(col("user_id"), wk.as("wk")).distinct()
      val cohort = activity.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      activity.join(cohort, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    }),

    // The NATIVE session-window operator: groupBy(session_window(ts, gap))
    // — the same physical operator Structured Streaming maintains
    // incrementally, here run in batch and oracle-verified against the
    // lag/cumsum formulation (boundary probe: an event at exactly
    // prev_ts + gap MERGES into the session, matching q_sessionize's
    // strict-> gap cut). One user_id shuffle; Spark plans
    // UpdatingSessions + MergingSessions aggregate, no window sort pass.
    // Window end = last event + gap, per the operator's contract.
    "q_session_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("total_value"))
        .select(col("user_id"),
          col("session_window.start").as("win_start"),
          col("session_window.end").as("win_end"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("win_start"))),

    // Rolling time-range window: per user, count/sum over the trailing 10
    // minutes of EVENT TIME (a RANGE frame over epoch micros, not a rows
    // frame) — the per-entity rate/feature shape of a training pipeline.
    // One shuffle on user_id; range frames treat equal-timestamp peers
    // identically in both engines, so ties are deterministic.
    "q_window_timerange" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-600L * 1000000L, 0L)
      t(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"), col("ts"),
          count(lit(1)).over(w).as("n_10m"),
          sum(col("value").cast(Num.Dec)).over(w).cast("double").as("value_10m"))
        .orderBy(col("event_id"))
    }),

    // As-of join: every purchase carries the user's most recent prior (or
    // simultaneous) click. Spark-first shape: NO join at all — one window
    // pass over the event stream carrying the last click forward
    // (`last(..., ignoreNulls)` over rows-unbounded-preceding), then filter
    // to purchases. At 100 TB this is one shuffle on user_id and a linear
    // scan per partition, where a per-key range join would build and probe
    // giant per-user click sets. Deterministic tiebreak: (ts, event_id).
    "q_asof_join" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("last_click_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .withColumn("last_click_ts",
          last(when(col("event_type") === "click", col("ts")),
            ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"), col("last_click_id"), col("last_click_ts"))
        .orderBy(col("purchase_id"))
    }),

    // NEAREST-event join — the bidirectional generalization of the
    // backward-only as-of: each purchase is enriched with whichever
    // click (before or after, same user) is closest in time, ties to
    // the backward side. Both directions come from the SAME sorted
    // window pass (one shuffle on user_id, two framed aggregates) —
    // never a time-band self-join, so the cost is one sort-based window
    // regardless of event density; the microsecond diffs are integer
    // arithmetic, so the tie decision is engine-exact.
    "q_asof_nearest" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val clickId = when(col("event_type") === "click", col("event_id"))
      val clickTs = when(col("event_type") === "click", col("ts"))
      val pd = unix_micros(col("ts")) - unix_micros(col("prev_ts"))
      val nd = unix_micros(col("next_ts")) - unix_micros(col("ts"))
      val takePrev = col("next_ts").isNull ||
        (col("prev_ts").isNotNull && pd <= nd)
      t(s, d, "events")
        .withColumn("prev_id", last(clickId, ignoreNulls = true).over(wb))
        .withColumn("prev_ts", last(clickTs, ignoreNulls = true).over(wb))
        .withColumn("next_id", first(clickId, ignoreNulls = true).over(wf))
        .withColumn("next_ts", first(clickTs, ignoreNulls = true).over(wf))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(takePrev, col("prev_id")).otherwise(col("next_id"))
            .as("nearest_click_id"),
          when(takePrev, pd).otherwise(nd).as("diff_us"))
        .orderBy(col("purchase_id"))
    }),

    // Funnel analysis: view → click → purchase per user, each stage's
    // timestamp being the FIRST qualifying event strictly after the prior
    // stage (the standard ordered-funnel semantics). Three conditional
    // min-aggregates chained by equi-joins on user_id — every aggregate is
    // partial+final, every join is keyed on the same user_id partitioning,
    // and stage tables only shrink; no window, no self-join on time.
    "q_funnel" -> ((s, d) => {
      val ev = t(s, d, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("c_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("v_ts"), col("c_ts"), col("p_ts"),
          when(col("p_ts").isNotNull, lit(3L))
            .when(col("c_ts").isNotNull, lit(2L))
            .otherwise(lit(1L)).as("stage"))
        .orderBy(col("user_id"))
    }),

    // SCD2 (slowly-changing-dimension type 2) interval build — the CDC
    // shape: each purchase's value is valid from its own ts until the
    // user's next purchase (NULL = current). One user_id shuffle, one
    // lead() pass; at scale this is the standard change-capture
    // compaction over a sorted-within-partition stream.
    "q_scd2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"),
          col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    }),

    // POINT-IN-TIME feature join — the feature-store primitive that
    // prevents training-serving skew: each click is enriched with the
    // purchase-value feature that was VALID AT THE CLICK'S OWN TIME,
    // never a later one (future leakage). The dimension is the SCD2
    // validity table (q_scd2's shape) materialized from purchases; the
    // join is an equi-join on user with the validity interval as
    // residual — each click lands in exactly one interval (they
    // partition time per user), LEFT so pre-first-purchase clicks keep
    // an explicit NULL feature. This is the execution twin of
    // q_asof_join's window-carry for the case where the dimension is
    // PRE-MATERIALIZED (a feature store), not co-streamed; at 100 TB
    // both sides shuffle once on the user key.
    "q_pit_join" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from"), col("event_id"))
      val dim = t(s, d, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("value").as("feat_value"), col("ts").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .drop("event_id")
      val clicks = t(s, d, "events").filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      clicks.join(dim,
          clicks("user_id") === dim("user_id") &&
            col("click_ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("click_ts") < col("valid_to")),
          "left")
        .select(col("click_id"), clicks("user_id").as("user_id"),
          col("click_ts"), col("feat_value"),
          col("valid_from").as("feat_asof"))
        .orderBy(col("click_id"))
    }),

    // Batch run of the STREAMING interval-join code path:
    // EventsStream.purchaseAttribution is called on a batch DataFrame
    // (withWatermark is a no-op in batch), proving the stream and batch
    // answers come from one implementation — and checking it against the
    // DuckDB interval join.
    "q_interval_join" -> ((s, d) =>
      graft.streaming.EventsStream.purchaseAttribution(t(s, d, "events"), 10)
        .orderBy(col("purchase_id"), col("click_id"))),

    // Sliding (hopping) window aggregate — 1 h windows every 30 min, so
    // each event lands in exactly 2 windows. Spark's built-in `window`
    // with a slide fans the rows out BEFORE the aggregate (2× row
    // multiplier, then one (win, type)-keyed shuffle) — the same
    // assignment Structured Streaming maintains incrementally; oracled by
    // materializing both epoch-aligned candidate starts per event.
    "q_hopping_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))),

    // Time-series RESAMPLING with gap fill — the dense hourly grid a
    // forecast/monitoring consumer needs: aggregate per (type, hour),
    // then left-join onto the full hours × types scaffold and fill
    // missing buckets with zero. The scaffold is MODEL-sized (distinct
    // hours × distinct types, built from two tiny aggregates), so its
    // cross join is scaffold×dimension work — the corpus-sized side is
    // touched exactly once, by the equi-join.
    "q_resample" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
      // ONE corpus pass: bounds and the type dimension both derive from
      // the persisted (type, hour) aggregate — model-sized, so the
      // scaffold branches re-read a tiny cache instead of re-scanning
      // events per consumer. (The narrow residue is deliberate: the
      // returned frame is lazy, freeing here would force the rescans this
      // cache exists to prevent.)
      val agg = e.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hours = agg.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val types = agg.select(col("event_type")).distinct()
      hours.crossJoin(types)
        .join(agg, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h").as("win_start"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy(col("event_type"), col("win_start"))
    }),

    // LOCF (last-observation-carried-forward) resampling — the gap-fill
    // rule time-series consumers usually want instead of q_resample's
    // zeros: an hour with no events repeats the last OBSERVED hourly
    // sum for its type; hours before a type's first observation stay
    // NULL (nothing to carry). Same one-corpus-pass scaffold as
    // q_resample; the carry itself is one `last(_, ignoreNulls)` window
    // over the dense grid — the q_asof_join window-carry idiom — so the
    // only added shuffle is the grid-sized (types × hours, model-sized)
    // partition-by-type sort, never a second corpus pass.
    "q_resample_locf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, d, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          col("value"))
      val agg = e.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("sum_value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val hours = agg.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val types = agg.select(col("event_type")).distinct()
      val w = Window.partitionBy(col("event_type")).orderBy(col("win_start"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hours.crossJoin(types)
        .join(agg, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h").as("win_start"),
          coalesce(col("n"), lit(0L)).as("n"), col("sum_value"))
        .withColumn("locf_value", last(col("sum_value"), ignoreNulls = true).over(w))
        .drop("sum_value")
        .orderBy(col("event_type"), col("win_start"))
    }),

    // Z-score outlier flagging per event type — the metric-anomaly scrub
    // a pipeline runs before trusting ingest volumes. Mean/std come from
    // the SAME decimal moment factorization as q_agg_stats (one map-side-
    // combinable aggregate, fixed-order double formulas — bit-stable), so
    // the per-row z and the boundary verdict are identical in any engine
    // and any partition order. The tiny per-type stats broadcast back
    // against the scan: no corpus shuffle for the scoring pass.
    // Ingestion completeness — the landing-zone audit a scheduler runs
    // before kicking downstream jobs: generate the full calendar between
    // the snapshot's first and last day (sequence, no external clock),
    // LEFT JOIN observed daily counts, and flag days that are MISSING
    // entirely or LOW (< half the median daily volume). A silent gap in
    // an hourly-file convention (the reference's DateTimePartitions
    // layout) shows up here as is_missing before any consumer reads
    // wrong totals.
    "q_ingest_completeness" -> ((s, d) => {
      val ev = t(s, d, "events").select(date_trunc("day", col("ts")).as("day"))
      val daily = ev.groupBy(col("day")).agg(count(lit(1)).as("n"))
      val cal = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      val med = daily.agg(expr("percentile(n, 0.5d)").as("med"))
      cal.join(daily, Seq("day"), "left")
        .crossJoin(broadcast(med))
        .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
          col("n").isNull.as("is_missing"),
          (coalesce(col("n"), lit(0L)).cast("double") <
            col("med") * 0.5).as("is_low"))
        .orderBy(col("day"))
    }),

    // FEED-FRESHNESS audit — "which event feeds went quiet": per event
    // type, the newest event's lag behind the corpus high-water mark,
    // flagged stale past 24 h. The anchor is data-derived (the global max
    // timestamp), so the audit is deterministic and backfill-safe; the
    // high-water mark is a 1-row broadcast onto the |types|-sized
    // aggregate — one corpus pass, no window.
    "q_freshness" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val per = ev.groupBy(col("event_type"))
        .agg(max(col("us")).as("max_us"), count(lit(1)).as("n_events"))
      val hw = ev.agg(max(col("us")).as("hw_us"))
      per.crossJoin(broadcast(hw))
        .select(col("event_type"), col("n_events"),
          expr("(hw_us - max_us) div 3600000000").as("lag_hours"))
        .withColumn("stale", col("lag_hours") >= 24L)
        .orderBy(col("event_type"))
    }),

    // RIGHT-TO-BE-FORGOTTEN erasure sweep — the GDPR/CCPA compliance
    // primitive: a deterministic subject set (here customers whose
    // md5(key) starts with '0' — in production, the deletion-request
    // tombstone list) is erased from every table that references it,
    // directly (customer.c_custkey, orders.o_custkey, events.user_id)
    // or transitively (lineitem via the erased customers' orders), and
    // the sweep emits the audit report: per table, total rows, linked
    // rows (the blast radius), surviving rows, and the residual linked
    // count RE-COUNTED ON THE ERASED FRAME — proven 0, the compliance
    // evidence. Scale shape: the tombstone list is broadcast-sized, so
    // every erase is a LEFT ANTI broadcast join (partition-local — the
    // 100 TB fact table never shuffles); the transitive order-key
    // tombstones are themselves subject-bounded. This is the
    // tombstone-sweep half of the engine's delete story (the other half
    // is `TableOps.replaceTable`'s tmp-swap publish).
    "q_gdpr_erasure" -> ((s, d) => {
      val subj = t(s, d, "customer")
        .select(col("c_custkey").as("k"))
        .filter(substring(md5(encode(col("k").cast("string"), "UTF-8")),
          1, 1) === "0")
      val subjOrders = t(s, d, "orders")
        .join(broadcast(subj), col("o_custkey") === col("k"), "left_semi")
        .select(col("o_orderkey").as("k"))
      def audit(name: String, tbl: DataFrame, key: org.apache.spark.sql.Column,
                tomb: DataFrame): DataFrame = {
        val linked = tbl.join(broadcast(tomb), key === col("k"), "left_semi")
        val erased = tbl.join(broadcast(tomb), key === col("k"), "left_anti")
        val residual = erased.join(broadcast(tomb), key === col("k"), "left_semi")
        tbl.agg(count(lit(1)).as("rows_total"))
          .crossJoin(linked.agg(count(lit(1)).as("rows_linked")))
          .crossJoin(erased.agg(count(lit(1)).as("rows_after")))
          .crossJoin(residual.agg(count(lit(1)).as("residual")))
          .select(lit(name).as("tbl"), col("rows_total"),
            col("rows_linked"), col("rows_after"), col("residual"))
      }
      audit("customer", t(s, d, "customer"), col("c_custkey"), subj)
        .unionByName(audit("events", t(s, d, "events"), col("user_id"), subj))
        .unionByName(audit("lineitem", t(s, d, "lineitem"),
          col("l_orderkey"), subjOrders))
        .unionByName(audit("orders", t(s, d, "orders"), col("o_custkey"), subj))
        .orderBy(col("tbl"))
    }),

    // DAU/WAU stickiness — the product-analytics ratio: per day, the
    // day's distinct users over the trailing week's distinct users.
    // Exact twin of the sliding-HLL machinery: the distinct (day, user)
    // table explodes each row into the ≤7 trailing windows it feeds
    // (equi-joins only, like q_sliding_distinct), daily and weekly
    // distincts are two aggregates over that narrow table, stickiness is
    // a per-row ratio. DAU ≤ WAU by construction — spec-pinned.
    "q_stickiness" -> ((s, d) => {
      val du = t(s, d, "events")
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct()
      val days = du.select(col("day")).distinct().select(col("day").as("w"))
      val dau = du.groupBy(col("day").as("w"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val wau = du
        .select(col("user_id"), explode(expr(
          "sequence(day, day + interval 6 days, interval 1 day)")).as("w"))
        .join(broadcast(days), Seq("w"), "left_semi")
        .groupBy(col("w")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "w")
        .select(col("w").as("day"), col("dau"), col("wau"),
          (col("dau").cast("double") / col("wau").cast("double"))
            .as("stickiness"))
        .orderBy(col("day"))
    }),

    // Benford first-digit audit — the fraud/synthetic-data screen:
    // leading digits of order totals against Benford's log10(1+1/d)
    // expectation, with the per-digit χ² term. One map + one 9-bucket
    // aggregate; the leading digit comes from string truncation (exact
    // for positive decimals in both engines), expectations are
    // closed-form doubles.
    "q_benford" -> ((s, d) => {
      val digit = substring(col("o_totalprice").cast("string"), 1, 1)
        .cast("int")
      val counts = t(s, d, "orders")
        .select(digit.as("d")).filter(col("d").between(1, 9))
        .groupBy(col("d")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("tn"))
      val expP = log(lit(1.0) + lit(1.0) / col("d").cast("double")) / log(lit(10.0))
      val expN = expP * col("tn").cast("double")
      counts.crossJoin(broadcast(tot))
        .select(col("d"), col("n"), expN.as("expected"),
          ((col("n").cast("double") - expN) * (col("n").cast("double") - expN)
            / expN).as("chi2_term"))
        .orderBy(col("d"))
    }),

    // Hour-of-day × day-of-week seasonality — the load-shape profile:
    // counts per (dow, hour) cell against the uniform expectation, the
    // ratio being the seasonal factor a capacity planner reads. One
    // map-side-combined aggregate; dow/hour extraction is integer and
    // engine-aligned (ISO dow).
    "q_seasonal_profile" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      val cells = ev.groupBy(col("dow"), col("hod")).agg(count(lit(1)).as("n"))
      val tot = cells.agg(sum(col("n")).as("tn"), count(lit(1)).as("ncells"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hod"), col("n"),
          (col("n").cast("double") * col("ncells").cast("double") /
            col("tn").cast("double")).as("seasonal_factor"))
        .orderBy(col("dow"), col("hod"))
    }),

    // Audience overlap — Jaccard similarity between event types' USER
    // sets (which behaviors share an audience): the corpus collapses to
    // the distinct (type, user) table first, the pair intersection is
    // one user-keyed self-join over that narrow table (fanout = types
    // per user, ≤5), and |A∪B| = |A|+|B|−|A∩B| comes from broadcast
    // set sizes — union is never materialized. Canonical a<b
    // orientation, each pair once.
    "q_audience_overlap" -> ((s, d) => {
      val tu = t(s, d, "events")
        .select(col("event_type").as("et"), col("user_id")).distinct()
      val sizes = tu.groupBy(col("et")).agg(count(lit(1)).as("sz"))
      val inter = tu.as("x").join(tu.as("y"),
          col("x.user_id") === col("y.user_id") && col("x.et") < col("y.et"))
        .groupBy(col("x.et").as("a"), col("y.et").as("b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sizes.select(col("et").as("a"), col("sz").as("sz_a"))), "a")
        .join(broadcast(sizes.select(col("et").as("b"), col("sz").as("sz_b"))), "b")
        .select(col("a"), col("b"), col("n_both"),
          (col("n_both").cast("double") /
            (col("sz_a") + col("sz_b") - col("n_both")).cast("double"))
            .as("jaccard"))
        .orderBy(col("a"), col("b"))
    }),

    // Conversion lag with censoring — the time-to-event profile funnels
    // don't give you: per user, the first signup and the first purchase
    // AT OR AFTER it; users who never convert are counted as censored
    // instead of silently dropped (the survival-analysis discipline).
    // Shape: two conditional min-aggregates, one user-keyed equi-join
    // (the ts ≥ signup condition is a residual predicate inside a
    // fanout-bounded join, never a time-band self-join), then one 1-row
    // summary with integer-µs percentiles over converters only.
    "q_conversion_lag" -> ((s, d) => {
      val ev = t(s, d, "events")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("su_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu_user"), col("ts").as("pu_ts"))
      val lag = su.join(pu,
          col("user_id") === col("pu_user") && col("pu_ts") >= col("su_ts"),
          "left")
        .groupBy(col("user_id"))
        .agg((min(unix_micros(col("pu_ts"))) -
          min(unix_micros(col("su_ts")))).as("lag_us"))
      lag.agg(count(lit(1)).as("n_users"),
        count(col("lag_us")).as("n_converted"),
        sum(when(col("lag_us").isNull, 1L).otherwise(0L)).as("n_censored"),
        expr("percentile(lag_us, 0.5d)").as("med_lag_us"),
        expr("percentile(lag_us, 0.9d)").as("p90_lag_us"))
    }),

    // Cohort LTV curve — cumulative revenue per customer by cohort age:
    // customers grouped by first-order month, revenue accumulated over
    // integer month offsets, normalized by cohort size. The cumulative
    // sum is a window over the (cohort, age) AGGREGATE (cohort-count ×
    // age rows, model-sized), never over raw orders; month arithmetic is
    // integer (y·12+m), so ages are engine-exact. Restricted to cohorts
    // from 2000 onward to keep the reported curve family bounded.
    "q_cohort_ltv" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dec = org.apache.spark.sql.types.DecimalType(38, 6)
      val om = (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
      val o = t(s, d, "orders").select(col("o_custkey"), col("o_totalprice"),
        om.as("om"))
      val cohort = o.groupBy(col("o_custkey").as("ck"))
        .agg(min(col("om")).as("cm"))
        .filter(col("cm") <= 1995 * 12 + 12)
      val sized = cohort.groupBy(col("cm")).agg(count(lit(1)).as("cohort_n"))
      val byAge = o.join(cohort, col("o_custkey") === col("ck"))
        .groupBy(col("cm"), (col("om") - col("cm")).as("age"))
        .agg(Num.dsum(col("o_totalprice")).as("rev"),
          count(lit(1)).as("n_orders"))
        .filter(col("age") <= 24)
      val w = Window.partitionBy(col("cm")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byAge.join(broadcast(sized), "cm")
        .select(col("cm").as("cohort_month"), col("age"), col("n_orders"),
          (sum(col("rev").cast(dec)).over(w).cast("double") /
            col("cohort_n").cast("double")).as("ltv_per_customer"))
        .orderBy(col("cohort_month"), col("age"))
    }),

    // PSI distribution drift — the standard population-stability check a
    // pipeline runs between snapshots before trusting a model: bin the
    // REFERENCE window's value distribution into its own deciles, count
    // both windows into those fixed bins, PSI term = (p−q)·ln(p/q) with
    // Laplace smoothing so an empty current bin cannot emit ±Inf. The
    // reference/current split is the month's own midpoint (snapshot-
    // reproducible); boundaries are ONE array-percentile over the
    // reference slice broadcast back, the rest is two conditional
    // count aggregates. PSI > 0.2 is the conventional alarm.
    "q_psi_drift" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("ts"), col("value"))
      val mid = ev.agg(((min(unix_micros(col("ts"))) +
        max(unix_micros(col("ts")))) / 2).as("mid"))
      val tagged = ev.crossJoin(broadcast(mid))
        .select(col("value"), (unix_micros(col("ts")) < col("mid")).as("is_ref"))
      val qs = (1 to 9).map(i => s"0.${i}d").mkString("array(", ", ", ")")
      val bounds = tagged.filter(col("is_ref"))
        .agg(expr(s"percentile(value, $qs)").as("bs"))
      val bin = (1 to 9).foldLeft(when(lit(false), 0)) { (acc, i) =>
        acc.when(col("value") <= element_at(col("bs"), i), i - 1)
      }.otherwise(9)
      val counts = tagged.crossJoin(broadcast(bounds))
        .select(bin.as("bin"), col("is_ref"))
        .groupBy(col("bin"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
      val tot = counts.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
      val p = (col("n_ref") + 1).cast("double") / (col("tr") + 10).cast("double")
      val q = (col("n_cur") + 1).cast("double") / (col("tc") + 10).cast("double")
      counts.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          ((p - q) * log(p / q)).as("psi_term"))
        .orderBy(col("bin"))
    }),

    // Two-sample Kolmogorov–Smirnov — the binning-free complement to
    // q_psi_drift: D = max over x of |F_A(x) − F_R(x)| between the
    // extendedprice distributions of returned ('R') and accepted ('A')
    // lineitems. PSI needs a bin design and misses drift inside a bin;
    // KS compares the FULL empirical CDFs, at the price of an ordered
    // pass: group by value (map-side combined — the ECDF only moves at
    // distinct values), then both CDFs and their totals are inclusive
    // [[graft.operators.Prefix]] sums over rangeBucket(value) buckets —
    // no task ever sorts the full value column (an ECDF is
    // right-continuous, so the step at x includes x). The statistic
    // stays INTEGER until the exit:
    // D·nA·nR = max|cumA·nR − cumR·nA| in DECIMAL(19,0) products (past
    // 2^53 at 100 TB), one double division at the end, and the 95%
    // rejection verdict from the asymptotic critical value
    // c(.05)=1.358 — every input to that compare is bit-identical
    // IEEE arithmetic in both engines (sqrt is correctly rounded).
    "q_ks_test" -> ((s, d) => {
      val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
      val g = t(s, d, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .groupBy(col("l_extendedprice").as("v"))
        .agg(sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("a_n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r_n"))
        .withColumn("rb", Num.rangeBucket(col("v")))
      Prefix(g, within = Nil, buckets = Seq(Prefix.asc("rb")), order = Seq(col("v")),
          measures = Seq(Prefix.Sum("ca", col("a_n"), total = Some("na")),
            Prefix.Sum("cr", col("r_n"), total = Some("nr"))), inclusive = true)
        .select(col("na"), col("nr"),
          abs(col("ca").cast(d19) * col("nr").cast(d19) -
            col("cr").cast(d19) * col("na").cast(d19))
            .as("diff"))
        .groupBy(col("na"), col("nr"))
        .agg(max(col("diff")).as("dmax"))
        .select(col("na").as("n_a"), col("nr").as("n_r"),
          (col("dmax").cast("double") /
            (col("na").cast("double") * col("nr").cast("double"))).as("d_stat"))
        .withColumn("crit_95", lit(1.358) *
          sqrt((col("n_a") + col("n_r")).cast("double") /
            (col("n_a").cast("double") * col("n_r").cast("double"))))
        .withColumn("reject_95", col("d_stat") > col("crit_95"))
    }),

    // Gini concentration — how unequal is revenue across suppliers (the
    // Lorenz-curve scalar): G = Σ(2i−n−1)·x_i / (n·Σx) over ascending
    // per-supplier revenue. The global rank is a [[graft.operators.Prefix]]
    // rank over [[Num.rangeBucket]] buckets of revenue (exact ties share
    // a bucket), so no task sorts the whole supplier dimension at any
    // scale. Both sums are exact decimals so G is order-independent, ties
    // totalized by (revenue, suppkey).
    "q_gini" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 6)
      val d18 = org.apache.spark.sql.types.DecimalType(18, 6)
      val rev = t(s, d, "lineitem").groupBy(col("l_suppkey"))
        .agg(Num.dsum(col("l_extendedprice")).as("x"))
        .withColumn("rb", Num.rangeBucket(col("x")))
      // x is a dsum output (≤6dp, exact in DECIMAL(18,6)); multiplying
      // the NARROW decimal by the integer rank keeps the product inside
      // DECIMAL(38,6) with no precision cap in either engine
      Prefix(rev, within = Nil, buckets = Seq(Prefix.asc("rb")),
          order = Seq(col("x"), col("l_suppkey")),
          measures = Seq(Prefix.Rank("i")), inclusive = true)
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(d18)).cast("double").as("sx"),
          sum((col("x").cast(d18) * (lit(2) * col("i"))).cast(dec))
            .cast("double").as("s2ix"))
        .select(col("n"),
          ((col("s2ix") - (col("n") + 1).cast("double") * col("sx")) /
            (col("n").cast("double") * col("sx"))).as("gini"))
    }),

    // Exponentially time-decayed engagement score — the recency-weighted
    // ranking primitive (recommendation freshness, user activity
    // scoring): score = Σ value·e^(−λ·age_days), λ = 0.05 ⇒ two-week
    // half-life ≈ events older than a month barely count. The reference
    // instant is the table's own max timestamp (snapshot-reproducible,
    // no wall clock); each term is decimal-cast BEFORE the sum so the
    // result is order-independent despite the float exp. Pure map work
    // plus one user-keyed aggregate.
    "q_decay_score" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(28, 12)
      val ev = t(s, d, "events").select(col("user_id"), col("ts"), col("value"))
      val ref = ev.agg(max(col("ts")).as("ref"))
      val age = (unix_micros(col("ref")) - unix_micros(col("ts")))
        .cast("double") / lit(86400.0e6)
      ev.crossJoin(broadcast(ref))
        .select(col("user_id"),
          (col("value") * exp(lit(-0.05) * age)).cast(dec).as("term"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("term")).cast("double").as("score"))
        .orderBy(col("user_id"))
    }),

    // Lag/rolling feature engineering — the feature-store shape: per
    // user, previous values and a trailing mean from ONE partitioned
    // sort window (lag-1, lag-2, rolling mean over the last 3 rows).
    // Every feature shares the single user_id shuffle+sort; the rolling
    // mean sums exactly 3 doubles in frame order, so it is
    // engine-identical without the decimal detour. Restricted to a
    // deterministic user slice to keep the materialized sample bounded —
    // the full-corpus variant is the same plan.
    "q_lag_features" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val roll = w.rowsBetween(-2, Window.currentRow)
      t(s, d, "events")
        .filter(col("user_id") % 50 === 0)
        .select(col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("value_lag1"),
          lag(col("value"), 2).over(w).as("value_lag2"),
          (sum(col("value")).over(roll) /
            count(lit(1)).over(roll).cast("double")).as("value_roll3"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Leave-one-out target encoding — the categorical-encoding shape ML
    // pipelines run before training: each row's category score is the
    // mean target of every OTHER row in its category, (sum - value) /
    // (n - 1), so the row never sees its own label (the leakage the
    // naive mean encoding has). One broadcast stats aggregate + pure map
    // work; the exact decimal sum makes (sum - value) engine-identical.
    "q_target_encode" -> ((s, d) => {
      val e = t(s, d, "events").select(col("event_id"), col("event_type"),
        col("value"))
      val stats = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("value")).as("s"))
        .filter(col("n") >= 2)
      e.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          ((col("s") - col("value")) / (col("n") - 1).cast("double"))
            .as("loo_mean"))
        .orderBy(col("event_id"))
    }),

    // Event-type transition matrix — the Markov view of user journeys
    // (which step follows which): one user_id-partitioned sort window
    // produces (current, next) pairs via lead, then two model-sized
    // aggregates give counts and row-conditional probabilities. The
    // funnel asks "did the canonical path happen"; this asks what ALL
    // the paths are. The per-row probability is a long/long double
    // division — engine-identical; last events have no successor and
    // drop by definition.
    "q_markov_transitions" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = t(s, d, "events")
        .select(col("event_type").as("cur"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("cur").as("c2")).agg(sum(col("n")).as("tot"))
      pairs.join(broadcast(totals), col("cur") === col("c2"))
        .select(col("cur"), col("nxt"), col("n"),
          (col("n").cast("double") / col("tot").cast("double")).as("p"))
        .orderBy(col("cur"), col("nxt"))
    }),

    // Winsorized aggregates — the robust-sum companion to the outlier
    // detectors: instead of DROPPING extreme rows, clip them to the
    // per-group [p05, p95] band so totals stay defined over every row
    // (the standard treatment for fat-tailed value columns before
    // training-weight computation). One percentile pass per group
    // (tiny, broadcast back), then the clipped sum is the usual exact
    // decimal aggregate over one more pass — the clip itself is
    // GREATEST/LEAST map work, bit-identical across engines because
    // both operands are doubles both engines computed the same way.
    "q_winsorize" -> ((s, d) => {
      val e = t(s, d, "events").select(col("event_type"), col("value"))
      val b = e.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.05d)").as("lo"),
          expr("percentile(value, 0.95d)").as("hi"))
      e.join(broadcast(b), "event_type")
        .groupBy(col("event_type"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          Num.dsum(col("value")).as("raw_sum"),
          Num.dsum(greatest(col("lo"), least(col("hi"), col("value"))))
            .as("wins_sum"))
        .select(col("event_type"), col("n"), col("raw_sum"),
          col("wins_sum"), col("lo"), col("hi"))
        .orderBy(col("event_type"))
    }),

    // Inter-arrival statistics — the event-cadence profile: per-user
    // gaps from ONE user_id-partitioned sort window (lag), then
    // model-sized percentile aggregates per event type. Integer
    // microsecond gaps, so the interpolated median/p95 are identical
    // across engines; the first event per user has no gap and is
    // excluded by definition.
    "q_interarrival" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("event_type"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
            .as("gap"))
        .filter(col("gap").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          expr("percentile(gap, 0.5d)").as("med_gap_us"),
          expr("percentile(gap, 0.95d)").as("p95_gap_us"),
          max(col("gap")).as("max_gap_us"))
        .orderBy(col("event_type"))
    }),

    // Robust-statistics twin of q_outlier_zscore: median / MAD instead
    // of mean / stddev, so a handful of extreme values cannot drag the
    // threshold toward themselves (the z-score's classic failure — the
    // outliers mask each other). Two exact interpolated percentiles per
    // group (tiny, broadcast back) and per-row absolute deviations in
    // between; flagged rows carry adev and mad, not their ratio, so a
    // zero-MAD group cannot produce cross-engine Inf artifacts. At
    // 100 TB swap the exact percentile for approx_percentile (mergeable
    // sketch) — the plan shape is identical, demonstrated by the
    // q_histogram_eqdepth_approx twin.
    "q_mad_outlier" -> ((s, d) => {
      val e = t(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val med = e.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5d)").as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type").as("et2"))
        .agg(expr("percentile(adev, 0.5d)").as("mad"))
      dev.join(broadcast(mad), col("event_type") === col("et2"))
        .filter(col("adev") > lit(3.0) * col("mad"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("adev"), col("mad"))
        .orderBy(col("event_id"))
    }),

    "q_outlier_zscore" -> ((s, d) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 6)
      val e = t(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val nd = col("n").cast("double")
      val stats = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(d38)).cast("double").as("sx"),
          sum((col("value") * col("value")).cast(d38)).cast("double").as("sxx"))
        .select(col("event_type"), col("n"), (col("sx") / nd).as("mean_v"),
          sqrt((col("sxx") - col("sx") * col("sx") / nd) / (nd - 1)).as("std_v"))
        // n = 1 (std undefined) or an all-equal group (std 0) would make z
        // NaN/Inf — and NaN COMPARES differently across engines (greater
        // than everything in some, unordered in others). Scoring is only
        // defined where a spread exists; both engines drop the rest.
        .filter(col("n") >= 2 && col("std_v") > 0.0)
      val z = (col("value") - col("mean_v")) / col("std_v")
      e.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          z.as("z"), (abs(z) > 2.5).as("is_outlier"))
        .orderBy(col("event_id"))
    }),

    // Fixed-width histogram (20 bins over the global value range) per
    // event type, empty bins zero-filled — the distribution profile a
    // data-quality dashboard reads. Bin assignment is one map pass
    // against the broadcast (lo, hi) scalar; the dense types×bins
    // scaffold is model-sized (the q_resample discipline). The top bin
    // is closed ([lo+19w, hi]) via least(), matching the oracle exactly.
    "q_histogram" -> ((s, d) => {
      val e = t(s, d, "events").select(col("event_type"), col("value"))
      val b = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      // hi = lo (an all-equal shard) would make the bin width 0 and the
      // assignment NaN — and NaN orders DIFFERENTLY across engines; pin
      // the degenerate case to bin 0 in both.
      val agg = e.crossJoin(broadcast(b))
        .select(col("event_type"),
          when(col("hi") === col("lo"), lit(0.0))
            .otherwise(least(floor((col("value") - col("lo")) /
              ((col("hi") - col("lo")) / 20.0)), lit(19.0))).cast("long").as("bin"))
        .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("n"))
      val types = e.select(col("event_type")).distinct()
      val bins = s.range(0, 20).toDF("bin")
      types.crossJoin(bins)
        .join(agg, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("event_type"), col("bin"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // Round-trip is identity over the source table.
    "q_dataset_roundtrip" ->
      "SELECT doc_id, text, n_chars FROM documents ORDER BY doc_id",

    // the layout is invisible to semantics: the oracle filters the raw
    // table — hash equality proves the Z-order re-layout lossless
    "q_zorder_scan" ->
      s"""SELECT l_suppkey, COUNT(*) AS n,
         |  ${Num.sqlDsum("l_extendedprice")} AS rev
         |FROM lineitem
         |WHERE l_partkey <= 200 AND l_suppkey <= 40
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bucketing is invisible to semantics: the oracle joins the raw
    // tables — hash equality proves the bucketed write/read lossless
    "q_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${Num.sqlDsum("l_extendedprice")} AS rev
         |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // same exact decimal-sum moment math as q_outlier_zscore, over the
    // calendar-sized day-delta table
    "q_runtime_filter" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         |  ${Num.sqlDsum("l_extendedprice")} AS rev
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dpp_scan" ->
      s"""WITH m AS (
         |  SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS mm
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
         |    AND l_shipdate < TIMESTAMP '1995-04-01')
         |SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
         |  COUNT(*) AS n_orders,
         |  ${Num.sqlDsum("o_totalprice")} AS rev
         |FROM orders JOIN m ON strftime(o_orderdate, '%Y-%m') = mm
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_changepoint" ->
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        |daily AS (SELECT date_trunc('day', ts) AS day,
        |            CAST(COUNT(*) AS BIGINT) AS x
        |          FROM ev GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |               CAST(SUM(x) AS BIGINT) AS sx FROM daily),
        |wk AS (SELECT day, x,
        |    SUM(x) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        |  FROM daily),
        |s AS (SELECT day, CAST(cum AS BIGINT) AS cum, t, n, sx,
        |    CAST(cum AS DOUBLE) - CAST(t AS DOUBLE)
        |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS s_t
        |  FROM wk, tot WHERE t < n),
        |mx AS (SELECT MAX(ABS(s_t)) AS mx FROM s),
        |cp AS (SELECT day, t, cum, s_t, n, sx FROM s, mx
        |       WHERE ABS(s_t) = mx ORDER BY day LIMIT 1)
        |SELECT day AS cp_day, n AS n_days, s_t AS s_max,
        |  CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS mean_before,
        |  CAST(sx - cum AS DOUBLE) / CAST(n - t AS DOUBLE) AS mean_after,
        |  CAST(sx - cum AS DOUBLE) / CAST(n - t AS DOUBLE)
        |    - CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS shift
        |FROM cp""".stripMargin,

    "q_volume_anomaly" ->
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        |daily AS (SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events
        |          FROM ev GROUP BY 1),
        |del AS (SELECT day, n_events,
        |          CAST(n_events - LAG(n_events) OVER (ORDER BY day)
        |            AS DOUBLE) AS delta
        |        FROM daily),
        |d2 AS (SELECT * FROM del WHERE delta IS NOT NULL),
        |m AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(CAST(delta AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST((delta * delta) AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |  FROM d2),
        |st AS (SELECT sx / CAST(n AS DOUBLE) AS mean_d,
        |    sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
        |      / (CAST(n AS DOUBLE) - 1)) AS std_d
        |  FROM m WHERE n >= 2),
        |stv AS (SELECT * FROM st WHERE std_d > 0.0)
        |SELECT day, n_events, delta,
        |  (delta - mean_d) / std_d AS z,
        |  (abs((delta - mean_d) / std_d) > 3.0) AS is_anomaly
        |FROM d2, stv ORDER BY day""".stripMargin,

    // KM building blocks are integer-exact; hazard is the one division
    "q_survival_km" ->
      """WITH span AS (
        |  SELECT user_id,
        |    CAST(MIN(date_trunc('day', ts)) AS DATE) AS first_day,
        |    CAST(MAX(date_trunc('day', ts)) AS DATE) AS last_day
        |  FROM events GROUP BY 1),
        |hist AS (
        |  SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT)
        |           AS lifetime_d,
        |    CAST(SUM(CASE WHEN date_diff('day', last_day,
        |        (SELECT MAX(last_day) FROM span)) >= 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
        |    CAST(SUM(CASE WHEN date_diff('day', last_day,
        |        (SELECT MAX(last_day) FROM span)) >= 1
        |      THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
        |  FROM span GROUP BY 1)
        |SELECT lifetime_d,
        |  CAST(SUM(n_churned + n_censored) OVER (ORDER BY lifetime_d DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_at_risk,
        |  n_churned, n_censored,
        |  CAST(n_churned AS DOUBLE)
        |    / CAST(SUM(n_churned + n_censored) OVER (ORDER BY lifetime_d DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS hazard
        |FROM hist ORDER BY lifetime_d""".stripMargin,

    // format is invisible to semantics: the oracle reads the raw parquet
    // table — hash equality proves the ORC write/read lossless
    "q_orc_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  ${Num.sqlDsum("l_extendedprice")} AS rev
         |FROM lineitem
         |WHERE l_returnflag = 'R' AND l_quantity >= 30
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // format is invisible to semantics: the oracle reads the raw parquet
    // table — hash equality proves the CSV text round-trip lossless
    "q_csv_roundtrip" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${Num.sqlDsum("o_totalprice")} AS rev,
         |  MAX(o_orderdate) AS last_order
         |FROM orders
         |WHERE o_orderstatus = 'F' AND o_totalprice >= 100000.0
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // v1 rows predate lang/n_chars → NULL; v2 rows carry them.
    "q_dataset_versions" ->
      """SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang,
        |  CAST(NULL AS BIGINT) AS n_chars, 1 AS version
        |FROM documents WHERE n_chars % 2 = 0
        |UNION ALL
        |SELECT doc_id, text, lang, n_chars, 2 AS version
        |FROM documents WHERE n_chars % 2 <> 0
        |ORDER BY doc_id""".stripMargin,

    "q_tumbling_window" ->
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, event_type,
         |  COUNT(*) AS n, ${Num.sqlDsum("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    // All event-time oracles compare/order raw ts inside their CTEs; the
    // Spark loader truncates parquet TIMESTAMP_NS to µs, so DuckDB must
    // compare the SAME µs-truncated values or sub-µs deltas flip strict
    // inequalities and ordering ties — hence the `ev` base CTE casting ts
    // to TIMESTAMP (µs) BEFORE any comparison, not just in the final
    // projection.
    "q_sessionize" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         |l AS (
         |  SELECT user_id, event_id, ts, value,
         |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ev),
         |f AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
         |                 THEN 1 ELSE 0 END AS new_sess
         |  FROM l),
         |s AS (
         |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
         |  FROM f)
         |SELECT user_id, session_num, COUNT(*) AS n_events,
         |  CAST(MIN(ts) AS TIMESTAMP) AS first_ts,
         |  CAST(MAX(ts) AS TIMESTAMP) AS last_ts,
         |  ${Num.sqlDsum("value")} AS total_value
         |FROM s GROUP BY user_id, session_num
         |ORDER BY user_id, session_num""".stripMargin,

    // Integer epoch-week indices on both sides; DuckDB's // is floor
    // division on positive epochs, same as Spark's long division here.
    "q_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS BIGINT) AS wk
        |  FROM events),
        |coh AS (
        |  SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY 1)
        |SELECT cohort_wk, wk - cohort_wk AS week_offset,
        |  CAST(COUNT(DISTINCT act.user_id) AS BIGINT) AS n_users
        |FROM act JOIN coh ON act.user_id = coh.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same gap-cut as q_sessionize (the boundary probe above pins the
    // merge-at-equality semantics); win_end = MAX(ts) + gap.
    "q_session_window" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         |l AS (
         |  SELECT user_id, event_id, ts, value,
         |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM ev),
         |f AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
         |                 THEN 1 ELSE 0 END AS new_sess
         |  FROM l),
         |s AS (
         |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS UNBOUNDED PRECEDING) AS session_num
         |  FROM f)
         |SELECT user_id,
         |  CAST(MIN(ts) AS TIMESTAMP) AS win_start,
         |  CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS win_end,
         |  COUNT(*) AS n_events, ${Num.sqlDsum("value")} AS total_value
         |FROM s GROUP BY user_id, session_num
         |ORDER BY user_id, win_start""".stripMargin,

    "q_window_timerange" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  COUNT(*) OVER w AS n_10m,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_10m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // Equivalent window-carry SQL (DuckDB's native ASOF JOIN has an
    // unspecified tiebreak among equal timestamps; the window form pins
    // (ts, event_id) in both engines).
    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS last_click_id,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS last_click_ts
        |  FROM ev)
        |SELECT event_id AS purchase_id, user_id,
        |  CAST(ts AS TIMESTAMP) AS purchase_ts,
        |  last_click_id, CAST(last_click_ts AS TIMESTAMP) AS last_click_ts
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,

    // Same (ts, event_id) total order as Spark's window; integer
    // microsecond diffs make the tie decision engine-exact.
    "q_asof_nearest" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS prev_id,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS prev_ts,
        |    FIRST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_id,
        |    FIRST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
        |  FROM ev),
        |p AS (
        |  SELECT event_id AS purchase_id, user_id, prev_id, next_id,
        |    epoch_us(ts) - epoch_us(prev_ts) AS pd,
        |    epoch_us(next_ts) - epoch_us(ts) AS nd,
        |    (next_ts IS NULL OR (prev_ts IS NOT NULL
        |       AND epoch_us(ts) - epoch_us(prev_ts) <= epoch_us(next_ts) - epoch_us(ts)))
        |      AS take_prev
        |  FROM w WHERE event_type = 'purchase')
        |SELECT purchase_id, user_id,
        |  CASE WHEN take_prev THEN prev_id ELSE next_id END AS nearest_click_id,
        |  CASE WHEN take_prev THEN pd ELSE nd END AS diff_us
        |FROM p ORDER BY purchase_id""".stripMargin,

    "q_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, MIN(ts) AS v_ts FROM ev
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM ev e
        |      JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM ev e
        |      JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
        |SELECT v.user_id, CAST(v_ts AS TIMESTAMP) AS v_ts,
        |  CAST(c_ts AS TIMESTAMP) AS c_ts, CAST(p_ts AS TIMESTAMP) AS p_ts,
        |  CAST(CASE WHEN p_ts IS NOT NULL THEN 3
        |            WHEN c_ts IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS stage
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q_scd2" ->
      """WITH ev AS (SELECT user_id, event_id, value, event_type,
        |                   CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT user_id, event_id, value,
        |  ts AS valid_from,
        |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
        |    AS is_current
        |FROM ev WHERE event_type = 'purchase'
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    // same SCD2 interval construction (ts, event_id tie rule) on both
    // engines; each click matches exactly one validity interval
    "q_pit_join" ->
      """WITH ev AS (SELECT event_id, user_id, value,
        |              CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |dim AS (SELECT user_id, value AS feat_value, ts AS valid_from,
        |          LEAD(ts) OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id) AS valid_to
        |        FROM ev WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        |      FROM ev WHERE event_type = 'click')
        |SELECT c.click_id, c.user_id, c.click_ts, d.feat_value,
        |  d.valid_from AS feat_asof
        |FROM c LEFT JOIN dim d ON d.user_id = c.user_id
        |  AND c.click_ts >= d.valid_from
        |  AND (d.valid_to IS NULL OR c.click_ts < d.valid_to)
        |ORDER BY click_id""".stripMargin,

    "q_interval_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, value,
        |                   CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT p.user_id AS user_id, p.event_id AS purchase_id,
        |  c.event_id AS click_id,
        |  p.ts AS purchase_ts,
        |  c.ts AS click_ts, p.value AS value
        |FROM ev p
        |JOIN ev c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.user_id = p.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 10 MINUTE
        |ORDER BY purchase_id, click_id""".stripMargin,

    // Each event's two epoch-aligned candidate starts materialized
    // explicitly (slide 30 min, width 1 h ⇒ both always contain ts).
    "q_hopping_window" ->
      s"""WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value
         |            FROM events),
         |w AS (SELECT event_type, value,
         |        UNNEST([make_timestamp((epoch_us(ts) // 1800000000) * 1800000000),
         |                make_timestamp((epoch_us(ts) // 1800000000) * 1800000000
         |                               - 1800000000)]) AS win_start
         |      FROM ev)
         |SELECT win_start, event_type, COUNT(*) AS n,
         |  ${Num.sqlDsum("value")} AS sum_value
         |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    "q_resample" ->
      s"""WITH e AS (SELECT event_type,
         |             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
         |           FROM events),
         |agg AS (SELECT event_type, h, COUNT(*) AS n,
         |          ${Num.sqlDsum("value")} AS sum_value
         |        FROM e GROUP BY 1, 2),
         |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e),
         |hours AS (SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         |          FROM b),
         |ty AS (SELECT DISTINCT event_type FROM e)
         |SELECT ty.event_type, hours.h AS win_start,
         |  COALESCE(n, 0) AS n, COALESCE(sum_value, 0.0) AS sum_value
         |FROM hours CROSS JOIN ty
         |LEFT JOIN agg ON agg.event_type = ty.event_type AND agg.h = hours.h
         |ORDER BY 1, 2""".stripMargin,

    // Same grid as q_resample; the carry is IGNORE NULLS last_value over
    // the per-type ordered grid — identical unbounded-preceding frame.
    "q_resample_locf" ->
      s"""WITH e AS (SELECT event_type,
         |             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
         |           FROM events),
         |agg AS (SELECT event_type, h, COUNT(*) AS n,
         |          ${Num.sqlDsum("value")} AS sum_value
         |        FROM e GROUP BY 1, 2),
         |b AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM e),
         |hours AS (SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         |          FROM b),
         |ty AS (SELECT DISTINCT event_type FROM e),
         |grid AS (SELECT ty.event_type, hours.h AS win_start,
         |           COALESCE(n, 0) AS n, sum_value
         |         FROM hours CROSS JOIN ty
         |         LEFT JOIN agg ON agg.event_type = ty.event_type AND agg.h = hours.h)
         |SELECT event_type, win_start, n,
         |  last_value(sum_value IGNORE NULLS) OVER (
         |    PARTITION BY event_type ORDER BY win_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
         |FROM grid ORDER BY 1, 2""".stripMargin,

    "q_freshness" ->
      """WITH per AS (SELECT event_type, MAX(epoch_us(ts)) AS max_us,
        |         COUNT(*) AS n_events
        |       FROM events GROUP BY 1),
        |hw AS (SELECT MAX(epoch_us(ts)) AS hw_us FROM events)
        |SELECT event_type, n_events,
        |  CAST((hw_us - max_us) // 3600000000 AS BIGINT) AS lag_hours,
        |  ((hw_us - max_us) // 3600000000 >= 24) AS stale
        |FROM per, hw ORDER BY event_type""".stripMargin,

    // same tombstone rule (md5 first hex char '0'); per-table census
    // replayed with EXISTS semi/anti semantics
    "q_gdpr_erasure" ->
      """WITH subj AS (
        |  SELECT c_custkey AS k FROM customer
        |  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'),
        |sord AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE EXISTS (SELECT 1 FROM subj WHERE subj.k = o_custkey))
        |SELECT 'customer' AS tbl,
        |  (SELECT COUNT(*) FROM customer) AS rows_total,
        |  (SELECT COUNT(*) FROM customer
        |   WHERE EXISTS (SELECT 1 FROM subj WHERE subj.k = c_custkey)) AS rows_linked,
        |  (SELECT COUNT(*) FROM customer
        |   WHERE NOT EXISTS (SELECT 1 FROM subj WHERE subj.k = c_custkey)) AS rows_after,
        |  (SELECT COUNT(*) FROM customer
        |   WHERE NOT EXISTS (SELECT 1 FROM subj WHERE subj.k = c_custkey)
        |     AND EXISTS (SELECT 1 FROM subj WHERE subj.k = c_custkey)) AS residual
        |UNION ALL SELECT 'events',
        |  (SELECT COUNT(*) FROM events),
        |  (SELECT COUNT(*) FROM events
        |   WHERE EXISTS (SELECT 1 FROM subj WHERE subj.k = user_id)),
        |  (SELECT COUNT(*) FROM events
        |   WHERE NOT EXISTS (SELECT 1 FROM subj WHERE subj.k = user_id)),
        |  (SELECT COUNT(*) FROM events
        |   WHERE NOT EXISTS (SELECT 1 FROM subj WHERE subj.k = user_id)
        |     AND EXISTS (SELECT 1 FROM subj WHERE subj.k = user_id))
        |UNION ALL SELECT 'lineitem',
        |  (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE EXISTS (SELECT 1 FROM sord WHERE sord.k = l_orderkey)),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE NOT EXISTS (SELECT 1 FROM sord WHERE sord.k = l_orderkey)),
        |  (SELECT COUNT(*) FROM lineitem
        |   WHERE NOT EXISTS (SELECT 1 FROM sord WHERE sord.k = l_orderkey)
        |     AND EXISTS (SELECT 1 FROM sord WHERE sord.k = l_orderkey))
        |UNION ALL SELECT 'orders',
        |  (SELECT COUNT(*) FROM orders),
        |  (SELECT COUNT(*) FROM orders
        |   WHERE EXISTS (SELECT 1 FROM subj WHERE subj.k = o_custkey)),
        |  (SELECT COUNT(*) FROM orders
        |   WHERE NOT EXISTS (SELECT 1 FROM subj WHERE subj.k = o_custkey)),
        |  (SELECT COUNT(*) FROM orders
        |   WHERE NOT EXISTS (SELECT 1 FROM subj WHERE subj.k = o_custkey)
        |     AND EXISTS (SELECT 1 FROM subj WHERE subj.k = o_custkey))
        |ORDER BY tbl""".stripMargin,

    // Same moment factorization and double-op order as the Spark side.
    "q_ingest_completeness" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |cal AS (
        |  SELECT UNNEST(generate_series(
        |    (SELECT MIN(day) FROM daily), (SELECT MAX(day) FROM daily),
        |    INTERVAL 1 DAY)) AS day),
        |med AS (SELECT quantile_cont(n, 0.5) AS med FROM daily)
        |SELECT cal.day, COALESCE(n, 0) AS n,
        |  n IS NULL AS is_missing,
        |  CAST(COALESCE(n, 0) AS DOUBLE) < med * 0.5 AS is_low
        |FROM cal LEFT JOIN daily ON cal.day = daily.day, med
        |ORDER BY cal.day""".stripMargin,

    "q_stickiness" ->
      """WITH du AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |dau AS (SELECT day AS w, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM du GROUP BY 1),
        |wau AS (
        |  SELECT d.day AS w, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
        |  FROM days d JOIN du
        |    ON du.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |  GROUP BY 1)
        |SELECT dau.w AS day, dau, wau,
        |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau ON dau.w = wau.w
        |ORDER BY day""".stripMargin,

    "q_benford" ->
      """WITH c AS (
        |  SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) AS d,
        |         COUNT(*) AS n
        |  FROM orders
        |  WHERE CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT)
        |        BETWEEN 1 AND 9
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM c)
        |SELECT d, n,
        |  ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) * CAST(tn AS DOUBLE)
        |    AS expected,
        |  (CAST(n AS DOUBLE)
        |     - ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) * CAST(tn AS DOUBLE))
        |  * (CAST(n AS DOUBLE)
        |     - ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) * CAST(tn AS DOUBLE))
        |  / (ln(1.0 + 1.0 / CAST(d AS DOUBLE)) / ln(10.0) * CAST(tn AS DOUBLE))
        |    AS chi2_term
        |FROM c, tot ORDER BY d""".stripMargin,

    "q_seasonal_profile" ->
      """WITH cells AS (
        |  SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |         CAST(hour(ts) AS INT) AS hod, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, COUNT(*) AS ncells FROM cells)
        |SELECT dow, hod, n,
        |  CAST(n AS DOUBLE) * CAST(ncells AS DOUBLE) / CAST(tn AS DOUBLE)
        |    AS seasonal_factor
        |FROM cells, tot ORDER BY dow, hod""".stripMargin,

    "q_audience_overlap" ->
      """WITH tu AS (
        |  SELECT DISTINCT event_type AS et, user_id FROM events),
        |sz AS (SELECT et, COUNT(*) AS sz FROM tu GROUP BY 1),
        |inter AS (
        |  SELECT x.et AS a, y.et AS b, COUNT(*) AS n_both
        |  FROM tu x JOIN tu y ON x.user_id = y.user_id AND x.et < y.et
        |  GROUP BY 1, 2)
        |SELECT a, b, n_both,
        |  CAST(n_both AS DOUBLE) / CAST(sa.sz + sb.sz - n_both AS DOUBLE)
        |    AS jaccard
        |FROM inter JOIN sz sa ON a = sa.et JOIN sz sb ON b = sb.et
        |ORDER BY a, b""".stripMargin,

    "q_conversion_lag" ->
      """WITH su AS (
        |  SELECT user_id, MIN(ts) AS su_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |lag AS (
        |  SELECT su.user_id,
        |    MIN(epoch_us(p.ts)) - MIN(epoch_us(su.su_ts)) AS lag_us
        |  FROM su LEFT JOIN events p
        |    ON p.user_id = su.user_id AND p.event_type = 'purchase'
        |   AND p.ts >= su.su_ts
        |  GROUP BY 1)
        |SELECT COUNT(*) AS n_users,
        |  COUNT(lag_us) AS n_converted,
        |  CAST(SUM(CASE WHEN lag_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_censored,
        |  quantile_cont(lag_us, 0.5) AS med_lag_us,
        |  quantile_cont(lag_us, 0.9) AS p90_lag_us
        |FROM lag""".stripMargin,

    "q_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey, o_totalprice,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS om
        |  FROM orders),
        |cohort AS (
        |  SELECT o_custkey AS ck, MIN(om) AS cm FROM o GROUP BY 1
        |  HAVING MIN(om) <= 1995 * 12 + 12),
        |sized AS (SELECT cm, COUNT(*) AS cohort_n FROM cohort GROUP BY 1),
        |byage AS (
        |  SELECT cm, om - cm AS age,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev,
        |    COUNT(*) AS n_orders
        |  FROM o JOIN cohort ON o_custkey = ck GROUP BY 1, 2
        |  HAVING om - cm <= 24)
        |SELECT byage.cm AS cohort_month, age, n_orders,
        |  CAST(SUM(CAST(rev AS DECIMAL(38,6)))
        |       OVER (PARTITION BY byage.cm ORDER BY age
        |             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(cohort_n AS DOUBLE) AS ltv_per_customer
        |FROM byage JOIN sized ON byage.cm = sized.cm
        |ORDER BY cohort_month, age""".stripMargin,

    "q_psi_drift" -> {
      val binCase = (1 to 9).map(i =>
        s"WHEN value <= bs[$i] THEN ${i - 1}").mkString(
        "CASE ", " ", "ELSE 9 END")
      s"""WITH mid AS (
         |  SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) / 2 AS mid FROM events),
         |tagged AS (
         |  SELECT value, epoch_us(ts) < mid AS is_ref FROM events, mid),
         |b AS (
         |  SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
         |  FROM tagged WHERE is_ref),
         |counts AS (
         |  SELECT $binCase AS bin,
         |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
         |  FROM tagged, b GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
         |               CAST(SUM(n_cur) AS BIGINT) AS tc FROM counts)
         |SELECT bin, n_ref, n_cur,
         |  ((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)
         |    - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))
         |   * ln((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE))
         |        / (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))))
         |    AS psi_term
         |FROM counts, tot ORDER BY bin""".stripMargin
    },

    "q_ks_test" -> {
      """WITH g AS (SELECT l_extendedprice AS v,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a_n,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r_n
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
        |c AS (SELECT
        |        SUM(a_n) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |        SUM(r_n) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr
        |      FROM g),
        |tot AS (SELECT CAST(SUM(a_n) AS BIGINT) AS na,
        |               CAST(SUM(r_n) AS BIGINT) AS nr FROM g),
        |m AS (SELECT na, nr,
        |        MAX(ABS(CAST(ca AS DECIMAL(19,0)) * CAST(nr AS DECIMAL(19,0))
        |          - CAST(cr AS DECIMAL(19,0)) * CAST(na AS DECIMAL(19,0)))) AS dmax
        |      FROM c, tot GROUP BY na, nr)
        |SELECT na AS n_a, nr AS n_r,
        |  CAST(dmax AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nr AS DOUBLE)) AS d_stat,
        |  1.358 * sqrt(CAST(na + nr AS DOUBLE)
        |    / (CAST(na AS DOUBLE) * CAST(nr AS DOUBLE))) AS crit_95,
        |  CAST(dmax AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nr AS DOUBLE))
        |    > 1.358 * sqrt(CAST(na + nr AS DOUBLE)
        |        / (CAST(na AS DOUBLE) * CAST(nr AS DOUBLE))) AS reject_95
        |FROM m""".stripMargin
    },

    "q_gini" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS x
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT x,
        |        CAST(row_number() OVER (ORDER BY x, l_suppkey) AS BIGINT) AS i
        |      FROM rev),
        |a AS (SELECT COUNT(*) AS n,
        |        CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |        CAST(SUM(CAST(CAST(x AS DECIMAL(18,6)) * (2 * i)
        |                 AS DECIMAL(38,6))) AS DOUBLE) AS s2ix
        |      FROM r)
        |SELECT n, (s2ix - CAST(n + 1 AS DOUBLE) * sx)
        |          / (CAST(n AS DOUBLE) * sx) AS gini
        |FROM a""".stripMargin,

    "q_decay_score" ->
      """WITH ref AS (SELECT MAX(ts) AS ref FROM events)
        |SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value * exp(-0.05 *
        |    (CAST(epoch_us(ref) - epoch_us(ts) AS DOUBLE) / 86400000000.0))
        |    AS DECIMAL(28,12))) AS DOUBLE) AS score
        |FROM events, ref
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_lag_features" ->
      """SELECT user_id, event_id, value,
        |  lag(value, 1) OVER w AS value_lag1,
        |  lag(value, 2) OVER w AS value_lag2,
        |  SUM(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |    / CAST(COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |           AS DOUBLE) AS value_roll3
        |FROM events WHERE user_id % 50 = 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_target_encode" ->
      s"""WITH stats AS (
         |  SELECT event_type, COUNT(*) AS n, ${graft.Num.sqlDsum("value")} AS s
         |  FROM events GROUP BY 1 HAVING COUNT(*) >= 2)
         |SELECT event_id, e.event_type,
         |  (s - value) / CAST(n - 1 AS DOUBLE) AS loo_mean
         |FROM events e JOIN stats USING (event_type)
         |ORDER BY event_id""".stripMargin,

    "q_markov_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS nxt
        |  FROM events),
        |c AS (SELECT cur, nxt, COUNT(*) AS n FROM p
        |      WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT cur AS c2, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT cur, nxt, n,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
        |FROM c JOIN t ON cur = c2
        |ORDER BY cur, nxt""".stripMargin,

    "q_winsorize" ->
      s"""WITH b AS (
         |  SELECT event_type, quantile_cont(value, 0.05) AS lo,
         |         quantile_cont(value, 0.95) AS hi
         |  FROM events GROUP BY 1)
         |SELECT e.event_type, COUNT(*) AS n,
         |  ${graft.Num.sqlDsum("value")} AS raw_sum,
         |  ${graft.Num.sqlDsum("GREATEST(lo, LEAST(hi, value))")} AS wins_sum,
         |  lo, hi
         |FROM events e JOIN b USING (event_type)
         |GROUP BY 1, lo, hi ORDER BY 1""".stripMargin,

    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  quantile_cont(gap, 0.5) AS med_gap_us,
        |  quantile_cont(gap, 0.95) AS p95_gap_us,
        |  MAX(gap) AS max_gap_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_mad_outlier" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_id, e.event_type, e.value, med.med,
        |    abs(e.value - med.med) AS adev
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT event_id, dev.event_type, value, med, adev, mad
        |FROM dev JOIN mad USING (event_type)
        |WHERE adev > 3.0 * mad
        |ORDER BY event_id""".stripMargin,

    "q_outlier_zscore" ->
      """WITH m AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST((value * value) AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY 1),
        |st AS (SELECT event_type, sx / CAST(n AS DOUBLE) AS mean_v,
        |    sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS std_v
        |  FROM m WHERE n >= 2)
        |, stv AS (SELECT * FROM st WHERE std_v > 0.0)
        |SELECT event_id, e.event_type, value,
        |  (value - mean_v) / std_v AS z,
        |  (abs((value - mean_v) / std_v) > 2.5) AS is_outlier
        |FROM events e JOIN stv ON e.event_type = stv.event_type
        |ORDER BY event_id""".stripMargin,

    "q_histogram" ->
      """WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
        |bi AS (SELECT event_type,
        |         CAST(CASE WHEN hi = lo THEN 0.0
        |              ELSE LEAST(FLOOR((value - lo) / ((hi - lo) / 20.0)), 19.0)
        |              END AS BIGINT) AS bin
        |       FROM events, b),
        |agg AS (SELECT event_type, bin, COUNT(*) AS n FROM bi GROUP BY 1, 2),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |bins AS (SELECT UNNEST(range(0, 20)) AS bin)
        |SELECT ty.event_type, bins.bin, COALESCE(n, 0) AS n
        |FROM ty CROSS JOIN bins
        |LEFT JOIN agg ON agg.event_type = ty.event_type AND agg.bin = bins.bin
        |ORDER BY 1, 2""".stripMargin
  )
}
