package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness-gated queries for the analytic core (SURVEY.md §2.1 scans,
  * §2.3 joins, §2.4 aggregations, §2.5 windows, §2.6 set ops). Each entry
  * has a DuckDB oracle with matching column names and ORDER BY.
  */
object AnalyticsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3/P1: parquet scan with projection + pushed-down date predicate.
    // .explain must show ReadSchema limited to 5 columns and PushedFilters.
    "s3_p1_scan_project" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), to_date(col("l_shipdate")).as("ship_date"))
        .filter(col("ship_date") < lit("1996-06-01").cast("date"))
        .withColumn("ship_date", col("ship_date").cast("string"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // J1: fact ⋈ broadcast user dim, row-level enrichment output.
    "j1_enrich_users" -> ((s, d) =>
      Enrich.enriched(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("date").cast("string").as("date"),
          col("c_name"), col("c_mktsegment"))
        .orderBy(col("event_id"))),

    // J2: three-table join chain lineitem ⋈ orders ⋈ broadcast customer,
    // aggregated to segment/priority revenue.
    "j2_sales_by_segment" -> ((s, d) =>
      Enrich.salesEnriched(s, d)
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          Tables.drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          Tables.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("c_mktsegment"), col("o_orderpriority"))),

    // A1+A2: the genre_kpis analog — count/countDistinct/sum/avg + ratio.
    "a1_genre_kpis" -> ((s, d) =>
      Kpis.genreKpis(Enrich.enriched(s, d))
        .withColumn("date", col("date").cast("string"))
        .orderBy(col("event_type"), col("date"))),

    // A1 at 100 TB: the documented HLL deviation — exact countDistinct
    // swapped for approx_count_distinct (one shuffle instead of Expand's
    // two). Rows-only under the gate (HLL estimates are engine-specific);
    // the ≤10% bound vs the exact variant is asserted in KpiSpec.
    "a9_kpis_approx" -> ((s, d) =>
      Kpis.genreKpisApprox(Enrich.enriched(s, d))
        .select(col("event_type"), col("date").cast("string").as("date"),
          col("listen_count"), col("unique_listeners"))
        .orderBy(col("event_type"), col("date"))),

    // A1 approximate-distinct, deterministic twin: KMV / theta-sketch
    // estimator from md5-derived 60-bit hashes — unlike HLL (a9,
    // engine-private registers) every step up to one terminal double
    // division is integer-exact, so the DuckDB oracle replays it
    // hash-for-hash (k=32 so the estimator branch runs at gate
    // scale; uniq_exact rides alongside). KpiSpec pins the error.
    "a9_kmv_distinct" -> ((s, d) =>
      Kpis.genreKpisKmv(Enrich.enriched(s, d))
        .withColumn("date", col("date").cast("string"))
        .orderBy(col("event_type"), col("date"))),

    // Daily retention cohorts over events: first-activity day per user
    // × day offset, active count + retained share. The engagement
    // report of the reference's analytics family, exact end to end.
    // spread=false (this and the 3 below): first op re-shuffles by its
    // own key (user groupBy / window / distinct / date groupBy) — the
    // floor's redistribution is pure cost, A/B min-of-3 measured at 32c:
    // a13 0.98 vs 1.53, a14 0.47 vs 0.69, u2 0.50 vs 0.79, r4 0.45 vs
    // 0.57 (Tables.scala wantSpread note; a9/w5 measured and kept ON)
    "a13_retention_cohorts" -> ((s, d) =>
      Kpis.retentionCohorts(Tables.events(s, d, wantSpread = false))
        .withColumn("cohort", col("cohort").cast("string"))
        .orderBy(col("cohort"), col("day_offset"))),

    // Ordered conversion funnel view → click → purchase: per-user
    // conditional-min aggregate, strict earliest-occurrence ordering,
    // then one global roll-up row per step.
    "a14_event_funnel" -> ((s, d) =>
      Kpis.eventFunnel(Tables.events(s, d, wantSpread = false))
        .orderBy(col("step"))),

    // K-step funnel with windowed ordering: signup → view → click →
    // purchase, each step within 7 days of the previous anchor. One
    // shuffle (per-user sorted step lists), sequential anchor chain as
    // in-row array expressions.
    // spread=false: first op is a window exchange by user_id — the
    // floor's event_id redistribution is pure cost here (A/B min-of-3:
    // 0.83 s without vs 1.11 with; Tables.scala wantSpread note)
    "a15_funnel_windowed" -> ((s, d) =>
      Kpis.funnelWindowed(Tables.events(s, d, wantSpread = false),
        steps = Seq("signup", "view", "click", "purchase"), maxGapDays = 7)
        .orderBy(col("step"))),

    // Batch sessionization (offline twin of the streaming session
    // windows): 30-min-gap sessions per user, one shuffle, epoch-micro
    // integer timestamps so the compare has no formatting grid.
    // spread=false: same first-op-window-by-user shape as a15
    "a16_user_sessions" -> ((s, d) =>
      Kpis.userSessions(Tables.events(s, d, wantSpread = false))
        .orderBy(col("user_id"), col("session_seq"))),

    // Deterministic mergeable quantile sketch — the hash-green twin of
    // a11's engine-private approx_percentile: integer-grid histogram
    // bins (merge by addition at any parallelism), integral
    // interpolation, exact percentile + error bound riding along.
    // a17 reads the RAW table (no scan-parallelism floor): the quantile
    // pipeline materializes its own projected integer fact once and its
    // many small jobs prefer the un-exchanged scan; at scale the floor
    // is the identity so both forms are the same there
    "a17_histogram_quantiles" -> ((s, d) =>
      Quantiles.histogramQuantiles(Tables.table(s, d, "lineitem"))
        .orderBy(col("l_returnflag"), col("p"))),

    // Sketch-only serving shape of a17: the exact rider (a per-group
    // sort) is the part a 100 TB path drops — this is two partial-agg
    // passes + a broadcast, near-flat in n. Fully integral, so it
    // hash-gates like the full report.
    "a17_histogram_serve" -> ((s, d) =>
      Quantiles.histogramQuantileServe(Tables.table(s, d, "lineitem"))
        .drop("width_u")
        .orderBy(col("l_returnflag"), col("p"))),

    // P9 + A1: single-day scoped variant (PROCESS_DATE semantics). The
    // process date (earliest event day) is computed in-plan — a 1-row
    // aggregate broadcast-joined onto the fact — instead of a driver-side
    // .head() fetch, so the whole query is one job.
    "p9_kpis_one_day" -> ((s, d) => {
      val minDay = Tables.events(s, d).agg(min(to_date(col("ts"))).as("_process_date"))
      Kpis.genreKpis(Enrich.forDayOf(Enrich.enriched(s, d), minDay))
        .withColumn("date", col("date").cast("string"))
        .orderBy(col("event_type"), col("date"))
    }),

    // A3+W1: top-3 per (group, day) ranking window with rank filter.
    "a3_w1_top_songs" -> ((s, d) =>
      Kpis.topPartsPerFlagDay(s, d)
        .select(col("l_returnflag"), col("date").cast("string").as("date"),
          col("rank").cast("long").as("rank"), col("l_partkey"), col("play_count"))
        .orderBy(col("l_returnflag"), col("date"), col("rank"))),

    // A4+W2: top-5 per day ranking window.
    "a4_w2_top_genres" -> ((s, d) =>
      Kpis.topTypesPerDay(s, d)
        .select(col("date").cast("string").as("date"),
          col("rank").cast("long").as("rank"),
          col("event_type"), col("total_plays"))
        .orderBy(col("date"), col("rank"))),

    // Headline: pricing-summary shape (multi-aggregate scan, the
    // canonical single-pass groupBy) — decimal-exact money math.
    "q1_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(to_date(col("l_shipdate")) <= lit("1998-09-02").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Tables.dsum(col("l_quantity")).as("sum_qty"),
          Tables.dsum(col("l_extendedprice")).as("sum_base_price"),
          Tables.drevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          Tables.davg(col("l_quantity")).as("avg_qty"),
          Tables.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // Headline: shipping-priority shape (selective 3-way join + agg +
    // distributed top-10) — filters push to all three scans, dims
    // broadcast, TakeOrderedAndProject caps the output.
    "q3_shipping_priority" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, d)
        .filter(to_date(col("o_orderdate")) < lit("1996-01-01").cast("date"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = Tables.lineitem(s, d)
        .filter(to_date(col("l_shipdate")) > lit("1996-01-01").cast("date"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).cast("string").as("orderdate"),
          col("o_orderpriority"))
        .agg(Tables.drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // Headline: local-supplier-revenue shape — the full 6-table star
    // join (region→nation→{customer,supplier}→orders→lineitem) with the
    // customer-nation = supplier-nation correlation. All dims broadcast;
    // Catalyst orders the join tree.
    "q5_local_supplier" -> ((s, d) => {
      val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val nation = Tables.nation(s, d)
      val cust = Tables.customer(s, d)
      val supp = Tables.supplier(s, d)
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      li
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(Tables.drevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // J4: left-semi join — EXISTS without duplicating or widening rows.
    "j4_semi_join" -> ((s, d) => {
      val bigItems = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey"))
      Tables.orders(s, d)
        .join(bigItems, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // J5: the co-located fact⋈fact join — lineitem and orders served
    // from warehouse tables bucketed+sorted on the order key, so the
    // join plans with ZERO exchanges (BucketedSpec asserts the plan;
    // the unbucketed comparison pays two). The layout is built once
    // per fixture content (artifact-guarded) — the one-time cost that
    // amortizes the biggest recurring shuffle at 100 TB.
    "j5_bucketed_join" -> ((s, d) => Bucketed.salesByPriority(s, d)),

    // W4: analytic frame — 7-row trailing moving average of daily
    // revenue per flag (rows-frame windows, the lag/lead family).
    "w4_moving_avg" -> ((s, d) => {
      // The frame sum stays DECIMAL so the sliding aggregation is exact
      // in both engines (double frame-sums are addition-order-dependent
      // — DuckDB's segment-tree windows would drift in the last bits).
      val daily = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), to_date(col("l_shipdate")).as("date"))
        .agg(sum(col("l_extendedprice").cast(Tables.Money)).as("revenue_dec"))
      val frame = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("date"))
        .rowsBetween(-6, 0)
      val seq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("date"))
      daily
        .withColumn("ma7", round(
          sum(col("revenue_dec")).over(frame).cast("double") /
            count(col("revenue_dec")).over(frame), 4))
        .withColumn("prev_revenue",
          lag(col("revenue_dec").cast("double"), 1).over(seq))
        .select(col("l_returnflag"), col("date").cast("string").as("date"),
          col("revenue_dec").cast("double").as("revenue"),
          col("ma7"), col("prev_revenue"))
        .orderBy(col("l_returnflag"), col("date"))
    }),

    // A8: top-K via the custom aggregate — same result set as the W1
    // window formulation, computed inside groupBy.agg with bounded
    // per-mapper state (k rows per group per partial). r19: the typed
    // TopKAggregator (ObjectHashAggregate — encoder round-trip per
    // row on a boxed Seq) is replaced by its codegen-native
    // DeclarativeAggregate twin over k packed long slots
    // (topk_packed_agg), which plans as a whole-stage HashAggregate;
    // same ordering contract, equality spec-pinned in
    // TopKAggregatorSpec, where the typed class lives on as the
    // reference model.
    "a8_topk_aggregator" -> ((s, d) => {
      val topk = (m: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
        graft.functions.native.topk_packed_agg(m, i, 3)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), to_date(col("l_shipdate")).as("date"),
          col("l_partkey"))
        .agg(count(lit(1)).as("play_count"))
        .groupBy(col("l_returnflag"), col("date"))
        .agg(topk(col("play_count"), col("l_partkey")).as("top"))
        .select(col("l_returnflag"), col("date").cast("string").as("date"),
          posexplode(col("top")).as(Seq("pos", "entry")))
        .select(col("l_returnflag"), col("date"),
          (col("pos") + 1).cast("long").as("rank"),
          col("entry._2").as("l_partkey"),
          col("entry._1").as("play_count"))
        .orderBy(col("l_returnflag"), col("date"), col("rank"))
    }),

    // A6: ROLLUP grouping sets with grouping_id — subtotal/total rows.
    "a6_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("l_quantity")).as("sum_qty"),
          grouping_id().as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("gid"), col("n"), col("sum_qty"))
        .orderBy(col("flag"), col("status"), col("gid"))),

    // A10: full CUBE grouping sets (rollup's superset — all 2ⁿ margins
    // in one Expand pass instead of 2ⁿ separate aggregations).
    "a10_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("l_quantity")).as("sum_qty"),
          grouping_id().as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("gid"), col("n"), col("sum_qty"))
        .orderBy(col("flag"), col("status"), col("gid"))),

    // W5: the analytic-function suite over per-flag daily revenue —
    // navigation (first/lead), distribution (cume_dist), and bucketing
    // (ntile) in one window pass. Decimal revenue so both engines agree
    // bit-for-bit; (flag, date) keys are unique so every function is
    // deterministic.
    "w5_window_suite" -> ((s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), to_date(col("l_shipdate")).as("date"))
        .agg(sum(col("l_extendedprice").cast(Tables.Money)).as("rev"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("date"))
      daily.select(
        col("l_returnflag"), col("date").cast("string").as("date"),
        col("rev").cast("double").as("revenue"),
        first(col("rev")).over(w).cast("double").as("first_rev"),
        lead(col("rev"), 1).over(w).cast("double").as("next_rev"),
        ntile(4).over(w).cast("long").as("quartile"),
        cume_dist().over(w).as("cd"))
        .orderBy(col("l_returnflag"), col("date"))
    }),

    // As-of join: each event enriched with the user's most recent order
    // at or before the event time (composed union+window — one shuffle,
    // flat state; oracle uses DuckDB's native ASOF JOIN).
    "asof_join_orders" -> ((s, d) => {
      // spread=false: the as-of join immediately re-partitions both
      // sides by (user/cust, time) — the floor's exchange is pure cost
      // here (Tables.scala wantSpread note, A/B-measured)
      val ev = Tables.events(s, d, wantSpread = false)
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("ts"))
      val ord = Tables.orders(s, d, wantSpread = false)
        .groupBy(col("o_custkey"), col("o_orderdate").as("ot"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .select(col("o_custkey"), col("ot"), col("o_orderkey"))
      AsOf.join(ev, ord, "user_id", "o_custkey", "ts", "ot", Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy(col("event_id"))
    }),

    // The same as-of join through the native whole-operator path
    // (graft.plans.AsOfJoinExec: custom LogicalPlan + Strategy +
    // SparkPlan via SparkSessionExtensions — one merge pass over
    // co-partitioned sorted sides instead of union+window). Same oracle
    // as asof_join_orders: both formulations must match DuckDB ASOF.
    "asof_join_native" -> ((s, d) => {
      // spread=false: the as-of join immediately re-partitions both
      // sides by (user/cust, time) — the floor's exchange is pure cost
      // here (Tables.scala wantSpread note, A/B-measured)
      val ev = Tables.events(s, d, wantSpread = false)
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("ts"))
      val ord = Tables.orders(s, d, wantSpread = false)
        .groupBy(col("o_custkey"), col("o_orderdate").as("ot"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .select(col("o_custkey"), col("ot"), col("o_orderkey"))
      graft.plans.NativeAsOf.join(ev, ord, "user_id", "o_custkey", "ts", "ot",
          Seq("o_orderkey"), hint = "merge")
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy(col("event_id"))
    }),

    // The broadcast physical form of the same operator (small dim
    // history → fact side untouched: no exchange, no sort). Same oracle
    // again: all three as-of formulations must agree with DuckDB ASOF.
    "asof_join_broadcast" -> ((s, d) => {
      // spread=false: the as-of join immediately re-partitions both
      // sides by (user/cust, time) — the floor's exchange is pure cost
      // here (Tables.scala wantSpread note, A/B-measured)
      val ev = Tables.events(s, d, wantSpread = false)
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("ts"))
      val ord = Tables.orders(s, d, wantSpread = false)
        .groupBy(col("o_custkey"), col("o_orderdate").as("ot"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .select(col("o_custkey"), col("ot"), col("o_orderkey"))
      graft.plans.NativeAsOf.join(ev, ord, "user_id", "o_custkey", "ts", "ot",
          Seq("o_orderkey"), hint = "broadcast")
        .select(col("event_id"), col("user_id"), col("o_orderkey"))
        .orderBy(col("event_id"))
    }),

    // R4: pivot — the inverse of the R1 unpivot (long → wide), explicit
    // value list so the output schema is static.
    "r4_pivot_counts" -> ((s, d) =>
      Tables.events(s, d, wantSpread = false)
        .select(to_date(col("ts")).cast("string").as("date"), col("event_type"))
        .groupBy(col("date"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .orderBy(col("date"))),

    // A7: exact percentiles (median / p95) — interpolated, computed on
    // sorted exact doubles so both engines agree bit-for-bit after
    // rounding.
    "a7_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95_qty"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price"))
        .orderBy(col("l_returnflag"))),

    // A7 at 100 TB: exact percentile buffers every value per group;
    // approx_percentile's bounded sketch (accuracy 10000 ≈ 0.01% rank
    // error) merges in fixed memory. Rows-only under the gate (sketch
    // internals are engine-specific); the ≤1% bound vs the exact
    // variant is asserted in PercentileApproxSpec.
    "a11_percentiles_approx" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("median_qty"),
          expr("approx_percentile(l_quantity, 0.95, 10000)").as("p95_qty"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("median_price"))
        .orderBy(col("l_returnflag"))),

    // A12: the skew-salting path under the gate. Salting changes the
    // physical shuffle (hot key spread over 16 reducers in phase 1, as
    // SkewLayoutSpec proves), never the result — so the oracle is the
    // plain GROUP BY. The distinct count rides the value-derived salt
    // (exact: a value picks exactly one bucket).
    "a12_salted_counts" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Skew.saltedCounts(ev.withColumn("value_dec", col("value").cast(Tables.Money)),
          Seq("event_type"), "value_dec", spreadCol = "event_id")
        .join(
          Skew.saltedCountDistinct(ev, Seq("event_type"), col("user_id")),
          Seq("event_type"))
        .select(col("event_type"), col("n"),
          col("total").cast("double").as("total_value"),
          col("n_distinct"))
        .orderBy(col("event_type"))
    }),

    // U2/U3 (§2.6 completeness): intersect and except on key sets.
    "u2_intersect_except" -> ((s, d) => {
      val purchasers = Tables.events(s, d, wantSpread = false)
        .filter(col("event_type") === "purchase").select(col("user_id"))
      val clickers = Tables.events(s, d, wantSpread = false)
        .filter(col("event_type") === "click").select(col("user_id"))
      purchasers.intersect(clickers).withColumn("op", lit("both"))
        .unionByName(purchasers.except(clickers).withColumn("op", lit("purchase_only")))
        .orderBy(col("op"), col("user_id"))
    }),

    // Keyed range join: lineitems shipped within 90 days of their order
    // date — the equi-key (orderkey) drives a plain hash join; the range
    // is a residual predicate (bucketing a keyed join would double the
    // probe rows for zero selectivity).
    "range_join_ship_window" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          unix_timestamp(date_trunc("second", col("o_orderdate"))).as("t0"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"),
          unix_timestamp(date_trunc("second", col("l_shipdate"))).as("st"))
      RangeJoin.joinKeyed(ord, li, "o_orderkey", "l_orderkey", "t0", "st", 90L * 86400)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_shipped_90d"))
        .orderBy(col("o_orderkey"))
    }),

    // Keyless interval join: lineitems shipped within 30 days of each
    // distinct order *month* — no equi-key exists, so the bucketed
    // composition is load-bearing (a naive plan is a nested-loop
    // product over |months| × |lineitem|).
    "range_join_keyless_interval" -> ((s, d) => {
      // spread=false: both sides re-shuffle immediately (distinct /
      // interval bucketing) — floor exchange is pure cost (A/B-measured)
      val months = Tables.orders(s, d, wantSpread = false)
        .select(date_trunc("month", col("o_orderdate")).as("m"))
        .distinct()
        .select(unix_timestamp(col("m")).as("t0"),
          col("m").cast("date").cast("string").as("month_start"))
      val li = Tables.lineitem(s, d, wantSpread = false)
        .select(unix_timestamp(date_trunc("second", col("l_shipdate"))).as("st"))
      RangeJoin.joinKeyless(months, li, "t0", "st", 30L * 86400)
        .groupBy(col("month_start"))
        .agg(count(lit(1)).as("n_shipped_30d"))
        .orderBy(col("month_start"))
    }),

    // U1 (§2.6): manifest-style distinct union of two key sets.
    "u1_union_distinct" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").cast("int").as("key"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").cast("int").as("key")))
        .distinct()
        .orderBy(col("key"))),

    // J3 (§2.3): left-anti incremental discovery — customers with no
    // purchase events (new-files ≡ all − processed).
    "j3_anti_join" -> ((s, d) => {
      val purchased = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"))
      Tables.customer(s, d)
        .join(purchased, col("c_custkey") === col("user_id"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    })
  )

  val oracles: Map[String, String] = Map(
    "s3_p1_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) < DATE '1996-06-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "j1_enrich_users" ->
      """SELECT e.event_id, e.user_id, e.event_type, e.value,
        |  CAST(CAST(e.ts AS DATE) AS VARCHAR) AS date, c.c_name, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,

    "j2_sales_by_segment" ->
      """SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(8,4)) - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "a1_genre_kpis" ->
      """SELECT e.event_type, CAST(CAST(e.ts AS DATE) AS VARCHAR) AS date,
        |  COUNT(*) AS listen_count,
        |  COUNT(DISTINCT e.user_id) AS unique_listeners,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(e.value) AS avg_value,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(DISTINCT e.user_id) AS avg_value_per_user
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // KMV replayed hash-for-hash: same md5-prefix 60-bit integers,
    // same k-th-smallest order statistic, and the estimate itself a
    // half-up INTEGRAL division — hu(31·2⁶⁰ / hk) = (31·2⁶¹ + hk) //
    // (2·hk), carried in HUGEINT because the numerator overflows a
    // BIGINT. No double-rounding grid anywhere.
    "a9_kmv_distinct" ->
      """WITH dh AS (
        |  SELECT DISTINCT e.event_type, CAST(e.ts AS DATE) AS date,
        |    CAST('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |), r AS (
        |  SELECT event_type, date, h,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, date ORDER BY h) AS rn
        |  FROM dh
        |), g AS (
        |  SELECT event_type, date, COUNT(*) AS uniq_exact,
        |    MAX(CASE WHEN rn = 32 THEN h END) AS hk
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT event_type, CAST(date AS VARCHAR) AS date, uniq_exact,
        |  CASE WHEN uniq_exact < 32 THEN uniq_exact
        |       ELSE CAST((CAST('71481133285624512512' AS HUGEINT) + hk)
        |                 // (2 * hk) AS BIGINT)
        |  END AS uniq_kmv
        |FROM g ORDER BY event_type, date""".stripMargin,

    "a13_retention_cohorts" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), f AS (
        |  SELECT user_id, MIN(day) AS cohort FROM uw GROUP BY 1
        |), sz AS (
        |  SELECT cohort, COUNT(*) AS cohort_size FROM f GROUP BY 1
        |), act AS (
        |  SELECT f.cohort,
        |    CAST(date_diff('day', f.cohort, uw.day) AS INT) AS day_offset,
        |    COUNT(*) AS n_active
        |  FROM uw JOIN f USING (user_id) GROUP BY 1, 2
        |)
        |SELECT CAST(a.cohort AS VARCHAR) AS cohort, a.day_offset, a.n_active,
        |  (2 * a.n_active * 1000000 + s.cohort_size) // (2 * s.cohort_size)
        |    AS retention_ppm,
        |  ((2 * a.n_active * 1000000 + s.cohort_size) // (2 * s.cohort_size))
        |    / 1000000.0 AS retention
        |FROM act a JOIN sz s USING (cohort)
        |ORDER BY cohort, day_offset""".stripMargin,

    "a14_event_funnel" ->
      """WITH m AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY 1
        |), tot AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |    CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
        |                  AND t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |    CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
        |                  AND t_purchase IS NOT NULL AND t_view < t_click
        |                  AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        |  FROM m
        |)
        |SELECT 1 AS step, 'view' AS event_type, n_view AS n_users,
        |  CASE WHEN n_view > 0
        |       THEN ((2 * n_view * 1000000 + n_view) // (2 * n_view)) / 1000000.0
        |  END AS conversion,
        |  CASE WHEN n_view > 0
        |       THEN (2 * n_view * 1000000 + n_view) // (2 * n_view) END
        |    AS conversion_ppm FROM tot
        |UNION ALL
        |SELECT 2, 'click', n_click,
        |  CASE WHEN n_view > 0
        |       THEN ((2 * n_click * 1000000 + n_view) // (2 * n_view)) / 1000000.0
        |  END,
        |  CASE WHEN n_view > 0
        |       THEN (2 * n_click * 1000000 + n_view) // (2 * n_view) END FROM tot
        |UNION ALL
        |SELECT 3, 'purchase', n_purchase,
        |  CASE WHEN n_view > 0
        |       THEN ((2 * n_purchase * 1000000 + n_view) // (2 * n_view)) / 1000000.0
        |  END,
        |  CASE WHEN n_view > 0
        |       THEN (2 * n_purchase * 1000000 + n_view) // (2 * n_view) END FROM tot
        |ORDER BY step""".stripMargin,

    // The windowed chain replayed with the same list semantics: per
    // user one sorted timestamp list per step (empty-set aggregates are
    // NULL in DuckDB vs empty arrays in Spark — both make list_min /
    // array_min NULL, so non-reachers agree), then the sequential
    // anchors as scalar list expressions.
    "a15_funnel_windowed" ->
      """WITH capped AS (
        |  SELECT user_id, event_type, ts FROM (
        |    SELECT user_id, event_type, ts,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts) AS rn
        |    FROM events
        |    WHERE event_type IN ('signup', 'view', 'click', 'purchase')
        |  ) WHERE rn <= 10000
        |), capc AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nc FROM (
        |    SELECT user_id, event_type, COUNT(*) AS c FROM events
        |    WHERE event_type IN ('signup', 'view', 'click', 'purchase')
        |    GROUP BY 1, 2
        |  ) WHERE c > 10000 GROUP BY event_type
        |), f AS (
        |  SELECT user_id,
        |    list_sort(list(ts) FILTER (WHERE event_type = 'signup')) AS a_signup,
        |    list_sort(list(ts) FILTER (WHERE event_type = 'view')) AS a_view,
        |    list_sort(list(ts) FILTER (WHERE event_type = 'click')) AS a_click,
        |    list_sort(list(ts) FILTER (WHERE event_type = 'purchase')) AS a_purchase
        |  FROM capped
        |  GROUP BY user_id
        |), s1 AS (
        |  SELECT *, list_min(a_signup) AS t_signup FROM f
        |), s2 AS (
        |  SELECT *, CASE WHEN t_signup IS NULL THEN NULL ELSE
        |    list_min(list_filter(a_view, x -> x > t_signup
        |      AND x <= t_signup + INTERVAL 7 DAY)) END AS t_view FROM s1
        |), s3 AS (
        |  SELECT *, CASE WHEN t_view IS NULL THEN NULL ELSE
        |    list_min(list_filter(a_click, x -> x > t_view
        |      AND x <= t_view + INTERVAL 7 DAY)) END AS t_click FROM s2
        |), s4 AS (
        |  SELECT *, CASE WHEN t_click IS NULL THEN NULL ELSE
        |    list_min(list_filter(a_purchase, x -> x > t_click
        |      AND x <= t_click + INTERVAL 7 DAY)) END AS t_purchase FROM s3
        |), tot AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |    CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |    CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |    CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
        |  FROM s4
        |), seg AS (
        |  SELECT 1 AS step, 'signup' AS event_type, n_signup AS n_users,
        |    n_signup AS n_first FROM tot
        |  UNION ALL SELECT 2, 'view', n_view, n_signup FROM tot
        |  UNION ALL SELECT 3, 'click', n_click, n_signup FROM tot
        |  UNION ALL SELECT 4, 'purchase', n_purchase, n_signup FROM tot
        |)
        |SELECT step, seg.event_type, n_users,
        |  CASE WHEN n_first > 0
        |    THEN ((2 * n_users * 1000000 + n_first) // (2 * n_first)) / 1000000.0
        |  END AS conversion,
        |  CASE WHEN n_first > 0
        |    THEN (2 * n_users * 1000000 + n_first) // (2 * n_first)
        |  END AS conversion_ppm,
        |  CAST(COALESCE(capc.nc, 0) AS BIGINT) AS n_capped_users
        |FROM seg LEFT JOIN capc ON seg.event_type = capc.event_type
        |ORDER BY step""".stripMargin,

    // Histogram-quantile replay: identical integer bins (floor on both
    // sides — DuckDB's double→BIGINT cast rounds, Spark's truncates),
    // identical integral rank/interpolation; the exact percentile is
    // replayed as cent-grid order statistics + half-up integral
    // interpolation into micro-price — zero double-rounding anywhere,
    // the two price doubles are each one terminal division.
    "a17_histogram_quantiles" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem
        |), rg AS (
        |  SELECT l_returnflag, MIN(c) AS mn, MAX(c) AS mx,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM c GROUP BY 1
        |), b AS (
        |  SELECT c.l_returnflag,
        |    ((c.c - rg.mn) * 256) // (rg.mx - rg.mn + 1) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM c JOIN rg USING (l_returnflag) GROUP BY 1, 2
        |), cm AS (
        |  SELECT *, CAST(SUM(cnt) OVER (PARTITION BY l_returnflag
        |    ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum
        |  FROM b
        |), pp AS (
        |  SELECT 1 AS pn, 2 AS pd, '1/2' AS p
        |  UNION ALL SELECT 95, 100, '95/100'
        |), rkd AS (
        |  SELECT l_returnflag, c,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY c)
        |      AS BIGINT) AS rk
        |  FROM c
        |), exy AS (
        |  SELECT rkd.l_returnflag, pp.p, pp.pd,
        |    (pp.pn * (rg.n - 1)) % pp.pd AS rem,
        |    MIN(rkd.c) AS lo_c, MAX(rkd.c) AS hi_c
        |  FROM rkd JOIN rg USING (l_returnflag) CROSS JOIN pp
        |  WHERE rkd.rk >= ((pp.pn * (rg.n - 1)) // pp.pd) + 1
        |    AND rkd.rk <= ((pp.pn * (rg.n - 1)) // pp.pd) + 2
        |  GROUP BY 1, 2, 3, 4
        |), ex AS (
        |  SELECT l_returnflag, p,
        |    (2 * (lo_c * pd + rem * (hi_c - lo_c)) * 10000 + pd)
        |      // (2 * pd) AS exact_u
        |  FROM exy
        |), pick AS (
        |  SELECT cm.l_returnflag, pp.p, rg.n, rg.mn, rg.mx,
        |    (rg.n * pp.pn + pp.pd - 1) // pp.pd AS r,
        |    (min(struct_pack(b := cm.bin, ct := cm.cnt, cu := cm.cum))).b AS bin,
        |    (min(struct_pack(b := cm.bin, ct := cm.cnt, cu := cm.cum))).ct AS cnt,
        |    (min(struct_pack(b := cm.bin, ct := cm.cnt, cu := cm.cum))).cu AS cum
        |  FROM cm JOIN rg USING (l_returnflag) CROSS JOIN pp
        |  WHERE cm.cum >= (rg.n * pp.pn + pp.pd - 1) // pp.pd
        |  GROUP BY 1, 2, 3, rg.mn, rg.mx, r
        |), est AS (
        |  SELECT l_returnflag, p, n, cnt, cum, r,
        |    mn + (bin * (mx - mn + 1)) // 256 AS lo_u,
        |    mn + ((bin + 1) * (mx - mn + 1)) // 256 AS hi_u
        |  FROM pick
        |), fin AS (
        |  SELECT l_returnflag, p, n,
        |    lo_u + ((hi_u - lo_u) * (2 * (r - (cum - cnt)) - 1)) // (2 * cnt)
        |      AS est_u,
        |    hi_u - lo_u AS width_u,
        |    (hi_u - lo_u) / 100.0 AS bin_width
        |  FROM est
        |)
        |SELECT f.l_returnflag, f.p, f.n, f.est_u,
        |  f.est_u / 100.0 AS est_price,
        |  e.exact_u,
        |  e.exact_u / 1000000.0 AS exact_price,
        |  f.bin_width,
        |  abs(f.est_u * 10000 - e.exact_u) <= f.width_u * 20000 AS pass
        |FROM fin f JOIN ex e USING (l_returnflag, p)
        |ORDER BY l_returnflag, p""".stripMargin,

    // Sketch-only serving shape: same bins/rank/interpolation, no
    // exact rider — fully integral plus two terminal divisions.
    "a17_histogram_serve" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem
        |), rg AS (
        |  SELECT l_returnflag, MIN(c) AS mn, MAX(c) AS mx,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM c GROUP BY 1
        |), b AS (
        |  SELECT c.l_returnflag,
        |    ((c.c - rg.mn) * 256) // (rg.mx - rg.mn + 1) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM c JOIN rg USING (l_returnflag) GROUP BY 1, 2
        |), cm AS (
        |  SELECT *, CAST(SUM(cnt) OVER (PARTITION BY l_returnflag
        |    ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum
        |  FROM b
        |), pp AS (
        |  SELECT 1 AS pn, 2 AS pd, '1/2' AS p
        |  UNION ALL SELECT 95, 100, '95/100'
        |), pick AS (
        |  SELECT cm.l_returnflag, pp.p, rg.n, rg.mn, rg.mx,
        |    (rg.n * pp.pn + pp.pd - 1) // pp.pd AS r,
        |    (min(struct_pack(b := cm.bin, ct := cm.cnt, cu := cm.cum))).b AS bin,
        |    (min(struct_pack(b := cm.bin, ct := cm.cnt, cu := cm.cum))).ct AS cnt,
        |    (min(struct_pack(b := cm.bin, ct := cm.cnt, cu := cm.cum))).cu AS cum
        |  FROM cm JOIN rg USING (l_returnflag) CROSS JOIN pp
        |  WHERE cm.cum >= (rg.n * pp.pn + pp.pd - 1) // pp.pd
        |  GROUP BY 1, 2, 3, rg.mn, rg.mx, r
        |), est AS (
        |  SELECT l_returnflag, p, n, cnt, cum, r,
        |    mn + (bin * (mx - mn + 1)) // 256 AS lo_u,
        |    mn + ((bin + 1) * (mx - mn + 1)) // 256 AS hi_u
        |  FROM pick
        |)
        |SELECT l_returnflag, p, n,
        |  lo_u + ((hi_u - lo_u) * (2 * (r - (cum - cnt)) - 1)) // (2 * cnt)
        |    AS est_u,
        |  (lo_u + ((hi_u - lo_u) * (2 * (r - (cum - cnt)) - 1)) // (2 * cnt))
        |    / 100.0 AS est_price,
        |  (hi_u - lo_u) / 100.0 AS bin_width
        |FROM est
        |ORDER BY l_returnflag, p""".stripMargin,

    // Epoch-micro longs end to end: DuckDB's epoch_us on TIMESTAMP_NS
    // equals Spark's unix_micros on the micros-normalized read (the
    // fixture's nanos are whole micros), and every window below is
    // integer-keyed.
    "a16_user_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |), m AS (
        |  SELECT user_id, event_id, us,
        |    LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
        |  FROM e
        |), st AS (
        |  SELECT user_id, us,
        |    CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS is_start,
        |    event_id
        |  FROM m
        |), sq AS (
        |  SELECT user_id, us,
        |    CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_seq
        |  FROM st
        |)
        |SELECT user_id, session_seq,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us,
        |  MAX(us) - MIN(us) AS duration_us
        |FROM sq GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "p9_kpis_one_day" ->
      """SELECT e.event_type, CAST(CAST(e.ts AS DATE) AS VARCHAR) AS date,
        |  COUNT(*) AS listen_count,
        |  COUNT(DISTINCT e.user_id) AS unique_listeners,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(e.value) AS avg_value,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(DISTINCT e.user_id) AS avg_value_per_user
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE CAST(e.ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "a3_w1_top_songs" ->
      """SELECT l_returnflag, CAST(date AS VARCHAR) AS date, rank, l_partkey, play_count FROM (
        |  SELECT l_returnflag, date, l_partkey, play_count,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag, date
        |                       ORDER BY play_count DESC, l_partkey ASC) AS rank
        |  FROM (
        |    SELECT l_returnflag, CAST(l_shipdate AS DATE) AS date, l_partkey,
        |      COUNT(*) AS play_count
        |    FROM lineitem GROUP BY 1, 2, 3
        |  )
        |) WHERE rank <= 3
        |ORDER BY l_returnflag, date, rank""".stripMargin,

    "a4_w2_top_genres" ->
      """SELECT CAST(date AS VARCHAR) AS date, rank, event_type, total_plays FROM (
        |  SELECT date, event_type, total_plays,
        |    ROW_NUMBER() OVER (PARTITION BY date
        |                       ORDER BY total_plays DESC, event_type ASC) AS rank
        |  FROM (
        |    SELECT CAST(ts AS DATE) AS date, event_type, COUNT(*) AS total_plays
        |    FROM events GROUP BY 1, 2
        |  )
        |) WHERE rank <= 5
        |ORDER BY date, rank""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l.l_orderkey,
        |  CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS orderdate,
        |  o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(8,4)) - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1996-01-01'
        |  AND CAST(l.l_shipdate AS DATE) > DATE '1996-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(8,4)) - CAST(l.l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |             AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "j4_semi_join" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o_orderkey AND l.l_quantity >= 45
        |)
        |ORDER BY o_orderkey""".stripMargin,

    // content is layout-independent: the oracle joins the raw tables
    "j5_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "w4_moving_avg" ->
      """SELECT l_returnflag, CAST(date AS VARCHAR) AS date,
        |  CAST(revenue_dec AS DOUBLE) AS revenue,
        |  ROUND(CAST(SUM(revenue_dec) OVER w7 AS DOUBLE)
        |        / COUNT(revenue_dec) OVER w7, 4) AS ma7,
        |  LAG(CAST(revenue_dec AS DOUBLE), 1)
        |    OVER (PARTITION BY l_returnflag ORDER BY date) AS prev_revenue
        |FROM (
        |  SELECT l_returnflag, CAST(l_shipdate AS DATE) AS date,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS revenue_dec
        |  FROM lineitem GROUP BY 1, 2
        |)
        |WINDOW w7 AS (PARTITION BY l_returnflag ORDER BY date
        |              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY l_returnflag, date""".stripMargin,

    "a8_topk_aggregator" ->
      """SELECT l_returnflag, CAST(date AS VARCHAR) AS date, rank, l_partkey, play_count FROM (
        |  SELECT l_returnflag, date, l_partkey, play_count,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag, date
        |                       ORDER BY play_count DESC, l_partkey ASC) AS rank
        |  FROM (
        |    SELECT l_returnflag, CAST(l_shipdate AS DATE) AS date, l_partkey,
        |      COUNT(*) AS play_count
        |    FROM lineitem GROUP BY 1, 2, 3
        |  )
        |) WHERE rank <= 3
        |ORDER BY l_returnflag, date, rank""".stripMargin,

    "a6_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status, gid""".stripMargin,

    "a12_salted_counts" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  COUNT(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "a10_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |  COALESCE(l_linestatus, 'ALL') AS status,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY flag, status, gid""".stripMargin,

    "w5_window_suite" ->
      """SELECT l_returnflag, CAST(date AS VARCHAR) AS date,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  CAST(FIRST_VALUE(rev) OVER w AS DOUBLE) AS first_rev,
        |  CAST(LEAD(rev, 1) OVER w AS DOUBLE) AS next_rev,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  CUME_DIST() OVER w AS cd
        |FROM (
        |  SELECT l_returnflag, CAST(l_shipdate AS DATE) AS date,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
        |  FROM lineitem GROUP BY 1, 2
        |)
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY date)
        |ORDER BY l_returnflag, date""".stripMargin,

    "asof_join_orders" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate AS ot, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2
        |), e AS (
        |  SELECT event_id, user_id,
        |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events
        |)
        |SELECT e.event_id, e.user_id, o.o_orderkey
        |FROM e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.ot
        |ORDER BY e.event_id""".stripMargin,

    "asof_join_broadcast" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate AS ot, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2
        |), e AS (
        |  SELECT event_id, user_id,
        |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events
        |)
        |SELECT e.event_id, e.user_id, o.o_orderkey
        |FROM e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.ot
        |ORDER BY e.event_id""".stripMargin,

    "asof_join_native" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate AS ot, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2
        |), e AS (
        |  SELECT event_id, user_id,
        |    date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events
        |)
        |SELECT e.event_id, e.user_id, o.o_orderkey
        |FROM e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.ot
        |ORDER BY e.event_id""".stripMargin,

    "r4_pivot_counts" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS view,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY 1
        |ORDER BY date""".stripMargin,

    "a7_percentiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
        |FROM lineitem GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "u2_intersect_except" ->
      """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |     c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
        |SELECT user_id, 'both' AS op FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM c)
        |UNION ALL
        |SELECT user_id, 'purchase_only' FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c)
        |ORDER BY op, user_id""".stripMargin,

    "range_join_ship_window" ->
      """SELECT o.o_orderkey, COUNT(*) AS n_shipped_90d
        |FROM orders o
        |JOIN lineitem l
        |  ON l.l_orderkey = o.o_orderkey
        | AND epoch(date_trunc('second', l.l_shipdate))
        |     >= epoch(date_trunc('second', o.o_orderdate))
        | AND epoch(date_trunc('second', l.l_shipdate))
        |     < epoch(date_trunc('second', o.o_orderdate)) + 90 * 86400
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "range_join_keyless_interval" ->
      """WITH m AS (
        |  SELECT DISTINCT epoch(date_trunc('month', o_orderdate)) AS t0,
        |    CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start
        |  FROM orders
        |)
        |SELECT m.month_start, COUNT(*) AS n_shipped_30d
        |FROM m JOIN lineitem l
        |  ON epoch(date_trunc('second', l.l_shipdate)) >= m.t0
        | AND epoch(date_trunc('second', l.l_shipdate)) < m.t0 + 30 * 86400
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "u1_union_distinct" ->
      """SELECT DISTINCT key FROM (
        |  SELECT CAST(c_nationkey AS INT) AS key FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS INT) AS key FROM supplier
        |)
        |ORDER BY key""".stripMargin,

    "j3_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events e
        |  WHERE e.event_type = 'purchase' AND e.user_id = c_custkey
        |)
        |ORDER BY c_custkey""".stripMargin
  )
}
