package graft.queries

import graft.Tables
import graft.operators.Rank
import graft.queries.Money.{m, discounted, rsum, msum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational / OLAP core (SURVEY §2). Every query here has a
  * column-name-aligned DuckDB oracle in [[oracles]].
  *
  * Scale notes baked into the plans:
  *  - star joins broadcast the dimension side explicitly;
  *  - aggregates are plain groupBys (partial aggregation is free);
  *  - LIMIT queries order with a unique tiebreaker so results are
  *    deterministic under any partitioning;
  *  - monetary sums go through exact decimal ([[Money]]): rounding
  *    doubles "on both sides" only absorbs summation-order noise
  *    while the accumulated ulp error stays under the half-cent
  *    boundary — the r12 cross-rung gate at testdata-sf10 measured
  *    q5/q7/q9/q15 crossing it. Decimal sums are associative, so the
  *    oracle equality is exact at every rung by construction.
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // TPC-H Q1 shape: one shuffle, 4-group output, partial agg does
    // nearly all the work map-side. At 100 TB this is scan-bound.
    "q1_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          msum(col("l_extendedprice")).as("sum_base_price"),
          rsum(discounted(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // TPC-H Q6 shape: fully pushed-down filter + single scalar agg.
    "q6_filter_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(rsum(m(col("l_extendedprice")) * col("l_discount").cast("decimal(3,2)"))
          .as("revenue"))
    }),

    // TPC-H Q3 shape: selective dims, join + agg + deterministic topN.
    "q3_topn" -> ((s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1997-03-15").cast("timestamp"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1997-03-15").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(rsum(discounted(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-table star join; every dimension broadcast,
    // so the only shuffle is the final groupBy on 25 nations.
    "q5_multijoin" -> ((s, d) => {
      val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(rsum(discounted(col("l_extendedprice"), col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Customers with at least one urgent order: left-semi join.
    "join_semi" -> ((s, d) => {
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      Tables.customer(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // Customers with no URGENT orders: left-anti join. The filter on
    // the right side is what makes this verifiable — every customer in
    // the testdata has SOME order, so anti-joining the full orders
    // table yields 0 rows at every SF and the oracle would "pass" on
    // an empty frame without observing the anti semantics at all.
    "join_anti" -> ((s, d) => {
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      Tables.customer(s, d)
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    }),

    // Full-outer join summarized to match-category counts.
    "join_outer" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"))
      val o = Tables.orders(s, d).select(col("o_custkey")).distinct()
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .agg(
          count(when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, 1)).as("matched"),
          count(when(col("o_custkey").isNull, 1)).as("customer_only"),
          count(when(col("c_custkey").isNull, 1)).as("order_only"))
    }),

    // TPC-H Q18 shape (large-volume customer): the HAVING aggregate
    // collapses lineitem to a SMALL qualifying-order set, which then
    // BROADCASTS into the orders join — the fact table is scanned
    // once and never shuffled for the join. The anti-pattern this
    // avoids (shuffling orders against the agg) is what the plain SQL
    // would do without the selectivity-aware build-side choice.
    "q18_bigcust" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .filter(col("sum_qty") > 200)
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      o.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // Salted skew join (operators.Skew): 70% of events collapse onto
    // ONE join key — the megacustomer shape where even AQE's split
    // partitions of a single key stay hot. saltedJoin spreads that
    // key over 16 reducers (large side salted, small side replicated)
    // and must return exactly the rows of the plain equi-join, which
    // is what the oracle computes.
    "skew_join" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        when(col("user_id") % 10 < 7, lit(1L))
          .otherwise(col("user_id")).as("k"),
        col("value"))
      val dim = ev.select(col("k")).distinct()
        .withColumn("w", (col("k") % 100).cast("double"))
      graft.operators.Skew.saltedJoin(ev, dim, Seq("k"), buckets = 16)
        .groupBy((col("k") % 5).as("grp"))
        .agg(count(lit(1)).as("n"),
          rsum(m(col("value")) * col("w").cast("decimal(4,0)")).as("wsum"))
        .orderBy(col("grp"))
    }),

    // Equi-width histogram of order totals: bin assignment is a
    // row-local floor-divide (no windowing), so the only shuffle is
    // the final tiny per-bin count — the profile-at-scale shape for
    // a distribution sketch over 100 TB.
    "agg_histogram" -> ((s, d) => {
      val width = 25000.0
      Tables.orders(s, d)
        .select((floor(col("o_totalprice") / width) * width).cast("long")
          .as("bin_lo"))
        .groupBy(col("bin_lo"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bin_lo"))
    }),

    // Decile assignment per status partition. NOT the ntile window
    // function: o_orderstatus has 3 distinct values, so
    // Window.partitionBy(status) would sort the whole table in 3
    // tasks — a straggler no cluster size fixes, and ntile (unlike
    // row_number-top-k) cannot be WindowGroupLimit-pruned because
    // every row gets a tile. Rank.ntileBy range-partitions on
    // (status, price, key) instead — fully parallel sort, exact
    // NTILE semantics from rank arithmetic (same decile split, same
    // tie-break; the unchanged SQL-ntile oracle hash-gates that).
    // The plan is the range exchange, one broadcast join of the
    // driver's per-partition prefix offsets and the final group-by,
    // with no single-key sort anywhere.
    "window_ntile" -> ((s, d) => {
      // rank on the ROUNDED price (what the output carries) so the
      // decile boundaries are engine-independent at ties
      val base = Tables.orders(s, d)
        .select(col("o_orderstatus"),
          round(col("o_totalprice"), 2).as("price"),
          col("o_orderkey"))
      // asc_nulls_last: price is nullable and the engines disagree on
      // default NULL placement (Spark ASC = NULLS FIRST, DuckDB/
      // Postgres = NULLS LAST) — a nullable ordering column must say
      // where NULLs go or the decile assignment is engine-dependent
      Rank.ntileBy(base, "o_orderstatus",
          Seq(col("price").asc_nulls_last, col("o_orderkey")), 10,
          tileCol = "decile")
        .groupBy(col("o_orderstatus"), col("decile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("price")), 2).as("lo"),
          round(max(col("price")), 2).as("hi"))
        .orderBy(col("o_orderstatus"), col("decile"))
    }),

    // row_number per partition: top order per customer, deterministic.
    "window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("top_price"))
        .orderBy(col("o_custkey"))
    }),

    // Running revenue + day-over-day delta per nation (window chain
    // shares one shuffle on the partition key).
    "window_running" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_custkey"), date_trunc("day", col("o_orderdate")).as("day"))
        .agg(sum(m(col("o_totalprice"))).as("day_total"))
        .filter(col("o_custkey") <= 50)
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      daily
        .withColumn("running_total", sum(col("day_total")).over(w))
        .withColumn("prev_total", lag(col("day_total"), 1).over(w))
        .select(col("o_custkey"), col("day"),
          col("day_total").cast("double").as("day_total"),
          col("running_total").cast("double").as("running_total"),
          coalesce(col("prev_total").cast("double"), lit(0.0)).as("prev_total"))
        .orderBy(col("o_custkey"), col("day"))
    }),

    // Rollup: region -> nation account-balance totals with subtotals.
    // Two-level empty-safe plan (r15 judge ask #5): level 1 reduces
    // the fact rows to the finest (r_name, n_name) grid in ONE
    // shuffle (exact decimal partials — sum/count decompose exactly),
    // the coarser cut re-aggregates that tiny grid via Expand, and
    // the global () row is a plain aggregate UNIONed in. Spark's
    // Expand-based rollup emits ZERO rows on empty input where the
    // SQL standard (and DuckDB) emit the () row (count 0, sum NULL);
    // a plain .agg() emits it always. Bonus at scale: Expand now
    // multiplies the |regions x nations| grid, not the fact table.
    "agg_rollup" -> ((s, d) => {
      val grid = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(m(col("c_acctbal"))).as("bal"), count(lit(1)).as("cnt"))
      val sub = grid
        .groupingSets(
          Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name"))),
          col("r_name"), col("n_name"))
        .agg(round(sum(col("bal")), 2).cast("double").as("total_bal"),
          sum(col("cnt")).as("n_cust"))
      val global = grid
        .agg(round(sum(col("bal")), 2).cast("double").as("total_bal"),
          coalesce(sum(col("cnt")), lit(0L)).as("n_cust"))
        .select(lit(null).cast("string").as("r_name"),
          lit(null).cast("string").as("n_name"),
          col("total_bal"), col("n_cust"))
      sub.unionByName(global)
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    // Cube over status x priority — same empty-safe two-level shape
    // as agg_rollup (this was the adversarial empty-facts rung's one
    // declared divergence in r15; now a real () row).
    "agg_cube" -> ((s, d) => {
      val grid = Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), sum(m(col("o_totalprice"))).as("price"))
      val sub = grid
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("cnt")).as("n_orders"),
          round(sum(col("price")), 2).cast("double").as("total_price"))
      val global = grid
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_orders"),
          round(sum(col("price")), 2).cast("double").as("total_price"))
        .select(lit(null).cast("string").as("o_orderstatus"),
          lit(null).cast("string").as("o_orderpriority"),
          col("n_orders"), col("total_price"))
      sub.unionByName(global)
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // Exact distinct counts (expands to two-phase agg automatically).
    "agg_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // Exact interpolated percentiles per group (Spark `percentile`
    // == DuckDB quantile_cont).
    "agg_percentile" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99"))
        .orderBy(col("event_type"))
    }),

    // HLL sketch vs exact. r10 oracle upgrade: the raw estimate is
    // engine-specific (not SQL-expressible), but its ERROR BOUND is —
    // the gate output carries the exact count (hash-verified) plus
    // the bound check at 5x the requested 1% relative standard
    // deviation, so a sketch regression past ~5 sigma fails the gate.
    // The estimate value itself stays visible to specs/bench via
    // the operator.
    "agg_approx" -> ((s, d) => {
      // dedup-then-aggregate, NOT agg(approx_count_distinct,
      // countDistinct) in one shot: with an exact distinct alongside,
      // planAggregateWithOneDistinct keys the partial aggregate by
      // l_partkey and materializes the non-distinct agg's buffer PER
      // GROUP — at rsd 0.01 that is a 12 KiB HLL++ sketch (p=14, 1537
      // longs) per distinct key, i.e. gigabytes of per-task agg state
      // at 200k keys (the r16 forced-spill rung OOM'd 4 GiB executors
      // exactly there: TungstenAggregationIterator fallback → spill
      // merge). HLL is dedup-insensitive, so sketching the DEDUPED key
      // set is the same answer with ONE sketch per partial — and the
      // distinct() is the same two-phase shuffle countDistinct costs
      // anyway. At 100 TB the old plan is a scale-killer; this one is
      // a key-dedup plus a 1-row aggregate. distinct() keeps one NULL
      // key row, so the exact side counts l_partkey, not rows:
      // count(DISTINCT x) skips NULLs.
      Tables.lineitem(s, d)
        .select(col("l_partkey")).distinct()
        .agg(
          approx_count_distinct(col("l_partkey"), 0.01).as("a"),
          count(col("l_partkey")).as("exact_parts"))
        // multiplicative form, NOT |a-e|/e: on an empty table e = 0
        // and under ANSI the division throws DIVIDE_BY_ZERO (r15
        // empty-facts rung); |a-e| <= 0.05e is the same predicate for
        // e > 0 and degrades to the sensible a = 0 at e = 0
        .select(col("exact_parts"),
          (abs(col("a") - col("exact_parts")) <=
            lit(0.05) * col("exact_parts")).as("approx_within_5pct"))
    }),

    // Conditional-aggregation pivot: events per type per day.
    "pivot_wide" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
        .orderBy(col("day"))
    }),

    // Wide -> long reshaping (pandas melt): numeric part attributes
    // unpivoted to (key, metric, value) rows, summarized per metric.
    "unpivot_long" -> ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retailprice"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          msum(col("value")).as("total"),
          round(avg(col("value")), 4).as("mean"))
        .orderBy(col("metric"))
    }),

    // Union + distinct across two inputs.
    "union_dedup" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    }),

    // Top-3 orders per priority class via rank. Kept on the plain
    // window by design: with rk <= 3 Spark plants map-side and
    // reduce-side WindowGroupLimit, so every scan task pre-prunes to 3
    // rows per priority before the final sort sees anything.
    "topk_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rk"))
    }),

    // TPC-H Q4 shape: correlated EXISTS with a NON-equi residual —
    // orders having some lineitem shipped >300 days after the order
    // date. Planned as a left-semi join on the order key with the
    // date comparison as residual; the semi join dedups matches
    // before the aggregate, so no order is counted twice.
    "q4_exists" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      Tables.orders(s, d)
        .join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 300 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_late_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q17 shape: correlated scalar subquery (per-part average)
    // expressed as the decorrelated plan Catalyst itself would emit:
    // broadcast the filtered part dim, then ONE shuffle on l_partkey
    // computes the per-part average as a window over the already-
    // filtered rows — the lineitem table is scanned once, not twice.
    "q17_scalar" -> ((s, d) => {
      val brandParts = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#4").select(col("p_partkey"))
      val w = Window.partitionBy(col("l_partkey"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
        .withColumn("part_avg_qty", avg(col("l_quantity")).over(w))
        .filter(col("l_quantity") < col("part_avg_qty") * 0.5)
        .agg(round(sum(m(col("l_extendedprice"))).cast("double") / 7.0, 2)
          .as("avg_yearly"))
    }),

    // TPC-H Q19 shape (r11): disjunctive multi-branch predicate over
    // a fact-dim join. The OR-of-ANDs shares ONE broadcast hash join
    // on p_partkey (Catalyst extracts the common join key; the
    // disjunction evaluates post-join inside codegen) — the
    // anti-pattern this query guards against is a per-branch
    // union-of-joins scanning lineitem three times.
    "q19_disjunct" -> ((s, d) => {
      val part = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 30) &&
            col("l_quantity").between(1, 25)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 35) &&
            col("l_quantity").between(5, 35)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 40) &&
            col("l_quantity").between(10, 45)))
        .agg(rsum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
    }),

    // TPC-H Q21 shape (r11): "the lone late supplier" — EXISTS
    // (another supplier on the order) AND NOT EXISTS (another LATE
    // supplier) decorrelated into ONE per-(order, supplier) aggregate
    // + one per-order aggregate: n_supp > 1 && n_late == 1 && this
    // supplier late IS the double-correlated-subquery semantics,
    // computed with two map-side-combined groupBys instead of two
    // extra joins against lineitem. (The testdata schema has no
    // l_receiptdate/l_commitdate; late = shipped > 90 days after the
    // order date.)
    "q21_late_supplier" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      // r16 (guide §2.4): ONE orderkey exchange serves all three
      // downstream keyings — HashPartitioning(l_orderkey) satisfies
      // the (l_orderkey, l_suppkey) grouping (subset rule), the
      // per-order rollup, and the semi-join, so the old plan's three
      // post-join exchanges collapse to this repartition (the cache
      // then holds the orderkey-clustered frame both consumers want).
      // Rows per (order, supplier) group are 1-2, so shipping raw
      // joined rows instead of map-side partials costs ~nothing.
      val perSupp = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .cast("int"))
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("is_late"))
        .persist() // consumed by the per-order rollup AND the final semi-join
      val loneLateOrders = perSupp.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"), sum(col("is_late")).as("n_late"))
        .filter(col("n_supp") > 1 && col("n_late") === 1)
        .select(col("l_orderkey"))
      perSupp.filter(col("is_late") === 1)
        .join(loneLateOrders, Seq("l_orderkey"), "left_semi")
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // TPC-H Q22 shape (r11): global scalar subquery (average positive
    // balance — a 1-row broadcast crossJoin) gating an anti join
    // against a filtered orders slice (no urgent 1998 order — every
    // synthetic customer has SOME order, so the unfiltered Q22 form
    // is empty here), rolled up per nation. The o_orderdate/priority
    // filters push to the orders scan; the anti join's build side is
    // the filtered slice, the rich-customer side probes.
    "q22_idle_rich" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val avgPos = cust.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("avg_pos"))
      val urgent98 = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(avgPos))
        .filter(col("c_acctbal") > col("avg_pos"))
        .join(urgent98, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          msum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    }),

    // Explicit GROUPING SETS (finer than rollup/cube): region totals,
    // region x nation detail, and the grand total — but NOT the
    // nation-only cut a cube would add. Same empty-safe two-level
    // shape as agg_rollup: the () set is a plain global aggregate so
    // the SQL-standard row survives empty input.
    "agg_grouping_sets" -> ((s, d) => {
      val grid = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(m(col("c_acctbal"))).as("bal"), count(lit(1)).as("cnt"))
      val sub = grid
        .groupingSets(
          Seq(Seq(col("r_name")), Seq(col("r_name"), col("n_name"))),
          col("r_name"), col("n_name"))
        .agg(round(sum(col("bal")), 2).cast("double").as("total_bal"),
          sum(col("cnt")).as("n_cust"))
      val global = grid
        .agg(round(sum(col("bal")), 2).cast("double").as("total_bal"),
          coalesce(sum(col("cnt")), lit(0L)).as("n_cust"))
        .select(lit(null).cast("string").as("r_name"),
          lit(null).cast("string").as("n_name"),
          col("total_bal"), col("n_cust"))
      sub.unionByName(global)
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
    }),

    // Time-RANGE window frame: per-user trailing-1-hour event sum —
    // the frame is bounded by VALUE distance (epoch seconds), not row
    // count, so bursts and gaps weight correctly. One shuffle on the
    // partition key; both window columns share it.
    "window_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-3600L, Window.currentRow)
      Tables.events(s, d)
        .filter(col("user_id") <= 20)
        .withColumn("epoch_s", unix_timestamp(col("ts")))
        .withColumn("trailing_1h_sum",
          sum(m(col("value"))).over(w).cast("double"))
        .withColumn("trailing_1h_n", count(lit(1)).over(w))
        .select(col("user_id"), col("event_id"), col("epoch_s"),
          col("trailing_1h_sum"), col("trailing_1h_n"))
        .orderBy(col("user_id"), col("epoch_s"), col("event_id"))
    }),

    // JSON property extraction from the events props column.
    "json_extract" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).cast("long").as("sum_k"),
          round(avg(col("k")), 4).as("avg_k"))
        .orderBy(col("event_type"))
    }),

    // TPC-H Q2 shape (r11, adapted — no partsupp table): min-cost
    // supplier per part. Supply cost is derived as min(unit price)
    // per (part, supplier) from lineitem; the correlated "= (SELECT
    // min ...)" is decorrelated into a window min over the AGGREGATED
    // (part, supplier) frame — tiny after the one groupBy shuffle —
    // so the fact is scanned once and never self-joined. min over
    // per-row IEEE divisions is exact in both engines (no summation
    // order), so the equality filter is engine-stable.
    "q2_min_cost_supp" -> ((s, d) => {
      val euSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val cost = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          // try_divide, not `/`: under ANSI (the Spark 4 default this
          // engine runs with) a single zero-quantity line would throw
          // DIVIDE_BY_ZERO and kill the whole job (r15 adversarial
          // rung). NULL unit cost == DuckDB's native DOUBLE/0.0, and
          // min() skips it in both engines.
          try_divide(col("l_extendedprice"), col("l_quantity")).as("unit"))
        .join(broadcast(euSupp.select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"), "left_semi")
        // r16 (guide §2.4, the q21 one-exchange pattern): a single
        // l_partkey repartition satisfies BOTH downstream keyings —
        // the (l_partkey, l_suppkey) aggregate (subset rule) and the
        // per-part window — collapsing two exchanges into one. Rows
        // per (part, supplier) group are 1-2, so the forfeited
        // map-side partial aggregation costs ~nothing (the q21
        // measurement).
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("unit")).as("unit_cost"))
      val w = Window.partitionBy(col("l_partkey"))
      cost.withColumn("min_c", min(col("unit_cost")).over(w))
        .filter(col("unit_cost") === col("min_c"))
        .join(broadcast(Tables.part(s, d).filter(col("p_size") <= 10)
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          round(col("unit_cost"), 4).as("min_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q7 shape (r11): bilateral nation-pair shipping volume.
    // Both endpoint dimensions (supplier->nation, customer->nation)
    // pre-filter to the pair's nation DOMAIN (the disjunction implies
    // both endpoints are in {n1, n2}) — the broadcasts carry ~2/25 of
    // each dim and the joins prune non-qualifying fact rows at join
    // time. The cross-direction pair disjunction then filters AFTER
    // the joins so the fact still joins once, not per direction. One
    // lineitem<->orders shuffle + a 4-row final groupBy.
    "q7_volume" -> ((s, d) => {
      val pairNations = Seq("NATION_12", "NATION_10")
      val suppN = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name").isin(pairNations: _*))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custN = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name").isin(pairNations: _*))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
          (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(rsum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H Q8 shape (r11): market share — a ratio of CONDITIONAL
    // aggregates in one pass (sum-if over the focal nation / sum all)
    // instead of two scans. Region + part-type dims broadcast; the
    // only big shuffle is lineitem<->orders.
    "q8_market_share" -> ((s, d) => {
      val amCust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val suppN = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(amCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .withColumn("vol", discounted(col("l_extendedprice"), col("l_discount")))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        // Both decimal sums are exact; the ratio divides the two
        // resulting doubles (identical in both engines), so the only
        // remaining cross-engine hazard is round()'s half-way case on
        // an identical input — measure-zero, and strictly tighter than
        // the double-sum ratio this replaced. when() without otherwise
        // yields NULLs, which sum() skips — keeps the branch decimal.
        .agg(round(
          sum(when(col("supp_nation") === "NATION_5", col("vol"))).cast("double") /
            sum(col("vol")).cast("double"), 4).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // TPC-H Q9 shape (r11, adapted — no partsupp.supplycost): profit
    // per supplier nation per year with a substring part filter. Cost
    // is proxied as 10% of retail price x quantity (the SHAPE — a
    // per-row profit expression spanning two tables — is what's under
    // test). part and supplier broadcast; one fact shuffle.
    "q9_profit" -> ((s, d) => {
      val redParts = Tables.part(s, d).filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val suppN = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Tables.lineitem(s, d)
        .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
        .withColumn("profit",
          discounted(col("l_extendedprice"), col("l_discount")) -
            m(col("p_retailprice")) * col("l_quantity").cast("decimal(10,0)") *
              lit(0.1).cast("decimal(2,1)"))
        .groupBy(col("n_name"), year(col("l_shipdate")).as("o_year"))
        .agg(rsum(col("profit")).as("sum_profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    }),

    // TPC-H Q10 shape (r11): returned-item revenue, top 20 customers.
    // The returnflag filter prunes the fact at the scan; customer and
    // nation broadcast into the aggregated result, and the top-20
    // orders on the ROUNDED revenue with a unique key tiebreaker so
    // the cut is engine-deterministic (q3_topn precedent).
    "q10_returns" -> ((s, d) => {
      Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(rsum(discounted(col("l_extendedprice"), col("l_discount")))
          .as("revenue"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q11 shape (r11, adapted): group-level HAVING against a
    // GLOBAL scalar — suppliers carrying > 1.02% of total shipped
    // quantity. The scalar is a second aggregate of the per-supplier
    // frame (no second fact scan) broadcast as one row. l_quantity is
    // integral so both sums are exact and the threshold compare is
    // engine-stable without any margin argument.
    "q11_share_threshold" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).cast("long").as("total_qty"))
      val tot = per.agg(sum(col("total_qty")).as("grand"))
      per.crossJoin(broadcast(tot))
        .filter(col("total_qty") > lit(0.0102) * col("grand"))
        .select(col("l_suppkey"), col("total_qty"))
        .orderBy(col("l_suppkey"))
    }),

    // TPC-H Q13 shape (r11): order-count distribution INCLUDING
    // zero-order customers. Orders pre-aggregate to per-customer
    // counts (map-side combine shrinks the fact before the join);
    // customers LEFT-join the counts; the null->0 coalesce is what
    // encodes the outer-join semantics the histogram depends on.
    "q13_order_dist" -> ((s, d) => {
      val perCust = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
      Tables.customer(s, d).select(col("c_custkey"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("c_count", coalesce(col("c_count"), lit(0L)))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q14 shape (r11): promo revenue share — conditional sum /
    // total sum in ONE aggregate over a one-month slice, part type
    // broadcast. The month filter pushes to the lineitem scan.
    "q14_promo_share" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
        .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .withColumn("vol", discounted(col("l_extendedprice"), col("l_discount")))
        .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", col("vol"))).cast("double") /
          sum(col("vol")).cast("double"), 4).as("promo_share"))
    }),

    // TPC-H Q15 shape (r11): top revenue supplier — the max of an
    // aggregated view joined back by VALUE equality. The max is a
    // 1-row broadcast; ties would all surface (no arbitrary pick).
    // Measured winner margin at sf0.01 is ~1% of revenue, far above
    // float summation noise — but that argues distance to the
    // RUNNER-UP, not bit-identical self-recomputation: unpersisted,
    // the double-sum aggregate evaluates independently on both sides
    // of the crossJoin, and on a distributed shuffle the final-merge
    // fetch order can differ in the last ulp between the mx build and
    // the probe, silently returning zero rows (r12 advisor finding).
    // persist() makes both consumers read ONE materialization, so the
    // equality compares a value against itself. The r12 decimal sweep
    // makes `r` an exact decimal sum on top of that: the equality is
    // now exact ARITHMETIC, not just a shared materialization, and the
    // tie SET is engine- and rung-stable (the cross-rung sf10 gate
    // caught the double form returning 6-vs-5 rows on the identity-
    // copy rung's exact revenue ties).
    "q15_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(discounted(col("l_extendedprice"), col("l_discount"))).as("r"))
        .persist()
      val mx = rev.agg(max(col("r")).as("mx"))
      rev.crossJoin(broadcast(mx)).filter(col("r") === col("mx"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("r"), 2).cast("double").as("total_rev"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q16 shape (r11): distinct-supplier counts per part attr
    // group, EXCLUDING a blacklist (NOT IN) — the exclusion is a
    // broadcast anti join on the fact BEFORE the distinct aggregate,
    // so excluded rows never reach the shuffle.
    "q16_supplier_count" -> ((s, d) => {
      val excluded = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 14, 19, 23))
          .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // TPC-H Q20 shape (r11): suppliers shipping > 50% of a part's
    // annual volume — a per-(part, supplier) aggregate compared to a
    // window total per part (no fact self-join). Nearly every
    // supplier dominates SOME part at every SF (single-supplier parts
    // are trivially 100%), so a bare semi-join would be a
    // near-constant frame; the oracle instead binds on the PER-
    // SUPPLIER dominated-part count, which any threshold or window
    // defect shifts. Integral quantities make the half-threshold
    // exact; the 20 exactly-at-half pairs at sf0.01 are excluded
    // identically by both engines.
    "q20_qty_surplus" -> ((s, d) => {
      val sp = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).cast("long").as("q"))
      val w = Window.partitionBy(col("l_partkey"))
      val heavy = sp.withColumn("pq", sum(col("q")).over(w))
        .filter(col("q") * 2 > col("pq"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_dominated"))
      Tables.supplier(s, d)
        .join(heavy, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"), col("n_dominated"))
        .orderBy(col("s_name"))
    }),

    // TPC-H Q12 shape (r12, judge ask #4): late-shipment priority
    // histogram by ship mode. The testdata schema lacks l_shipmode/
    // l_commitdate/l_receiptdate (the r11 documented block), so they
    // are DERIVED as pure integer-hash/interval functions of existing
    // columns — both engines compute byte-identical values from the
    // same parquet, so the oracle binds exactly (receipt = ship +
    // 1..30 days, commit = ship - 30..+30 days, mode = 7-way key
    // hash: the TPC-H generator's own distributions, deterministic
    // instead of random).
    // Plan shape: the derived receipt-window predicate cannot push
    // below the derivation, so a REDUNDANT implied window on the BASE
    // column rides along (receipt = ship + 1..30d means ship must lie
    // in [win_lo - 30d, win_hi)) and reaches the parquet scan —
    // PushedFilters prunes row groups before any derivation runs, the
    // move that matters when the fact is 100 TB. The two-bucket count
    // is the one-pass conditional-sum; orders joins AFTER the fact is
    // filtered to the qualifying slice.
    "q12_shipmode" -> ((s, d) => {
      val modes = array(
        Seq("MAIL", "SHIP", "AIR", "TRUCK", "RAIL", "REG AIR", "FOB").map(lit): _*)
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-12-02").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .withColumn("l_shipmode", element_at(modes,
          ((col("l_orderkey") + col("l_linenumber")) % 7).cast("int") + 1))
        .withColumn("l_receiptdate", expr(
          "timestampadd(DAY, CAST((l_orderkey * 7 + l_linenumber) % 30 AS INT) + 1, l_shipdate)"))
        .withColumn("l_commitdate", expr(
          "timestampadd(DAY, CAST((l_partkey + l_suppkey) % 61 AS INT) - 30, l_shipdate)"))
        .filter(col("l_shipmode").isin("MAIL", "SHIP") &&
          col("l_commitdate") < col("l_receiptdate") &&
          col("l_shipdate") < col("l_commitdate") &&
          col("l_receiptdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_receiptdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_shipmode"))
      li.join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_shipmode"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_shipmode"))
    }))

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)::DOUBLE
        |    AS sum_base_price,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            (1.00 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE
        |    AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q6_filter_agg" ->
      """SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                 CAST(l_discount AS DECIMAL(3,2))), 2)::DOUBLE
        |  AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q3_topn" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            (1.00 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-03-15'
        |  AND l_shipdate > TIMESTAMP '1997-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_multijoin" ->
      """SELECT n_name,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            (1.00 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "join_semi" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "join_anti" ->
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "agg_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) * 25000.0 AS BIGINT)
        |    AS bin_lo,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "window_ntile" ->
      """WITH t AS (
        |  SELECT o_orderstatus, round(o_totalprice, 2) AS price,
        |    ntile(10) OVER (PARTITION BY o_orderstatus
        |                    ORDER BY round(o_totalprice, 2), o_orderkey)
        |      AS decile
        |  FROM orders)
        |SELECT o_orderstatus, decile, count(*) AS n,
        |  round(min(price), 2) AS lo, round(max(price), 2) AS hi
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q18_bigcust" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING round(sum(l_quantity), 2) > 200)
        |SELECT c_custkey, c_name, o_orderkey,
        |  round(o_totalprice, 2) AS o_totalprice, sum_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "skew_join" ->
      """WITH ev AS (
        |  SELECT CASE WHEN user_id % 10 < 7 THEN 1 ELSE user_id END AS k,
        |    "value" AS v
        |  FROM events),
        |dim AS (SELECT DISTINCT k FROM ev),
        |dimw AS (SELECT k, CAST(k % 100 AS DOUBLE) AS w FROM dim)
        |SELECT e.k % 5 AS grp, count(*) AS n,
        |  round(sum(CAST(e.v AS DECIMAL(18,2)) * CAST(d.w AS DECIMAL(4,0))),
        |        2)::DOUBLE AS wsum
        |FROM ev e JOIN dimw d ON e.k = d.k
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "join_outer" ->
      """SELECT
        |  count(CASE WHEN c.c_custkey IS NOT NULL AND o.o_custkey IS NOT NULL THEN 1 END) AS matched,
        |  count(CASE WHEN o.o_custkey IS NULL THEN 1 END) AS customer_only,
        |  count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS order_only
        |FROM (SELECT c_custkey FROM customer) c
        |FULL OUTER JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin,

    "window_rank" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS top_price
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn = 1 AND o_custkey <= 100 ORDER BY o_custkey""".stripMargin,

    "window_running" ->
      """SELECT o_custkey, day,
        |  day_total::DOUBLE AS day_total,
        |  sum(day_total) OVER (PARTITION BY o_custkey ORDER BY day)::DOUBLE
        |    AS running_total,
        |  coalesce(lag(day_total, 1) OVER (PARTITION BY o_custkey ORDER BY day)
        |             ::DOUBLE, 0) AS prev_total
        |FROM (SELECT o_custkey, CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_total
        |      FROM orders GROUP BY 1, 2)
        |WHERE o_custkey <= 50 ORDER BY o_custkey, day""".stripMargin,

    "agg_rollup" ->
      """SELECT r_name, n_name,
        |  round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)::DOUBLE
        |    AS total_bal,
        |  count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
        |    AS total_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "agg_percentile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  count(DISTINCT l_suppkey) AS distinct_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_approx" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  true AS approx_within_5pct
        |FROM lineitem""".stripMargin,

    "unpivot_long" ->
      """SELECT metric, count(*) AS n,
        |  round(sum(CAST(value AS DECIMAL(18,2))), 2)::DOUBLE AS total,
        |  round(avg(value), 4) AS mean
        |FROM (
        |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
        |  FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'retailprice', p_retailprice FROM part)
        |GROUP BY metric ORDER BY metric""".stripMargin,

    "pivot_wide" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS "error",
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "union_dedup" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,

    "topk_group" ->
      """SELECT o_orderpriority, rk, o_orderkey,
        |  round(o_totalprice, 2) AS o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,

    "q4_exists" ->
      """SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 300 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q17_scalar" ->
      """SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE
        |         / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#4'
        |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,

    "q19_disjunct" ->
      """SELECT round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |               (1.00 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE
        |  AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 30
        |       AND l_quantity BETWEEN 1 AND 25)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 5 AND 35)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 40
        |       AND l_quantity BETWEEN 10 AND 45)""".stripMargin,

    // the correlated EXISTS/NOT-EXISTS form, which DuckDB evaluates
    // directly — the Spark side's aggregate decorrelation must land
    // on identical rows
    "q21_late_supplier" ->
      """WITH ps AS (
        |  SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |             THEN 1 ELSE 0 END) AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |lone AS (
        |  SELECT l_orderkey FROM ps
        |  GROUP BY 1
        |  HAVING count(*) > 1 AND sum(is_late) = 1)
        |SELECT s_name, count(*) AS numwait
        |FROM ps
        |JOIN lone USING (l_orderkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE ps.is_late = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "q22_idle_rich" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |  round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)::DOUBLE
        |    AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND c_custkey NOT IN (
        |    SELECT o_custkey FROM orders
        |    WHERE o_orderpriority = '1-URGENT'
        |      AND o_orderdate >= TIMESTAMP '1998-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT r_name, n_name,
        |  round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)::DOUBLE
        |    AS total_bal,
        |  count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "window_range_frame" ->
      """SELECT user_id, event_id, epoch_s,
        |  sum(CAST(value AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id ORDER BY epoch_s
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)::DOUBLE
        |    AS trailing_1h_sum,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_s
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS trailing_1h_n
        |FROM (SELECT user_id, event_id, value,
        |        CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
        |      FROM events WHERE user_id <= 20)
        |ORDER BY user_id, epoch_s, event_id""".stripMargin,

    "json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the correlated "= (SELECT min ...)" form, which DuckDB evaluates
    // directly — the Spark side's window-min decorrelation must land
    // on identical rows
    "q2_min_cost_supp" ->
      """WITH eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS c
        |  FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
        |  GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, p_partkey, round(c, 4) AS min_cost
        |FROM cost JOIN part ON l_partkey = p_partkey
        |JOIN eu ON l_suppkey = s_suppkey
        |WHERE p_size <= 10
        |  AND c = (SELECT min(c2.c) FROM cost c2 WHERE c2.l_partkey = cost.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    "q7_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            (1.00 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((sn.n_name = 'NATION_12' AND cn.n_name = 'NATION_10')
        |    OR (sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_12'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        |  round(sum(CASE WHEN sn.n_name = 'NATION_5'
        |                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                      (1.00 - CAST(l_discount AS DECIMAL(3,2))) END
        |           )::DOUBLE
        |    / sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |          (1.00 - CAST(l_discount AS DECIMAL(3,2))))::DOUBLE,
        |    4) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'PROMO'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND o_custkey IN (
        |    SELECT c_custkey FROM customer
        |    JOIN nation ON c_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'AMERICA')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q9_profit" ->
      """SELECT n_name,
        |  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS o_year,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |              (1.00 - CAST(l_discount AS DECIMAL(3,2)))
        |    - CAST(p_retailprice AS DECIMAL(18,2)) *
        |        CAST(l_quantity AS DECIMAL(10,0)) * 0.1), 2)::DOUBLE
        |    AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin,

    "q10_returns" ->
      """SELECT c_custkey, c_name,
        |  round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |            (1.00 - CAST(l_discount AS DECIMAL(3,2)))), 2)::DOUBLE
        |    AS revenue,
        |  round(c_acctbal, 2) AS c_acctbal, n_name
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q11_share_threshold" ->
      """SELECT l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |FROM lineitem GROUP BY l_suppkey
        |HAVING sum(l_quantity) > 0.0102 * (SELECT sum(l_quantity) FROM lineitem)
        |ORDER BY l_suppkey""".stripMargin,

    "q13_order_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_share" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (1.00 - CAST(l_discount AS DECIMAL(3,2))) END)::DOUBLE
        |  / sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (1.00 - CAST(l_discount AS DECIMAL(3,2))))::DOUBLE,
        |  4) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                        (1.00 - CAST(l_discount AS DECIMAL(3,2)))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, round(r, 2)::DOUBLE AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r = (SELECT max(r) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_count" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 14, 19, 23)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q20_qty_surplus" ->
      """WITH sp AS (
        |  SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(q) AS pq FROM sp GROUP BY 1),
        |heavy AS (
        |  SELECT l_suppkey, count(*) AS n_dominated
        |  FROM sp JOIN pt USING (l_partkey) WHERE q * 2 > pq GROUP BY 1)
        |SELECT s_name, n_name, n_dominated
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN heavy ON s_suppkey = l_suppkey
        |ORDER BY s_name""".stripMargin,

    // the derived columns are the SAME pure functions of the same
    // parquet values on both sides, so the oracle binds exactly; the
    // oracle deliberately OMITS the redundant pushable l_shipdate
    // prefilter (implied by the receipt window) — identical results
    // prove the prefilter is implied, not load-bearing
    "q12_shipmode" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    (['MAIL','SHIP','AIR','TRUCK','RAIL','REG AIR','FOB'])
        |      [CAST((l_orderkey + l_linenumber) % 7 AS INT) + 1] AS l_shipmode,
        |    l_shipdate,
        |    l_shipdate + to_days(CAST((l_orderkey * 7 + l_linenumber) % 30 AS INT) + 1)
        |      AS l_receiptdate,
        |    l_shipdate + to_days(CAST((l_partkey + l_suppkey) % 61 AS INT) - 30)
        |      AS l_commitdate
        |  FROM lineitem)
        |SELECT l_shipmode,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM li JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipmode IN ('MAIL', 'SHIP')
        |  AND l_commitdate < l_receiptdate
        |  AND l_shipdate < l_commitdate
        |  AND l_receiptdate >= TIMESTAMP '1996-01-01'
        |  AND l_receiptdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_shipmode ORDER BY l_shipmode""".stripMargin)
}
