package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Relational workout (SURVEY §7.4): joins / aggregates / windows over the
  * TPC-H-ish fixture tables, so the oracle suite exercises operator classes
  * the χ² DAG alone doesn't (multi-way joins, date predicates, ranking).
  *
  * Cross-engine exactness: double addition is not associative, so any
  * aggregate the oracle hash-compares is summed as DECIMAL (exact, order-
  * independent in both Spark and DuckDB) and only then cast back to double.
  * The oracle's final cast goes decimal→VARCHAR→DOUBLE: DuckDB's direct
  * decimal→double is not correctly rounded (up to 1 ulp off), but its
  * varchar→double parse is — matching Spark's BigDecimal.doubleValue.
  * Averages are expressed as exact-decimal sum ÷ count — one deterministic
  * double division instead of an order-dependent double accumulation.
  *
  * Scale notes: filters sit directly on the scans (predicate pushdown —
  * verified via explain in RelationalSpec); small dimensions (region,
  * nation, supplier, customer at fixture scale) are broadcast; the only
  * wide shuffles are the group-bys on the fact table.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.parquet(s, dir, name)

  /** Exact money sum: double → decimal(28,10) per row → exact sum → double. */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(28,10)")).cast("double")

  lazy val specs: Map[String, QuerySpec] = Map(
    // TPC-H Q1-shaped scan+aggregate: the canonical pricing summary.
    "rel_pricing_summary" -> QuerySpec((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    // TPC-H Q3-shaped 3-way join + grouped top-N by revenue.
    // Join order matters at scale: semi-reduce orders against the
    // broadcast BUILDING-customer filter FIRST (cuts orders ~5x before
    // the wide lineitem join) — with CBO off Catalyst keeps user order.
    "rel_top_orders" -> QuerySpec((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val oBuilding = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      li.join(oBuilding, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin),
    // TPC-H Q5-shaped snowflake join: revenue per nation via region filter.
    "rel_nation_revenue" -> QuerySpec((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin),
    // Window ranking: top-3 orders by totalprice within each priority.
    "rel_priority_top_orders" -> QuerySpec((s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
        .orderBy("o_orderpriority", "rank")
    },
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
        |  FROM orders)
        |WHERE rank <= 3
        |ORDER BY o_orderpriority, rank""".stripMargin),
    // Aggregate breadth: distinct counts + min/max (order-independent exact).
    "rel_part_stats" -> QuerySpec((s, dir) => {
      val p = t(s, dir, "part")
      p.groupBy("p_brand")
        .agg(
          countDistinct(col("p_type")).as("n_types"),
          count(lit(1)).as("n_parts"),
          min(col("p_retailprice")).as("min_price"),
          max(col("p_retailprice")).as("max_price"),
          min(col("p_size")).as("min_size"),
          max(col("p_size")).as("max_size"))
        .orderBy("p_brand")
    },
      """SELECT p_brand,
        |  count(DISTINCT p_type) AS n_types,
        |  count(*) AS n_parts,
        |  min(p_retailprice) AS min_price,
        |  max(p_retailprice) AS max_price,
        |  min(p_size) AS min_size,
        |  max(p_size) AS max_size
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin),
    // Hierarchical aggregation: ROLLUP over (returnflag, linestatus)
    // emits per-group, per-flag subtotal, and grand-total rows.
    // Two-phase: Catalyst lowers rollup/cube to Expand, which feeds
    // every input row through the partial aggregate once PER GROUPING
    // SET (3x for rollup, 4x for cube) — at sf100 that is 1.8 B
    // aggregate-input rows for a 6-group result. Aggregating to the
    // finest grain first (one plain shuffle, ~6 rows) and rolling up
    // the tiny aggregate removes the multiplier exactly: counts re-sum
    // as longs, money re-sums in decimal(28,10) BEFORE the double
    // cast, so the exact total — and the output hash — is unchanged.
    "rel_rollup" -> QuerySpec((s, dir) => {
      val li = t(s, dir, "lineitem")
      val fine = li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n0"),
          sum(col("l_quantity").cast("decimal(28,10)")).as("s0"))
      fine.rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("n0")).as("n"),
          sum(col("s0")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    // CUBE completes the grouping-sets family: all 4 grouping
    // combinations (full, per-flag, per-status, grand total), same
    // two-phase shape as rel_rollup (4x Expand multiplier removed).
    "rel_cube" -> QuerySpec((s, dir) => {
      val li = t(s, dir, "lineitem")
      val fine = li.groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n0"),
          sum(col("l_discount").cast("decimal(28,10)")).as("s0"))
      fine.cube("l_returnflag", "l_linestatus")
        .agg(sum(col("n0")).as("n"),
          sum(col("s0")).cast("double").as("sum_disc"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(l_discount AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_disc
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    // Set-operation surface: INTERSECT/EXCEPT with set semantics,
    // computed in ONE pass. The naive intersect ∪ except form builds
    // both inputs twice (each set op is its own join subtree — 2×
    // the scans and shuffles at scale); since c_custkey is the customer
    // primary key (already distinct), one left join of the filtered
    // customers against the distinct order keys tags every key as
    // exactly one of with/without — identical rows, half the work.
    "rel_setops" -> QuerySpec((s, dir) => {
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val withOrders = t(s, dir, "orders")
        .select(col("o_custkey")).distinct()
      building.join(withOrders, col("c_custkey") === col("o_custkey"), "left")
        .select(when(col("o_custkey").isNotNull, "building_with_orders")
          .otherwise("building_no_orders").as("subset"), col("c_custkey"))
        .orderBy("subset", "c_custkey")
    },
      """SELECT 'building_with_orders' AS subset, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'building_no_orders' AS subset, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders)
        |ORDER BY subset, c_custkey""".stripMargin),
    // Anti/semi join surface in ONE pass over orders: left join against
    // the distinct custkey projection, existence = join hit. The naive
    // left_semi ∪ left_anti form scans orders twice — 2x the work at scale.
    "rel_customer_orders" -> QuerySpec((s, dir) => {
      val c = t(s, dir, "customer")
      val oKeys = t(s, dir, "orders").select(col("o_custkey")).distinct()
      c.join(oKeys, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("o_custkey").isNotNull.as("has_orders"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
        |  EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_orders
        |FROM customer
        |ORDER BY c_custkey""".stripMargin),
    // Running/frame windows over the order history: cumulative spend and
    // a trailing-3-order spend per customer. ONE shuffle on o_custkey,
    // then both frames are linear in-partition passes sharing that
    // exchange (same partitioning+ordering → one Window operator chain).
    // Sums stay DECIMAL inside the frame (running double addition would
    // accumulate in engine-dependent order), cast back per row.
    "rel_window_running" -> QuerySpec((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val spend = col("o_totalprice").cast("decimal(28,10)")
      t(s, dir, "orders")
        .withColumn("order_seq",
          row_number().over(w))
        .withColumn("running_spend",
          sum(spend).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("trailing3_spend",
          sum(spend).over(w.rowsBetween(-2, Window.currentRow)).cast("double"))
        .select("o_custkey", "o_orderkey", "order_seq",
          "running_spend", "trailing3_spend")
        .orderBy("o_custkey", "order_seq")
    },
      // Frame sums accumulate as DECIMAL (exact in both engines regardless
      // of the engine's frame evaluation order), then VARCHAR-hop to double.
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS INT) AS order_seq,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10))) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_spend,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10))) OVER
        |    (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS trailing3_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, order_seq""".stripMargin),
    // TPC-H Q17-shaped CORRELATED subquery — "lineitems ordering less
    // than 20% of that part's average quantity" — decorrelated into a
    // partition window instead of the naive per-part-average self-join:
    // sum/count over (PARTITION BY l_partkey) gives every row its
    // part's aggregate in the SAME single pass, so lineitem is scanned
    // once and shuffled once (the self-join form scans it twice and
    // shuffles both copies — 2× the I/O and exchange volume at 100 TB;
    // RelationalSpec pins the one-scan shape). The 20%-of-average
    // predicate is evaluated entirely in exact integer-valued DECIMAL
    // (qty < 0.2·sum/cnt ⟺ 5·qty·cnt < sum — no division, no doubles,
    // so the filter is bit-portable by construction). The part join is
    // unhinted: AQE broadcasts it at fixture scale; at full scale a
    // shuffle join on the already-partitioned key is the right plan.
    // The aggregate-then-join alternative (per-partkey sum/cnt + a
    // shuffle_hash join-back, skipping the window sort) was MEASURED
    // and LOSES at both scales (r14): sf10 12.6 s vs 7.0 with 16.1 GB
    // spill vs 4.8 (the join-back re-shuffles the fact AND re-scans it
    // for the aggregate, and the ~|parts|-group hash costs more than
    // the sort it saves); sf100 136.0 vs 71.6 s, spill 73.7 GB vs
    // 28.5. A lineitem-sized partition override was also measured and
    // loses slightly on both forms (81.4/154.4) — the window's sort
    // spill is bounded and the extra reduce tasks only add scheduling.
    "rel_small_qty_revenue" -> QuerySpec((s, dir) => {
      val w = Window.partitionBy(col("l_partkey"))
      val qd = col("l_quantity").cast("decimal(12,4)")
      val li = t(s, dir, "lineitem")
        .withColumn("qty_sum", sum(qd).over(w))
        .withColumn("qty_cnt", count(lit(1)).over(w))
        .filter(qd * lit(5) * col("qty_cnt") < col("qty_sum"))
      li.join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          (dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"),
          count(lit(1)).as("n_small"))
        .orderBy("p_brand")
    },
      // Same decorrelated-window shape; the 5·qty·cnt < sum predicate is
      // exact DECIMAL on both engines (quantities are integer-valued), so
      // no float enters until the final revenue sum's VARCHAR-hop cast.
      """WITH q AS (
        |  SELECT l_partkey, l_extendedprice,
        |         CAST(l_quantity AS DECIMAL(12,4)) AS qd,
        |         sum(CAST(l_quantity AS DECIMAL(12,4)))
        |           OVER (PARTITION BY l_partkey) AS qty_sum,
        |         count(*) OVER (PARTITION BY l_partkey) AS qty_cnt
        |  FROM lineitem
        |)
        |SELECT p_brand,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_small
        |FROM q JOIN part ON l_partkey = p_partkey
        |WHERE qd * 5 * qty_cnt < qty_sum
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin),
    // TPC-H Q6-shaped forecast-revenue: the pure scan-aggregate — every
    // predicate (date year, discount band, quantity cap) reaches the
    // parquet scan as a pushed filter, zero joins, one 1-row aggregate.
    // The band compares the same IEEE doubles both engines parse from
    // the literals, so BETWEEN binds identically cross-engine.
    "rel_filtered_revenue" -> QuerySpec((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items")),
      // quantile_cont ≡ Spark percentile (interpolating, proven by
      // text_length_quantiles); counts cast to BIGINT (DuckDB sums into
      // HUGEINT); the two shares are single double divisions over exact
      // integer aggregates in both engines.
      """SELECT
        |  CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    // TPC-H Q10-shaped returned-item customer ranking: revenue lost to
    // returns per customer in a date window, top 20. Both fact filters
    // run BEFORE the joins (returnflag on lineitem, the date window on
    // orders — each scan is cut first); the customer attach joins the
    // aggregated ~|customers| rows, and the final cut is
    // TakeOrderedAndProject (per-partition heaps), not a global sort.
    "rel_returned_customers" -> QuerySpec((s, dir) => {
      val returned = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val winOrders = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val perCust = returned
        .join(winOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
      perCust
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      """SELECT c_custkey, c_name,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    // TPC-H Q7-shaped bidirectional trade volume: revenue between two
    // named nations by (supp_nation, cust_nation, ship year). Both
    // nation filters semi-reduce their dimension chain BEFORE touching
    // the fact: the 2-nation supplier subset broadcasts into lineitem
    // (cuts it ~2/N up front) and the 2-nation customer subset
    // semi-reduces orders; the only wide shuffle is the l_orderkey
    // fact-fact join. The OR-of-pairs predicate runs post-join on the
    // two tiny nation name columns.
    "rel_nation_trade" -> QuerySpec((s, dir) => {
      val nations = Seq("NATION_18", "NATION_19")
      val supN = t(s, dir, "supplier")
        .join(t(s, dir, "nation").filter(col("n_name").isin(nations: _*)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custN = t(s, dir, "customer")
        .join(t(s, dir, "nation").filter(col("n_name").isin(nations: _*)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ordN = t(s, dir, "orders")
        .join(custN, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "cust_nation")
      t(s, dir, "lineitem")
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(ordN, col("l_orderkey") === col("o_orderkey"))
        .filter((col("supp_nation") === nations(0) && col("cust_nation") === nations(1)) ||
          (col("supp_nation") === nations(1) && col("cust_nation") === nations(0)))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       year(l_shipdate) AS ship_year,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        |   OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // TPC-H Q8-shaped market share: of all PROMO-part revenue sold to
    // ASIA customers, the fraction supplied by one nation, per order
    // year. The share is a ratio of two exact-DECIMAL sums in ONE
    // aggregate (a conditional numerator beside the unconditional
    // denominator — no second scan, no self-join), divided once in
    // double. Dimension chains (part, supplier→nation, nation→region)
    // broadcast; the one wide shuffle is again l_orderkey.
    "rel_market_share" -> QuerySpec((s, dir) => {
      val promoPart = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val supN = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val asiaCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
            .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val asiaOrders = t(s, dir, "orders")
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .join(broadcast(promoPart), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(asiaOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(
          dsum(when(col("supp_nation") === "NATION_3", rev).otherwise(lit(0.0)))
            .as("nation_revenue"),
          dsum(rev).as("total_revenue"))
        .withColumn("mkt_share", col("nation_revenue") / col("total_revenue"))
        .orderBy("order_year")
    },
      """SELECT year(o_orderdate) AS order_year,
        |       CAST(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |                          THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
        |                          ELSE CAST(0.0 AS DECIMAL(28,10)) END) AS VARCHAR) AS DOUBLE) AS nation_revenue,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS total_revenue,
        |       CAST(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |                          THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
        |                          ELSE CAST(0.0 AS DECIMAL(28,10)) END) AS VARCHAR) AS DOUBLE)
        |         / CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q9-shaped product-line profit (the fixture has no partsupp,
    // so profit reduces to revenue): parts matching a name pattern,
    // grouped by supplier nation × order year. The LIKE predicate is
    // pushed into the part scan (a StringContains scan filter) and the
    // matching-part key set broadcasts — lineitem is cut before its
    // one orderkey shuffle.
    "rel_product_profit" -> QuerySpec((s, dir) => {
      val redPart = t(s, dir, "part").filter(col("p_name").contains("red"))
        .select("p_partkey")
      val supN = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      t(s, dir, "lineitem")
        .join(broadcast(redPart), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("nation", "order_year")
    },
      """SELECT sn.n_name AS nation, year(o_orderdate) AS order_year,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // TPC-H Q14-shaped promo share: one date-windowed scan, conditional
    // numerator beside the total in a single global aggregate, one
    // double division. The part join is deliberately UNHINTED: part is
    // dimension-small at fixture scale (AQE broadcasts it) but grows
    // with SF — a hardcoded broadcast would be the 100 TB mistake.
    "rel_promo_share" -> QuerySpec((s, dir) => {
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg(
          dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
            .as("promo_revenue"),
          dsum(rev).as("total_revenue"))
        .withColumn("promo_share",
          col("promo_revenue") / col("total_revenue"))
    },
      """SELECT
        |  CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
        |                     THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
        |                     ELSE CAST(0.0 AS DECIMAL(28,10)) END) AS VARCHAR) AS DOUBLE) AS promo_revenue,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS total_revenue,
        |  CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
        |                     THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
        |                     ELSE CAST(0.0 AS DECIMAL(28,10)) END) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin),
    // TPC-H Q16-shaped supplier diversity count (lineitem stands in for
    // the absent partsupp as the part↔supplier association): distinct
    // suppliers per (brand, type, size) over an admitted part subset,
    // excluding flagged suppliers. Scale moves: the fact collapses to
    // DISTINCT (partkey, suppkey) pairs in its ONE exchange before any
    // join (raw-row shuffle, reduce-side dedup — the pairs are
    // near-unique per line, see the body comment); the
    // flagged-supplier exclusion is a broadcast anti-join (the flag
    // predicate selects a handful of rows); the part attach is
    // unhinted.
    "rel_supplier_parts" -> QuerySpec((s, dir) => {
      val sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35)
      // distinct's map-side partial collapses ~nothing here (pairs are
      // near-unique per line) while its per-scan-task hash map spills at
      // scale — shuffle raw pairs instead and dedup on the reduce side,
      // sized by the scoped wide-agg partition override (same rationale
      // as dominantSupplier, measured at sf10). Partitioned by PARTKEY
      // alone (a subset of the dedup key, so the distinct still runs
      // where the rows land): the part attach below joins on partkey,
      // and the subset partitioning feeds it exchange-free — the
      // pair-key variant re-shuffled the whole deduped pair stream for
      // the join (measured sf100: 68.1 → 50.6 s).
      val pairs = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .repartition(col("l_partkey")).distinct()
      val flagged = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select("s_suppkey")
      val parts = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#21" && col("p_size").isin(sizes: _*))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      pairs
        .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
          col("p_type").asc, col("p_size").asc)
    },
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#21'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
      conf = wideAggConf),
    // TPC-H Q19-shaped disjunctive-predicate revenue: an OR of three
    // (brand, size, quantity) conjunctions spanning BOTH join sides.
    // Catalyst cannot factor a cross-table OR, so each side is
    // pre-filtered with its own disjunctive hull EXPLICITLY (part: the
    // brand∧size branches; lineitem: the quantity envelope 1..30) —
    // both reach the scans as pushed filters (RelationalSpec pins it) —
    // and the exact three-branch predicate runs as the post-join
    // residual. Without the hulls both scans read everything and the OR
    // evaluates on the full join output. One aggregate row out.
    "rel_disjunctive_revenue" -> QuerySpec((s, dir) => {
      val partHull =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15))
      val branches =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))
      t(s, dir, "lineitem")
        .filter(col("l_quantity").between(1, 30))
        .join(broadcast(t(s, dir, "part").filter(partHull)),
          col("l_partkey") === col("p_partkey"))
        .filter(branches)
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
    },
      """SELECT
        |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // Join-key skew profile of the fact table — the pre-flight audit
    // that decides whether a planned 100 TB join needs salting
    // (graft.ops.Salted) or AQE skew-join before you commit to it.
    "rel_key_skew" -> QuerySpec((s, dir) =>
      keySkew(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      {
      def branch(kc: String) =
        s"""SELECT '$kc' AS key_col,
           |       CAST(sum(n) AS BIGINT) AS n_rows,
           |       count(*) AS n_keys,
           |       max(n) AS max_freq,
           |       quantile_cont(n, CAST(0.99 AS DOUBLE)) AS p99_freq,
           |       CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_freq,
           |       CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top1_share
           |FROM (SELECT $kc AS k, count(*) AS n FROM lineitem GROUP BY 1)""".stripMargin
      s"""SELECT * FROM (
         |${branch("l_orderkey")}
         |UNION ALL
         |${branch("l_partkey")}
         |UNION ALL
         |${branch("l_suppkey")}
         |) ORDER BY key_col""".stripMargin
    }),
    // Referential-integrity audit over the warehouse FK graph — the
    // relational sibling of sim_embedding_coverage: an inner join at
    // scale silently DROPS orphan children, so count them first. One
    // row per FK edge, zeros explicit.
    "rel_fk_audit" -> QuerySpec((s, dir) => {
      // one read per TABLE (r16): each `t()` call fires a footer/schema
      // job at build, and this query referenced lineitem 3×, orders and
      // customer 2× — sharing the Dataset drops 9 reads to 6 and keeps
      // the per-edge branches (the fused-scan form stays rejected —
      // see fkEdgeAudit's measured negative result)
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      def edge(fk: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String) =
        fkEdgeAudit(fk, child, ck, parent, pk)
      edge("customer.c_nationkey->nation", cust,
          "c_nationkey", t(s, dir, "nation"), "n_nationkey")
        .unionByName(edge("lineitem.l_orderkey->orders",
          li, "l_orderkey", ord, "o_orderkey"))
        .unionByName(edge("lineitem.l_partkey->part",
          li, "l_partkey", t(s, dir, "part"), "p_partkey"))
        .unionByName(edge("lineitem.l_suppkey->supplier",
          li, "l_suppkey", t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(edge("orders.o_custkey->customer",
          ord, "o_custkey", cust, "c_custkey"))
        .orderBy("fk")
    },
      // Same pre-aggregated full-outer shape per edge; counts cast to
      // BIGINT (DuckDB sums into HUGEINT). NULL child keys never match a
      // parent in either engine, so they land in orphan_rows identically.
      {
      def edge(fk: String, child: String, ck: String,
          parent: String, pk: String) =
        s"""SELECT '$fk' AS fk,
           |  CAST(coalesce(sum(cnt), 0) AS BIGINT) AS child_rows,
           |  CAST(coalesce(sum(CASE WHEN p IS NULL THEN cnt ELSE 0 END), 0) AS BIGINT) AS orphan_rows,
           |  count(p) AS parent_keys,
           |  CAST(coalesce(sum(CASE WHEN p IS NOT NULL AND cnt IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS unreferenced_parents
           |FROM (SELECT $ck AS k, count(*) AS cnt FROM $child GROUP BY 1) c
           |FULL OUTER JOIN (SELECT $pk AS p FROM $parent) pt ON c.k = pt.p""".stripMargin
      s"""SELECT * FROM (
         |${edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey")}
         |UNION ALL
         |${edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
         |UNION ALL
         |${edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey")}
         |UNION ALL
         |${edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey")}
         |UNION ALL
         |${edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey")}
         |) ORDER BY fk""".stripMargin
    }),
    // TPC-H Q12-shaped conditional aggregation: order→ship lag bands ×
    // priority-class CASE counts (the fixture has no l_shipmode /
    // l_receiptdate, so the band key is the lag itself).
    "rel_ship_lag" -> QuerySpec((s, dir) =>
      shipLag(t(s, dir, "lineitem"), t(s, dir, "orders")),
      // Same band edges; day lag via date-truncated difference in both
      // engines; counts cast to BIGINT (DuckDB sums into HUGEINT).
      """SELECT
        |  CASE WHEN lag <= 30 THEN '0-30' WHEN lag <= 60 THEN '31-60'
        |       WHEN lag <= 90 THEN '61-90' ELSE '90+' END AS lag_band,
        |  CAST(sum(CASE WHEN is_high THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN is_high THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM (
        |  SELECT date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS lag,
        |         o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_high
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q4-shaped correlated EXISTS: orders per priority with at
    // least one line shipped >90 days after the order date (the fixture
    // has no l_commitdate/l_receiptdate, so ship lag stands in for
    // "committed late").
    "rel_late_orders" -> QuerySpec((s, dir) =>
      lateOrders(t(s, dir, "orders"), t(s, dir, "lineitem")),
      // Naive correlated EXISTS on purpose — an independent implementation
      // of the max-shipdate decorrelation (see lateOrders scaladoc).
      """SELECT o_orderpriority, count(*) AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o.o_orderkey
        |    AND date_diff('day', CAST(o.o_orderdate AS DATE),
        |                  CAST(l_shipdate AS DATE)) > 90)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q13-shaped distribution: customers per order count,
    // INCLUDING the zero-order customers an inner join would drop.
    "rel_order_count_dist" -> QuerySpec((s, dir) =>
      orderCountDist(t(s, dir, "customer"), t(s, dir, "orders")),
      """SELECT n_orders, count(*) AS n_customers FROM (
        |  SELECT CAST(coalesce(n, 0) AS BIGINT) AS n_orders
        |  FROM customer
        |  LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1) o
        |    ON c_custkey = o_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q22-shaped anti-join + scalar subquery: per nation, the
    // customers with above-average positive balance and no recent orders.
    "rel_idle_rich_customers" -> QuerySpec((s, dir) =>
      idleRichCustomers(t(s, dir, "customer"), t(s, dir, "orders")),
      // Same exact-decimal average (VARCHAR-hop, one double division) and
      // balance sum; NOT EXISTS mirrors the left_anti.
      """WITH a AS (
        |  SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0
        |)
        |SELECT c_nationkey, count(*) AS n_custs,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS total_bal
        |FROM customer, a
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // TPC-H Q21-shaped double-correlated quantifier: suppliers who were
    // the sole late shipper in a multi-supplier order.
    "rel_sole_late_supplier" -> QuerySpec((s, dir) =>
      soleLateSupplier(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "supplier")),
      // Naive double-correlated EXISTS/NOT-EXISTS on purpose — an
      // independent implementation of the two-level-aggregate
      // decorrelation (see soleLateSupplier scaladoc).
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |         date_diff('day', CAST(o_orderdate AS DATE),
        |                   CAST(l_shipdate AS DATE)) > 90 AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late) l1
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM li l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM li l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey""".stripMargin,
      conf = wideAggConf),
    // TPC-H Q2-shaped per-group arg-min: cheapest supplier per small part.
    "rel_min_price_supplier" -> QuerySpec((s, dir) =>
      minPriceSupplier(t(s, dir, "lineitem"), t(s, dir, "part"),
        t(s, dir, "supplier")),
      // Naive doubly-correlated arg-min on purpose (min price, then min
      // suppkey at that price) — an independent implementation of the
      // min(struct) decorrelation (see minPriceSupplier scaladoc).
      // DISTINCT because several lines may repeat the winning
      // (price, supplier) pair; prices compare raw, so double equality
      // is exact.
      s"""SELECT DISTINCT p.p_partkey, p.p_name,
         |  l.l_extendedprice AS min_price, s.s_suppkey, s.s_name
         |FROM part p
         |JOIN lineitem l ON l.l_partkey = p.p_partkey
         |JOIN supplier s ON s.s_suppkey = l.l_suppkey
         |WHERE p.p_size <= $MinPricePartSize
         |  AND l.l_extendedprice = (
         |    SELECT min(l2.l_extendedprice) FROM lineitem l2
         |    WHERE l2.l_partkey = p.p_partkey)
         |  AND l.l_suppkey = (
         |    SELECT min(l3.l_suppkey) FROM lineitem l3
         |    WHERE l3.l_partkey = p.p_partkey
         |      AND l3.l_extendedprice = l.l_extendedprice)
         |ORDER BY p_partkey""".stripMargin),
    // TPC-H Q15-shaped max-over-aggregate with ties preserved.
    "rel_top_supplier" -> QuerySpec((s, dir) =>
      topSupplier(t(s, dir, "lineitem"), t(s, dir, "supplier")),
      // Max + ties via a scalar subquery over the same CTE; revenue stays
      // DECIMAL through the equality and VARCHAR-hops only on output.
      s"""WITH r AS (
         |  SELECT l_suppkey,
         |         sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS revd
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '$TopSupplierFrom'
         |    AND l_shipdate < TIMESTAMP '$TopSupplierUntil'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name,
         |  CAST(CAST(revd AS VARCHAR) AS DOUBLE) AS total_rev
         |FROM r JOIN supplier ON l_suppkey = s_suppkey
         |WHERE revd = (SELECT max(revd) FROM r)
         |ORDER BY s_suppkey""".stripMargin),
    // TPC-H Q18-shaped HAVING-sum membership join back to detail rows.
    "rel_big_orders" -> QuerySpec((s, dir) =>
      bigOrders(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer")),
      // Naive Q18 form on purpose: IN-membership over the HAVING
      // aggregate plus a re-correlated scalar sum for the output column —
      // an independent implementation of the aggregate-once join-back
      // plan (see bigOrders scaladoc).
      s"""SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
         |  CAST(CAST((SELECT sum(CAST(l_quantity AS DECIMAL(28,10)))
         |             FROM lineitem WHERE l_orderkey = o_orderkey)
         |       AS VARCHAR) AS DOUBLE) AS sum_qty
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE o_orderkey IN (
         |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
         |  HAVING sum(CAST(l_quantity AS DECIMAL(28,10))) > $BigOrderQty)
         |ORDER BY o_totalprice DESC, o_orderkey
         |LIMIT 100""".stripMargin),
    // TPC-H Q11-shaped fraction-of-total HAVING over a grouped aggregate.
    "rel_important_parts" -> QuerySpec((s, dir) =>
      importantParts(t(s, dir, "lineitem")),
      // The threshold compare mirrors the Spark side operation-for-
      // operation in DOUBLE (one multiply, one divide, correctly-rounded
      // decimal→double via the VARCHAR hop), so the predicate is
      // bit-deterministic cross-engine.
      """WITH pr AS (
        |  SELECT l_partkey AS p_partkey,
        |         sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS revd
        |  FROM lineitem GROUP BY 1),
        |tot AS (
        |  SELECT CAST(CAST(sum(revd) AS VARCHAR) AS DOUBLE) AS totd,
        |         count(*) AS n_parts
        |  FROM pr)
        |SELECT p_partkey,
        |  CAST(CAST(revd AS VARCHAR) AS DOUBLE) AS revenue,
        |  CAST(CAST(revd AS VARCHAR) AS DOUBLE) / totd AS rev_share
        |FROM pr, tot
        |WHERE CAST(CAST(revd AS VARCHAR) AS DOUBLE) > 1.5 * (totd / CAST(n_parts AS DOUBLE))
        |ORDER BY revenue DESC, p_partkey""".stripMargin),
    // TPC-H Q20-shaped nested half-sum quantifier: per-cell dominant
    // suppliers.
    "rel_dominant_supplier" -> QuerySpec((s, dir) =>
      dominantSupplier(t(s, dir, "lineitem"), t(s, dir, "supplier")),
      // Naive doubly-correlated half-sum quantifier on purpose (per-cell
      // count and sum probes over the ps CTE) — an independent
      // implementation of the window decorrelation (see dominantSupplier
      // scaladoc). 2·sq > total is exact DECIMAL in both engines.
      """WITH ps AS (
        |  SELECT l_partkey, year(l_shipdate) AS yr, l_suppkey,
        |         sum(CAST(l_quantity AS DECIMAL(28,10))) AS sq
        |  FROM lineitem GROUP BY 1, 2, 3),
        |dom AS (
        |  SELECT l_suppkey FROM ps
        |  WHERE (SELECT count(*) FROM ps p2
        |         WHERE p2.l_partkey = ps.l_partkey AND p2.yr = ps.yr) > 1
        |    AND ps.sq * 2 > (SELECT sum(p3.sq) FROM ps p3
        |                     WHERE p3.l_partkey = ps.l_partkey AND p3.yr = ps.yr))
        |SELECT s_suppkey, s_name, count(*) AS n_dominated
        |FROM dom JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2
        |ORDER BY n_dominated DESC, s_suppkey""".stripMargin,
      conf = wideAggConf)
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = QuerySpec.builds(specs)

  /** TPC-H Q4 shape for [[specs]]' `rel_late_orders`, decorrelated:
    * the spec's correlated `EXISTS (line with lag > 90)` collapses to
    * `max(l_shipdate) lag > 90` because o_orderdate is constant within
    * an order — so instead of a semi-join probing full lineitem volume,
    * lineitem pre-aggregates map-side to ONE (orderkey, last_ship) row
    * per order before its only exchange. The orders join is then 1:1
    * (orderkey is the orders primary key), the lag filter runs on the
    * joined row, and the final 5-row priority aggregate collapses
    * map-side. The DuckDB oracle keeps the naive correlated-EXISTS
    * form, so the rewrite's equivalence is hash-checked, not assumed.
    */
  def lateOrders(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lastShip = lineitem.select("l_orderkey", "l_shipdate")
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("last_ship"))
    orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .filter(datediff(col("last_ship").cast("date"),
        col("o_orderdate").cast("date")) > 90)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q13 shape for [[specs]]' `rel_order_count_dist`: the
    * "how many customers placed k orders" histogram, zero bucket
    * included. Orders collapse map-side to (custkey, n) before the one
    * wide exchange (distinct custkeys, never order volume); the LEFT
    * join keeps order-less customers with n=0 (the rows an inner join
    * silently drops — same audit stance as [[fkEdgeAudit]]); the final
    * aggregate's key space is the max per-customer order count, so it
    * collapses map-side.
    */
  def orderCountDist(customer: DataFrame, orders: DataFrame): DataFrame = {
    val perCust = orders.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    customer.select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("n_orders"))
      .groupBy("n_orders")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_orders")
  }

  /** Recent-order cutoff for [[idleRichCustomers]]: Q22's "no orders in
    * N years" clock, pinned against the fixture's 1995–2001 date range
    * so the anti-join leg is non-trivial at every SF.
    */
  val IdleCutoff = "2000-01-01"

  /** TPC-H Q22 shape for [[specs]]' `rel_idle_rich_customers`: per
    * nation, customers whose balance exceeds the global positive-balance
    * average and who have placed no orders since [[IdleCutoff]]. The
    * scalar subquery is a 1-row broadcast (the
    * [[graft.stats.Contingency]] global-N pattern); the average is
    * exact-decimal sum ÷ count — one deterministic double division, so
    * the > threshold compares bit-identical doubles in both engines.
    * NOT EXISTS is a left_anti against the distinct RECENT-buyer key
    * projection — the cutoff predicate pushes into the orders scan and
    * the anti-join build side carries distinct buyer keys, never order
    * volume; this is the plan a correlated NOT EXISTS decorrelates to
    * anyway. The nation aggregate sums balances as exact DECIMAL
    * (file-header cross-engine rule).
    */
  def idleRichCustomers(customer: DataFrame, orders: DataFrame): DataFrame = {
    val avgBal = customer.filter(col("c_acctbal") > 0.0)
      .agg((dsum(col("c_acctbal")) / count(lit(1)).cast("double")).as("avg_bal"))
    val buyers = orders
      .filter(col("o_orderdate") >= lit(IdleCutoff).cast("timestamp"))
      .select(col("o_custkey")).distinct()
    customer.join(buyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_custs"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q21 shape for [[specs]]' `rel_sole_late_supplier`:
    * suppliers who were the ONLY late shipper (ship lag > 90 days — the
    * fixture's stand-in for Q21's receipt-after-commit, as in
    * [[lateOrders]]) in an order involving MORE THAN ONE supplier. The
    * spec's double-correlated form — EXISTS(another supplier's line)
    * AND NOT EXISTS(another supplier's late line), each a probe over
    * full lineitem volume — decorrelates into ONE two-level aggregate:
    * (a) per (order, supplier): any-late, collapsing line volume
    * map-side on the composite key; (b) per order: supplier count,
    * late-supplier count, and the sole late supplier's key via
    * max(when(late, suppkey)) — well-defined exactly when the
    * late-count filter (= 1) holds, bounded rows per order. An order
    * qualifies iff n_supp > 1 ∧ n_late = 1; a qualifying order then
    * contributes one wait to its sole late supplier. No correlated
    * probe survives: the only fact-volume exchange is ONE explicit
    * repartition of the 3-column lineitem projection on l_orderkey
    * ALONE, which the composite-key collapse reuses (a subset-key hash
    * partitioning satisfies the (order, supplier) clustered
    * distribution) and the orders join reuses again — so the
    * (order, supplier) collapse runs BEFORE the join and the join's
    * sort/probe state holds collapsed rows, never raw line volume.
    * The collapse itself carries `max(l_shipdate)`, not a lag flag:
    * `o_orderdate` is constant per order and datediff is monotone in
    * its first argument, so "any line late" ≡
    * `datediff(max(l_shipdate), o_orderdate) > 90` — the join needs
    * only the one collapsed date per (order, supplier). The
    * supplier-name attach is a broadcast onto the per-supplier counts.
    * The DuckDB oracle keeps the naive EXISTS/NOT-EXISTS form, so the
    * rewrite's equivalence is hash-checked, not assumed.
    *
    * Plan choice is MEASURED, not assumed (r15 A/B, isolated
    * interleaved JVMs, scoped wide-agg conf on every arm, sf100 at
    * 40 GB/32 MB pages — docs/BENCH_NOTES.md r15): this form 67.2/61.9 s
    * at sf100 (7.3 s sf10) vs the join-then-collapse form's 78.0/76.7
    * (8.6) — the exchange bytes are identical (14.6 GB), the ~17% is
    * the join working on ~4× fewer sorted rows — and vs the natural
    * composite-key pre-aggregate's 127.8/121.0 (10.8), which pays TWO
    * fact exchanges (26.7 GB: composite-key aggregate shuffle, then a
    * re-exchange for the join) because map-side combine collapses
    * almost nothing (~4 lines/order scattered across scan tasks).
    */
  def soleLateSupplier(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame): DataFrame = {
    val o = orders.select("o_orderkey", "o_orderdate")
    val perSupp = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("max_ship"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (datediff(col("max_ship").cast("date"),
          col("o_orderdate").cast("date")) > 90).as("late"))

    val perOrder = perSupp.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
    perOrder.groupBy("late_supp")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier.select("s_suppkey", "s_name")),
        col("late_supp") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), col("s_suppkey"))
  }

  /** Part-size cutoff for [[minPriceSupplier]] — keeps the dimension
    * filter selective (~30% of parts) so the broadcast semi-reduction
    * below it is visibly load-bearing at every SF.
    */
  val MinPricePartSize = 15

  /** TPC-H Q2 shape for [[specs]]' `rel_min_price_supplier`: for each
    * small part (`p_size` ≤ [[MinPricePartSize]]), the supplier whose
    * line offered it cheapest (ties on price broken by the smaller
    * suppkey — Q2's `ORDER BY s_suppkey LIMIT 1` stance, made total).
    * The spec's correlated `= (SELECT min(price) …)` probe decorrelates
    * into ONE aggregate: `min(struct(price, suppkey))` — struct
    * ordering is lexicographic, so a single map-side-collapsing min
    * yields the arg-min WITH its deterministic tie-break, no join-back
    * against the fact table and no second fact scan. Join order matters
    * at scale: the fact scan is semi-reduced through the broadcast
    * filtered part dimension BEFORE the aggregate, so the exchange
    * carries only small-part offer rows; the supplier-name attach is a
    * broadcast onto the per-part result (|parts| rows, never fact
    * volume). Prices compare raw (no arithmetic), so double equality is
    * exact cross-engine; the DuckDB oracle keeps the naive
    * doubly-correlated form (min price, then min suppkey at that
    * price), so the rewrite's equivalence is hash-checked, not assumed.
    */
  def minPriceSupplier(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame): DataFrame = {
    val p = part.filter(col("p_size") <= MinPricePartSize)
      .select("p_partkey", "p_name")
    lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_partkey", "p_name")
      .agg(min(struct(col("l_extendedprice"), col("l_suppkey"))).as("best"))
      .select(col("p_partkey"), col("p_name"),
        col("best.l_extendedprice").as("min_price"),
        col("best.l_suppkey").as("best_supp"))
      .join(broadcast(supplier.select("s_suppkey", "s_name")),
        col("best_supp") === col("s_suppkey"))
      .select("p_partkey", "p_name", "min_price", "s_suppkey", "s_name")
      .orderBy("p_partkey")
  }

  /** Revenue window for [[topSupplier]] — one quarter, as in Q15. */
  val TopSupplierFrom = "1996-01-01"
  val TopSupplierUntil = "1996-04-01"

  /** TPC-H Q15 shape for [[specs]]' `rel_top_supplier`: the
    * supplier(s) with the maximum revenue in one quarter, ALL ties
    * preserved — the shape where `ORDER BY … LIMIT 1` is wrong (it
    * drops tied winners nondeterministically) and a rank window over
    * an unpartitioned frame is wasteful (it sorts every supplier to
    * keep one rank). Instead the per-supplier aggregate is computed
    * once, its 1-row max re-enters as a broadcast (the
    * [[graft.stats.Contingency]] global-N pattern), and an equality
    * filter keeps every argmax row. Revenue stays DECIMAL through the
    * max AND the tie comparison — exact, order-independent in both
    * engines — and only the output column casts to double
    * (file-header rule). The date predicate pushes into the scan.
    */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    // The explicit suppkey null-filter makes the aggregate subtree
    // IDENTICAL under both consumers (the argmax equality join would
    // otherwise push an IsNotNull into its branch only), so AQE plans
    // the per-supplier exchange once and the max branch reads it as a
    // ReusedExchange — one fact scan, not two (plan-pinned in
    // RelationalSpec).
    val rev = lineitem
      .filter(col("l_shipdate") >= lit(TopSupplierFrom).cast("timestamp") &&
        col("l_shipdate") < lit(TopSupplierUntil).cast("timestamp") &&
        col("l_suppkey").isNotNull)
      .groupBy("l_suppkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,10)")).as("revd"))
    val mx = rev.agg(max(col("revd")).as("mxd"))
    rev.crossJoin(broadcast(mx))
      .filter(col("revd") === col("mxd"))
      .join(broadcast(supplier.select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("revd").cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** Per-order quantity threshold for [[bigOrders]] — ≈ the p98–p99 of
    * the fixture's per-order quantity sum at every SF (the distribution
    * is SF-invariant), so the filter is selective but never empty.
    */
  val BigOrderQty = 250

  /** TPC-H Q18 shape for [[specs]]' `rel_big_orders`: detail rows for
    * orders whose total line quantity exceeds [[BigOrderQty]]. The
    * spec's `IN (… GROUP BY … HAVING sum > N)` membership probe IS the
    * aggregate result — lineitem collapses map-side to one (orderkey,
    * qty-sum) row per order before its only exchange, the HAVING filter
    * cuts that to the top ~1–2% of orders, and the join back to orders
    * is 1:1 on the orders primary key. The top-100 cut
    * (TakeOrderedAndProject — per-partition heaps, 100 rows to the
    * driver, deterministic under the (totalprice DESC, orderkey)
    * tie-break) runs BEFORE the customer attach, since the ordering
    * uses no customer column — so the broadcast side of the name
    * attach is exactly 100 rows, not the threshold-qualified order
    * set (which at 100 TB is ~1% of all orders — far past any
    * broadcast threshold). Quantity sums run in exact LONG arithmetic
    * through the threshold compare (quantities are integer-valued —
    * the same fixture-verified bound as [[dominantSupplier]]; the
    * emitted double is the same value either way). The
    * DuckDB oracle keeps the naive IN + re-correlated scalar sum form.
    */
  def bigOrders(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame): DataFrame = {
    val top = lineitem.select("l_orderkey", "l_quantity")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("qd"))
      .filter(col("qd") > BigOrderQty)
      .join(orders.select("o_orderkey", "o_custkey", "o_orderdate",
        "o_totalprice"), col("l_orderkey") === col("o_orderkey"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(100)
    customer.select("c_custkey", "c_name")
      .join(broadcast(top), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("qd").cast("double").as("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
  }

  /** TPC-H Q11 shape for [[specs]]' `rel_important_parts`: parts whose
    * revenue exceeds 1.5× the mean per-part revenue. Q11's fixed
    * `HAVING sum > fraction · total` only stays non-trivial at one
    * scale factor; anchoring the threshold to the mean (1.5 ×
    * total/n_parts) makes it scale-free — the global scalar is still
    * ONE 1-row broadcast (total + part count in the same row, the
    * [[graft.stats.Contingency]] global-N pattern), and the grouped
    * aggregate it gates collapses map-side on the part key. Revenue
    * accumulates as exact DECIMAL; the threshold compare then runs in
    * DOUBLE with one multiply and one divide in a pinned order, on
    * correctly-rounded decimal→double casts (Spark's
    * BigDecimal.doubleValue; the oracle VARCHAR-hops per the
    * file-header rule) — identical IEEE inputs and operation order,
    * so the predicate is bit-deterministic cross-engine.
    */
  def importantParts(lineitem: DataFrame): DataFrame = {
    // Shape note (r13, measured): lineitem is clustered by ORDER, so
    // each scan task sees most of the part-key space and the map-side
    // partial collapses only ~2.5:1 while its per-task hash map holds
    // ~|parts| entries and gracefully spills (sf10 isolated: 14.2 GB
    // mem-spill over 3 samples, untouched by the reduce-partition
    // override — it is all map-side). The [[dominantSupplier]]
    // raw-repartition treatment was TRIED here and measured 3–4×
    // SLOWER (median 34.1 s vs 10.9; spill 0 but shuffle-read
    // 1.9→2.6 GB/run): unlike the ~1:1 cells there, the 2.5:1 partial
    // collapse is real work, and exchanging raw rows costs more than
    // the local spill it removes. Partial-agg + graceful spill IS the
    // right 100 TB plan for this shape; keep it.
    val pr = lineitem.groupBy("l_partkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,10)")).as("revd"))
    val tot = pr.agg(sum(col("revd")).as("totd"),
      count(lit(1)).as("n_parts"))
    pr.crossJoin(broadcast(tot))
      .filter(col("revd").cast("double") >
        lit(1.5) * (col("totd").cast("double") / col("n_parts").cast("double")))
      .select(col("l_partkey").as("p_partkey"),
        col("revd").cast("double").as("revenue"),
        (col("revd").cast("double") / col("totd").cast("double"))
          .as("rev_share"))
      .orderBy(desc("revenue"), col("p_partkey"))
  }

  /** TPC-H Q20 shape for [[specs]]' `rel_dominant_supplier`: per
    * supplier, the number of (part, ship-year) cells where that
    * supplier shipped MORE THAN HALF the cell's quantity while at least
    * one other supplier shipped it too — the sourcing-concentration
    * audit (who could squeeze a part's supply). Q20's nested
    * `qty > 0.5 · (SELECT sum …)` quantifier decorrelates into a pure
    * TWO-LEVEL aggregate (the [[soleLateSupplier]] shape, not a
    * window): a cell's dominant supplier — if one exists — is
    * necessarily its quantity arg-max (x > sum−x forces x strictly
    * maximal, and symmetrically rules out arg-max ties whenever the
    * predicate holds), so per (part, year) ONE aggregate carries
    * total, supplier count, and `max(struct(qty, suppkey))`, and the
    * half-sum test runs on the arg-max row alone. The cell build
    * shuffles raw rows (cells ≈ lines, so map-side combine is pure
    * spill — see the body comment); the (part, year) collapse above it
    * is genuinely reductive (~4:1) and keeps its partial aggregate.
    * A window formulation over the cell stream would re-sort and
    * re-shuffle the cells with no partial collapse (a 2-key window
    * partition is NOT satisfied by the 3-key cell partitioning) —
    * still the wrong shape. The half-sum
    * predicate is `2·max_sq > total` in exact LONG arithmetic —
    * quantities are integer-valued (fixture-verified: every l_quantity
    * is integral, ≤ 50, so even a whole-corpus sum sits 9 orders of
    * magnitude under 2⁶³) and the r12 decimal(28,10) form paid ~2× in
    * aggregate state size and per-row Decimal math for exactness long
    * already provides. No float anywhere in the query. The DuckDB
    * oracle keeps the naive doubly-correlated form (per-cell count and
    * sum probes), so the rewrite is hash-checked, not assumed.
    */
  def dominantSupplier(lineitem: DataFrame,
      supplier: DataFrame): DataFrame = {
    // The (part, year, supplier) cells are ≈1 per line (fixture-
    // measured ~1:1 at every SF), so a map-side partial aggregate
    // collapses nothing while its per-scan-task hash map holds
    // millions of groups and SPILLS (r13 isolated sf10 measurement:
    // the reduce-partition override alone left the ~54 GB spill
    // intact — it was all map-side). Shuffling the RAW rows by the
    // cell key costs the same exchange bytes as the uncollapsed
    // partial results and moves every hash map to the reduce side,
    // where [[wideAggConf]] sizes partitions to the data.
    // Repartition by (part, yr) — a strict SUBSET of the cell key — so
    // ONE exchange satisfies BOTH aggregates' clustering (hash on a
    // subset co-locates every superset group): the cell aggregate runs
    // where the rows land AND the (part, yr) collapse above it stays
    // exchange-free. The previous 3-key repartition satisfied only the
    // cell aggregate and re-shuffled the ~1:1 cell stream a second
    // time (cells ≈ lines, so that exchange was full-data-sized).
    val cells = lineitem
      .select(col("l_partkey"), year(col("l_shipdate")).as("yr"),
        col("l_suppkey"), col("l_quantity").cast("long").as("qd"))
      .repartition(col("l_partkey"), col("yr"))
      .groupBy("l_partkey", "yr", "l_suppkey")
      .agg(sum(col("qd")).as("sq"))
    cells.groupBy("l_partkey", "yr")
      .agg(sum(col("sq")).as("tq"), count(lit(1)).as("ns"),
        max(struct(col("sq"), col("l_suppkey"))).as("best"))
      .filter(col("ns") > 1 && col("best.sq") * lit(2) > col("tq"))
      .groupBy(col("best.l_suppkey").as("l_suppkey"))
      .agg(count(lit(1)).as("n_dominated"))
      .join(broadcast(supplier.select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "n_dominated")
      .orderBy(desc("n_dominated"), col("s_suppkey"))
  }

  /** Reduce-task input target for [[wideAggConf]]: one shuffle
    * partition per this many bytes of the driving fact's on-disk
    * parquet. 8 MiB compressed ≈ a few hundred thousand groups ≈ tens
    * of MB of aggregate hash map per task — comfortably in-memory at
    * any executor size, and small enough that the cap (not the target)
    * binds long before task-scheduling overhead does.
    */
  val WideAggBytesPerTask: Long = 24L << 20

  /** Scoped shuffle-partition override for the queries whose FIRST
    * aggregate carries ≈one group per fact row — `rel_supplier_parts`
    * (distinct (part, supp) pairs), `rel_sole_late_supplier` ((order,
    * supp) cells), `rel_dominant_supplier` ((part, yr, supp) cells).
    * Group state per reduce task is SF-linear at a fixed partition
    * count: at sf10 and 32 partitions each task's hash map holds ~2 M
    * groups, which spilled 35–51 GB per bench run (r12 metrics). The
    * plans are the right shape (map-side partial collapse below every
    * exchange); only the REDUCE-side partition count needs to track
    * the data: [[QuerySpec.dataSizedShuffle]] over lineitem at
    * [[WideAggBytesPerTask]]. Applied by
    * the harnesses around JUST these queries (set, run, restore) —
    * the r12 GLOBAL variant (AQE initialPartitionNum = 8×cores) was
    * measured and rejected (it OOM'd dedup_containment and slowed
    * rel_dominant_supplier), so the scope is the point. Every result
    * column here is exact-typed (longs, decimals, strings), so the
    * partition count cannot change values — RelationalSpec pins that
    * by re-running at a different count. Returns empty when the floor
    * binds (small fixtures): the default conf is already right.
    */
  val wideAggConf: (String, Int) => Map[String, String] =
    QuerySpec.dataSizedShuffle("lineitem", WideAggBytesPerTask)

  /** TPC-H Q12 shape for [[specs]]' `rel_ship_lag`: one fact-fact
    * equi-join (inherent to the question — the lag needs a column from
    * each side; both inputs are pruned to the 2–3 surviving columns
    * before the exchange), then CASE counts per lag band. The band key
    * has cardinality 4, so the post-join aggregate collapses map-side;
    * the only wide shuffle is the join itself, which AQE is free to
    * plan as sort-merge at scale. The priority→class predicate is
    * evaluated on the orders side BEFORE the join, so the exchange
    * carries a boolean, not the priority string.
    */
  def shipLag(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_orderdate"),
      (col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH").as("is_high"))
    val li = lineitem.select("l_orderkey", "l_shipdate")
    val lag = datediff(col("l_shipdate").cast("date"),
      col("o_orderdate").cast("date"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(when(lag <= 30, "0-30").when(lag <= 60, "31-60")
        .when(lag <= 90, "61-90").otherwise("90+").as("lag_band"),
        col("is_high"))
      .groupBy("lag_band")
      .agg(sum(when(col("is_high"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!col("is_high"), 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("lag_band")
  }

  /** One FK edge of [[specs]]' `rel_fk_audit`: child rows referencing
    * each key collapse map-side to (key, cnt) BEFORE the one full-outer
    * join against the parent key set, so the join carries |distinct
    * child keys| + |parents| rows, never child-table volume. Emitted
    * per edge: total child rows, orphan child rows (no parent — the
    * rows an inner join would silently drop), parent key count, and
    * parents never referenced (dead dimension rows — broadcast-size
    * intel for dimension pruning).
    *
    * Measured negative result (r12, sf10): fusing the three lineitem
    * edges into ONE scan — explode to (edge, key), one (edge, key)
    * aggregate, one full-outer join against the union'd parents — ran
    * 21.6–25.9 s vs 12.3–18.9 s for these per-edge branches on the
    * same data. The explode TRIPLES the pre-aggregate row volume and
    * funnels it through one wide exchange, while the "redundant"
    * branches each scan only their own pruned parquet column and their
    * independent stages run concurrently — a fused pass saves no
    * columnar I/O and loses the parallelism. The same arithmetic
    * applies to [[keySkew]]'s per-key branches; don't re-fuse either.
    */
  def fkEdgeAudit(fk: String, child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame = {
    val ck = child.groupBy(col(childKey).as("k")).agg(count(lit(1)).as("cnt"))
    val pk = parent.select(col(parentKey).as("p"))
    ck.join(pk, col("k") === col("p"), "full_outer")
      .agg(
        coalesce(sum(col("cnt")), lit(0L)).as("child_rows"),
        coalesce(sum(when(col("p").isNull, col("cnt")).otherwise(0L)), lit(0L))
          .as("orphan_rows"),
        count(col("p")).as("parent_keys"),
        coalesce(sum(when(col("p").isNotNull && col("cnt").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("unreferenced_parents"))
      .select(lit(fk).as("fk"), col("child_rows"), col("orphan_rows"),
        col("parent_keys"), col("unreferenced_parents"))
  }

  /** Per-key frequency skew statistics for each candidate join key:
    * total rows, distinct keys, max/p99/mean per-key frequency, and the
    * heaviest key's share of all rows. max ≫ p99 (or top1_share ≫
    * 1/n_keys) is the signature of a key that will straggle a shuffle
    * join — mitigate with [[graft.ops.Salted]] or AQE's skew-join
    * splitting. Zeros/odd shapes are visible, never silent: every
    * audited column emits exactly one row.
    *
    * Scale notes: each branch is exactly the exchange the real join
    * would perform — but carrying ONLY (key, count) after map-side
    * partial aggregation, so the audit costs a fraction of the join it
    * de-risks; the per-key table then collapses to one stats row
    * (percentile is an exact single-column aggregate over n_keys rows,
    * not corpus rows). Branches are independent and run in parallel;
    * each scan prunes to its single key column.
    */
  def keySkew(d: DataFrame, keys: Seq[String]): DataFrame =
    keys.map { kc =>
      d.groupBy(col(kc).as("k")).agg(count(lit(1)).as("n"))
        .agg(
          sum(col("n")).as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("n")).as("max_freq"),
          percentile(col("n"), lit(0.99)).as("p99_freq"))
        .select(lit(kc).as("key_col"), col("n_rows"), col("n_keys"),
          col("max_freq"), col("p99_freq"),
          (col("n_rows").cast("double") / col("n_keys").cast("double"))
            .as("avg_freq"),
          (col("max_freq").cast("double") / col("n_rows").cast("double"))
            .as("top1_share"))
    }.reduce(_ unionByName _).orderBy("key_col")
}
