package graft.rel

import graft.{QuerySpec, SparkEntry, SparkSpec}

/** Explain-based plan hygiene for the relational workout — these are the
  * assertions the scale notes in [[Relational]]'s scaladoc point at.
  */
class RelationalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Relational.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("rel_pricing_summary pushes the shipdate filter into the scan") {
    val p = plan("rel_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("rel_pricing_summary prunes columns: no l_partkey/l_suppkey read") {
    val p = plan("rel_pricing_summary")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_suppkey"),
      readSchema)
  }

  test("rel_top_orders broadcasts customer and semi-reduces orders first") {
    val p = plan("rel_top_orders")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      "customer filter must reach the scan: " + p.take(2000))
  }

  test("rel_nation_revenue: all three dimension joins are broadcasts") {
    val p = plan("rel_nation_revenue")
    val n = "BroadcastHashJoin".r.findAllIn(p).size
    assert(n === 3, s"expected 3 broadcast joins, got $n:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("rel_priority_top_orders uses the window group-limit rewrite") {
    val p = plan("rel_priority_top_orders")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("running windows match a hand-built order history") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val orders = Seq(
      (1L, 101L, 0L, 10.5), (1L, 102L, 1L, 20.25), (1L, 103L, 2L, 30.0),
      (1L, 104L, 3L, 1.0), (2L, 201L, 0L, 5.5)
    ).toDF("cust", "okey", "day", "price")
      .select(col("cust").as("o_custkey"), col("okey").as("o_orderkey"),
        timestamp_seconds(col("day") * 86400).as("o_orderdate"),
        col("price").as("o_totalprice"))
    val tmp = graft.TempDir("graft-rw")
    orders.write.mode("overwrite").parquet(tmp.resolve("orders.parquet").toString)
    val got = Relational.queries("rel_window_running")(spark, tmp.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      (1L, 101L, 1, 10.5, 10.5),
      (1L, 102L, 2, 30.75, 30.75),
      (1L, 103L, 3, 60.75, 60.75),
      (1L, 104L, 4, 61.75, 51.25), // trailing3 window slides off the first order
      (2L, 201L, 1, 5.5, 5.5)))
  }

  test("rel_window_running shuffles once on o_custkey for both frames") {
    val p = plan("rel_window_running")
    val custShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(o_custkey"))
    assert(custShuffles === 1,
      s"both frames must share one o_custkey exchange, saw $custShuffles:\n${p.take(2500)}")
  }

  test("rel_customer_orders plans exactly one scan of orders") {
    val p = plan("rel_customer_orders")
    val ordersScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("orders.parquet"))
    assert(ordersScans === 1,
      s"orders must be scanned once, saw $ordersScans:\n${p.take(2000)}")
  }

  test("rel_small_qty_revenue: decorrelation scans lineitem once, shuffles it once") {
    val p = plan("rel_small_qty_revenue")
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem.parquet"))
    assert(liScans === 1,
      s"the window decorrelation must not self-join (one lineitem scan), saw $liScans:\n${p.take(2500)}")
    val liShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(l_partkey"))
    assert(liShuffles === 1,
      s"one l_partkey exchange feeds both window aggregates, saw $liShuffles:\n${p.take(2500)}")
  }

  test("rel_small_qty_revenue matches the naive per-part-average self-join") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val part = spark.read.parquet(s"$dir/part.parquet")
    // reference: the textbook decorrelation (aggregate + join back);
    // exact long arithmetic (quantities are integer-valued), so the
    // boundary qty = 0.2·avg can't flake on double rounding
    val avgs = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("long")).as("qsum"),
        count(lit(1)).as("qcnt"))
    val ref = li.join(avgs, col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast("long") * lit(5L) * col("qcnt") < col("qsum"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand").agg(count(lit(1)).as("n_small"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Relational.queries("rel_small_qty_revenue")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got === ref, "window form must keep exactly the naive form's rows")
    assert(got.values.sum > 0, "predicate must bind on the fixture")
  }

  test("key skew: hand-built frequencies produce exact stats") {
    val s = spark; import s.implicits._
    // key 1 ×4, key 2 ×1, key 3 ×1 → 6 rows, 3 keys, max 4, mean 2.0
    val d = Seq(1L, 1L, 1L, 1L, 2L, 3L).toDF("k1")
      .withColumn("k2", org.apache.spark.sql.functions.monotonically_increasing_id())
    val rows = Relational.keySkew(d, Seq("k1", "k2")).collect()
      .map(r => r.getString(0) -> r).toMap
    val k1 = rows("k1")
    assert(k1.getLong(1) === 6L && k1.getLong(2) === 3L &&
      k1.getLong(3) === 4L)
    assert(k1.getDouble(5) === 2.0 && k1.getDouble(6) === 4.0 / 6.0)
    val k2 = rows("k2") // unique key: every frequency is 1
    assert(k2.getLong(1) === 6L && k2.getLong(2) === 6L &&
      k2.getLong(3) === 1L && k2.getDouble(4) === 1.0 &&
      k2.getDouble(6) === 1.0 / 6.0)
    // fixture sanity: one row per audited column, orderkey is the
    // densest key (multiple lines per order), shares well-formed
    val fx = Relational.queries("rel_key_skew")(spark, dir).collect()
    assert(fx.map(_.getString(0)).toSeq ===
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    fx.foreach { r =>
      assert(r.getLong(3) >= 1L && r.getDouble(4) <= r.getLong(3).toDouble &&
        r.getDouble(6) > 0.0 && r.getDouble(6) <= 1.0, r.toString)
    }
  }

  test("fk audit: injected orphans, null keys, and dead parents are counted") {
    val s = spark; import s.implicits._
    // children: 2 rows → parent 10, 1 row → parent 20 (missing), 1 row
    // with NULL key; parents: 10 and 99 (99 never referenced)
    val child = Seq(Some(10L), Some(10L), Some(20L), None).toDF("ck")
    val parent = Seq(10L, 99L).toDF("pk")
    val r = Relational.fkEdgeAudit("child.ck->parent", child, "ck",
      parent, "pk").collect().head
    assert(r.getString(0) === "child.ck->parent")
    assert(r.getLong(1) === 4L, "child_rows counts every child row")
    assert(r.getLong(2) === 2L, "orphans = the key-20 row + the NULL-key row")
    assert(r.getLong(3) === 2L)
    assert(r.getLong(4) === 1L, "parent 99 is never referenced")
    // fixture: all five FK edges hold (driver generates consistent keys)
    val fx = Relational.queries("rel_fk_audit")(spark, dir).collect()
    assert(fx.length === 5)
    fx.foreach { e =>
      assert(e.getLong(2) === 0L, s"unexpected orphans on ${e.getString(0)}")
      assert(e.getLong(1) > 0L && e.getLong(3) > 0L, e.toString)
    }
  }

  test("ship lag: band edges are inclusive and priority classes split exactly") {
    val s = spark; import s.implicits._
    val base = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    def plus(days: Int) = new java.sql.Timestamp(
      base.getTime + days * 86400000L)
    // one line per band edge: lags 30 (0-30), 31 and 60 (31-60),
    // 90 (61-90), 91 (90+); order 2 is low-priority at lag 30
    val li = Seq((1L, plus(30)), (1L, plus(31)), (1L, plus(60)),
      (1L, plus(90)), (1L, plus(91)), (2L, plus(30)))
      .toDF("l_orderkey", "l_shipdate")
    val o = Seq((1L, base, "1-URGENT"), (2L, base, "5-LOW"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val r = Relational.shipLag(li, o).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r === Array(("0-30", 1L, 1L), ("31-60", 2L, 0L),
      ("61-90", 1L, 0L), ("90+", 1L, 0L)))
  }

  test("late orders: max-shipdate decorrelation matches EXISTS semantics") {
    val s = spark; import s.implicits._
    val base = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    def plus(days: Int) = new java.sql.Timestamp(
      base.getTime + days * 86400000L)
    // order 1: one late line among on-time ones → counted once;
    // order 2: all lines on time → excluded; order 3: exactly 90 days
    // → excluded (strict >); order 4 has no lines → excluded
    val o = Seq((1L, base, "1-URGENT"), (2L, base, "2-HIGH"),
      (3L, base, "1-URGENT"), (4L, base, "3-MEDIUM"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Seq((1L, plus(5)), (1L, plus(91)), (2L, plus(89)),
      (3L, plus(90))).toDF("l_orderkey", "l_shipdate")
    val r = Relational.lateOrders(o, li).collect()
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r === Array(("1-URGENT", 1L)))
  }

  test("order count distribution includes the zero-order bucket") {
    val s = spark; import s.implicits._
    // customers 1 (2 orders), 2 (1), 3 and 4 (0)
    val c = Seq(1L, 2L, 3L, 4L).toDF("c_custkey")
    val o = Seq((10L, 1L), (11L, 1L), (12L, 2L))
      .toDF("o_orderkey", "o_custkey")
    val r = Relational.orderCountDist(c, o).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r === Array((0L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("idle rich customers: above positive-average balance, no recent orders") {
    val s = spark; import s.implicits._
    // positive balances 100, 200, 300, 300 → avg 225; the -50 row is
    // outside the average. cust 2 (300) bought AFTER the cutoff →
    // excluded; cust 3 (300) only ever bought BEFORE it → still idle,
    // qualifies; cust 1 (100) and 4 (200) are not above average.
    val c = Seq((1L, 1, 100.0), (2L, 1, 300.0), (3L, 2, 300.0),
      (4L, 2, 200.0), (5L, 3, -50.0))
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
    val o = Seq(
      (10L, 2L, java.sql.Timestamp.valueOf("2000-06-01 00:00:00")),
      (11L, 3L, java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val r = Relational.idleRichCustomers(c, o).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2)))
    assert(r === Array((2, 1L, 300.0)))
  }

  test("sole late supplier: only multi-supplier orders with exactly one late shipper count") {
    val s = spark; import s.implicits._
    val base = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    def plus(days: Int) = new java.sql.Timestamp(
      base.getTime + days * 86400000L)
    // order 1: supps 10 (late twice — dedups to one wait) and 11 on
    // time → supp 10 counted. order 2: single-supplier, late →
    // excluded (no other supplier waited). order 3: supps 10 AND 12
    // both late → excluded (blame is ambiguous). order 4: nobody late.
    val li = Seq(
      (1L, 10L, plus(95)), (1L, 10L, plus(100)), (1L, 11L, plus(5)),
      (2L, 10L, plus(95)),
      (3L, 10L, plus(95)), (3L, 12L, plus(95)), (3L, 11L, plus(5)),
      (4L, 10L, plus(5)), (4L, 11L, plus(6)))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val o = (1L to 4L).map(k => (k, base)).toDF("o_orderkey", "o_orderdate")
    val sup = Seq((10L, "Supp#10"), (11L, "Supp#11"), (12L, "Supp#12"))
      .toDF("s_suppkey", "s_name")
    val r = Relational.soleLateSupplier(li, o, sup).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    assert(r === Array((10L, "Supp#10", 1L)))
  }

  test("rel_late_orders pre-aggregates lineitem before its exchange") {
    val p = plan("rel_late_orders")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!reads.contains("l_quantity") && !reads.contains("l_partkey"),
      reads)
    // the lineitem side must collapse to (orderkey, max) map-side: a
    // partial max aggregate appears below the shuffle
    assert(p.contains("partial_max") || p.contains("Partial"), p.take(3000))
  }

  test("rel_idle_rich_customers plans an anti-join and a 1-row broadcast") {
    val p = plan("rel_idle_rich_customers")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
  }

  test("rel_ship_lag prunes both scans and aggregates map-side after the join") {
    val p = plan("rel_ship_lag")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!reads.contains("l_quantity") && !reads.contains("o_totalprice") &&
      !reads.contains("o_custkey"), reads)
    // partial aggregate must sit between the join and the single exchange
    // that carries only the 4-row band key
    assert("HashAggregate.*partial_sum".r.findFirstIn(p.replace('\n', ' ')).isDefined
      || p.contains("partial_sum") || p.contains("Partial"), p.take(3000))
  }

  test("min price supplier: argmin with suppkey tie-break, filter pre-reduces") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // part 1: suppliers 7 and 3 tie at the min price 5.0 → 3 wins;
    // part 2: unique min; part 3 (size 40) is filtered out entirely
    val li = Seq(
      (1L, 7L, 5.0), (1L, 3L, 5.0), (1L, 2L, 9.0),
      (2L, 9L, 4.5), (2L, 1L, 6.0),
      (3L, 1L, 1.0)
    ).toDF("l_partkey", "l_suppkey", "l_extendedprice")
    val part = Seq((1L, "p1", 10), (2L, "p2", 1), (3L, "p3", 40))
      .toDF("p_partkey", "p_name", "p_size")
    val supp = (1L to 9L).map(k => (k, s"S$k")).toDF("s_suppkey", "s_name")
    val got = Relational.minPriceSupplier(li, part, supp)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 5.0, 3L), (2L, 4.5, 9L)))
  }

  test("rel_top_supplier: the max branch reuses the aggregate exchange (one fact scan)") {
    val df = Relational.queries("rel_top_supplier")(spark, dir)
    df.collect() // AQE reuse materializes in the final plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val liScans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem.parquet"))
    assert(liScans === 1,
      s"max-over-aggregate must not re-scan the fact table, saw $liScans:\n${p.take(3000)}")
    assert(p.contains("ReusedExchange"), p.take(3000))
  }

  test("rel_big_orders takes its top-100 before the customer attach") {
    val p = plan("rel_big_orders")
    // the limit must bound the broadcast build side, not run after the
    // customer join: TakeOrderedAndProject sits under a BroadcastExchange
    val bcast = p.indexOf("BroadcastExchange")
    val take = p.indexOf("TakeOrderedAndProject(limit=100")
    assert(bcast >= 0 && take > bcast,
      s"expected TakeOrderedAndProject below a BroadcastExchange:\n${p.take(3000)}")
  }

  test("disjunctive revenue: both sides' hulls reach the scans as pushed filters") {
    val p = plan("rel_disjunctive_revenue")
    // the lineitem scan must carry the quantity envelope and the part
    // scan the brand/size disjunction — a cross-table OR that Catalyst
    // cannot factor itself, so the explicit per-side hulls are the test
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") ||
      p.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"no pushed quantity filter on the lineitem scan:\n${p.take(3000)}")
    assert("PushedFilters: \\[[^\\]]*Or\\(".r.findFirstIn(p).nonEmpty,
      s"no pushed OR filter (brand/size hull) on the part scan:\n${p.take(3000)}")
  }

  test("supplier diversity: the fact collapses to distinct pairs before any join") {
    val p = plan("rel_supplier_parts")
    // the distinct (partkey, suppkey) aggregate must sit BELOW the part
    // join — the fact never carries full rows into a join
    val agg = p.indexOf("HashAggregate(keys=[l_partkey")
    assert(agg >= 0, s"no distinct-pair aggregate:\n${p.take(3000)}")
  }

  test("dominant supplier: strict half-sum, multi-supplier cells only") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val li = Seq(
      // part 1, 1995: supp 1 has 6 of 10 (> half) among 2 suppliers → dominates
      (1L, 1L, 6.0, ts(1995)), (1L, 2L, 4.0, ts(1995)),
      // part 1, 1996: exactly half (5 of 10) → NOT dominant (strict)
      (1L, 1L, 5.0, ts(1996)), (1L, 2L, 5.0, ts(1996)),
      // part 2, 1995: sole supplier → excluded (single-supplier cell)
      (2L, 3L, 99.0, ts(1995)),
      // part 3, 1995: supp 2 has 8 of 11 across two lines → dominates
      (3L, 2L, 5.0, ts(1995)), (3L, 2L, 3.0, ts(1995)), (3L, 1L, 3.0, ts(1995))
    ).toDF("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
    val supp = (1L to 3L).map(k => (k, s"S$k")).toDF("s_suppkey", "s_name")
    val got = Relational.dominantSupplier(li, supp)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L), (2L, 1L)))
  }

  test("wide-agg queries are partition-count-invariant (scoped override safe)") {
    // The harnesses apply wideAggConf's shuffle-partition override
    // around exactly these queries; every result column is exact-typed,
    // so the reduce-partition count must not change a single value.
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val wideAgg = Relational.specs.collect {
      case (q, spec) if spec.conf ne QuerySpec.NoConf => q
    }
    assert(wideAgg.size === 3)
    def run() = wideAgg.toSeq.sorted.map { q =>
      q -> SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq
    }
    val atDefault = run()
    try { spark.conf.set(key, "7"); assert(run() === atDefault) }
    finally spark.conf.set(key, before)
    // and the sizing contract: floor binds at gate SFs (empty map ⇒ no
    // override), scales with fact bytes above it
    assert(Relational.wideAggConf(dir, 32).isEmpty)
    val sf10 = "/root/repo/target/testdata/sf10"
    if (new java.io.File(s"$sf10/lineitem.parquet").exists()) {
      val conf = Relational.wideAggConf(sf10, 32)
      assert(conf.get(key).exists(_.toInt > 32))
    }
  }
}
