package graft

import graft.operators.{Relational, RelationalOps}
import org.apache.spark.sql.functions.{col, lit, sum, year}

class RelationalSpec extends GraftSpec {

  test("q1_agg groups are complete and counts add up") {
    val rows = Relational.q1Agg(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total == spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("q2_join_filter broadcasts dims and keeps F orders only") {
    val df = Relational.q2JoinFilter(spark, sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dim joins should be broadcast")
  }

  test("q3_topk is exactly 10 deterministic rows, descending") {
    val rows = Relational.q3TopK(spark, sf).collect()
    assert(rows.length == 10)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("q4_window running sum is monotone per customer") {
    val rows = Relational.q4Window(spark, sf).collect()
      .groupBy(_.getAs[Long]("o_custkey"))
    rows.values.foreach { rs =>
      val maxSpend = rs.map(_.getAs[Double]("running_spend")).max
      assert(maxSpend >= 0 || rs.forall(_.getAs[Double]("running_spend") <= maxSpend))
    }
  }

  test("q5_rollup contains grand total row") {
    val rows = Relational.q5Rollup(spark, sf).collect()
    val grand = rows.filter(r => r.getAs[String]("region") == "ALL" && r.getAs[String]("nation") == "ALL")
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_customers") == spark.read.parquet(s"$sf/customer.parquet").count())
  }

  test("q6_semijoin returns a subset of customers") {
    val n = Relational.q6SemiJoin(spark, sf).count()
    assert(n > 0 && n <= spark.read.parquet(s"$sf/customer.parquet").count())
  }

  test("q7_events_window covers all events") {
    val rows = Relational.q7EventsWindow(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_events")).sum
    assert(total == spark.read.parquet(s"$sf/events.parquet").count())
  }

  test("q8_sessionize assigns every event a session, ids start at 1") {
    val df = Relational.q8Sessionize(spark, sf)
    assert(df.count() == spark.read.parquet(s"$sf/events.parquet").count())
    assert(df.agg(org.apache.spark.sql.functions.min("session_id")).head().getLong(0) == 1L)
  }

  private def star(dir: String)(writes: (String, org.apache.spark.sql.DataFrame)*): String = {
    writes.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("q151: threshold is strict (== excluded), survivors carry exact sums and join back 1:1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ops = new graft.operators.RelationalOps(GraftConfig(bigOrderMinQty = 10.0))
    val dir = java.nio.file.Files.createTempDirectory("q151").toString
    // order 1: 4+6 = 10 == threshold → OUT; order 2: 10.5 > 10 → IN;
    // order 3: 0.1×101 = 10.1 > 10 → IN, and exact only in decimal
    // (float 0.1 sums drift); order 4 has no lines → OUT
    val li = (Seq((1L, 4.0), (1L, 6.0), (2L, 10.5)) ++ Seq.fill(101)((3L, 0.1)))
      .toDF("l_orderkey", "l_quantity")
    val ord = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("o_orderkey", "o_custkey")
      .withColumn("o_orderdate", expr("timestamp_millis(86400000)"))
      .withColumn("o_totalprice", lit(1.0))
    val cust = Seq((10L, "a"), (20L, "b"), (30L, "c"), (40L, "d"))
      .toDF("c_custkey", "c_name")
    star(dir)("lineitem" -> li, "orders" -> ord, "customer" -> cust)
    val got = ops.q151BigOrders(spark, dir).collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[String]("c_name"),
        r.getAs[Double]("sum_qty"))).sortBy(_._1)
    assert(got.toSeq == Seq((2L, "b", 10.5), (3L, "c", 10.1)))
  }

  test("q153: salted join result is IDENTICAL to the plain join on a skewed key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ops = new graft.operators.RelationalOps(GraftConfig(saltFactor = 3))
    val dir = java.nio.file.Files.createTempDirectory("q153").toString
    // user 1 is hot (10 events), user 2 has one — salts 0..2 must all
    // see user 1's dim clone and every event must surface exactly once
    val ev = ((1L to 10L).map(i => (i, 1L, i.toDouble)) :+ ((11L, 2L, 5.0)))
      .toDF("event_id", "user_id", "value")
      .withColumn("ts", expr("timestamp_millis(event_id * 1000)"))
      .withColumn("event_type", lit("view")).withColumn("props", lit("{}"))
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = ops.q153SaltedJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    val expected = (1L to 10L).map(i => (i, 1L, 10L, 55.0)) :+ ((11L, 2L, 1L, 5.0))
    assert(got.toSeq == expected)
  }

  test("q265: sketch-derived salt scales with the hot key and respects the cap") {
    import spark.implicits._
    val ops = new graft.operators.RelationalOps(GraftConfig(saltFactor = 8))
    // 1000 copies of one key: CMS upper bound ≥ 1000 → raw factor ≥ 32,
    // capped at saltFactor·4 = 32 → exactly 32
    val hot = (1 to 1000).map(_ => "hot").toDF("k")
    assert(ops.sketchSaltFactor(hot) == 32)
    // 100 distinct keys: the hottest bucket holds a handful of keys,
    // well under one target slice → no replication
    val mild = (1 to 100).map(i => s"k$i").toDF("k")
    assert(ops.sketchSaltFactor(mild) == 1)
  }

  test("q265: sketch-tuned salted join result is IDENTICAL to the plain join") {
    import org.apache.spark.sql.functions._
    val plain = Relational.q153SaltedJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
    val tuned = Relational.q265SketchSalt(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
    assert(tuned.toSeq == plain.toSeq,
      "the derived factor is an implementation detail — results must match exactly")
  }

  test("q177: grouping ids discriminate the three sets; grand total covers the table") {
    import org.apache.spark.sql.functions._
    val rows = Relational.q177GroupingSets(spark, sf).collect()
    assert(rows.map(_.getLong(2)).toSet == Set(0L, 1L, 3L),
      "sets (flag,status)→0, (flag)→1, ()→3 under the leftmost-MSB convention")
    val grand = rows.filter(_.getLong(2) == 3L)
    assert(grand.length == 1 &&
      grand.head.getLong(3) == spark.read.parquet(s"$sf/lineitem.parquet").count())
    val detail = rows.filter(_.getLong(2) == 0L).map(_.getLong(3)).sum
    assert(detail == grand.head.getLong(3), "detail rows must partition the corpus")
  }

  test("q178: months ascend, deltas reconcile, the first month has no delta") {
    val rows = Relational.q178MonthlyRevenue(spark, sf).collect().sortBy(_.getLong(0))
    assert(rows.length > 1)
    assert(rows.head.isNullAt(2) && rows.head.isNullAt(3))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(2) == a.getDouble(1), "prev_revenue must be last month's revenue")
      assert(b.getDouble(3) == b.getDouble(1) - b.getDouble(2))
    }
  }

  test("q165: merged base+delta rollup is frame-identical to the full recompute") {
    import org.apache.spark.sql.functions._
    val merged = Relational.q165IncrementalAgg(spark, sf)
    val full = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"), col("value"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("total_value"))
    assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
  }

  test("q166: excluded suppliers never count; repeat lineitems count a supplier once") {
    import spark.implicits._
    val ops = new graft.operators.RelationalOps(GraftConfig())
    val dir = java.nio.file.Files.createTempDirectory("q166").toString
    // part 1 (brand B, size 1): suppliers 10 (twice), 20 (bad) → count 1
    // part 2 (brand B, size 2): suppliers 10, 30 → count 2
    val li = Seq((1L, 10L), (1L, 10L), (1L, 20L), (2L, 10L), (2L, 30L))
      .toDF("l_partkey", "l_suppkey")
    val part = Seq((1L, "B", 1), (2L, "B", 2)).toDF("p_partkey", "p_brand", "p_size")
    val sup = Seq((10L, 5.0), (20L, -1.0), (30L, 0.0))
      .toDF("s_suppkey", "s_acctbal")
    star(dir)("lineitem" -> li, "part" -> part, "supplier" -> sup)
    val got = ops.q166SupplierDiversity(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).sortBy(_._2)
    assert(got.toSeq == Seq(("B", 1, 1L), ("B", 2, 2L)))
  }

  test("q162: blame only when exactly one supplier is late; non-F orders excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ops = new graft.operators.RelationalOps(GraftConfig())
    val dir = java.nio.file.Files.createTempDirectory("q162").toString
    val day = 86400000L
    val base = java.sql.Timestamp.valueOf("1996-03-01 00:00:00").getTime
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val ord = Seq((1L, "F"), (2L, "F"), (3L, "O"))
      .toDF("o_orderkey", "o_orderstatus")
      .withColumn("o_orderdate", expr(s"timestamp_millis($base)"))
    // order 1: supplier 10 late twice (counts once), 20 on time → sole blame 10
    // order 2: suppliers 10 AND 30 late → nobody is solely to blame
    // order 3: open status → out of scope entirely
    val li = Seq(
      (1L, 10L, ts(base + 40 * day)), (1L, 10L, ts(base + 50 * day)),
      (1L, 20L, ts(base + 5 * day)),
      (2L, 10L, ts(base + 40 * day)), (2L, 30L, ts(base + 40 * day)),
      (3L, 10L, ts(base + 40 * day)))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val sup = Seq((10L, "sa"), (20L, "sb"), (30L, "sc")).toDF("s_suppkey", "s_name")
    star(dir)("orders" -> ord, "lineitem" -> li, "supplier" -> sup)
    val got = ops.q162SoleBlame(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((10L, 1L, "sa")))
  }

  test("q152: one late line counts an order once; on-time and out-of-year orders never count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ops = new graft.operators.RelationalOps(GraftConfig())
    val dir = java.nio.file.Files.createTempDirectory("q152").toString
    val day = 86400000L
    val base = java.sql.Timestamp.valueOf("1996-03-01 00:00:00").getTime
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // order 1: two late lines → counts ONCE; order 2: 30 days exactly →
    // not late (strict >); order 3: 31 days late but ordered in 1995 → out
    val ord = Seq(
      (1L, "1-URGENT", ts(base)), (2L, "1-URGENT", ts(base)),
      (3L, "2-HIGH", ts(java.sql.Timestamp.valueOf("1995-03-01 00:00:00").getTime)))
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
    val li = Seq(
      (1L, ts(base + 31 * day)), (1L, ts(base + 40 * day)),
      (2L, ts(base + 30 * day)),
      (3L, ts(java.sql.Timestamp.valueOf("1995-03-01 00:00:00").getTime + 31 * day)))
      .toDF("l_orderkey", "l_shipdate")
    star(dir)("orders" -> ord, "lineitem" -> li)
    val got = ops.q152LateOrders(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("1-URGENT", 1L)))
  }

  test("q189 custdist: distribution totals reconcile with customers and kept orders") {
    val rows = Relational.q189CustDist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    val keptOrders = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") =!= Relational.CustDistExcludePriority).count()
    assert(rows.map(_._2).sum == nCust, "every customer is in exactly one bucket")
    assert(rows.map { case (c, d) => c * d }.sum == keptOrders,
      "bucket-weighted counts must add back to the kept order count")
  }

  test("q190 small-qty threshold keeps exactly the rows under 0.2×avg (cross-multiplied)") {
    val r = Relational.q190SmallQtyRevenue(spark, sf).collect()
    assert(r.length == 1 && !r.head.isNullAt(0), "one non-null avg_yearly row")
  }

  test("q191 dormant customers: every reported nation is in the configured key set") {
    val ks = Relational.GlobalNationKeys.map(_.toLong).toSet
    val rows = Relational.q191GlobalCustomers(spark, sf).collect()
    rows.foreach { r =>
      assert(ks(r.getAs[Long]("c_nationkey")))
      assert(r.getAs[Long]("numcust") > 0)
    }
  }

  test("q193 volume shipping: planted two-direction trade, same-nation flow excluded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q193").toString
    val ts = (s: String) => java.sql.Timestamp.valueOf(s + " 00:00:00")
    // suppliers 1(NATION_1) 2(NATION_2); customers 10(NATION_2) 11(NATION_1)
    // line 1: N1 supp → N2 cust 1996 (kept); line 2: N2 supp → N1 cust
    // 1997 (kept, other direction); line 3: N1 supp → N1 cust (excluded)
    star(dir)(
      "nation" -> Seq((1L, "NATION_1", 0L), (2L, "NATION_2", 0L))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "supplier" -> Seq((1L, 1L), (2L, 2L)).toDF("s_suppkey", "s_nationkey"),
      "customer" -> Seq((10L, 2L), (11L, 1L)).toDF("c_custkey", "c_nationkey"),
      "orders" -> Seq((100L, 10L), (101L, 11L), (102L, 11L))
        .toDF("o_orderkey", "o_custkey"),
      "lineitem" -> Seq(
        (100L, 1L, ts("1996-03-01"), 100.0, 0.1),
        (101L, 2L, ts("1997-05-01"), 200.0, 0.0),
        (102L, 1L, ts("1996-07-01"), 999.0, 0.0))
        .toDF("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"))
    val rows = Relational.q193VolumeShipping(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getLong(2)), r.getDouble(3))).toMap
    assert(rows == Map(
      ("NATION_1", "NATION_2", 1996L) -> 90.0,
      ("NATION_2", "NATION_1", 1997L) -> 200.0), rows.toString)
  }

  test("q199 market share: shares bounded in [0,1], numerator never exceeds denominator") {
    val rows = Relational.q199MarketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nr = r.getAs[Double]("nation_revenue"); val tr = r.getAs[Double]("total_revenue")
      val s = r.getAs[Double]("mkt_share")
      assert(nr >= 0.0 && nr <= tr + 1e-9)
      assert(s >= 0.0 && s <= 1.0 + 1e-12)
    }
  }

  test("q202 min-cost supplier: every row achieves its part's min cost; suppliers from region only") {
    val rows = Relational.q202MinCostSupplier(spark, sf).collect()
    assert(rows.nonEmpty)
    // per part, all reported supply_costs are equal (they all achieve the min)
    rows.groupBy(_.getAs[Long]("p_partkey")).foreach { case (pk, rs) =>
      assert(rs.map(_.getAs[Double]("supply_cost")).distinct.length == 1,
        s"part $pk reports non-minimal costs")
    }
    // region restriction: reported nations all belong to the configured region
    val regionNations = spark.read.parquet(s"$sf/nation.parquet")
      .join(spark.read.parquet(s"$sf/region.parquet")
        .filter(org.apache.spark.sql.functions.col("r_name") === Relational.MinCostRegion),
        org.apache.spark.sql.functions.col("n_regionkey") ===
          org.apache.spark.sql.functions.col("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    rows.foreach(r => assert(regionNations.contains(r.getAs[String]("n_name"))))
  }

  test("q203 value concentration: kept parts strictly exceed the share threshold vs recomputed total") {
    val rows = Relational.q203ValueConcentration(spark, sf).collect()
    assert(rows.nonEmpty, "some part should concentrate > 1/denom of the nation's value")
    // recompute the unfiltered per-part sums + total independently and
    // check the kept set matches the predicate exactly
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val nk = spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_name") === Relational.ValueNation)
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    val sk = spark.read.parquet(s"$sf/supplier.parquet")
      .filter(col("s_nationkey").isin(nk.toSeq.map(Int.box): _*))
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    val pv = li.filter(col("l_suppkey").isin(sk.toSeq.map(Long.box): _*))
      .groupBy("l_partkey")
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(24,6)")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val total = pv.values.map(BigDecimal(_)).sum
    val expectKept = pv.filter { case (_, v) =>
      BigDecimal(v) * Relational.ValueShareDenom > total }.keySet
    assert(rows.map(_.getAs[Long]("p_partkey")).toSet == expectKept)
  }

  test("q186 bucketed CDC merge equals q97's plain merge row-for-row") {
    try {
      val plain = Relational.q97CdcApply(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      val bucketed = Relational.q186BucketedCdc(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(bucketed == plain,
        "persisting the snapshot through the bucketed layout must not change the merge")
      assert(bucketed.nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS graft_q186_base")
  }

  test("q231: diff(A, apply(A, feed)) reconstructs the feed's net effect class by class") {
    val rows = Relational.q231SnapshotDiff(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val key = r.getLong(0)
      r.getString(1) match {
        case "D" =>
          // q97 deletes exactly the %10==0 keys; old side populated, new side null
          assert(key % 10 == 0 && r.isNullAt(2) && !r.isNullAt(5))
        case "I" =>
          // inserts are the shifted (+10M) %10==2 keys; new side only
          assert((key - 10000000L) % 10 == 2 && key > 10000000L &&
            !r.isNullAt(2) && r.isNullAt(5))
        case "U" =>
          // updates are the %10==1 keys and the only changed field is the
          // +1000.0 price (custkey/status pass through the feed unchanged)
          assert(key % 10 == 1)
          assert(r.getLong(2) == r.getLong(5) && r.getString(3) == r.getString(6))
          assert(r.getDouble(4) == r.getDouble(7) + 1000.0)
        case other => fail(s"unexpected op $other")
      }
    }
    // every feed class is represented and unchanged keys emit nothing
    val ops = rows.map(_.getString(1)).toSet
    assert(ops == Set("I", "U", "D"))
    assert(rows.forall(r => r.getLong(0) % 10 <= 2 || (r.getLong(0) - 10000000L) % 10 == 2))
  }

  test("q244: encodes exclude the customer's own fold; empty complements are NULL, empty folds still encode") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tenc").toString
    Seq((1L, "A"), (2L, "A"), (4L, "B"), (3L, "B"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((101L, 1L, 10.0), (102L, 2L, 20.0), (103L, 2L, 30.0), (104L, 4L, 40.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Relational.q244TargetEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(1L) == Some(25.0), "A\\fold1 = (60-10)/(3-1)")
    assert(got(2L) == Some(10.0), "A\\fold2 = (60-50)/(3-2)")
    assert(got(4L) == None, "B's only orders are cust 4's own fold — no evidence, NULL not 0")
    assert(got(3L) == Some(40.0), "an order-less fold still encodes from the full complement")
  }

  test("q311 profit roll-up: non-vacuous, only token-named parts contribute, per-group profit reconciles") {
    val cfg = GraftConfig.default
    val rows = Relational.q311ProfitRollup(spark, sf).collect()
    assert(rows.nonEmpty, "the widget-token filter must keep rows at every SF")
    val keys = rows.map(r => (r.getString(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length, "one row per (nation, year)")
    // spot-reconcile one group against a direct recompute
    val (n0, y0) = keys.head
    val direct = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.part(spark, sf)
        .filter(col("p_name").contains(Relational.ProfitPartToken)), col("l_partkey") === col("p_partkey"))
      .join(graft.sources.Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(graft.sources.Tables.nation(spark, sf).filter(col("n_name") === n0),
        col("s_nationkey") === col("n_nationkey"))
      .join(graft.sources.Tables.orders(spark, sf)
        .filter(year(col("o_orderdate")) === y0), col("l_orderkey") === col("o_orderkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        - col("p_retailprice") * col("l_quantity")).cast("decimal(24,6)")).cast("double"))
      .collect().head.getDouble(0)
    val got = rows.find(r => r.getString(0) == n0 && r.getLong(1) == y0).get.getDouble(2)
    assert(got == direct, s"group ($n0,$y0) profit must equal the direct recompute")
  }

  test("q312 top supplier: every surfaced supplier achieves the exact window max") {
    val rows = Relational.q312TopSupplier(spark, sf).collect()
    assert(rows.nonEmpty, "the 90-day window holds revenue at every SF")
    val revs = rows.map(_.getDouble(2)).distinct
    assert(revs.length == 1, "all surfaced suppliers tie at the max (Q15 result-set semantics)")
  }

  test("q313 capacity semijoin: existence-only (no duplicates), all in the audited nation") {
    val cfg = GraftConfig.default
    val rows = Relational.q313CapacitySemijoin(spark, sf).collect()
    assert(rows.nonEmpty, s"${Relational.PendingNation} has qualifying suppliers at every SF")
    val keys = rows.map(_.getLong(0))
    assert(keys.distinct.length == keys.length,
      "semijoin must emit each supplier once no matter how many parts qualified it")
    val nat = graft.sources.Tables.supplier(spark, sf)
      .join(graft.sources.Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === Relational.PendingNation)
      .select("s_suppkey").collect().map(_.getLong(0)).toSet
    assert(keys.forall(nat), "every surfaced supplier sits in the audited nation")
  }

  test("q254: one halving per elapsed half-life, integer-floor truncation, anchor at corpus max") {
    import spark.implicits._
    val ops = new RelationalOps(GraftConfig(decayHalfLifeDays = 10L))
    val DayMs = 86400000L
    val dir = java.nio.file.Files.createTempDirectory("decay").toString
    Seq(
      (1L, 1L, 20L, 100.00), // age 0  -> 10000
      (2L, 1L, 10L, 100.00), // age 10 = exactly one half-life -> 5000
      (3L, 1L, 0L, 100.00),  // age 20 -> 2500
      (4L, 2L, 10L, 99.99))  // 9999 >> 1 floors to 4999
      .map { case (k, c, d, p) => (k, c, new java.sql.Timestamp(d * DayMs), p) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = ops.q254DecayedScore(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((3L, 30000L, 17500L)))
    assert(got(2L) == ((1L, 9999L, 4999L)), "truncation floors, both engines alike")
  }
}
