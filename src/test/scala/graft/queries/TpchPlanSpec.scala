package graft.queries

import graft.SparkTestBase

/** The TPC-H sweep's value at 100 TB is the PLAN, not the answer:
  * selective predicates must reach the parquet scan, dimension sides
  * must broadcast, and IN/EXISTS subqueries must decorrelate to
  * semi-joins instead of per-row subquery execution. These assertions
  * pin the plan shapes so a regression (e.g. a cast blocking pushdown,
  * a stats change defeating the broadcast) fails loudly.
  */
class TpchPlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val run = TpchQueries.defs.find(_.name == name).map(_.run)
      .getOrElse(graft.SparkEntry.queries(name))
    run(spark, sf0001).queryExecution.executedPlan.toString
  }

  test("q88 (Q6): all three lineitem predicates are pushed to the scan") {
    // plan toString truncates the PushedFilters list; read the scan
    // node's metadata instead
    val d = TpchQueries.defs.find(_.name == "q88_sql_tpch_q6").get
    // (sparkPlan, not executedPlan: AQE's wrapper hides its children
    // from collect until execution)
    val scan = d.run(spark, sf0001).queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val pushed = scan.metadata("PushedFilters")
    // date bounds, discount band, and the quantity cap all push
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThanOrEqual(l_discount,0.07)") &&
      pushed.contains("LessThan(l_quantity,24.0)"), pushed)
    // and the scan reads only the referenced columns
    val read = scan.metadata("ReadSchema")
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .forall(read.contains) && !read.contains("l_orderkey"), read)
  }

  test("q91 (Q10): dimension joins broadcast; no shuffle of customer/nation") {
    val plan = planOf("q91_sql_tpch_q10")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // the returned-lines filter reaches the lineitem scan
    assert(plan.contains("EqualTo(l_returnflag,R)"), plan.take(3000))
  }

  test("q95 (Q18): the IN + HAVING subquery decorrelates to a semi-join") {
    val plan = planOf("q95_sql_tpch_q18")
    assert(plan.contains("LeftSemi"), plan.take(3000))
  }

  test("q98 (Q4): the correlated EXISTS decorrelates to a semi-join") {
    val plan = planOf("q98_sql_tpch_q4")
    assert(plan.contains("LeftSemi"), plan.take(3000))
  }

  test("q92 (Q13): the outer join survives with its extra join predicate") {
    val plan = planOf("q92_sql_tpch_q13")
    assert(plan.contains("LeftOuter"), plan.take(3000))
  }

  import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

  private def scansUnder(p: SparkPlan): Seq[String] =
    p.collect { case f: FileSourceScanExec => f.metadata("Location") }

  private def scanOf(p: SparkPlan, table: String): FileSourceScanExec =
    p.collectFirst {
      case f: FileSourceScanExec
          if f.metadata("Location").contains(s"$table.parquet") => f
    }.getOrElse(fail(s"no parquet scan of $table in plan:\n$p"))

  private def buildSideOf(j: BroadcastHashJoinExec): SparkPlan =
    j.buildSide match {
      case BuildLeft => j.left
      case BuildRight => j.right
    }

  // NOTE on the fixture-scale caveat: at sf0.001 Catalyst's CBO
  // legitimately puts the column-pruned lineitem (40 KB projected) on
  // a broadcast BUILD side — at real sizes the same size comparison
  // flips it to the streamed side automatically, so WHICH side builds
  // is not a stable invariant to pin on tiny data. What IS
  // scale-invariant (and what a join-order/AQE regression would
  // break) is: every join broadcasts, the true dimensions sit under
  // build sides, and NOTHING is hash-pre-shuffled before the partial
  // aggregate — the only exchanges are the agg's own and the sort's.

  /** Executed plan with AQE disabled: `sparkPlan` predates
    * EnsureRequirements (no Exchange nodes yet) and AQE wraps stages
    * in leaf nodes `collect` can't see through — the plain executed
    * plan is the one whose whole join+exchange tree is inspectable. */
  private def plainExecutedPlan(name: String): SparkPlan = {
    val d = CoreQueries.defs.find(_.name == name).get
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try d.run(spark, sf0001).queryExecution.executedPlan
    finally spark.conf.set(key, prior)
  }

  test("q86 (Q5): all joins broadcast, dims on build sides, no pre-agg shuffle") {
    val sp = plainExecutedPlan("q86_sql_tpch_q5")
    val bhjs = sp.collect { case j: BroadcastHashJoinExec => j }
    assert(bhjs.length == 5, s"expected 5 broadcast joins, got:\n$sp")
    assert(sp.collect { case j if j.nodeName.contains("SortMergeJoin") => j }.isEmpty,
      s"6-way join must not sort-merge at this scale:\n$sp")
    // the true dimensions are each shipped via a build side
    val builtScans = bhjs.flatMap(j => scansUnder(buildSideOf(j))).toSet
    Seq("supplier", "nation", "region").foreach { t =>
      assert(builtScans.exists(_.contains(s"$t.parquet")),
        s"$t not broadcast-built:\n$sp")
    }
    // the ONLY exchanges are partial->final agg on n_name and the
    // output sort: no join input is hash-pre-shuffled
    val exchanges = sp.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.length == 2 &&
      exchanges.exists(_.outputPartitioning.toString.contains("n_name")) &&
      exchanges.exists(_.outputPartitioning.toString.contains("range")),
      s"expected exactly the agg + sort exchanges:\n$sp")
    // selective predicates reach their scans
    assert(scanOf(sp, "orders").metadata("PushedFilters")
      .contains("GreaterThanOrEqual(o_orderdate"), "orders date not pushed")
    assert(scanOf(sp, "region").metadata("PushedFilters")
      .contains("EqualTo(r_name,ASIA)"), "region name not pushed")
  }

  test("q86 (Q5) under executed AQE: final plan keeps the broadcast shape") {
    val d = CoreQueries.defs.find(_.name == "q86_sql_tpch_q5").get
    val df = d.run(spark, sf0001)
    df.collect() // drive AQE to its final plan
    val adaptive = df.queryExecution.executedPlan
      .collectFirst {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a
      }.getOrElse(fail("no adaptive plan — AQE off?"))
    // PlanWalk looks through AQE's stage wrappers (and into
    // subqueries), so the whole final join tree is visible
    val nodes = graft.PlanWalk.operators(adaptive)
    assert(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]) == 5,
      adaptive.toString.take(4000))
    assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
      adaptive.toString.take(4000))
  }

  test("q85 (Q3): both joins broadcast; customer built; filters pushed") {
    val sp = plainExecutedPlan("q85_sql_tpch_q3")
    val bhjs = sp.collect { case j: BroadcastHashJoinExec => j }
    assert(bhjs.length == 2, s"expected 2 broadcast joins, got:\n$sp")
    val builtScans = bhjs.flatMap(j => scansUnder(buildSideOf(j))).toSet
    assert(builtScans.exists(_.contains("customer.parquet")),
      s"filtered customer dimension not broadcast-built:\n$sp")
    // one agg exchange at most besides the top-k (TakeOrdered needs none)
    val exchanges = sp.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.length <= 1, s"join inputs must not pre-shuffle:\n$sp")
    assert(scanOf(sp, "customer").metadata("PushedFilters")
      .contains("EqualTo(c_mktsegment,BUILDING)"), "segment not pushed")
    assert(scanOf(sp, "lineitem").metadata("PushedFilters")
      .contains("GreaterThan(l_shipdate"), "lineitem date not pushed")
  }

  test("q127 (Q21): EXISTS + NOT EXISTS decorrelate to semi + anti joins") {
    val p = planOf("q127_sql_tpch_q21")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    // the supplier-inequality correlation must ride the join condition,
    // never a nested-loop fallback
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("q126 (Q20): the nested-IN ladder decorrelates to a semi-join") {
    val p = planOf("q126_sql_tpch_q20")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q121 (Q2): the correlated scalar MIN becomes an aggregate join") {
    val p = planOf("q121_sql_tpch_q2")
    // decorrelation: a min-aggregate over the re-joined subquery chain,
    // equi-joined back on (price, partkey) — no per-row subquery, no
    // nested loop
    assert(p.contains("min(l_extendedprice"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("q162: LATERAL ORDER BY/LIMIT decorrelates to a partial-top-k ranked join") {
    val p = planOf("q162_sql_lateral")
    // the q37 shape, reached from SQL: per-group top-2 as a
    // WindowGroupLimit with a Partial phase below the exchange, then
    // an equi-join — never a per-customer nested loop
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(p.contains("Partial"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("q161: the recursive spine stays planning-scale — data never loops") {
    val p = planOf("q161_sql_recursive_cte")
    // the 11-row recursion drives ONE non-equi join against orders;
    // the orders scan appears exactly once in the plan
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("q207: thresholds broadcast; clip fractions sit at the 5% tails") {
    val p = planOf("q207_winsorize")
    // the 3-row per-group threshold frame joins back by broadcast,
    // never a shuffle of the corpus on the join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val rows = graft.SparkEntry.queries("q207_winsorize")(spark, sf0001)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (n, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(lo <= n * 6 / 100 && hi <= n * 6 / 100, r.toString)
      assert(lo >= n * 4 / 100 && hi >= n * 4 / 100, r.toString)
    }
  }

  test("q212: equi-depth bins differ by at most one row; edges ascend") {
    val rows = graft.SparkEntry.queries("q212_equidepth_bins")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (flag, bs) =>
      assert(bs.length == 8, s"$flag: ${bs.length} bins")
      val counts = bs.map(_._3)
      assert(counts.max - counts.min <= 1, s"$flag: $counts")
      // bin value ranges are non-overlapping and ascending
      bs.sortBy(_._2).sliding(2).foreach { case Array(a, b) =>
        assert(a._5 <= b._4, s"$flag bins ${a._2}/${b._2} overlap")
      }
    }
  }

  test("q213: integer-sum corr lies in [-1, 1] and matches native corr closely") {
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry.queries("q213_corr_exact")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    val native = graft.sources.Tables.load(spark, sf0001, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(corr(col("l_quantity"), round(col("l_extendedprice"))).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { case (flag, c) =>
      assert(c >= -1.0 && c <= 1.0, s"$flag: $c")
      assert(math.abs(c - native(flag)) < 1e-9, s"$flag: $c vs ${native(flag)}")
    }
  }
}
