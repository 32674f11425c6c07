package graft.api

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.api.Permissions.{Policy, TablePerm}
import graft.api.QueryBuilder._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange

/** Relationship requests whose tables are each one scan split plan in
  * one partition: no Exchange, no BroadcastExchange, one Spark job per
  * request where each query stage would otherwise be a job. A root
  * where with a literal bound on the parent key narrows the child arm
  * by the same predicate instead of a semi-join. Every answer equals
  * the parallel plan's (the same tables with smaller scan splits) and
  * an independent `spark.sql` statement with the role's filters
  * written inline. */
class RelationshipPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = sf("sf0.01")
  private val role = "reader"
  private val policy = Policy(Map(
    (role, "customer") -> TablePerm(Some(Neq("c_mktsegment", "AUTOMOBILE"))),
    (role, "orders") -> TablePerm(Some(Neq("o_orderpriority", "5-LOW"))),
    (role, "lineitem") -> TablePerm()))

  /** The reader's view of each table, for the oracle statements. */
  private lazy val views: Unit = {
    def view(name: String, table: String, filter: String) =
      graft.Tables.load(spark, dir, table).filter(filter)
        .createOrReplaceTempView(name)
    view("rps_c", "customer", "c_mktsegment <> 'AUTOMOBILE'")
    view("rps_o", "orders", "o_orderpriority <> '5-LOW'")
    view("rps_l", "lineitem", "true")
    view("rps_all_c", "customer", "true")
  }

  private def sql(q: String): Array[Row] = { views; spark.sql(q).collect() }
  private def key(q: String): Long = sql(q).head.getLong(0)

  /** The same session with scan splits far below each table's size:
    * every request runs through the parallel plan. */
  private lazy val parallel: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    s
  }

  private def serve(s: SparkSession, doc: String,
      vars: String = "{}"): DataFrame =
    Permissions.serveAs(s, dir, role, policy, doc, variables = vars)
      .fold(m => fail(m), identity)

  /** The exchanges a plan was compiled with (an adaptive plan's initial
    * plan: adaptive execution drops a join whose side ran empty). */
  private def exchanges(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.initialPlan)
    case _ => collect(p) { case e: Exchange => e }
  }

  /** The filters each parquet scan of `table` pushed to the reader. */
  private def pushed(p: SparkPlan, table: String): String =
    collect(p) {
      case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.getName == s"$table.parquet") =>
        s.metadata("PushedFilters")
    }.mkString("\n")

  /** The jobs collecting `df` runs under its own job group, and the
    * final executed plan. */
  private def jobsOf(name: String)(df: => DataFrame): (Int, SparkPlan) = {
    val sc = spark.sparkContext
    val group = s"relationship-jobs-$name-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try {
      val d = df
      d.collect()
      org.apache.spark.ListenerDrain(sc)
      (jobs.get(), d.queryExecution.executedPlan)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  // the benchmark's two relationship shapes
  private val rel1 = "query Q($lo: bigint!, $hi: bigint!) { customer(" +
    "where: {_and: [{c_custkey: {_gte: $lo}}, {c_custkey: {_lt: $hi}}]}, " +
    "order_by: {c_custkey: asc}) { c_custkey c_name orders(where: " +
    "{o_orderstatus: {_eq: \"O\"}}, order_by: [{o_totalprice: desc}, " +
    "{o_orderkey: asc}], limit: 3) @join(type: \"left\") " +
    "{ o_orderkey o_totalprice } } }"
  private val rel2 = "query Q($k: bigint!) { customer(where: {c_custkey: " +
    "{_eq: $k}}) { c_custkey orders(order_by: {o_orderkey: asc}, " +
    "limit: 4) @join(type: \"left\") { o_orderkey items(order_by: " +
    "{l_linenumber: asc}) @join(type: \"left\") " +
    "{ l_linenumber l_quantity } } } }"

  private def rel1Oracle(lo: Long, hi: Long) =
    s"""WITH o AS (
       |  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
       |    PARTITION BY o_custkey
       |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
       |  FROM rps_o WHERE o_orderstatus = 'O'),
       |ch AS (
       |  SELECT o_custkey, to_json(transform(
       |    array_sort(collect_list(struct(rn, o_orderkey, o_totalprice))),
       |    x -> named_struct('o_orderkey', x.o_orderkey,
       |                      'o_totalprice', x.o_totalprice))) AS orders
       |  FROM o WHERE rn <= 3 GROUP BY o_custkey)
       |SELECT c.c_custkey, c.c_name, coalesce(ch.orders, '[]')
       |FROM rps_c c LEFT JOIN ch ON ch.o_custkey = c.c_custkey
       |WHERE c.c_custkey >= $lo AND c.c_custkey < $hi
       |ORDER BY c.c_custkey""".stripMargin

  private def rel2Oracle(k: Long) =
    s"""WITH o AS (
       |  SELECT o_custkey, o_orderkey, row_number() OVER (
       |    PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
       |  FROM rps_o WHERE o_custkey = $k),
       |it AS (
       |  SELECT l_orderkey, transform(
       |    array_sort(collect_list(struct(l_linenumber, l_quantity))),
       |    x -> named_struct('l_linenumber', x.l_linenumber,
       |                      'l_quantity', x.l_quantity)) AS items
       |  FROM rps_l JOIN o ON o.o_orderkey = l_orderkey
       |  WHERE o.rn <= 4 GROUP BY l_orderkey),
       |ch AS (
       |  SELECT o_custkey, to_json(transform(array_sort(collect_list(
       |    struct(rn, o_orderkey, coalesce(it.items, array()) AS items))),
       |    x -> named_struct('o_orderkey', x.o_orderkey,
       |                      'items', x.items))) AS orders
       |  FROM o LEFT JOIN it ON it.l_orderkey = o.o_orderkey
       |  WHERE rn <= 4 GROUP BY o_custkey)
       |SELECT c.c_custkey, coalesce(ch.orders, '[]')
       |FROM rps_c c LEFT JOIN ch ON ch.o_custkey = c.c_custkey
       |WHERE c.c_custkey = $k""".stripMargin

  /** A customer with orders, one without any, and an AUTOMOBILE one
    * (invisible to the role) with orders. */
  private lazy val withOrders = key("SELECT min(o_custkey) FROM rps_o " +
    "JOIN rps_c ON c_custkey = o_custkey WHERE o_custkey > 100")
  private lazy val childless = key("SELECT min(c_custkey) FROM rps_c c " +
    "WHERE NOT EXISTS (SELECT 1 FROM rps_o o WHERE o.o_custkey = " +
    "c.c_custkey)")
  private lazy val hidden = key("SELECT min(c_custkey) FROM " +
    "rps_all_c c WHERE c_mktsegment = 'AUTOMOBILE' AND EXISTS " +
    "(SELECT 1 FROM rps_o o WHERE o.o_custkey = c.c_custkey)")

  test("rel1 runs in one job with no exchange, rel2 in at most two") {
    val (lo, hi) = (withOrders, withOrders + 12)
    val vars1 = s"""{"lo": $lo, "hi": $hi}"""
    val vars2 = s"""{"k": $withOrders}"""
    // warm: table listings, code generation
    (1 to 2).foreach { _ =>
      serve(spark, rel1, vars1).collect(); serve(spark, rel2, vars2).collect()
    }
    val (jobs1, plan1) = jobsOf("rel1")(serve(spark, rel1, vars1))
    assert(jobs1 <= 1, s"rel1 ran $jobs1 jobs:\n$plan1")
    assert(exchanges(plan1).isEmpty, s"rel1 plans an exchange:\n$plan1")
    val (jobs2, plan2) = jobsOf("rel2")(serve(spark, rel2, vars2))
    assert(jobs2 <= 2, s"rel2 ran $jobs2 jobs:\n$plan2")
    // the root's literal key reaches the orders scan; no semi-join
    val o1 = pushed(plan1, "orders")
    assert(o1.contains(s"GreaterThanOrEqual(o_custkey,$lo)") &&
      o1.contains(s"LessThan(o_custkey,$hi)"),
      s"rel1's key range not pushed into the orders scan: $o1\n$plan1")
    assert(!plan1.toString.contains("__parent_keys"),
      s"rel1 joins parent keys:\n$plan1")
    val o2 = pushed(plan2, "orders")
    assert(o2.contains(s"EqualTo(o_custkey,$withOrders)"),
      s"rel2's key not pushed into the orders scan: $o2\n$plan2")
  }

  /** One request of the regime check: its answer in both plans, the
    * oracle's, and whether the root order_by fixes the row order. */
  private case class Case(name: String, serve: SparkSession => DataFrame,
      oracle: String, ordered: Boolean, computed: Boolean = false,
      rootKey: String = "c_custkey")

  private def cases: Seq[Case] = {
    def doc(d: String) = (s: SparkSession) => serve(s, d)
    val ordersOf =
      """(SELECT o_custkey, to_json(transform(array_sort(collect_list(
        |  struct(o_orderkey))), x -> named_struct('o_orderkey',
        |  x.o_orderkey))) AS orders FROM rps_o GROUP BY o_custkey)"""
        .stripMargin
    def leftOrders(where: String, order: String = "") =
      s"""SELECT c.c_custkey, coalesce(ch.orders, '[]') FROM rps_c c
         |LEFT JOIN $ordersOf ch ON ch.o_custkey = c.c_custkey
         |WHERE $where $order""".stripMargin
    def custOrders(where: String, order: String = "") =
      s"customer(where: $where $order) { c_custkey orders(order_by: " +
        "{o_orderkey: asc}) @join(type: \"left\") { o_orderkey } }"
    def range(lo: Long, hiOp: String, hi: Long) =
      s"{_and: [{c_custkey: {_gte: $lo}}, {c_custkey: {$hiOp: $hi}}]}"
    val sel = Seq(NestedField("o_orderkey", "o_orderkey"))
    Seq(
      Case("_eq on a key with no children, left attach",
        doc(s"{ ${custOrders(s"{c_custkey: {_eq: $childless}}")} }"),
        leftOrders(s"c_custkey = $childless"), ordered = false),
      Case("_in with a null element",
        s => QueryBuilder.run(s, dir, Permissions.secure(Request(
          "customer", Seq("c_custkey"),
          where = Some(In("c_custkey", Seq(withOrders, null, childless))),
          nested = Seq(Nested("orders", "orders", "o_custkey", "c_custkey",
            sel, joinType = "left", orderBy = Seq(Order("o_orderkey"))))),
          role, policy).fold(m => fail(m), identity)),
        leftOrders(s"c_custkey IN ($withOrders, $childless)"),
        ordered = false),
      Case("integral range",
        doc(s"{ ${custOrders(range(withOrders, "_lt", withOrders + 15),
          ", order_by: {c_custkey: asc}")} }"),
        leftOrders(s"c_custkey >= $withOrders AND c_custkey < " +
          s"${withOrders + 15}", "ORDER BY c_custkey"), ordered = true),
      Case("empty range",
        doc(s"{ ${custOrders(range(20, "_lt", 10))} }"),
        leftOrders("c_custkey >= 20 AND c_custkey < 10"), ordered = false),
      Case("root _or keeps the parent-key join",
        doc(s"{ ${custOrders(s"{_or: [{c_custkey: {_eq: $withOrders}}, " +
          "{c_custkey: {_lt: 6}}]}", ", order_by: {c_custkey: asc}")} }"),
        leftOrders(s"(c_custkey = $withOrders OR c_custkey < 6)",
          "ORDER BY c_custkey"), ordered = true, computed = true),
      Case("object relationship",
        doc(s"{ orders(where: {o_custkey: {_in: [$withOrders, $hidden]}}, " +
          "order_by: {o_orderkey: asc}) { o_orderkey customer " +
          "{ c_name } } }"),
        s"""SELECT o.o_orderkey, CASE WHEN c.c_custkey IS NULL THEN NULL
           |  ELSE to_json(named_struct('c_name', c.c_name)) END
           |FROM rps_o o LEFT JOIN rps_c c ON c.c_custkey = o.o_custkey
           |WHERE o.o_custkey IN ($withOrders, $hidden)
           |ORDER BY o.o_orderkey""".stripMargin, ordered = true,
        rootKey = "o_custkey"),
      Case("aggregate relationship with nodes",
        doc(s"{ customer(where: {c_custkey: {_in: [$withOrders, " +
          s"$childless, ${withOrders + 1}]}}) { c_custkey " +
          "orders_aggregate(order_by: {o_orderkey: asc}) { aggregate " +
          "{ count } nodes { o_orderkey } } } }"),
        s"""SELECT c.c_custkey, coalesce(a.n, 0), coalesce(a.nodes, '[]')
           |FROM rps_c c LEFT JOIN (SELECT o_custkey, count(*) AS n,
           |  to_json(transform(array_sort(collect_list(struct(o_orderkey))),
           |    x -> named_struct('o_orderkey', x.o_orderkey))) AS nodes
           |  FROM rps_o GROUP BY o_custkey) a ON a.o_custkey = c.c_custkey
           |WHERE c.c_custkey IN ($withOrders, $childless, ${withOrders + 1})"""
          .stripMargin, ordered = false),
      Case("child distinct_on and offset",
        doc(s"{ customer(where: ${range(withOrders, "_lte",
          withOrders + 30)}, order_by: {c_custkey: asc}) { c_custkey " +
          "orders(distinct_on: [o_orderstatus], order_by: [{o_orderstatus: " +
          "asc}, {o_orderkey: asc}], offset: 1) @join(type: \"left\") " +
          "{ o_orderstatus o_orderkey } } }"),
        s"""WITH d AS (SELECT o_custkey, o_orderstatus, o_orderkey,
           |  row_number() OVER (PARTITION BY o_custkey, o_orderstatus
           |    ORDER BY o_orderkey) AS dn FROM rps_o),
           |r AS (SELECT o_custkey, o_orderstatus, o_orderkey,
           |  row_number() OVER (PARTITION BY o_custkey
           |    ORDER BY o_orderstatus, o_orderkey) AS rn
           |  FROM d WHERE dn = 1),
           |ch AS (SELECT o_custkey, to_json(transform(array_sort(
           |  collect_list(struct(o_orderstatus, o_orderkey))),
           |  x -> named_struct('o_orderstatus', x.o_orderstatus,
           |    'o_orderkey', x.o_orderkey))) AS orders
           |  FROM r WHERE rn > 1 GROUP BY o_custkey)
           |SELECT c.c_custkey, coalesce(ch.orders, '[]') FROM rps_c c
           |LEFT JOIN ch ON ch.o_custkey = c.c_custkey
           |WHERE c.c_custkey BETWEEN $withOrders AND ${withOrders + 30}
           |ORDER BY c.c_custkey""".stripMargin, ordered = true),
      Case("inner attach",
        doc(s"{ customer(where: {c_custkey: {_in: [$childless, " +
          s"$withOrders, ${withOrders + 1}]}}) { c_custkey orders(" +
          "order_by: {o_orderkey: asc}, limit: 2) { o_orderkey } } }"),
        s"""WITH o AS (SELECT o_custkey, o_orderkey, row_number() OVER (
           |  PARTITION BY o_custkey ORDER BY o_orderkey) AS rn FROM rps_o)
           |SELECT c.c_custkey, to_json(transform(array_sort(collect_list(
           |  struct(o.o_orderkey))), x -> named_struct('o_orderkey',
           |  x.o_orderkey)))
           |FROM rps_c c JOIN o ON o.o_custkey = c.c_custkey AND o.rn <= 2
           |WHERE c.c_custkey IN ($childless, $withOrders, ${withOrders + 1})
           |GROUP BY c.c_custkey""".stripMargin, ordered = false),
      Case("rel1", s => serve(s, rel1,
          s"""{"lo": $withOrders, "hi": ${withOrders + 9}}"""),
        rel1Oracle(withOrders, withOrders + 9), ordered = true),
      Case("rel2", s => serve(s, rel2, s"""{"k": $withOrders}"""),
        rel2Oracle(withOrders), ordered = false))
  }

  private def rows(rs: Array[Row], ordered: Boolean): Seq[String] = {
    val xs = rs.toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))
    if (ordered) xs else xs.sorted
  }

  test("one-partition and parallel plans give the oracle's answer; a " +
    "literal key bound replaces the parent-key join, a computed one " +
    "keeps it") {
    assert(Seq(withOrders, childless, hidden).distinct.size == 3)
    cases.foreach { c =>
      val one = c.serve(spark)
      val par = c.serve(parallel)
      val want = rows(sql(c.oracle), c.ordered)
      assert(rows(one.collect(), c.ordered) === want, c.name)
      assert(rows(par.collect(), c.ordered) === want, c.name)
      val onePlan = one.queryExecution.executedPlan
      val parPlan = par.queryExecution.executedPlan
      assert(exchanges(onePlan).isEmpty,
        s"${c.name}: exchange in the one-partition plan:\n$onePlan")
      assert(exchanges(parPlan).nonEmpty,
        s"${c.name}: the parallel session planned no exchange:\n$parPlan")
      // a computed restriction joins the root rows' keys (a left-semi
      // join in the parallel plan); a literal bound never does (a
      // sub-arm still joins its own parent level's keys)
      val rootKeys = s"${c.rootKey}#\\d+L AS __parent_keys".r
      Seq(onePlan, parPlan).foreach(p => assert(
        rootKeys.findFirstIn(p.toString).nonEmpty === c.computed,
        s"${c.name}: root key join ${if (c.computed) "missing" else
          "under a literal bound"}:\n$p"))
      if (c.computed) assert(parPlan.toString.contains("LeftSemi"),
        s"${c.name}: no left-semi join:\n$parPlan")
    }
    // not vacuous: the childless key answers an empty array
    assert(rows(cases.head.serve(spark).collect(), ordered = false) ===
      Seq(s"$childless|[]"))
  }
}
