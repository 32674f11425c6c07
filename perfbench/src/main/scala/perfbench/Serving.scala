package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row

/** `serve`: GraphQL serving over sf0.01. [[Serve.readers]] closed-loop
  * clients send a seeded mix of read documents as the reader role; one
  * more client, the [[Writer]], sends mutations and reads of the stores
  * they rewrite. Every read answer is kept; each shape's answers are
  * compared with an independent `spark.sql` statement that inlines the
  * role's filters. */
final class Serving extends Workload {
  import Serve._

  private val nCust = Fixture.sizes(sf).customers
  private val oracleChecksPerShape = 1

  /** The read shapes, in the fixed cycle each reading client walks from
    * its own offset. Every shape weighs the same: no measured Hasura
    * traffic mix is at hand, so the benchmark assumes none. Every run
    * serves nearly the same mix; the seed draws the keys and literals. */
  private val shapes = Vector("by_pk", "list", "rel1", "rel2", "agg",
    "relpred", "multi")

  final case class Req(doc: Doc, params: Map[String, Any])

  def request(shape: String, r: SplittableRandom): Req = shape match {
    case "by_pk" =>
      val k = skewed(r, nCust)
      Req(Doc(shape, "query Q($k: bigint!) { customer_by_pk(c_custkey: $k)" +
        " { c_custkey c_name c_acctbal c_mktsegment } }", s"""{"k": $k}""",
        multiRoot = false), Map("k" -> k))
    case "list" =>
      val c = skewed(r, nCust)
      val p = 1000 + r.nextInt(300000)
      Req(Doc(shape, "query Q($c: bigint!, $p: float8!) { orders(where: " +
        "{o_custkey: {_eq: $c}, o_totalprice: {_gt: $p}}, order_by: " +
        "[{o_totalprice: desc}, {o_orderkey: asc}], limit: 10) " +
        "{ o_orderkey o_totalprice o_orderstatus } }",
        s"""{"c": $c, "p": $p.0}""", multiRoot = false),
        Map("c" -> c, "p" -> p))
    case "rel1" =>
      val lo = skewed(r, nCust - 20)
      val hi = lo + 1 + r.nextInt(20)
      Req(Doc(shape, "query Q($lo: bigint!, $hi: bigint!) { customer(where: " +
        "{_and: [{c_custkey: {_gte: $lo}}, {c_custkey: {_lt: $hi}}]}, " +
        "order_by: {c_custkey: asc}) " +
        "{ c_custkey c_name orders(where: {o_orderstatus: {_eq: \"O\"}}, " +
        "order_by: [{o_totalprice: desc}, {o_orderkey: asc}], limit: 3) " +
        "@join(type: \"left\") " +
        "{ o_orderkey o_totalprice } } }", s"""{"lo": $lo, "hi": $hi}""",
        multiRoot = false), Map("lo" -> lo, "hi" -> hi))
    case "rel2" =>
      val k = skewed(r, nCust)
      Req(Doc(shape, "query Q($k: bigint!) { customer(where: {c_custkey: " +
        "{_eq: $k}}) { c_custkey orders(order_by: {o_orderkey: asc}, " +
        "limit: 4) @join(type: \"left\") { o_orderkey items(order_by: " +
        "{l_linenumber: asc}) @join(type: \"left\") " +
        "{ l_linenumber l_quantity } } } }", s"""{"k": $k}""",
        multiRoot = false), Map("k" -> k))
    case "agg" =>
      val k = 1 + skewed(r, nCust)
      val st = Seq("F", "O", "P")(r.nextInt(3))
      Req(Doc(shape, "query Q($k: bigint!, $st: String!) { orders_aggregate(" +
        "where: {o_custkey: {_lt: $k}, o_orderstatus: {_eq: $st}}) " +
        "{ aggregate { count sum { o_totalprice } max { o_totalprice } } } }",
        s"""{"k": $k, "st": "$st"}""", multiRoot = true),
        Map("k" -> k, "st" -> st))
    case "relpred" =>
      val n = r.nextInt(25)
      val p = 400000 + r.nextInt(99000)
      Req(Doc(shape, "query Q($n: Int!, $p: float8!) { customer(where: " +
        "{c_nationkey: {_eq: $n}, orders: {o_totalprice: {_gt: $p}}}, " +
        "order_by: {c_custkey: asc}, limit: 20) { c_custkey c_name } }",
        s"""{"n": $n, "p": $p.0}""", multiRoot = false),
        Map("n" -> n, "p" -> p))
    case "multi" =>
      val k = skewed(r, nCust)
      Req(Doc(shape, "query Q($k: bigint!) { c: customer_by_pk(c_custkey: " +
        "$k) { c_custkey c_name } o: orders(where: {o_custkey: {_eq: $k}}, " +
        "order_by: {o_orderkey: asc}, limit: 5) { o_orderkey " +
        "o_orderstatus } }", s"""{"k": $k}""", multiRoot = true),
        Map("k" -> k))
  }

  private val custOk = "c_mktsegment <> 'AUTOMOBILE'"
  private val ordOk = "o_orderpriority <> '5-LOW'"

  /** The independent answer: plain SQL over the same parquet files, with
    * the reader role's row filters written inline. */
  def oracle(spark: org.apache.spark.sql.SparkSession, q: Req)
      : Seq[Array[Row]] = {
    val p = q.params
    def sql(s: String) = spark.sql(s).collect()
    q.doc.shape match {
      case "by_pk" => Seq(sql(
        s"""SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM o_customer
           |WHERE c_custkey = ${p("k")} AND $custOk""".stripMargin))
      case "list" => Seq(sql(
        s"""SELECT o_orderkey, o_totalprice, o_orderstatus FROM o_orders
           |WHERE o_custkey = ${p("c")} AND o_totalprice > ${p("p")}
           |  AND $ordOk
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin))
      case "rel1" => Seq(sql(
        s"""WITH o AS (
           |  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
           |    PARTITION BY o_custkey
           |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           |  FROM o_orders WHERE o_orderstatus = 'O' AND $ordOk),
           |ch AS (
           |  SELECT o_custkey, to_json(transform(
           |    array_sort(collect_list(struct(rn, o_orderkey, o_totalprice))),
           |    x -> named_struct('o_orderkey', x.o_orderkey,
           |                      'o_totalprice', x.o_totalprice))) AS orders
           |  FROM o WHERE rn <= 3 GROUP BY o_custkey)
           |SELECT c.c_custkey, c.c_name, coalesce(ch.orders, '[]')
           |FROM o_customer c LEFT JOIN ch ON ch.o_custkey = c.c_custkey
           |WHERE c.c_custkey >= ${p("lo")} AND c.c_custkey < ${p("hi")}
           |  AND $custOk
           |ORDER BY c.c_custkey""".stripMargin))
      case "rel2" => Seq(sql(
        s"""WITH o AS (
           |  SELECT o_custkey, o_orderkey, row_number() OVER (
           |    PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
           |  FROM o_orders WHERE o_custkey = ${p("k")} AND $ordOk),
           |it AS (
           |  SELECT l_orderkey, transform(
           |    array_sort(collect_list(struct(l_linenumber, l_quantity))),
           |    x -> named_struct('l_linenumber', x.l_linenumber,
           |                      'l_quantity', x.l_quantity)) AS items
           |  FROM o_lineitem JOIN o ON o.o_orderkey = l_orderkey
           |  WHERE o.rn <= 4 GROUP BY l_orderkey),
           |ch AS (
           |  SELECT o_custkey, to_json(transform(array_sort(collect_list(
           |    struct(rn, o_orderkey, coalesce(it.items, array()) AS items))),
           |    x -> named_struct('o_orderkey', x.o_orderkey,
           |                      'items', x.items))) AS orders
           |  FROM o LEFT JOIN it ON it.l_orderkey = o.o_orderkey
           |  WHERE rn <= 4 GROUP BY o_custkey)
           |SELECT c.c_custkey, coalesce(ch.orders, '[]')
           |FROM o_customer c LEFT JOIN ch ON ch.o_custkey = c.c_custkey
           |WHERE c.c_custkey = ${p("k")} AND $custOk""".stripMargin))
      case "agg" => Seq(sql(
        s"""SELECT count(*), round(sum(o_totalprice), 2), max(o_totalprice)
           |FROM o_orders WHERE o_custkey < ${p("k")}
           |  AND o_orderstatus = '${p("st")}' AND $ordOk""".stripMargin))
      case "relpred" => Seq(sql(
        s"""SELECT c_custkey, c_name FROM o_customer c
           |WHERE c_nationkey = ${p("n")} AND $custOk AND EXISTS (
           |  SELECT 1 FROM o_orders o WHERE o.o_custkey = c.c_custkey
           |    AND o.o_totalprice > ${p("p")} AND $ordOk)
           |ORDER BY c_custkey LIMIT 20""".stripMargin))
      case "multi" => Seq(
        sql(s"""SELECT c_custkey, c_name FROM o_customer
               |WHERE c_custkey = ${p("k")} AND $custOk""".stripMargin),
        sql(s"""SELECT o_orderkey, o_orderstatus FROM o_orders
               |WHERE o_custkey = ${p("k")} AND $ordOk
               |ORDER BY o_orderkey LIMIT 5""".stripMargin))
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fixture = Fixture.dirOf(ctx.fixtures, Fixture.serving)
    var dir = ""
    var writer: Writer = null
    val setupS = timedSetup { i =>
      dir = s"${ctx.work}/serve_$i"
      Fixture.copy(fixture, dir)
    } { i =>
      loadTables(ctx, dir, Fixture.servingTables)
      writer = new Writer(ctx, dir)
      writer.setup(i)
    }
    writer.loadModel()
    Seq("customer", "orders", "lineitem").foreach(t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(s"o_$t"))

    // cold pass, one after another: the first request of every read
    // shape, and the writer's first write; the same documents on every
    // seed, since which code the first requests compile moves `cold_s`
    ctx.mark("setup")
    val coldRng = rng(0L, 99)
    val t0 = System.nanoTime()
    shapes.foreach(sh =>
      serve(ctx, ctx.untraced, dir, request(sh, coldRng).doc))
    val coldOk = writer.cold(coldRng)
    val coldS = (System.nanoTime() - t0) / 1e9
    ctx.mark("cold pass")

    // every answer, warm-up included, is checked; the last field says
    // whether the request was measured
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[
      (Req, Seq[(String, Array[Row])], Sample, Boolean)]()
    // the clients' loop; client ids from `first` on, so the warm-up's
    // writer inserts other fresh keys than the measured one's
    def clients(first: Int, seconds: Double, tracer: () => Tracer) = {
      val rngs = (0 to readers).map(c => rng(ctx.seed, first + c))
      Clients.run(readers + 1, seconds) { (c, i) =>
        val tr = tracer()
        if (c == readers) writer.next(first + c, i, rngs(c), tr)
        else {
          val q = request(shapes((c * 3 + i) % shapes.size), rngs(c))
          var ans: Seq[(String, Array[Row])] = Nil
          val s = Clients.timed(ctx, "read", tr) {
            ans = serve(ctx, tr, dir, q.doc); true
          }
          answers.add((q, ans, s, first == 0))
          s
        }
      }
    }
    val (warmup, _) = clients(10, warmupS, () => ctx.untraced)
    ctx.mark("warm-up")
    val gc0 = ctx.heap.gcSeconds
    val (samples, elapsed) = clients(0, ctx.seconds, () => ctx.tracerFor())
    val gcS = ctx.heap.gcSeconds - gc0
    ctx.liveMb = ctx.heap.liveMb()
    ctx.mark("measure")

    // correctness: equal requests must get equal answers, the first
    // request of every shape must match the independent query,
    // and the writer's stores must match its model
    import scala.jdk.CollectionConverters._
    val all = answers.asScala.toSeq.map { case (q, ans, s, _) =>
      (q, canon(ans.map("" -> _._2)), s.ok) }
    val byReq = all.groupBy(a => (a._1.doc.shape, a._1.doc.vars))
    val inconsistent = byReq.filter(_._2.map(_._2).distinct.size > 1).keySet
    val checked = all.filter(_._3).groupBy(_._1.doc.shape).values
      .flatMap(_.map(a => (a._1, a._2)).distinctBy(_._1.doc.vars)
        .take(oracleChecksPerShape))
    val wrong = checked.filter { case (q, ans) =>
      val want = canon(oracle(spark, q).map("" -> _))
      if (want != ans) System.err.println(s"[perfbench] wrong answer for " +
        s"${q.doc.shape} ${q.doc.vars}: got ${ans.replace('\n', ';')} " +
        s"want ${want.replace('\n', ';')}")
      want != ans
    }.map(w => (w._1.doc.shape, w._1.doc.vars)).toSet
    val badReads = all.count(a => !a._3 ||
      inconsistent((a._1.doc.shape, a._1.doc.vars)) ||
      wrong((a._1.doc.shape, a._1.doc.vars)))
    val finalOk = writer.finalCheck()
    val writerSamples = samples.filter(_.kind != "read")
    val failed = badReads + wrong.size + writerSamples.count(!_.ok) +
      warmup.count(s => s.kind != "read" && !s.ok) +
      (if (coldOk) 0 else 1) + finalOk.count(!_)

    // measured latencies by kind: the read shape, or the writer's
    // request kind
    val byKind = answers.asScala.toSeq.filter(_._4)
      .map(a => (a._1.doc.shape, a._3.ms)) ++
      writerSamples.map(s => (s.kind, s.ms))
    val e2e = Map("setup_s" -> setupS, "cold_s" -> coldS,
      "p50_ms" -> Stats.kindPct(byKind, 0.5),
      "p90_ms" -> Stats.kindPct(byKind, 0.9),
      "ops_per_s" -> samples.size / elapsed)
    // the writer's model counts warm-up writes too
    val nWrites = (warmup ++ samples).count(_.kind == "write")
    Outcome(warmup.size + samples.size + checked.size + 1 + finalOk.size,
      failed, e2e,
      if (ctx.traced) layers(ctx, samples, gcS) ++ writer.layers(nWrites)
      else Map.empty,
      // one row per kind: a record
      byKind.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) => Map[String, Any]("kind" -> k,
          "n" -> xs.size, "median_ms" -> Stats.median(xs.map(_._2))) })
  }

  private def layers(ctx: Ctx, samples: Seq[Sample], gcS: Double)
      : Map[String, Double] = {
    ctx.drainListeners()
    val tr = ctx.tracer
    val rowsOut = Serve.Catalyst.all.map(_.rowsOut.toDouble).sum
    fill(Map(
      "graphql.parse_ms" -> tr.medianMs("GraphQl.parse",
        "GraphQl.parseRoots", "GraphQl.parseMutationFields"),
      "permissions.secure_ms" -> tr.medianMs("Permissions.secure",
        "Permissions.secureFields"),
      "querybuilder.compile_ms" -> tr.medianMs("QueryBuilder.run",
        "QueryBuilder.runOn"),
      "jvm.gc_s" -> gcS,
      "trace.overhead_pct" -> overheadPct(samples),
      "trace.unattributed_pct" -> tr.unattributedPct) ++
      catalystLayers() ++
      sparkLayers(ctx, samples.filter(_.traced).map(_.group), rowsOut))
  }
}
