package graft.api

import graft.SparkSpec
import graft.api.Permissions._
import graft.api.QueryBuilder._

/** Role-based access: grants AND row filters into every level of a
  * request, column allowlists reject loudly (never silent dropping),
  * and mutation write scopes shrink to the visible rows. */
class PermissionsSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val policy = Policy(Map(
    ("analyst", "customer") -> TablePerm(
      filter = Some(Eq("c_mktsegment", "BUILDING")),
      columns = Some(Set("c_custkey", "c_name", "c_acctbal",
        "c_mktsegment"))),
    ("analyst", "orders") -> TablePerm(
      filter = Some(Eq("o_orderstatus", "O"))),
    ("admin", "customer") -> TablePerm(),
    ("writer", "t") -> TablePerm(
      filter = Some(Eq("seg", "A")),
      columns = Some(Set("k", "seg", "bal")))))

  test("secure ANDs the role filter at root + relationship levels and " +
    "keeps the request's own predicates") {
    val req = Request("customer", Seq("c_custkey"),
      where = Some(Gt("c_acctbal", 0.0)),
      nested = Seq(Nested("orders", "orders", "o_custkey", "c_custkey",
        fields = Seq(NestedField("k", "o_orderkey")))))
    val sec = secure(req, "analyst", policy).fold(m => fail(m), identity)
    assert(sec.where === Some(And(Eq("c_mktsegment", "BUILDING"),
      Gt("c_acctbal", 0.0))))
    assert(sec.nested.head.where === Some(Eq("o_orderstatus", "O")))
    // an unrestricted role passes the request through unchanged
    val admin = secure(Request("customer", Seq("c_comment")), "admin",
      policy).fold(m => fail(m), identity)
    assert(admin === Request("customer", Seq("c_comment")))
  }

  test("SIBLING subs below the root secure independently: every " +
    "sibling gains its grant's filter, one denied sibling denies " +
    "the document (fail-closed)") {
    val base = Nested("orders", "orders", "o_custkey", "c_custkey",
      fields = Seq(NestedField("k", "o_orderkey")))
    // two sibling twins of the same child relationship under one level
    val twins = base.copy(subs = Seq(
      Nested("a1", "customer", "c_custkey", "o_custkey",
        fields = Seq(NestedField("n", "c_custkey")), single = true),
      Nested("a2", "customer", "c_custkey", "o_custkey",
        fields = Seq(NestedField("s", "c_mktsegment")), single = true)))
    val sec = secure(Request("customer", Seq("c_custkey"),
      nested = Seq(twins)), "analyst", policy)
      .fold(m => fail(m), identity)
    val subs = sec.nested.head.subs
    assert(subs.map(_.where) === Seq(
      Some(Eq("c_mktsegment", "BUILDING")),
      Some(Eq("c_mktsegment", "BUILDING"))))
    // a denied column in the SECOND sibling denies the whole document
    val denied = base.copy(subs = Seq(
      Nested("a1", "customer", "c_custkey", "o_custkey",
        fields = Seq(NestedField("n", "c_custkey")), single = true),
      Nested("a2", "customer", "c_custkey", "o_custkey",
        fields = Seq(NestedField("x", "c_comment")), single = true)))
    secure(Request("customer", Seq("c_custkey"),
      nested = Seq(denied)), "analyst", policy) match {
      case Left(m) => assert(m.contains("c_comment"))
      case Right(r) => fail(s"allowed: $r")
    }
    // an ungranted sibling table denies even when its twin passes
    val noGrant = base.copy(subs = Seq(
      Nested("items", "lineitem", "l_orderkey", "o_orderkey",
        fields = Seq(NestedField("q", "l_quantity")))))
    secure(Request("customer", Seq("c_custkey"),
      nested = Seq(noGrant)), "analyst", policy) match {
      case Left(m) => assert(m.contains("no access"))
      case Right(r) => fail(s"allowed: $r")
    }
  }

  test("column allowlists reject loudly at every selection site") {
    def rej(req: Request, frag: String): Unit =
      secure(req, "analyst", policy) match {
        case Left(m) => assert(m.contains(frag), s"got: $m")
        case Right(r) => fail(s"allowed: $r")
      }
    rej(Request("customer", Seq("c_comment")), "c_comment")
    rej(Request("customer", Seq("c_custkey"),
      where = Some(Like("c_phone", "%1%"))), "c_phone")
    rej(Request("customer", Seq("c_custkey"),
      orderBy = Seq(Order("c_nationkey"))), "c_nationkey")
    // no grant at all → no access, before any column logic
    secure(Request("lineitem", Seq("l_orderkey")), "analyst", policy)
      match {
      case Left(m) => assert(m.contains("no access"))
      case Right(r) => fail(s"allowed: $r")
    }
    // __typename reads no column — every allowlist serves it
    secure(Request("customer", Seq("__typename", "c_custkey")),
      "analyst", policy) match {
      case Right(r) => assert(r.fields.contains("__typename"))
      case Left(m) => fail(s"denied the meta-field: $m")
    }
  }

  test("relationship predicates in the request gain the child grant's " +
    "filter (EXISTS only over visible child rows)") {
    val req = Request("customer", Seq("c_custkey"),
      where = Some(RelPred("orders", "o_custkey", "c_custkey",
        Gt("o_totalprice", 1000.0))))
    val sec = secure(req, "analyst", policy).fold(m => fail(m), identity)
    assert(sec.where === Some(And(Eq("c_mktsegment", "BUILDING"),
      RelPred("orders", "o_custkey", "c_custkey",
        And(Eq("o_orderstatus", "O"), Gt("o_totalprice", 1000.0))))))
  }

  test("ordering by an aggregate of a row-filtered table SERVES: the " +
    "grant filter threads into the hidden aggregate (Hasura orders " +
    "by the rows the role can see), end-to-end vs a local replay") {
    val req = Request("customer", Seq("c_custkey"),
      orderBy = Seq(Order("__oa_0", desc = true), Order("c_custkey")),
      orderAggs = Seq(OrderAgg("__oa_0", "orders", "o_custkey",
        "c_custkey", CountOf("o_custkey", "__oa_0_v"))))
    val sec = secure(req, "analyst", policy).fold(m => fail(m), identity)
    assert(sec.orderAggs.head.where === Some(Eq("o_orderstatus", "O")))
    val dir = sf("sf0.001")
    val got = QueryBuilder.run(spark, dir, sec)
      .collect().map(_.getLong(0)).toSeq
    import org.apache.spark.sql.functions.col
    // replay: visible customers ordered by their count of VISIBLE
    // (status O) orders desc, key tiebreak — a raw-child count orders
    // differently (non-vacuity asserted below)
    val visCount = graft.Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "O")
      .groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rawCount = graft.Tables.load(spark, dir, "orders")
      .groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val custs = graft.Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey").collect().map(_.getLong(0)).toSeq
    def ordered(counts: Map[Long, Long]): Seq[Long] =
      custs.sortBy(k => (-counts.getOrElse(k, 0L), k))
    assert(got === ordered(visCount))
    assert(ordered(visCount) !== ordered(rawCount),
      "fixture must make the filter change the order")
    // the secured rewrite has no GraphQL spelling — the printer is
    // loud, never silently dropping the grant filter
    val e = intercept[IllegalArgumentException](
      GraphQl.render(sec))
    assert(e.getMessage.contains("FILTERED ordering aggregate"))
  }

  test("an ordering aggregate grant-checks the CHILD surface like a " +
    "relationship — ungranted aggregated column, join key, where " +
    "column, or an ungranted RelPred table inside the where all " +
    "deny (row ORDER must not become an oracle over denied data)") {
    val tight = Policy(Map(
      ("tight", "customer") -> TablePerm(
        columns = Some(Set("c_custkey"))),
      ("tight", "orders") -> TablePerm(
        columns = Some(Set("o_orderkey")))))
    def req(oa: OrderAgg) = Request("customer", Seq("c_custkey"),
      orderBy = Seq(Order("__oa_0", desc = true), Order("c_custkey")),
      orderAggs = Seq(oa))
    def denied(oa: OrderAgg): String =
      secure(req(oa), "tight", tight)
        .fold(identity, r => fail(s"served: $r"))
    // the JOIN KEY is a child column read (o_custkey not granted)
    assert(denied(OrderAgg("__oa_0", "orders", "o_custkey",
      "c_custkey", CountAll("__oa_0_v"))).contains("o_custkey"))
    // the AGGREGATED column
    assert(denied(OrderAgg("__oa_0", "orders", "o_orderkey",
      "c_custkey", CountOf("o_totalprice", "__oa_0_v")))
      .contains("o_totalprice"))
    // a caller-supplied WHERE column
    assert(denied(OrderAgg("__oa_0", "orders", "o_orderkey",
      "c_custkey", CountAll("__oa_0_v"),
      where = Some(Gt("o_totalprice", 1000.0))))
      .contains("o_totalprice"))
    // a RelPred inside the where grant-checks ITS table — no
    // lineitem grant at all, so it denies fail-closed
    assert(denied(OrderAgg("__oa_0", "orders", "o_orderkey",
      "c_custkey", CountAll("__oa_0_v"),
      where = Some(RelPred("lineitem", "l_orderkey", "o_orderkey",
        Eq("l_linenumber", 1))))).contains("lineitem"))
    // the granted shape still serves (allowlisted key + agg column)
    assert(secure(req(OrderAgg("__oa_0", "orders", "o_orderkey",
      "c_custkey", CountOf("o_orderkey", "__oa_0_v"))),
      "tight", tight).isRight)
  }

  test("secureFields: update/delete scopes shrink to visible rows " +
    "(affected_rows counts only them); inserts are column-checked") {
    val snap = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "A", 30.0))
      .toDF("k", "seg", "bal")
    val doc = Seq(
      Mutations.Field(Mutations.Update("t", Gt("bal", 0.0),
        Seq("bal" -> 0.0))),
      Mutations.Field(Mutations.Delete("t", Eq("k", 2L))))
    val sec = secureFields(doc, "writer", policy)
      .fold(m => fail(m), identity)
    val (next, rs) = Mutations.applyFields(snap, sec, "k")
    // the update touches only seg=A rows; the delete targets k=2
    // (seg B) which the writer cannot see → affected 0, row survives
    assert(rs.map(_.affected) === Seq(2L, 0L))
    assert(next.filter(org.apache.spark.sql.functions.col("k") === 2L)
      .count() === 1L)
    // insert outside the allowlist rejects before anything runs
    secureFields(Seq(Mutations.Field(Mutations.Insert("t",
      Seq(Seq("k" -> 9L, "secret" -> 1L))))), "writer", policy) match {
      case Left(m) => assert(m.contains("secret"))
      case Right(r) => fail(s"allowed: $r")
    }
    // returning outside the allowlist rejects too
    secureFields(Seq(Mutations.Field(Mutations.Delete("t", Eq("k", 1L)),
      Some(Seq("hidden")))), "writer", policy) match {
      case Left(m) => assert(m.contains("hidden"))
      case Right(r) => fail(s"allowed: $r")
    }
  }

  test("secureFields covers the composite verbs: update_many steps " +
    "each gain the filter; an InsertTree child needs ITS table's grant") {
    // update_many: BOTH steps' wheres AND the writer's seg=A filter
    val um = secureFields(Seq(Mutations.Field(Mutations.UpdateMany("t",
      Seq(Mutations.Update("t", Gt("bal", 0.0), Seq("bal" -> 1.0)),
        Mutations.Update("t", Eq("k", 2L), Nil, Seq("bal" -> 5.0)))))),
      "writer", policy).fold(m => fail(m), identity)
    um.head.m match {
      case Mutations.UpdateMany(_, steps) =>
        steps.foreach(u => assert(
          u.where === And(Eq("seg", "A"), u.where match {
            case And(_, orig) => orig
            case other => fail(s"unexpected where: $other")
          }), s"filter not ANDed into $u"))
      case other => fail(s"not an UpdateMany: $other")
    }
    // a column outside the allowlist inside a STEP still rejects
    secureFields(Seq(Mutations.Field(Mutations.UpdateMany("t",
      Seq(Mutations.Update("t", Eq("k", 1L), Seq("secret" -> 1L)))))),
      "writer", policy) match {
      case Left(m) => assert(m.contains("secret"))
      case Right(r) => fail(s"allowed: $r")
    }
    // InsertTree: the writer has no grant on the CHILD table 'u'
    val tree = Mutations.InsertTree(
      Mutations.Insert("t", Seq(Seq("k" -> 9L, "seg" -> "A"))),
      Seq(Mutations.Insert("u", Seq(Seq("id" -> 1L, "fk" -> 9L)))))
    secureFields(Seq(Mutations.Field(tree)), "writer", policy) match {
      case Left(m) => assert(m.contains("u"), m)
      case Right(r) => fail(s"allowed: $r")
    }
    // a parent row violating the check clause rejects the whole tree
    secureFields(Seq(Mutations.Field(Mutations.InsertTree(
      Mutations.Insert("t", Seq(Seq("k" -> 9L, "seg" -> "B"))),
      Seq(Mutations.Insert("t", Seq(Seq("k" -> 10L, "seg" -> "A"))))))),
      "writer", policy) match {
      case Left(m) => assert(m.contains("check clause"), m)
      case Right(r) => fail(s"allowed: $r")
    }
  }

  test("secureAggregate / secureStream: the role filter ANDs in, " +
    "ungranted columns (incl. the cursor) reject") {
    val ar = QueryBuilder.AggRequest("customer",
      where = Some(Gt("c_acctbal", 0.0)),
      aggs = Seq(CountOf("c_custkey", "count"),
        SumOf("c_acctbal", "s")))
    val sec = Permissions.secureAggregate(ar, "analyst", policy)
      .fold(m => fail(m), identity)
    assert(sec.where === Some(And(Eq("c_mktsegment", "BUILDING"),
      Gt("c_acctbal", 0.0))))
    // an aggregate over an ungranted column would leak it as a number
    assert(Permissions.secureAggregate(ar.copy(aggs =
      Seq(SumOf("c_secret", "s"))), "analyst", policy).isLeft)
    assert(Permissions.secureAggregate(ar.copy(nodes = Seq("c_secret")),
      "analyst", policy).isLeft)
    val sr = Subscriptions.StreamRequest("customer", "c_custkey",
      Some(0L), batchSize = 5, fields = Seq("c_custkey", "c_name"))
    val ss = Permissions.secureStream(sr, "analyst", policy)
      .fold(m => fail(m), identity)
    assert(ss.where === Some(Eq("c_mktsegment", "BUILDING")))
    // ungranted cursor column leaks values through page boundaries
    assert(Permissions.secureStream(sr.copy(cursorField = "c_secret"),
      "analyst", policy).isLeft)
    assert(Permissions.secureStream(sr.copy(table = "nope"),
      "analyst", policy).isLeft)
    // a role filter CARRYING a relationship predicate ANDs in like
    // any other: securing only rewrites the request, and the
    // executors with the table directory decorrelate it
    val rel = RelPred("orders", "o_custkey", "c_custkey",
      Gt("o_totalprice", 0.0))
    val relPolicy = Policy(Map(("rp", "customer") -> TablePerm(
      filter = Some(rel))))
    val srm = Permissions.secureStream(sr, "rp", relPolicy)
      .fold(m => fail(m), identity)
    assert(srm.where === Some(rel))
    val arm = Permissions.secureAggregate(ar, "rp", relPolicy)
      .fold(m => fail(m), identity)
    assert(arm.where === Some(And(rel, Gt("c_acctbal", 0.0))))
  }

  test("serveIntrospectionAs: ungranted tables/columns vanish from " +
    "the advertised schema; by_pk and the verbs vanish with an " +
    "ungranted key; row filters do not alter shape") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = """{ __schema {
      |  queryType { fields { name } }
      |  mutationType { fields { name } }
      |  types { name kind fields { name } } } }""".stripMargin
    val resp = Permissions.serveIntrospectionAs(spark, sf("sf0.001"),
      "analyst", Permissions.q140Policy, doc)
      .fold(m => fail(m), identity)
    val schema = mapper.readTree(resp).get("data").get("__schema")
    import scala.jdk.CollectionConverters._
    def names(n: com.fasterxml.jackson.databind.JsonNode): Set[String] =
      n.elements().asScala.map(_.get("name").asText).toSet
    val q = names(schema.get("queryType").get("fields"))
    // granted tables serve (by_pk included — keys are in the
    // allowlist); ungranted tables and their by_pk are gone
    assert(q.contains("customer") && q.contains("customer_by_pk"))
    assert(q.contains("orders") && q.contains("orders_by_pk"))
    assert(!q.exists(_.startsWith("nation")))
    assert(!q.exists(_.startsWith("supplier")))
    val m = names(schema.get("mutationType").get("fields"))
    assert(m.contains("update_customer") && !m.exists(_.contains("part")))
    val types = schema.get("types").elements().asScala
      .map(t => t.get("name").asText -> t).toMap
    assert(!types.contains("nation") && !types.contains("part"))
    val custFields = names(types("customer").get("fields"))
    // exactly the allowlist + the orders relationship and its
    // aggregate twin (both granted); the nation object relationship
    // vanished with its table
    assert(custFields === Set("c_custkey", "c_name", "c_acctbal",
      "c_mktsegment", "orders", "orders_aggregate"))
    // orders keeps its customer object relationship (both granted)
    assert(names(types("orders").get("fields")).contains("customer"))
    // a role whose grant EXCLUDES the key column loses by_pk and the
    // mutation verbs for that table — no equality oracle advertised
    val noKey = Policy(Map(("narrow", "customer") -> TablePerm(
      columns = Some(Set("c_name")))))
    val resp2 = Permissions.serveIntrospectionAs(spark, sf("sf0.001"),
      "narrow", noKey, doc).fold(m0 => fail(m0), identity)
    val s2 = mapper.readTree(resp2).get("data").get("__schema")
    val q2 = names(s2.get("queryType").get("fields"))
    assert(q2.contains("customer") && !q2.contains("customer_by_pk"))
    assert(names(s2.get("mutationType").get("fields")).isEmpty)
  }

  test("serveAggregateAs: a relationship-predicate role filter " +
    "decorrelates to the semi-join answer, the same count " +
    "runAggregate gives the secured request") {
    import org.apache.spark.sql.functions.col
    val pol = Policy(Map(("auditor", "customer") -> TablePerm(
      filter = Some(RelPred("orders", "o_custkey", "c_custkey",
        Eq("o_orderstatus", "O"))))))
    val req = QueryBuilder.AggRequest("customer",
      where = Some(Eq("c_mktsegment", "BUILDING")),
      aggs = Seq(CountOf("c_custkey", "n")))
    val served = Permissions.serveAggregateAs(spark, sf("sf0.001"),
      "auditor", pol, req).fold(m => fail(m), identity)
      .collect().head.getLong(0)
    // ground truth: BUILDING customers with >=1 open order
    val c = graft.Tables.load(spark, sf("sf0.001"), "customer")
    val o = graft.Tables.load(spark, sf("sf0.001"), "orders")
      .filter(col("o_orderstatus") === "O")
    val expect = c.filter(col("c_mktsegment") === "BUILDING")
      .join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
    assert(expect > 0 && served === expect)
    val sec = Permissions.secureAggregate(req, "auditor", pol)
      .fold(m => fail(m), identity)
    assert(QueryBuilder.runAggregate(spark, sf("sf0.001"), sec)
      .collect().head.getLong(0) === served)
    // the TEXT path serves the same request to the same answer
    val viaText = Permissions.serveAggregateTextAs(spark, sf("sf0.001"),
      "auditor", pol,
      """{ customer_aggregate(where: {c_mktsegment: {_eq: "BUILDING"}})
        |  { aggregate { n: count(columns: c_custkey) } } }"""
        .stripMargin).fold(m => fail(m), identity)
      .collect().head.getLong(0)
    assert(viaText === expect)
    // parse errors stay Left through the text wrapper
    assert(Permissions.serveAggregateTextAs(spark, sf("sf0.001"),
      "auditor", pol, "{ nonsense }").isLeft)
  }

  test("serveStreamAs: stream text through parse -> secure -> pages; " +
    "the role filter gates rows, denials are Left values") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ssa")
      .toString
    Seq((1L, "A", "x"), (2L, "B", "x"), (3L, "A", "y"),
      (4L, "A", "z")).toDF("k", "seg", "c_name")
      .write.parquet(s"$dir/t.parquet")
    val pol = Policy(Map(("r1", "t") -> TablePerm(
      filter = Some(Eq("seg", "A")), columns = Some(Set("k", "seg")))))
    val doc =
      """subscription {
        |  t_stream(cursor: {initial_value: {k: 1}}, batch_size: 2) {
        |    k seg
        |  }
        |}""".stripMargin
    val pages = Permissions.serveStreamAs(spark, dir, "r1", pol, doc,
      nPages = 2).fold(m => fail(m), identity)
    // k=2 is seg B — invisible to r1; pages carry 3 and 4 only
    assert(pages.select("k").collect().map(_.getLong(0)).sorted
      === Array(3L, 4L))
    // an ungranted selected column denies the whole subscription
    val denied = Permissions.serveStreamAs(spark, dir, "r1", pol,
      doc.replace("k seg", "k c_name"), nPages = 2)
    assert(denied.isLeft && denied.left.exists(_.contains("c_name")))
    // __typename's allowlist exemption is SCOPED to the read path:
    // the stream executor cannot serve it, so here it denies as a
    // clean Left — never an unresolved-column crash at execution
    val metaDenied = Permissions.serveStreamAs(spark, dir, "r1", pol,
      doc.replace("k seg", "k __typename"), nPages = 2)
    assert(metaDenied.isLeft &&
      metaDenied.left.exists(_.contains("__typename")))
  }

  test("serveStreamLiveAs under a RelPred role filter: the key set " +
    "decorrelates ONCE per serve (pinned) — visibility follows the " +
    "serve-start child state, not mid-stream child changes") {
    import spark.implicits._
    def childDir(rows: Seq[(Long, String)]): String = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_srla").toString
      rows.toDF("c_custkey", "c_mktsegment").write.mode("overwrite")
        .parquet(s"$d/customer.parquet")
      d
    }
    val dir = childDir(Seq((1L, "BUILDING"), (2L, "OTHER")))
    val pol = Policy(Map(
      ("aud", "t") -> TablePerm(
        filter = Some(RelPred("customer", "c_custkey", "user_id",
          Eq("c_mktsegment", "BUILDING")))),
      ("aud", "customer") -> TablePerm()))
    val doc =
      """subscription {
        |  t_stream(cursor: {initial_value: {ev: null}}, batch_size: 2) {
        |    ev user_id
        |  }
        |}""".stripMargin
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    @volatile var evs = Vector.empty[Long]
    val q = Permissions.serveStreamLiveAs(spark, dir,
      input.toDF().toDF("ev", "user_id"), "aud", pol, doc) { (_, df) =>
      evs ++= df.select("ev").collect().map(_.getLong(0)).toVector
    }.fold(m => fail(m), identity)
    try {
      // user 1 is BUILDING (visible), user 2 is not
      input.addData(Seq((1L, 1L), (2L, 2L), (3L, 1L)))
      q.processAllAvailable()
      assert(evs.sorted === Vector(1L, 3L))
      // the child table's files are REPLACED mid-serve (an in-place
      // rewrite deletes the listed parquet parts): the PINNED key set
      // must neither crash (an unpinned static side would
      // FILE_NOT_EXIST here) nor change visibility — the documented
      // per-serve staleness contract; re-subscribe to refresh
      Seq((1L, "OTHER"), (2L, "BUILDING"))
        .toDF("c_custkey", "c_mktsegment").write.mode("overwrite")
        .parquet(s"$dir/customer.parquet")
      input.addData(Seq((4L, 1L), (5L, 2L)))
      q.processAllAvailable()
      assert(evs.sorted === Vector(1L, 3L, 4L),
        "mid-serve child change leaked into stream visibility")
    } finally q.stop()
    // a FRESH serve against the CURRENT child state (its own dir —
    // fixture dirs are immutable by Tables.load's memoization
    // contract) rebuilds the key set: user 2 visible now, user 1 not
    val dir2 = childDir(Seq((1L, "OTHER"), (2L, "BUILDING")))
    val input2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    @volatile var evs2 = Vector.empty[Long]
    val q2 = Permissions.serveStreamLiveAs(spark, dir2,
      input2.toDF().toDF("ev", "user_id"), "aud", pol, doc) { (_, df) =>
      evs2 ++= df.select("ev").collect().map(_.getLong(0)).toVector
    }.fold(m => fail(m), identity)
    try {
      input2.addData(Seq((6L, 1L), (7L, 2L)))
      q2.processAllAvailable()
      assert(evs2 === Vector(7L))
    } finally q2.stop()
  }

  test("serveMutationsAs: mutation text through parse -> secure -> " +
    "apply; the row filter shrinks write scopes (by_pk too), denials " +
    "leave every store untouched") {
    import spark.implicits._
    val tSchema = GraphQl.Schema(Map.empty, keys = Map("t" -> Seq("k")))
    def freshStore(): String = {
      val p = java.nio.file.Files
        .createTempDirectory("graft_smas_store").toString
      graft.sources.SnapshotStore.write(Seq(
        (1L, "A", 10.0), (2L, "B", 20.0), (3L, "A", 30.0),
        (4L, "B", 40.0)).toDF("k", "seg", "bal"), p)
      p
    }
    val p1 = freshStore()
    val reg1 = Map("t" -> ((p1, Seq("k"))))
    // the plain update writes only the role-visible rows: the request
    // matches k∈{1,2,3,4} by bal>0 but seg=B rows are invisible
    val doc =
      """mutation {
        |  update_t(where: {bal: {_gt: 0.0}}, _inc: {bal: 1.0}) {
        |    affected_rows returning { k bal }
        |  }
        |  update_t_by_pk(pk_columns: {k: 2}, _set: {bal: 99.0}) {
        |    k bal
        |  }
        |}""".stripMargin
    val rs = Permissions.serveMutationsAs(spark, "writer", policy, doc,
      reg1, tSchema).fold(m => fail(m), identity)
    assert(rs.map(_.affected) === Seq(2L, 0L)) // seg-A rows; k=2 is B
    assert(rs.head.returning.get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 11.0), (3L, 31.0)))
    val after = graft.sources.SnapshotStore.read(spark, p1)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(2)))
    // by_pk on the INVISIBLE k=2 wrote nothing (Hasura's null answer)
    assert(after.toSeq ===
      Seq((1L, 11.0), (2L, 20.0), (3L, 31.0), (4L, 40.0)))
    // a denial ANYWHERE in the document applies NOTHING: field 1 is
    // grantable, field 2 names an ungranted column — the store stays
    // byte-identical (secureFields validates before the first swap)
    val p2 = freshStore()
    val denied = Permissions.serveMutationsAs(spark, "writer", policy,
      """mutation {
        |  update_t(where: {bal: {_gt: 0.0}}, _inc: {bal: 1.0}) {
        |    affected_rows }
        |  leak: update_t(where: {k: {_eq: 1}}, _set: {secret: "x"}) {
        |    affected_rows }
        |}""".stripMargin, Map("t" -> ((p2, Seq("k")))), tSchema)
    assert(denied.isLeft && denied.left.exists(_.contains("secret")))
    assert(graft.sources.SnapshotStore.read(spark, p2)
      .agg(org.apache.spark.sql.functions.sum("bal")).head.getDouble(0)
      === 100.0)
    // the insert check clause gates the text path too
    val badInsert = Permissions.serveMutationsAs(spark, "writer",
      policy,
      """mutation { insert_t(objects: [{k: 9, seg: "B"}]) {
        |  affected_rows } }""".stripMargin,
      Map("t" -> ((p2, Seq("k")))), tSchema)
    assert(badInsert.isLeft &&
      badInsert.left.exists(_.contains("check clause")))
  }

  test("insert check clause: inserted rows must satisfy the row " +
    "filter; upserts on row-filtered tables reject") {
    // a check-passing insert goes through
    assert(secureFields(Seq(Mutations.Field(Mutations.Insert("t",
      Seq(Seq("k" -> 9L, "seg" -> "A"))))), "writer", policy).isRight)
    // creating a row the role could never see is Hasura's check
    // violation
    secureFields(Seq(Mutations.Field(Mutations.Insert("t",
      Seq(Seq("k" -> 9L, "seg" -> "B"))))), "writer", policy) match {
      case Left(m) => assert(m.contains("check clause"), m)
      case Right(r) => fail(s"allowed: $r")
    }
    // absent filter column = unknown = fails the check
    secureFields(Seq(Mutations.Field(Mutations.Insert("t",
      Seq(Seq("k" -> 9L))))), "writer", policy) match {
      case Left(m) => assert(m.contains("check clause"), m)
      case Right(r) => fail(s"allowed: $r")
    }
    // an upsert could overwrite an INVISIBLE stored row — rejected on
    // row-filtered tables (both spellings)
    for (ins <- Seq(
        Mutations.Insert("t", Seq(Seq("k" -> 1L, "seg" -> "A")),
          upsert = true),
        Mutations.Insert("t", Seq(Seq("k" -> 1L, "seg" -> "A")),
          updateColumns = Some(Seq("bal")))))
      secureFields(Seq(Mutations.Field(ins)), "writer", policy) match {
        case Left(m) => assert(m.contains("upsert/on_conflict"), m)
        case Right(r) => fail(s"allowed: $r")
      }
  }

  test("evalLiteral compares integrals exactly above 2^53: a 64-bit " +
    "id one off a filter literal must not pass through a lossy Double") {
    import graft.api.Permissions.evalLiteral
    val big = 9007199254740993L // 2^53 + 1; == 2^53 after a Double trip
    assert(evalLiteral(Eq("tenant_id", big - 1L),
      Map[String, Any]("tenant_id" -> big)) === Right(false))
    assert(evalLiteral(Gt("tenant_id", big - 1L),
      Map[String, Any]("tenant_id" -> big)) === Right(true))
    assert(evalLiteral(Eq("tenant_id", big),
      Map[String, Any]("tenant_id" -> big)) === Right(true))
    // BigDecimal row values compare via compareTo, not doubleValue
    assert(evalLiteral(Eq("v", big),
      Map[String, Any]("v" -> new java.math.BigDecimal(big - 1L)))
      === Right(false))
    // genuine integral/floating mixes still compare numerically
    assert(evalLiteral(Eq("v", 2.0),
      Map[String, Any]("v" -> 2L)) === Right(true))
    assert(evalLiteral(Lt("v", 2.5),
      Map[String, Any]("v" -> 2L)) === Right(true))
    // NaN keeps IEEE compare semantics (Double path): never equal
    assert(evalLiteral(Eq("v", Double.NaN),
      Map[String, Any]("v" -> 1L)) === Right(false))
  }

  test("parent-side join keys are grant-checked: an _exists predicate " +
    "cannot probe a denied column through parent_key") {
    // c_nationkey is outside the analyst's customer allowlist; the
    // wire codec lets callers pick parent_key freely, so secure must
    // refuse the equality oracle
    secure(Request("customer", Seq("c_custkey"),
      where = Some(RelPred("orders", "o_custkey", "c_nationkey",
        Eq("o_orderkey", 42L)))), "analyst", policy) match {
      case Left(m) => assert(m.contains("c_nationkey"), m)
      case Right(r) => fail(s"allowed: $r")
    }
    // same for a relationship selection's parent key
    secure(Request("customer", Seq("c_custkey"),
      nested = Seq(Nested("orders", "orders", "o_custkey",
        "c_nationkey",
        fields = Seq(NestedField("k", "o_orderkey"))))),
      "analyst", policy) match {
      case Left(m) => assert(m.contains("c_nationkey"), m)
      case Right(r) => fail(s"allowed: $r")
    }
  }

  test("serveAs: GraphQL text through parse -> secure -> run; denials " +
    "and parse errors are Left values") {
    val dir = sf("sf0.001")
    val ok = Permissions.serveAs(spark, dir, "analyst", policy,
      "{ customer(order_by: {c_custkey: asc}, limit: 5) { c_custkey } }")
      .fold(m => fail(m), identity).collect()
    // only BUILDING customers can appear
    val building = graft.Tables.load(spark, dir, "customer")
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") ===
        "BUILDING")
      .orderBy("c_custkey").limit(5)
      .collect().map(_.getAs[Long]("c_custkey")).toSeq
    assert(ok.map(_.getLong(0)).toSeq === building)
    // out-of-grant column: permission denial as a value
    Permissions.serveAs(spark, dir, "analyst", policy,
      "{ customer { c_phone } }") match {
      case Left(m) => assert(m.contains("c_phone"))
      case Right(df) => fail(s"allowed: ${df.columns.toSeq}")
    }
    // parse error: same channel
    Permissions.serveAs(spark, dir, "analyst", policy,
      "{ customer { ") match {
      case Left(m) => assert(m.nonEmpty)
      case Right(df) => fail("parsed garbage")
    }
  }

  test("serveRootsAs: every root secures independently, ONE denied " +
    "root denies the whole batched document (all-or-nothing)") {
    val dir = sf("sf0.001")
    // both roots granted: each root carries its OWN role filter
    val served = Permissions.serveRootsAs(spark, dir, "analyst", policy,
      """{ c: customer(order_by: {c_custkey: asc}, limit: 5)
        |    { c_custkey }
        |  o: orders(order_by: {o_orderkey: asc}, limit: 5)
        |    { o_orderkey o_orderstatus } }""".stripMargin)
      .fold(m => fail(m), identity)
    assert(served.map(_._1) === Seq("c", "o"))
    val building = graft.Tables.load(spark, dir, "customer")
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") ===
        "BUILDING")
      .orderBy("c_custkey").limit(5)
      .collect().map(_.getAs[Long]("c_custkey")).toSeq
    assert(served(0)._2.collect().map(_.getLong(0)).toSeq === building)
    // the orders root got the analyst's O-status row filter
    assert(served(1)._2.collect().forall(_.getString(1) == "O"))
    // an AGGREGATE root secures through secureAggregate: the role's
    // row filter bounds the count
    val withAgg = Permissions.serveRootsAs(spark, dir, "analyst",
      policy, "{ n: orders_aggregate { aggregate { count } } }")
      .fold(m => fail(m), identity)
    val openOrders = graft.Tables.load(spark, dir, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") ===
        "O").count()
    assert(withAgg.head._2.collect().head.getLong(0) === openOrders)
    // one ungranted root (part) denies the WHOLE document — the
    // granted customer root must not leak through a partial answer
    Permissions.serveRootsAs(spark, dir, "analyst", policy,
      "{ customer(limit: 1) { c_custkey } part(limit: 1) { p_partkey } }"
    ) match {
      case Left(m) => assert(m.contains("part"))
      case Right(r) => fail(s"partial answer served: ${r.map(_._1)}")
    }
  }

  test("serveRootsAs routes by_pk and `_stream` roots (r18): the " +
    "role filter ANDs into the point lookup and the cursor scan; an " +
    "out-of-grant key answers zero rows, an ungranted stream denies") {
    val dir = sf("sf0.001")
    val cust = graft.Tables.load(spark, dir, "customer")
    import org.apache.spark.sql.functions.col
    val inKey = cust.filter(col("c_mktsegment") === "BUILDING")
      .orderBy("c_custkey").limit(1)
      .collect().head.getAs[Long]("c_custkey")
    val outKey = cust.filter(col("c_mktsegment") =!= "BUILDING")
      .orderBy("c_custkey").limit(1)
      .collect().head.getAs[Long]("c_custkey")
    // in-grant key: the point lookup answers the row under the role's
    // column grant; out-of-grant key: ZERO rows (never a leak, never
    // an error — Hasura answers null there)
    val served = Permissions.serveRootsAs(spark, dir, "analyst", policy,
      s"""{ yes: customer_by_pk(c_custkey: $inKey) { c_custkey }
         |  no: customer_by_pk(c_custkey: $outKey) { c_custkey } }"""
        .stripMargin).fold(m => fail(m), identity)
    assert(served.map(_._1) === Seq("yes", "no"))
    assert(served(0)._2.collect().map(_.getLong(0)).toSeq === Seq(inKey))
    assert(served(1)._2.count() === 0L)
    // a `_stream` root batched with a read: the events grant's row
    // filter ANDs into the cursor scan (only clicks deliver)
    val tailPolicy = Policy(Map(
      ("tail", "events") -> TablePerm(
        filter = Some(Eq("event_type", "click"))),
      ("tail", "customer") -> TablePerm()))
    val mixed = Permissions.serveRootsAs(spark, dir, "tail", tailPolicy,
      """subscription {
        |  ev: events_stream(cursor: {initial_value: {event_id: null}},
        |                    batch_size: 5) { event_id event_type }
        |  c: customer(order_by: {c_custkey: asc}, limit: 2)
        |    { c_custkey }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(mixed.map(_._1) === Seq("ev", "c"))
    val pages = mixed(0)._2.collect()
    assert(pages.nonEmpty &&
      pages.forall(_.getAs[String]("event_type") == "click"))
    assert(mixed(1)._2.count() === 2L)
    // an UNGRANTED stream root denies the whole document — the
    // granted read must not leak through a partial answer
    Permissions.serveRootsAs(spark, dir, "analyst", policy,
      """subscription {
        |  ev: events_stream(cursor: {initial_value: {event_id: null}},
        |                    batch_size: 5) { event_id }
        |  c: customer(limit: 1) { c_custkey }
        |}""".stripMargin) match {
      case Left(m) => assert(m.contains("events"), m)
      case Right(r) => fail(s"partial answer served: ${r.map(_._1)}")
    }
  }

  test("serveRootsAs serves relationship-predicate grants on every " +
    "root kind: batched aggregate, stream and read roots answer the " +
    "one-root serves' rows and the semi-join ground truth") {
    import org.apache.spark.sql.functions.col
    val dir = sf("sf0.001")
    val pol = Policy(Map(
      ("auditor", "customer") -> TablePerm(
        filter = Some(RelPred("orders", "o_custkey", "c_custkey",
          And(Eq("o_orderstatus", "O"),
            Eq("o_orderpriority", "1-URGENT"))))),
      ("auditor", "events") -> TablePerm(
        filter = Some(RelPred("customer", "c_custkey", "user_id",
          Eq("c_mktsegment", "BUILDING")))),
      ("auditor", "orders") -> TablePerm()))
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    def roots(doc: String) = Permissions.serveRootsAs(spark, dir,
      "auditor", pol, doc).fold(m => fail(m), identity)
      .map { case (k, df) => k -> rowsOf(df) }.toMap
    // ground truth: the grants as plain semi-joins
    val cust = graft.Tables.load(spark, dir, "customer")
    val urgent = graft.Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "O" &&
        col("o_orderpriority") === "1-URGENT")
    val custRows = cust
      .join(urgent, cust("c_custkey") === urgent("o_custkey"),
        "left_semi")
      .filter(col("c_acctbal") > 0.0)
    val building = cust.filter(col("c_mktsegment") === "BUILDING")
    val events = graft.Tables.load(spark, dir, "events")
    val eventRows = events
      .join(building, events("user_id") === building("c_custkey"),
        "left_semi")
      .filter(col("event_id").isNotNull)
      .orderBy("event_id").limit(15)
      .select("event_id", "user_id").collect().toSeq.zipWithIndex
      .map { case (r, i) => Seq(i / 5L, r.get(0), r.get(1)) }
    val readTruth = rowsOf(custRows.orderBy("c_custkey").limit(10)
      .select("c_custkey", "c_name"))
    val countTruth = custRows.count()
    assert(countTruth > 0 && countTruth < cust.count())
    assert(eventRows.size == 15)
    val agg = "customer_aggregate(where: {c_acctbal: {_gt: 0.0}}) " +
      "{ aggregate { n: count(columns: c_custkey) } }"
    val read = "customer(where: {c_acctbal: {_gt: 0.0}}, " +
      "order_by: {c_custkey: asc}, limit: 10) { c_custkey c_name }"
    val stream = "events_stream(cursor: {initial_value: " +
      "{event_id: null}}, batch_size: 5) { event_id user_id }"
    val oneAgg = rowsOf(Permissions.serveAggregateAs(spark, dir,
      "auditor", pol, GraphQl.parseRootAggregate(s"{ $agg }")
        .fold(m => fail(m), identity)).fold(m => fail(m), identity))
    val oneRead = rowsOf(Permissions.serveAs(spark, dir, "auditor", pol,
      s"{ $read }").fold(m => fail(m), identity))
    val oneStream = rowsOf(Permissions.serveStreamAs(spark, dir,
      "auditor", pol, s"subscription { $stream }", nPages = 3)
      .fold(m => fail(m), identity))
    assert(oneAgg === Seq(Seq(countTruth)))
    assert(oneRead === readTruth)
    assert(oneStream === eventRows)
    // a query document batching the aggregate with the read
    val q = roots(s"{ a: $agg\n r: $read }")
    assert(q("a") === oneAgg)
    assert(q("r") === oneRead)
    // a subscription document batching the stream with the read
    val sub = roots(s"subscription { e: $stream\n r: $read }")
    assert(sub("e") === oneStream)
    assert(sub("r") === oneRead)
  }

  test("relationship predicates in mutation wheres secure like a " +
    "read's (r18): the child table needs its own grant") {
    val m = Mutations.Update("t",
      RelPred("u", "fk", "k", Eq("amt", 1.0)), Seq("seg" -> "X"))
    // writer is granted on 't' only — the EXISTS child 'u' denies
    Permissions.secureFields(Seq(Mutations.Field(m)), "writer",
      policy) match {
      case Left(msg) => assert(msg.contains("u"), msg)
      case Right(r) => fail(s"ungranted EXISTS child allowed: $r")
    }
  }

  test("insert-tree grants recurse (r18): a depth-2 subtree and an " +
    "object-relationship node each pay their own (role, table) check") {
    // writer is granted on 't' only — the grandchild targeting 'u'
    // must deny even though it sits two levels down
    val deep = Mutations.InsertTree(
      Mutations.Insert("t", Seq(Seq("k" -> 1L, "seg" -> "A"))),
      children = Seq(Mutations.InsertTree(
        Mutations.Insert("t", Seq(Seq("k" -> 2L, "seg" -> "A"))),
        children = Seq(Mutations.Insert("u", Seq(Seq("id" -> 1L)))))))
    Permissions.secureFields(Seq(Mutations.Field(deep)), "writer",
      policy) match {
      case Left(m) => assert(m.contains("u"), m)
      case Right(r) => fail(s"ungranted grandchild allowed: $r")
    }
    // an object-relationship (before) node denies the same way
    val withBefore = Mutations.InsertTree(
      Mutations.Insert("t", Seq(Seq("k" -> 1L, "seg" -> "A"))),
      before = Seq(Mutations.Insert("u", Seq(Seq("id" -> 1L)))))
    Permissions.secureFields(Seq(Mutations.Field(withBefore)), "writer",
      policy) match {
      case Left(m) => assert(m.contains("u"), m)
      case Right(r) => fail(s"ungranted before-node allowed: $r")
    }
    // an all-granted tree secures whole (columns checked per level)
    val ok = Mutations.InsertTree(
      Mutations.Insert("t", Seq(Seq("k" -> 1L, "seg" -> "A"))),
      children = Seq(Mutations.Insert("t",
        Seq(Seq("k" -> 2L, "seg" -> "A", "bal" -> 1.0)))))
    assert(Permissions.secureFields(Seq(Mutations.Field(ok)), "writer",
      policy).isRight)
  }

  test("returning relationships secure like a read's: an ungranted " +
    "child table in the mutation response is denied fail-closed") {
    val fs = GraphQl.parseMutationFields("""
      mutation { update_customer(where: {c_custkey: {_eq: 1}},
          _set: {c_mktsegment: "BUILDING"}) {
        returning { c_custkey nation { n_name } } } }""")
      .fold(m => fail(m), identity)
    // analyst has customer+orders grants but NOT nation
    Permissions.secureFields(fs, "analyst", policy) match {
      case Left(m) => assert(m.contains("nation"))
      case Right(r) => fail(s"ungranted returning rel served: $r")
    }
    // the granted relationship secures and gains the role's child
    // row filter (orders: o_orderstatus = O)
    val ok = GraphQl.parseMutationFields("""
      mutation { update_customer(where: {c_custkey: {_eq: 1}},
          _set: {c_mktsegment: "BUILDING"}) {
        returning { c_custkey orders { o_orderkey } } } }""")
      .fold(m => fail(m), identity)
    val sec = Permissions.secureFields(ok, "analyst", policy)
      .fold(m => fail(m), identity)
    assert(sec.head.retNested.head.where.isDefined)
    // the store-registry serve path REFUSES relationship returning
    // (its FieldResults carry full rows — serving them would leak
    // ungranted columns); the refusal names the correct recipe
    val dir = sf("sf0.001")
    val path = scratch("permrel_spec")
    graft.sources.SnapshotStore.write(
      graft.Tables.load(spark, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal", "c_name"),
      path)
    Permissions.serveMutationsAs(spark, "analyst", policy,
      """mutation { update_customer(where: {c_custkey: {_eq: 1}},
        |    _set: {c_mktsegment: "BUILDING"}) {
        |  returning { c_custkey orders { o_orderkey } } } }"""
        .stripMargin,
      Map("customer" -> ((path, Seq("c_custkey"))))) match {
      case Left(m) => assert(m.contains("renderReturning"))
      case Right(r) => fail(s"full-row frames served to a role: $r")
    }
  }

  test("a secured request drives a live-query subscription: the role " +
    "filter holds at every trigger") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double, Long)]
    val req = secure(Request("t", Seq("k", "seg", "bal"),
      orderBy = Seq(Order("bal", desc = true), Order("k")),
      limit = Some(2)), "writer", policy).fold(m => fail(m), identity)
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.liveQuery(
      input.toDF().toDF("k", "seg", "bal", "seq"), req,
      keyCol = "k", seqCol = Some("seq")) { (_, df) =>
      pushed :+= df.collect().toSeq.map(_.toSeq)
    }
    try {
      input.addData(Seq((1L, "A", 10.0, 1L), (2L, "B", 99.0, 1L)))
      q.processAllAvailable()
      // the seg=B row is invisible to the writer despite topping bal
      assert(pushed.last === Seq(Seq(1L, "A", 10.0)))
      input.addData(Seq((3L, "A", 50.0, 2L), (4L, "A", 5.0, 2L)))
      q.processAllAvailable()
      assert(pushed.last === Seq(Seq(3L, "A", 50.0), Seq(1L, "A", 10.0)))
    } finally q.stop()
  }

  test("q140 role-scoped read equals the request with both grants " +
    "inlined by hand") {
    val dir = sf("sf0.001")
    val got = Permissions.q140RoleScopedRead(spark, dir).collect()
      .map(_.toSeq).toSeq
    val want = QueryBuilder.run(spark, dir, Request(
      table = "customer",
      fields = Seq("c_custkey", "c_name"),
      where = Some(And(Eq("c_mktsegment", "BUILDING"),
        Gt("c_acctbal", 0.0))),
      orderBy = Seq(Order("c_custkey")),
      limit = Some(200),
      aggRels = Seq(AggRel("orders", "o_custkey", "c_custkey",
        Seq(CountOf("o_orderkey", "n_open")),
        where = Some(Eq("o_orderstatus", "O"))))))
      .collect().map(_.toSeq).toSeq
    assert(got === want && got.nonEmpty)
  }

  test("aliases are grant-checked by SOURCE column: a denied column " +
    "cannot leave under a permitted response key, on reads or streams") {
    // c_comment is outside the analyst's customer allowlist
    secure(Request("customer", Seq("note"),
      fieldAs = Map("note" -> "c_comment")), "analyst", policy) match {
      case Left(m) => assert(m.contains("c_comment"), m)
      case Right(r) => fail(s"allowed: $r")
    }
    // a permitted source under an alias passes, and the role filter
    // still ANDs in
    val sec = secure(Request("customer", Seq("id"),
      fieldAs = Map("id" -> "c_custkey")), "analyst", policy)
      .fold(m => fail(m), identity)
    assert(sec.fieldAs === Map("id" -> "c_custkey"))
    assert(sec.where === Some(Eq("c_mktsegment", "BUILDING")))
    // stream twin: the aliased cursor page must not smuggle either
    secureStream(Subscriptions.StreamRequest("customer", "c_custkey",
      None, batchSize = 5, fields = Seq("note"),
      fieldAs = Map("note" -> "c_comment")), "analyst", policy) match {
      case Left(m) => assert(m.contains("c_comment"), m)
      case Right(r) => fail(s"allowed: $r")
    }
    // mutation twin: returning aliases grant-check their sources
    secureFields(Seq(Mutations.Field(
      Mutations.Update("customer", Eq("c_custkey", 1L),
        set = Seq("c_mktsegment" -> "X")),
      returning = Some(Seq("note")),
      returningAs = Map("note" -> "c_comment"))),
      "analyst", policy) match {
      case Left(m) => assert(m.contains("c_comment"), m)
      case Right(r) => fail(s"allowed: $r")
    }
  }
}
