package graft.api

import graft.SparkSpec
import graft.api.QueryBuilder._
import graft.operators.MarketplaceModel._
import graft.sources.SnapshotStore
import graft.streaming.MarketplaceStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Subscriptions = the batch request, continuously: after EVERY
  * trigger the served result must equal [[QueryBuilder.runRoot]] over
  * the batch latest-state of all data seen so far (the CorpusStreams
  * batch-equivalence pattern applied to the front end). */
class SubscriptionsSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx = spark.sqlContext

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("append-shape subscription: each trigger emits exactly the new " +
    "matching rows; the accumulated set equals the batch query") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val req = Request("t", fields = Seq("k", "seg"),
      where = Some(Gte("bal", 20.0)))
    assert(Subscriptions.isAppendShape(req))
    val q = Subscriptions.appendStream(
        input.toDF().toDF("k", "seg", "bal"), req)
      .writeStream.outputMode("append")
      .format("memory").queryName("sub_append").start()
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
    try {
      Seq(
        Seq((1L, "A", 10.0), (2L, "B", 25.0)),
        Seq((3L, "C", 30.0), (4L, "A", 5.0)),
        Seq((5L, "B", 20.0))).foreach { batch =>
        input.addData(batch); q.processAllAvailable()
        seen ++= batch
        // batch equivalence at THIS trigger
        assert(rows(spark.table("sub_append").orderBy("k")) ===
          rows(QueryBuilder.runRoot(seen.toSeq.toDF("k", "seg", "bal"),
            req.copy(orderBy = Seq(Order("k"))))))
      }
    } finally q.stop()
    // an order_by/limit shape must refuse the append route loudly
    val ranked = req.copy(orderBy = Seq(Order("bal", desc = true)),
      limit = Some(1))
    assert(!Subscriptions.isAppendShape(ranked))
    val e = intercept[IllegalArgumentException](
      Subscriptions.appendStream(input.toDF().toDF("k", "seg", "bal"),
        ranked))
    assert(e.getMessage.contains("live-query"))
  }

  test("live-query subscription: upserts re-rank the COMPLETE result " +
    "per trigger, equal to the batch request over latest state") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double, Long)]
    // a top-3 leaderboard — the shape an append stream can never
    // serve: new data displaces OLD rows from the answer
    val req = Request("t", fields = Seq("k", "seg", "bal"),
      orderBy = Seq(Order("bal", desc = true), Order("k")),
      limit = Some(3))
    var pushed = Vector.empty[(Long, Seq[Seq[Any]])]
    val q = Subscriptions.liveQuery(
      input.toDF().toDF("k", "seg", "bal", "seq"), req,
      keyCol = "k", seqCol = Some("seq")) { (bid, df) =>
      pushed :+= ((bid, rows(df)))
    }
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double, Long)]
    def batchReference: Seq[Seq[Any]] = {
      val all = seen.toSeq.toDF("k", "seg", "bal", "seq")
      rows(QueryBuilder.runRoot(
        SnapshotStore.merge(all.limit(0), all, "k", "seq")
          .drop("deleted", "seq"), req))
    }
    try {
      // trigger 1: initial leaderboard k=1,2,3
      input.addData(Seq((1L, "A", 50.0, 1L), (2L, "B", 40.0, 2L),
        (3L, "C", 30.0, 3L), (4L, "D", 10.0, 4L)))
      q.processAllAvailable()
      seen ++= Seq((1L, "A", 50.0, 1L), (2L, "B", 40.0, 2L),
        (3L, "C", 30.0, 3L), (4L, "D", 10.0, 4L))
      assert(pushed.last._2 === batchReference)
      assert(pushed.last._2.map(_.head) === Seq(1L, 2L, 3L))
      // trigger 2: the leader is re-priced DOWN (upsert of k=1) and a
      // dark horse overtakes (upsert of k=4) — both displace rows the
      // append mode would have frozen
      input.addData(Seq((1L, "A", 5.0, 5L), (4L, "D", 60.0, 6L)))
      q.processAllAvailable()
      seen ++= Seq((1L, "A", 5.0, 5L), (4L, "D", 60.0, 6L))
      assert(pushed.last._2 === batchReference)
      assert(pushed.last._2.map(_.head) === Seq(4L, 2L, 3L))
      // a LATE event (lower seq than the stored state) must lose
      input.addData(Seq((4L, "D", 1.0, 0L)))
      q.processAllAvailable()
      seen += ((4L, "D", 1.0, 0L))
      assert(pushed.last._2 === batchReference)
      assert(pushed.last._2.map(_.head) === Seq(4L, 2L, 3L))
    } finally q.stop()
    assert(pushed.map(_._1) === Vector(0L, 1L, 2L))
  }

  test("COMPOSITE-key live query: the state folds on the FULL tuple " +
    "— two lines of one order never collapse, an upsert addresses " +
    "ONE tuple, and every trigger equals the batch request over the " +
    "composite-merged latest state") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Double, Long)]
    val req = Request("t", fields = Seq("ok", "ln", "qty"),
      orderBy = Seq(Order("qty", desc = true), Order("ok"),
        Order("ln")), limit = Some(4))
    var pushed = Vector.empty[(Long, Seq[Seq[Any]])]
    val q = Subscriptions.liveQuery(
      input.toDF().toDF("ok", "ln", "qty", "seq"), req,
      keyCols = Seq("ok", "ln"), seqCol = Some("seq")) { (bid, df) =>
      pushed :+= ((bid, rows(df)))
    }
    val seen = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Int, Double, Long)]
    def batchReference: Seq[Seq[Any]] = {
      val all = seen.toSeq.toDF("ok", "ln", "qty", "seq")
      rows(QueryBuilder.runRoot(
        SnapshotStore.merge(all.limit(0), all, Seq("ok", "ln"), "seq")
          .drop("deleted", "seq"), req))
    }
    try {
      // trigger 1: order 1 has TWO lines — a leading-key fold keeps
      // only one of them and fails the parity check immediately
      input.addData(Seq((1L, 1, 50.0, 1L), (1L, 2, 40.0, 2L),
        (2L, 1, 30.0, 3L)))
      q.processAllAvailable()
      seen ++= Seq((1L, 1, 50.0, 1L), (1L, 2, 40.0, 2L),
        (2L, 1, 30.0, 3L))
      assert(pushed.last._2 === batchReference)
      assert(pushed.last._2.map(r => (r.head, r(1))) ===
        Seq((1L, 1), (1L, 2), (2L, 1)))
      // trigger 2: upsert of tuple (1, 2) re-prices ONE line; its
      // sibling (1, 1) must keep its stored values, and the re-rank
      // moves the updated line to the top
      input.addData(Seq((1L, 2, 60.0, 4L), (2L, 2, 5.0, 5L)))
      q.processAllAvailable()
      seen ++= Seq((1L, 2, 60.0, 4L), (2L, 2, 5.0, 5L))
      assert(pushed.last._2 === batchReference)
      assert(pushed.last._2.map(r => (r.head, r(1), r(2))) ===
        Seq((1L, 2, 60.0), (1L, 1, 50.0), (2L, 1, 30.0), (2L, 2, 5.0)))
    } finally q.stop()
  }

  test("DURABLE subscription = persisted snapshot + fresh liveQuery " +
    "(the documented composition): after a restart, re-seeding the " +
    "fresh fold from the SnapshotStore serves exactly what an " +
    "unbroken subscription would have") {
    val dir = scratch("sub_durable")
    val req = Request("t", fields = Seq("k", "bal"),
      orderBy = Seq(Order("bal", desc = true), Order("k")),
      limit = Some(3))
    // ---- run 1: a live subscription whose upstream ALSO persists
    // the latest-wins snapshot (the durable half)
    val in1 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, Long)]
    var last1: Seq[Seq[Any]] = Nil
    val q1 = Subscriptions.liveQuery(
      in1.toDF().toDF("k", "bal", "seq"), req,
      keyCol = "k", seqCol = Some("seq")) { (_, df) =>
      last1 = rows(df)
    }
    val batch1 = Seq((1L, 50.0, 1L), (2L, 40.0, 2L), (3L, 30.0, 3L))
    try { in1.addData(batch1); q1.processAllAvailable() }
    finally q1.stop()
    SnapshotStore.write(
      SnapshotStore.merge(batch1.toDF("k", "bal", "seq").limit(0),
        batch1.toDF("k", "bal", "seq"), "k", "seq"), dir)
    // ---- the connection dies; a FRESH liveQuery (empty state var)
    // resumes by re-delivering the persisted snapshot as its first
    // trigger — seqCols carried, so the merge semantics are exact
    val stored = SnapshotStore.read(spark, dir)
      .select("k", "bal", "seq").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val in2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, Long)]
    var last2: Seq[Seq[Any]] = Nil
    val q2 = Subscriptions.liveQuery(
      in2.toDF().toDF("k", "bal", "seq"), req,
      keyCol = "k", seqCol = Some("seq")) { (_, df) =>
      last2 = rows(df)
    }
    try {
      in2.addData(stored); q2.processAllAvailable()
      // the resumed subscription serves what run 1 last served...
      assert(last2 === last1)
      // ...and NEW triggers compose with the pre-restart state: a
      // LATE event below a stored seq loses, a fresh upsert re-ranks
      in2.addData(Seq((2L, 5.0, 0L), (4L, 60.0, 4L)))
      q2.processAllAvailable()
      assert(last2.map(r => (r.head, r(1))) ===
        Seq((4L, 60.0), (1L, 50.0), (2L, 40.0)))
    } finally q2.stop()
  }

  test("composite batch-id sequencing: two rows differing in a LATER " +
    "key component are two keys (no false duplicate), one tuple " +
    "twice is refused") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Double)]
    val req = Request("t", fields = Seq("ok", "ln"),
      orderBy = Seq(Order("ok"), Order("ln")), limit = Some(5))
    val q = Subscriptions.liveQuery(
      input.toDF().toDF("ok", "ln", "qty"), req,
      keyCols = Seq("ok", "ln"), seqCol = None) { (_, _) => () }
    try {
      // same leading component, different line — NOT a duplicate
      input.addData(Seq((1L, 1, 1.0), (1L, 2, 2.0)))
      q.processAllAvailable()
      // the same tuple twice IS one — loud
      input.addData(Seq((2L, 1, 1.0), (2L, 1, 2.0)))
      val e = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      assert(e.getMessage.contains("more than once") ||
        Option(e.getCause).exists(
          _.getMessage.contains("more than once")))
    } finally q.stop()
  }

  test("liveQuery with batch-id sequencing refuses a batch carrying " +
    "one key twice (the tie would pick an arbitrary winner)") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val req = Request("t", fields = Seq("k", "bal"),
      orderBy = Seq(Order("k")), limit = Some(5))
    @volatile var err: Throwable = null
    val q = Subscriptions.liveQuery(
      input.toDF().toDF("k", "seg", "bal"), req,
      keyCol = "k", seqCol = None) { (_, _) => () }
    try {
      input.addData(Seq((1L, "A", 1.0), (1L, "A", 2.0)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      assert(e.getMessage.contains("more than once") ||
        Option(e.getCause).exists(_.getMessage.contains("more than once")))
    } finally q.stop()
  }

  test("live-query with the table directory serves RELATIONSHIP " +
    "selections: nested arrays and aggregate relationships re-answer " +
    "per trigger over the latest root snapshot") {
    val dir = sf("sf0.001")
    // the full read grammar on a subscription (Hasura serves nested
    // selections on subscriptions): live customer roots, orders
    // relationships answered from the directory's stored table
    val req = Request("customer",
      fields = Seq("c_custkey", "c_name"),
      orderBy = Seq(Order("c_custkey")),
      nested = Seq(Nested("orders", "orders", "o_custkey", "c_custkey",
        Seq(NestedField("k", "o_orderkey")),
        orderBy = Seq(Order("o_orderkey")), limit = Some(2),
        joinType = "left")),
      aggRels = Seq(AggRel("orders", "o_custkey", "c_custkey",
        Seq(CountOf("o_orderkey", "n_orders")), joinType = "left")))
    val parquetCusts = graft.Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") <= 8)
      .select("c_custkey", "c_name").orderBy("c_custkey")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(parquetCusts.size >= 8) // custkeys may start at 0 or 1
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.liveQuery(spark, dir,
      input.toDF().toDF("c_custkey", "c_name", "seq"), req,
      keyCol = "c_custkey", seqCol = Some("seq")) { (_, df) =>
      pushed :+= rows(df)
    }
    val seen =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    // the merge+runOn replay (the liveQuery batch-equivalence pattern)
    def stateReference: Seq[Seq[Any]] = {
      val all = seen.toSeq.toDF("c_custkey", "c_name", "seq")
      rows(QueryBuilder.runOn(spark, dir,
        SnapshotStore.merge(all.limit(0), all, "c_custkey", "seq")
          .drop("deleted", "seq"), req))
    }
    // the fully-independent replay: the BATCH run over the parquet
    // table, cut to the streamed keys
    def batchReference(keys: Seq[Long]): Seq[Seq[Any]] =
      rows(QueryBuilder.run(spark, dir,
        req.copy(where = Some(In("c_custkey", keys)))))
    try {
      // trigger 1: the first four customers arrive with their stored
      // names — the live answer must equal the batch run exactly,
      // nested arrays and counts included
      val b1 = parquetCusts.take(4).zipWithIndex
        .map { case ((k, n), i) => (k, n, i.toLong + 1) }
      input.addData(b1); q.processAllAvailable(); seen ++= b1
      assert(pushed.last === stateReference)
      assert(pushed.last === batchReference(parquetCusts.take(4).map(_._1)))
      // trigger 2: four more customers + an UPSERT renaming the first
      // — the rename wins (latest state), relationships unchanged
      val b2 = parquetCusts.drop(4).zipWithIndex
        .map { case ((k, n), i) => (k, n, i.toLong + 10) } :+
        ((parquetCusts.head._1, "LIVE-RENAMED", 99L))
      input.addData(b2); q.processAllAvailable(); seen ++= b2
      assert(pushed.last === stateReference)
      val (renamed, rest) = pushed.last
        .partition(_.head == parquetCusts.head._1)
      assert(renamed.map(_(1)) === Seq("LIVE-RENAMED"))
      assert(rest === batchReference(parquetCusts.tail.map(_._1)))
      // a LATE rename (seq below the stored state) must lose
      input.addData(Seq((parquetCusts.head._1, "STALE", 0L)))
      q.processAllAvailable()
      seen += ((parquetCusts.head._1, "STALE", 0L))
      assert(pushed.last === stateReference)
      assert(pushed.last.find(_.head == parquetCusts.head._1)
        .map(_(1)) === Some("LIVE-RENAMED"))
    } finally q.stop()
  }

  test("by_pk subscription: a GraphQL watch-one-row document serves " +
    "the key's latest state per trigger, absent before it exists") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double, Long)]
    val req = GraphQl.parse(
      "subscription { t_by_pk(k: 2) { k seg bal } }",
      schema = GraphQl.Schema(Map.empty, keys = Map("t" -> Seq("k"))))
      .fold(m => fail(m), identity)
    assert(req.where === Some(Eq("k", 2L)))
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.liveQuery(
      input.toDF().toDF("k", "seg", "bal", "seq"), req,
      keyCol = "k", seqCol = Some("seq")) { (_, df) =>
      pushed :+= rows(df)
    }
    try {
      // trigger 1: other keys only — the watched row does not exist
      input.addData(Seq((1L, "A", 10.0, 1L))); q.processAllAvailable()
      assert(pushed.last === Seq())
      // trigger 2: the watched key appears
      input.addData(Seq((2L, "B", 25.0, 2L), (3L, "C", 1.0, 2L)))
      q.processAllAvailable()
      assert(pushed.last === Seq(Seq(2L, "B", 25.0)))
      // trigger 3: the watched key is UPDATED — latest state wins
      input.addData(Seq((2L, "B2", 99.0, 3L))); q.processAllAvailable()
      assert(pushed.last === Seq(Seq(2L, "B2", 99.0)))
      // trigger 4: unrelated update leaves the watched row unchanged
      input.addData(Seq((1L, "A9", 0.0, 4L))); q.processAllAvailable()
      assert(pushed.last === Seq(Seq(2L, "B2", 99.0)))
    } finally q.stop()
  }

  test("a GraphQL subscription document over the marketplace snapshot " +
    "stream answers per trigger like the batch fold") {
    // the document is a read query under the subscription keyword —
    // no new grammar; the parsed Request routes to the streaming twin
    val doc =
      """subscription AliceTokens {
        |  tokens(where: {owner: {_eq: "alice"}},
        |         order_by: {tokenId: asc}) {
        |    tokenId
        |    owner
        |  }
        |}""".stripMargin
    val req = GraphQl.parse(doc).fold(m => fail(m), identity)
    assert(!Subscriptions.isAppendShape(req)) // ordered -> live query
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[MarketplaceEvent]
    // snapshotStream's update-mode output: one row per CHANGED token
    // per trigger — seqCol=None (the batch id sequences the upserts)
    val updates = MarketplaceStream.snapshotStream(input.toDS()).toDF()
      .select(col("tokenId"), col("nft.ownerAddress").as("owner"))
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.liveQuery(updates, req,
      keyCol = "tokenId", seqCol = None) { (_, df) =>
      pushed :+= rows(df)
    }
    def ev(seq: Long, msgType: String, tokenId: String,
        recipient: String = ""): MarketplaceEvent =
      MarketplaceEvent(seq, msgType).copy(tokenId = tokenId,
        sender = "alice", recipient = recipient)
    val fed = scala.collection.mutable.ArrayBuffer.empty[MarketplaceEvent]
    def batchReference: Seq[Seq[Any]] =
      MarketplaceStream.batchReference(spark, fed.toSeq).toSeq
        .collect { case (id, snap)
          if snap.nft.exists(_.ownerAddress == "alice") => Seq[Any](id,
            "alice") }
        .sortBy(_.head.asInstanceOf[String])
    try {
      // trigger 1: alice mints T1 and T2
      val b1 = Seq(ev(1, MsgType.MintNFT, "T1", recipient = "alice"),
        ev(2, MsgType.MintNFT, "T2", recipient = "alice"))
      input.addData(b1); q.processAllAvailable(); fed ++= b1
      assert(pushed.last === batchReference)
      assert(pushed.last.map(_.head) === Seq("T1", "T2"))
      // trigger 2: T1 leaves alice (transfer), T3 arrives
      val b2 = Seq(ev(3, MsgType.TransferNFT, "T1", recipient = "bob"),
        ev(4, MsgType.MintNFT, "T3", recipient = "alice"))
      input.addData(b2); q.processAllAvailable(); fed ++= b2
      assert(pushed.last === batchReference)
      assert(pushed.last.map(_.head) === Seq("T2", "T3"))
    } finally q.stop()
  }

  test("live aggregate subscription: a GraphQL <t>_aggregate document " +
    "re-answers per trigger over latest state — upserts RETRACT") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double, Long)]
    val req = GraphQl.parseRootAggregate(
      """subscription {
        |  t_aggregate(where: {seg: {_eq: "A"}}) {
        |    aggregate { count(columns: k) sum { bal } }
        |  }
        |}""".stripMargin).fold(m => fail(m), identity)
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.liveAggregate(
      input.toDF().toDF("k", "seg", "bal", "seq"), req,
      keyCol = "k", seqCol = Some("seq")) { (_, df) =>
      pushed :+= rows(df)
    }
    try {
      input.addData(Seq((1L, "A", 10.0, 1L), (2L, "A", 20.0, 1L),
        (3L, "B", 5.0, 1L)))
      q.processAllAvailable()
      assert(pushed.last === Seq(Seq(2L, 30.0)))
      // k=2 LEAVES segment A (upsert) — count and sum retract, the
      // shape no append stream can serve
      input.addData(Seq((2L, "B", 20.0, 2L)))
      q.processAllAvailable()
      assert(pushed.last === Seq(Seq(1L, 10.0)))
      // a late (lower-seq) event must not resurrect it
      input.addData(Seq((2L, "A", 99.0, 0L)))
      q.processAllAvailable()
      assert(pushed.last === Seq(Seq(1L, 10.0)))
    } finally q.stop()
  }

  test("_stream subscription: page-aligned triggers reproduce " +
    "streamPages exactly, page numbering global across triggers") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val sr = Subscriptions.StreamRequest("t", "id", Some(10L),
      batchSize = 2, where = Some(Eq("typ", "x")),
      fields = Seq("id", "v"))
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.streamServe(
      input.toDF().toDF("id", "typ", "v"), sr) { (_, df) =>
      pushed :+= rows(df.orderBy("batch_idx", "id"))
    }
    val delivered =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
    try {
      // trigger 1: 4 matching rows = 2 full pages (5 filtered by
      // where, 9 filtered by the initial cursor)
      val b1 = Seq((9L, "x", 1.0), (11L, "x", 2.0), (12L, "y", 3.0),
        (13L, "x", 4.0), (15L, "x", 5.0), (16L, "x", 6.0))
      input.addData(b1); q.processAllAvailable(); delivered ++= b1
      assert(pushed.last === Seq(Seq(0L, 11L, 2.0), Seq(0L, 13L, 4.0),
        Seq(1L, 15L, 5.0), Seq(1L, 16L, 6.0)))
      // trigger 2: one full page; page numbering continues at 2
      val b2 = Seq((20L, "x", 7.0), (21L, "x", 8.0), (22L, "y", 9.0))
      input.addData(b2); q.processAllAvailable(); delivered ++= b2
      assert(pushed.last === Seq(Seq(2L, 20L, 7.0), Seq(2L, 21L, 8.0)))
      // page-aligned triggers ≡ the BATCH replay contract
      val replay = Subscriptions.streamPages(
        delivered.toSeq.toDF("id", "typ", "v"), sr, nPages = 3)
      assert(pushed.flatten === rows(replay.orderBy("batch_idx", "id")))
    } finally q.stop()
  }

  test("_stream subscription: redelivery and late-below-cursor rows " +
    "never re-emit; partial pages advance the cursor; DESC streams") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val sr = Subscriptions.StreamRequest("t", "id", None,
      batchSize = 2, fields = Seq("id"))
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.streamServe(
      input.toDF().toDF("id", "typ", "v"), sr) { (_, df) =>
      pushed :+= rows(df.orderBy("batch_idx", "id"))
    }
    try {
      // initial_value: null streams from the beginning; 3 rows (one
      // delivered twice in-trigger — the cursor-column dedup) = a
      // full page + a PARTIAL page, cursor advances past all three
      input.addData(Seq((3L, "x", 1.0), (1L, "x", 1.0), (5L, "x", 1.0),
        (5L, "x", 1.0)))
      q.processAllAvailable()
      assert(pushed.last === Seq(Seq(0L, 1L), Seq(0L, 3L), Seq(1L, 5L)))
      // redelivery of served rows + a LATE row below the advanced
      // cursor: nothing to serve, no push (the documented Hasura
      // caveat — a cursor scan never retracts)
      input.addData(Seq((3L, "x", 1.0), (4L, "x", 1.0)))
      q.processAllAvailable()
      assert(pushed.size === 1)
      // genuinely new rows resume at the NEXT page index (the partial
      // page counted as one page)
      input.addData(Seq((7L, "x", 1.0))); q.processAllAvailable()
      assert(pushed.last === Seq(Seq(2L, 7L)))
    } finally q.stop()
    // DESC: the cursor descends from the initial value
    val desc = Subscriptions.StreamRequest("t", "id", Some(100L),
      ascending = false, batchSize = 2, fields = Seq("id"))
    val base = Seq((101L, "x", 1.0), (99L, "x", 1.0), (42L, "x", 1.0),
      (7L, "x", 1.0)).toDF("id", "typ", "v")
    assert(rows(Subscriptions.streamPages(base, desc, nPages = 2)
      .orderBy(col("batch_idx"), col("id").desc)) ===
      Seq(Seq(0L, 99L), Seq(0L, 42L), Seq(1L, 7L)))
  }

  test("_stream backfill: a trigger past RangeCutRows pages WITHOUT a " +
    "single-task total sort; numbering stays exact and global") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val sr = Subscriptions.StreamRequest("t", "id", None,
      batchSize = 1000, fields = Seq("id"))
    var plans = Vector.empty[String]
    var badPages = -1L
    var delivered = 0L
    var lastPush: Seq[Seq[Any]] = Nil
    val q = Subscriptions.streamServe(
      input.toDF().toDF("id", "typ", "v"), sr) { (_, df) =>
      plans :+= df.queryExecution.executedPlan.toString
      val rs = df.select("batch_idx", "id").collect()
      delivered = rs.length.toLong
      // every id must land on page (id-1) div 1000 — global index
      // correctness without collecting a comparison frame
      badPages = rs.count(r =>
        r.getLong(0) != (r.getLong(1) - 1) / 1000).toLong
      lastPush = rs.sortBy(r => (r.getLong(0), r.getLong(1)))
        .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq
    }
    try {
      val n = Subscriptions.RangeCutRows + 10000 // past the threshold
      input.addData((1L to n).map(i => (i, "x", 1.0)))
      q.processAllAvailable()
      assert(delivered === n)
      assert(badPages === 0L)
      // the backfill path must not total-order through one task: no
      // partition-less Window anywhere in the pushed plan (the range
      // cut uses sortWithinPartitions + zipWithIndex instead)
      assert(!plans.last.contains("Window"),
        s"backfill trigger used a window sort:\n${plans.last}")
      // a follow-up steady-state trigger takes the window fast path
      // and CONTINUES the global numbering after the backfill's pages
      input.addData(Seq((n + 5, "x", 1.0)))
      q.processAllAvailable()
      assert(lastPush === Seq(Seq(n / 1000, n + 5)))
      assert(plans.last.contains("Window"))
    } finally q.stop()
  }
  test("_stream with RELATIONSHIP selections: live triggers equal the " +
    "batch replay, arrays and objects attach per delivered row") {
    val dir = sf("sf0.001")
    val sr0 = GraphQl.parseStream(GraphQl.q204Query)
      .fold(m => fail(m), identity)
    assert(sr0.nested.map(_.as) === Seq("items", "customer"))
    assert(sr0.nested.map(_.single) === Seq(false, true))
    // printer round-trip with relationship selections
    assert(GraphQl.parseStream(GraphQl.renderStream(sr0)) === Right(sr0))
    val sr = sr0.copy(batchSize = 4)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String)]
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.streamServe(
      input.toDF().toDF("o_orderkey", "o_custkey", "o_orderstatus"),
      sr, rel = Some((spark, dir))) { (_, df) =>
      // AS-PUSHED order: deliver() re-sorts by the cursor after the
      // relationship joins, so the subscriber must see cursor order
      // without re-sorting (the scalar-path guarantee)
      pushed :+= rows(df)
    }
    val orders = graft.Tables.load(spark, dir, "orders")
      .filter(col("o_orderkey") > 100 && col("o_orderstatus") === "O")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .orderBy("o_orderkey").limit(8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    try {
      input.addData(orders.take(4).toSeq); q.processAllAvailable()
      input.addData(orders.drop(4).toSeq); q.processAllAvailable()
      assert(pushed.size === 2 && pushed.flatten.size === 8)
      // page-aligned triggers == the batch replay (q204's contract)
      val replay = Subscriptions.streamPages(
        orders.toSeq.toDF("o_orderkey", "o_custkey", "o_orderstatus"),
        sr, nPages = 2, rel = Some((spark, dir)))
      assert(pushed.flatten === rows(replay))
      // pushed pages arrive in cursor order WITHIN each trigger
      val kIdx = replay.columns.indexOf("o_orderkey")
      pushed.foreach { page =>
        val ks = page.map(_(kIdx).asInstanceOf[Long])
        assert(ks === ks.sorted, s"page out of cursor order: $ks")
      }
      // both members rendered: arrays (possibly []) and the object
      val byIdx = replay.columns.zipWithIndex.toMap
      pushed.flatten.foreach { r =>
        assert(r(byIdx("items")).asInstanceOf[String].startsWith("["))
        assert(r(byIdx("customer")).asInstanceOf[String]
          .startsWith("{\"nm\":"))
      }
    } finally q.stop()
    // the base-frame overload cannot load child tables: loud, not a
    // first-trigger crash
    val e = intercept[IllegalArgumentException](
      Subscriptions.streamPages(
        orders.toSeq.toDF("o_orderkey", "o_custkey", "o_orderstatus"),
        sr, nPages = 1))
    assert(e.getMessage.contains("table directory"))
  }

  test("COMPOSITE cursor (r19): the live serve resumes past the " +
    "lexicographic tuple and its advance equals the batch replay — " +
    "a single-column resume would skip the leading key's remaining " +
    "rows") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Double)]
    val sr = Subscriptions.StreamRequest("t", "k1", Some(1L),
      batchSize = 2, fields = Seq("k1", "k2", "v"),
      moreCursor = Seq(("k2", Some(2))))
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.streamServe(
      input.toDF().toDF("k1", "k2", "v"), sr) { (_, df) =>
      pushed :+= rows(df.orderBy("batch_idx", "k1", "k2"))
    }
    val delivered =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double)]
    try {
      // (1,1) and (1,2) sit AT or BELOW the (1,2) resume tuple and
      // must not serve; (1,3) — same leading key, later second
      // component — MUST (the single-column bug this exists to catch)
      val b1 = Seq((1L, 1, 9.0), (1L, 2, 9.0), (1L, 3, 1.0),
        (2L, 1, 2.0), (2L, 2, 3.0), (2L, 5, 5.0))
      input.addData(b1); q.processAllAvailable(); delivered ++= b1
      assert(pushed.last === Seq(
        Seq(0L, 1L, 3, 1.0), Seq(0L, 2L, 1, 2.0),
        Seq(1L, 2L, 2, 3.0), Seq(1L, 2L, 5, 5.0)))
      // the advanced cursor is the (2,5) TUPLE: a redelivered (2,1)
      // stays out, (3,1) resumes on the next global page
      val b2 = Seq((2L, 1, 2.0), (3L, 1, 4.0))
      input.addData(b2); q.processAllAvailable()
      // the replay below is over the LOGICAL data — the redelivered
      // (2,1) is the same row, not a second one
      delivered += ((3L, 1, 4.0))
      assert(pushed.last === Seq(Seq(2L, 3L, 1, 4.0)))
      // batch-replay contract over everything delivered
      val replay = Subscriptions.streamPages(
        delivered.toSeq.toDF("k1", "k2", "v"), sr, nPages = 3)
      assert(pushed.flatten ===
        rows(replay.orderBy("batch_idx", "k1", "k2")))
    } finally q.stop()
    // all-or-nothing resume values are loud
    val e = intercept[IllegalArgumentException](
      Subscriptions.StreamRequest("t", "k1", None, batchSize = 1,
        fields = Seq("k1"), moreCursor = Seq(("k2", Some(1)))))
    assert(e.getMessage.contains("all-or-nothing"))
  }

  test("a live query may SELECT and ORDER BY its real sequence " +
    "column — only the synthetic batch-id sequence hides from " +
    "evaluation (dropping a real seqCol killed the subscription at " +
    "the first trigger)") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double, Long)]
    // "most recently updated rows first" — the audit-feed shape that
    // legitimately selects AND orders by the upsert sequence itself
    val req = Request("t", fields = Seq("k", "bal", "seq"),
      orderBy = Seq(Order("seq", desc = true)), limit = Some(2))
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.liveQuery(
      input.toDF().toDF("k", "seg", "bal", "seq"), req,
      keyCol = "k", seqCol = Some("seq")) { (_, df) =>
      pushed :+= rows(df)
    }
    try {
      input.addData(Seq((1L, "A", 50.0, 1L), (2L, "B", 40.0, 2L)))
      q.processAllAvailable()
      assert(pushed.last === Seq(Seq(2L, 40.0, 2L), Seq(1L, 50.0, 1L)))
      // the upsert's new sequence re-ranks it to the top
      input.addData(Seq((1L, "A", 55.0, 3L)))
      q.processAllAvailable()
      assert(pushed.last === Seq(Seq(1L, 55.0, 3L), Seq(2L, 40.0, 2L)))
    } finally q.stop()
  }

  test("rows with a NULL cursor component never stream — excluded " +
    "consistently on the FIRST trigger and after the cursor " +
    "advances, live equal to the batch replay (delivering them once " +
    "then losing them behind the cursor would be silent loss)") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Option[Long], String, Double)]
    val sr = Subscriptions.StreamRequest("t", "id", None,
      batchSize = 2, fields = Seq("id", "v"))
    var pushed = Vector.empty[Seq[Seq[Any]]]
    val q = Subscriptions.streamServe(
      input.toDF().toDF("id", "typ", "v"), sr) { (_, df) =>
      pushed :+= rows(df.orderBy("batch_idx", "id"))
    }
    val delivered = scala.collection.mutable.ArrayBuffer
      .empty[(Option[Long], String, Double)]
    try {
      // first trigger: the null-cursor row is excluded even though no
      // cursor has advanced yet (the pre-fix deliver-once hole)
      val b1 = Seq((Some(1L), "x", 1.0), (None, "x", 9.0),
        (Some(2L), "x", 2.0))
      input.addData(b1); q.processAllAvailable(); delivered ++= b1
      assert(pushed.last === Seq(Seq(0L, 1L, 1.0), Seq(0L, 2L, 2.0)))
      // later triggers: still excluded (was: NULL predicate drop)
      val b2 = Seq((Some(3L), "x", 3.0), (None, "x", 8.0))
      input.addData(b2); q.processAllAvailable(); delivered ++= b2
      assert(pushed.last === Seq(Seq(1L, 3L, 3.0)))
      // the batch replay agrees — one consistent rule on both paths
      val replay = Subscriptions.streamPages(
        delivered.toSeq.toDF("id", "typ", "v"), sr, nPages = 2)
      assert(pushed.flatten ===
        rows(replay.orderBy("batch_idx", "id")))
    } finally q.stop()
  }

  test("streamServe with nested selections but no table directory is " +
    "loud AT ATTACH — not an async StreamingQueryException at the " +
    "first non-empty trigger") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val sr = Subscriptions.StreamRequest("t", "id", None,
      batchSize = 2, fields = Seq("id"),
      nested = Seq(QueryBuilder.Nested("c", "c", "pid", "id",
        fields = Seq(QueryBuilder.NestedField("ck", "ck")))))
    val e = intercept[IllegalArgumentException] {
      Subscriptions.streamServe(
        input.toDF().toDF("id", "typ", "v"), sr) { (_, _) => () }
    }
    assert(e.getMessage.contains("need the table directory"))
  }

  test("executors without a table directory refuse a relationship-" +
    "predicate where when called or attached — never at the first " +
    "trigger") {
    val rel = RelPred("c", "ck", "id", Eq("seg", "A"))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val stream = input.toDF().toDF("id", "typ", "v")
    val sr = Subscriptions.StreamRequest("t", "id", None,
      batchSize = 2, fields = Seq("id"), where = Some(And(rel)))
    val ar = AggRequest("t", where = Some(Not(rel)),
      aggs = Seq(CountAll("n")))
    def refused(what: String)(call: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(s"$what on 't': relationship " +
        "predicates need the table directory"), e.getMessage)
    }
    // the streaming executors: the query would start here and fail
    // at its first trigger; stop it if it does, so the refusal is
    // the only way through
    refused("streamServe") {
      Subscriptions.streamServe(stream, sr)((_, _) => ()).stop()
    }
    refused("liveAggregate") {
      Subscriptions.liveAggregate(stream, ar, "id")((_, _) => ()).stop()
    }
    val batch = Seq((1L, "x", 1.0)).toDF("id", "typ", "v")
    refused("runAggregateOn") { QueryBuilder.runAggregateOn(batch, ar) }
    refused("streamPages") { Subscriptions.streamPages(batch, sr, 1) }
  }

  test("liveQuery without a table directory refuses a relationship-" +
    "predicate where at attach, before the query starts") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val stream = input.toDF().toDF("id", "typ", "v")
    val req = Request("t", fields = Seq("id"),
      where = Some(RelPred("c", "ck", "id", Eq("seg", "A"))))
    val e = intercept[IllegalArgumentException] {
      // at attach: a query that started would fail only at its first
      // trigger, so stop it if it does
      Subscriptions.liveQuery(stream, req, "id")((_, _) => ()).stop()
    }
    assert(e.getMessage.contains("liveQuery on 't': relationship " +
      "predicates need the table directory"), e.getMessage)
  }
}
