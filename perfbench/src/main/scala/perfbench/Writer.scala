package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.api.{GraphQl, Mutations, Permissions, QueryBuilder}
import graft.api.Permissions.{Policy, TablePerm}
import graft.api.QueryBuilder.Neq
import graft.sources.SnapshotStore
import org.apache.spark.sql.Row

/** The writing client of the `serve` workload: a fixed share of GraphQL
  * mutations, applied as the writer role to `SnapshotStore` copies of
  * `customer` and `orders`, between reads of those stores. Every
  * affected write rewrites its store through `AtomicSwap`; a
  * zero-affected write leaves it alone.
  *
  * Reads of the stores go through `Permissions.secure` and
  * `QueryBuilder.runOn` over a fresh `SnapshotStore.read`: the engine's
  * `serveAs(dir)` path loads tables through `graft.Tables.load`, which
  * memoises the file listing per (dir, table) and would keep serving the
  * listing from before a swap.
  *
  * One client does all of this, one request at a time, so a store has a
  * single writer and no read overlaps a swap. Each write is replayed on
  * an in-memory model of both stores; reads are compared with the model,
  * and so are the final stores, row by row. The model's work runs
  * outside the timed requests. */
final class Writer(ctx: Ctx, dir: String) {
  import Serve.{sf, skewed}

  /** The writer's requests follow a fixed pattern: requests 1, 4 and 7 of
    * every ten are writes (a 0.3 share), the write kinds cycle, and every
    * fifth write, from the third on, aims at no existing row (a 0.2
    * share): an update or delete then matches no rows, an insert or
    * upsert still inserts one. Both shares are assumptions, not measured
    * traffic. The seed draws the keys and values. */
  private def isWrite(i: Int) = i % 10 == 1 || i % 10 == 4 || i % 10 == 7
  private val role = "writer"
  /** The writer role: every customer, and orders that are not 5-LOW. */
  private val policy = Policy(Map(
    (role, "customer") -> TablePerm(),
    (role, "orders") -> TablePerm(Some(Neq("o_orderpriority", "5-LOW"))),
    (role, "lineitem") -> TablePerm()))
  private val n = Fixture.sizes(sf)
  private val missingBase = 900000000L

  final case class Cust(name: String, nation: Int, bal: Double, seg: String)
  final case class Ord(cust: Long, status: String, price: Double,
      prio: String)

  /** The replay model: the stores' rows by key. */
  private val custs = mutable.HashMap.empty[Long, Cust]
  private val ords = mutable.HashMap.empty[Long, Ord]

  /** A mutation document plus its effect on the model, which returns the
    * affected row count the engine must report. */
  final case class Write(kind: String, table: String, doc: String,
      apply: () => Long)

  private def visible(o: Ord) = o.prio != "5-LOW"

  /** The `i`-th write of client `c`. */
  def write(c: Int, i: Int, r: SplittableRandom): Write = {
    // from the third write on, so that a run of a few writes has one
    val zero = i % 5 == 2
    def key(limit: Long) =
      if (zero) missingBase + r.nextInt(1000000) else skewed(r, limit)
    def money = (r.nextInt(1000000) - 99999) / 100.0
    val fresh = 10000000L + c * 1000000L + i
    (c + i) % 7 match {
      case 0 =>
        val nat = r.nextInt(25); val b = money
        Write("insert", "customer", s"""mutation { insert_customer(objects: [{c_custkey:
          | $fresh, c_name: "New#$fresh", c_nationkey: $nat, c_acctbal: $b,
          | c_mktsegment: "BUILDING"}]) { affected_rows } }""".stripMargin,
          () => { custs(fresh) = Cust(s"New#$fresh", nat, b, "BUILDING"); 1L })
      case 1 =>
        val k = key(n.customers)
        Write("inc", "customer", s"""mutation { update_customer(where: {c_custkey:
          | {_eq: $k}}, _inc: {c_acctbal: 1.25}) { affected_rows } }"""
          .stripMargin,
          () => custs.get(k).map { x =>
            custs(k) = x.copy(bal = x.bal + 1.25); 1L }.getOrElse(0L))
      case 2 =>
        val nat = r.nextInt(25)
        val floor = if (zero) 20000.0 else 9000.0 + r.nextInt(900)
        Write("set", "customer", s"""mutation { update_customer(where: {c_nationkey:
          | {_eq: $nat}, c_acctbal: {_gt: $floor}}, _set: {c_mktsegment:
          | "HOUSEHOLD"}) { affected_rows } }""".stripMargin,
          () => {
            val hit = custs.filter { case (_, x) =>
              x.nation == nat && x.bal > floor }.keys.toSeq
            hit.foreach(k => custs(k) = custs(k).copy(seg = "HOUSEHOLD"))
            hit.size.toLong
          })
      case 3 =>
        val k = if (zero) fresh + 500000L else skewed(r, n.customers)
        val nat = r.nextInt(25); val b = money
        Write("upsert", "customer", s"""mutation { insert_customer(objects: [{c_custkey:
          | $k, c_name: "Up#$k", c_nationkey: $nat, c_acctbal: $b,
          | c_mktsegment: "MACHINERY"}], on_conflict: {constraint:
          | customer_pkey, update_columns: [c_acctbal]}) { affected_rows } }"""
          .stripMargin,
          () => {
            custs(k) = custs.get(k).map(_.copy(bal = b))
              .getOrElse(Cust(s"Up#$k", nat, b, "MACHINERY"))
            1L
          })
      case 4 =>
        val k = key(n.orders)
        Write("inc_by_pk", "orders", s"""mutation { update_orders_by_pk(pk_columns:
          | {o_orderkey: $k}, _inc: {o_totalprice: 10.5}) { o_orderkey } }"""
          .stripMargin,
          () => ords.get(k).filter(visible).map { x =>
            ords(k) = x.copy(price = x.price + 10.5); 1L }.getOrElse(0L))
      case 5 =>
        val k = key(n.orders)
        Write("delete", "orders", s"""mutation { delete_orders(where: {o_orderkey:
          | {_eq: $k}}) { affected_rows } }""".stripMargin,
          () => ords.get(k).filter(visible).map { _ =>
            ords.remove(k); 1L }.getOrElse(0L))
      case _ =>
        val cust = skewed(r, n.customers); val p = 1000.0 + r.nextInt(400000)
        Write("insert_orders", "orders", s"""mutation { insert_orders(objects:
          | [{o_orderkey: $fresh, o_custkey: $cust, o_orderstatus: "O",
          | o_totalprice: $p, o_orderpriority: "3-MEDIUM"}]) {
          | affected_rows } }""".stripMargin,
          () => { ords(fresh) = Ord(cust, "O", p, "3-MEDIUM"); 1L })
    }
  }

  /** A read of a store, and the answer the model gives for it (None when
    * the model cannot answer it alone: the line items are not modelled). */
  final case class Read(table: String, doc: String,
      expect: () => Option[Seq[String]])

  private def custLine(k: Long, x: Cust) = s"$k|${x.name}|${x.bal}"

  def read(i: Int, r: SplittableRandom): Read = i % 3 match {
    case 0 =>
      val k = skewed(r, n.customers)
      Read("customer", s"{ customer_by_pk(c_custkey: $k) { c_custkey " +
        "c_name c_acctbal } }",
        () => Some(custs.get(k).map(custLine(k, _)).toSeq))
    case 1 =>
      val c = skewed(r, n.customers)
      Read("orders", s"{ orders(where: {o_custkey: {_eq: $c}}, order_by: " +
        "{o_orderkey: asc}, limit: 10) { o_orderkey o_totalprice } }",
        () => Some(ords.filter { case (_, o) => o.cust == c && visible(o) }
          .keys.toSeq.sorted.take(10).map(k => s"$k|${ords(k).price}")))
    case _ =>
      val k = skewed(r, n.orders)
      Read("orders", s"{ orders(where: {o_orderkey: {_eq: $k}}) { " +
        "o_orderkey items(order_by: {l_linenumber: asc}) { l_linenumber " +
        "l_quantity } } }", () => None)
  }

  private def line(r: Row): String = r.toSeq.mkString("|")

  private val spark = ctx.spark
  private var stores = Map.empty[String, (String, Seq[String])]

  /** Set-up repetition `i`: write fresh copies of the two stores. */
  def setup(i: Int): Unit = {
    stores = Map(
      "customer" -> (s"${ctx.work}/store_customer_$i", Seq("c_custkey")),
      "orders" -> (s"${ctx.work}/store_orders_$i", Seq("o_orderkey")))
    SnapshotStore.write(graft.Tables.load(spark, dir, "customer"),
      stores("customer")._1)
    SnapshotStore.write(graft.Tables.load(spark, dir, "orders").drop(
      "o_orderdate"), stores("orders")._1)
  }

  /** Fill the model from the stores the last set-up wrote. */
  def loadModel(): Unit = {
    SnapshotStore.read(spark, stores("customer")._1).collect().foreach(r =>
      custs(r.getLong(0)) = Cust(r.getString(1), r.getInt(2), r.getDouble(3),
        r.getString(4)))
    SnapshotStore.read(spark, stores("orders")._1).collect().foreach(r =>
      ords(r.getLong(0)) = Ord(r.getLong(1), r.getString(2), r.getDouble(3),
        r.getString(4)))
  }

  private var tracedAffected = 0L
  private var zeroAffected = 0L
  private val rewriteMb = mutable.ArrayBuffer.empty[Double]
  private val storeReads = mutable.ArrayBuffer.empty[Double]

  /** Apply `w` through the engine; returns the affected row count. */
  private def doWrite(w: Write, tr: Tracer): Long = {
    val got = if (!tr.on)
      Permissions.serveMutationsAs(spark, role, policy, w.doc, stores)
        .fold(m => sys.error(m), identity)
    else {
      val fields = tr.span("GraphQl.parseMutationFields") {
        GraphQl.parseMutationFields(w.doc) }.fold(sys.error, identity)
      val sec = tr.span("Permissions.secureFields") {
        Permissions.secureFields(fields, role, policy)
      }.fold(sys.error, identity)
      tr.span("Mutations.applyFieldsToStores") {
        Mutations.applyFieldsToStores(spark, stores, sec) }
    }
    got.map(_.affected).sum
  }

  /** Replay `w` on the model and compare the affected row counts. */
  private def checkWrite(w: Write, affected: Long, traced: Boolean)
      : Boolean = {
    val want = w.apply()
    if (affected == 0) zeroAffected += 1
    else if (traced) {
      tracedAffected += affected
      rewriteMb += ctx.sizeMb(stores(w.table)._1)
    }
    if (affected != want) System.err.println(s"[perfbench] ${w.kind} " +
      s"affected $affected rows, the model $want: ${w.doc}")
    affected == want
  }

  private def doRead(q: Read, tr: Tracer): Array[Row] = {
    val req = tr.span("GraphQl.parse") { GraphQl.parse(q.doc) }
      .fold(sys.error, identity)
    val sec = tr.span("Permissions.secure") {
      Permissions.secure(req, role, policy) }.fold(sys.error, identity)
    val t0 = System.nanoTime()
    val base = tr.span("SnapshotStore.read") {
      SnapshotStore.read(spark, stores(q.table)._1) }
    val df = tr.span("QueryBuilder.runOn") {
      QueryBuilder.runOn(spark, dir, base, sec) }
    val rows = if (tr.on) Serve.execute(tr, Seq("" -> df)).head._2
      else df.collect()
    if (tr.on) storeReads += (System.nanoTime() - t0) / 1e6
    rows
  }

  private def checkRead(q: Read, rows: Array[Row], want: Option[Seq[String]])
      : Boolean = want match {
    case Some(w) =>
      val got = rows.toSeq.map(line)
      if (got != w) System.err.println(s"[perfbench] store read " +
        s"${q.doc}: got $got, the model $w")
      got == w
    case None => rows.length <= 1
  }

  private def timedWrite(c: Int, i: Int, r: SplittableRandom, tr: Tracer)
      : Sample = {
    val w = write(c, i, r)
    var affected = -1L
    val s = Clients.timed(ctx, "write", tr) { affected = doWrite(w, tr); true }
    s.copy(ok = s.ok && checkWrite(w, affected, tr.on))
  }

  /** The cold pass's share: one write. */
  def cold(r: SplittableRandom): Boolean =
    timedWrite(99, 0, r, ctx.untraced).ok

  /** The writer client's `i`-th request. */
  def next(c: Int, i: Int, r: SplittableRandom, tr: Tracer): Sample =
    if (isWrite(i))
      timedWrite(c, (i / 10) * 3 + Seq(1, 4, 7).indexOf(i % 10), r, tr)
    else {
      val q = read(c + i, r)
      val want = q.expect()
      var rows = Array.empty[Row]
      val s = Clients.timed(ctx, "store_read", tr) {
        rows = doRead(q, tr); true }
      s.copy(ok = s.ok && checkRead(q, rows, want))
    }

  /** The final stores against the model, row by row. */
  def finalCheck(): Seq[Boolean] = {
    def check(table: String, want: Map[Long, String]): Boolean = {
      val got = SnapshotStore.read(spark, stores(table)._1)
        .drop("deleted").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail.mkString("|")).toMap
      val ok = got == want
      if (!ok) System.err.println(s"[perfbench] final $table store: " +
        s"${got.size} rows, the model ${want.size}; " +
        s"${(got.toSet diff want.toSet).take(3)} vs " +
        s"${(want.toSet diff got.toSet).take(3)}")
      ok
    }
    Seq(check("customer", custs.map { case (k, x) =>
        k -> s"${x.name}|${x.nation}|${x.bal}|${x.seg}" }.toMap),
      check("orders", ords.map { case (k, o) =>
        k -> s"${o.cust}|${o.status}|${o.price}|${o.prio}" }.toMap))
  }

  /** The mutation and store layers, over the traced writes. */
  def layers(nWrites: Int): Map[String, Double] = Map(
    "mutations.apply_ms" ->
      ctx.tracer.medianMs("Mutations.applyFieldsToStores"),
    "mutations.zero_affected_ratio" ->
      zeroAffected.toDouble / (nWrites + 1),
    "store.rewrite_bytes_per_affected_row" ->
      rewriteMb.sum * 1048576.0 / math.max(1L, tracedAffected),
    "store.files" -> stores.values.map(s =>
      ctx.fileCount(s._1, ".parquet")).sum.toDouble,
    "store.read_ms" -> (if (storeReads.isEmpty) 0.0
      else Stats.median(storeReads.toSeq)),
    "store.mb" -> stores.values.map(s => ctx.sizeMb(s._1)).sum)
}
