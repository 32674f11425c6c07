package graft.api

import graft.SparkSpec
import graft.api.QueryBuilder._
import graft.sources.SnapshotStore
import org.apache.spark.sql.functions._

/** The GraphQL write surface: Hasura-shaped mutation documents parse to
  * the [[Mutations]] ADT and execute as latest-wins merge deltas
  * against the snapshot machinery. */
class MutationsSpec extends SparkSpec {
  import spark.implicits._

  private def snap = Seq(
    (1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "C", 40.0))
    .toDF("k", "seg", "bal")

  test("parseMutations: all three verbs + _one, variables, document order") {
    val doc =
      """mutation M($cap: bigint!) {
        |  insert_t(objects: [{k: 9, seg: "Z"}, {k: 10, seg: null}]) {
        |    affected_rows }
        |  insert_t_one(object: {k: 11, bal: 1.5}) { affected_rows }
        |  update_t(where: {k: {_lte: $cap}}, _set: {seg: "M"},
        |           _inc: {bal: 5.0}) { affected_rows }
        |  delete_t(where: {seg: {_eq: "C"}}) { affected_rows }
        |}""".stripMargin
    val ms = GraphQl.parseMutations(doc, """{"cap": 2}""")
      .fold(m => fail(m), identity)
    assert(ms === Seq(
      Mutations.Insert("t", Seq(Seq("k" -> 9L, "seg" -> "Z"),
        Seq("k" -> 10L, "seg" -> null))),
      Mutations.Insert("t", Seq(Seq("k" -> 11L, "bal" -> 1.5))),
      Mutations.Update("t", Lte("k", 2L), Seq("seg" -> "M"),
        Seq("bal" -> 5.0)),
      Mutations.Delete("t", Eq("seg", "C"))))
  }

  test("parseMutations rejects the silent-wrong-write shapes loudly") {
    def err(doc: String, frag: String, vars: String = "{}"): Unit =
      GraphQl.parseMutations(doc, vars) match {
        case Left(m) => assert(m.contains(frag), s"got: $m")
        case Right(r) => fail(s"parsed: $r")
      }
    // a read query is not a mutation
    err("{ customer { c_custkey } }", "expected 'mutation'")
    // the affected_rows-only entry point refuses returning documents
    // (parseMutationFields serves them) instead of dropping the shape
    err("mutation { delete_t(where: {k: {_eq: 1}}) { returning { k } } }",
      "affected_rows")
    // on_conflict without update_columns has no defined policy
    err("""mutation { insert_t(objects: [{k: 1}],
          |  on_conflict: {constraint: pk}) { affected_rows } }""".stripMargin,
      "update_columns is required")
    err("""mutation { insert_t(objects: [{k: 1}],
          |  on_conflict: {update_columns: [], nope: 1}) {
          |  affected_rows } }""".stripMargin,
      "unknown field")
    // unfiltered update/delete need an explicit predicate
    err("mutation { update_t(_set: {seg: \"X\"}) { affected_rows } }",
      "where is required")
    err("mutation { delete_t { affected_rows } }", "where is required")
    // an update writing nothing is a typo'd document
    err("mutation { update_t(where: {k: {_eq: 1}}) { affected_rows } }",
      "_set and/or _inc")
    // unused variable = dropped predicate
    err("mutation M($cap: bigint!) { delete_t(where: {k: {_eq: 1}}) " +
      "{ affected_rows } }", "never used", """{"cap": 2}""")
    // empty document
    err("mutation { }", "no mutation fields")
    // unknown verb
    err("mutation { upsert_t(where: {k: {_eq: 1}}) { affected_rows } }",
      "unknown mutation field")
  }

  test("parseMutationFields: by_pk verbs, returning blocks, insert_one's " +
    "faithful row-shaped response") {
    val doc =
      """mutation {
        |  update_t_by_pk(pk_columns: {k: 3}, _set: {seg: "VIP"}) {
        |    k seg bal }
        |  delete_t_by_pk(k: 4) { k bal }
        |  insert_t_one(object: {k: 11, bal: 1.5}) { k bal }
        |  update_t(where: {seg: {_eq: "A"}}, _inc: {bal: 2.0}) {
        |    affected_rows
        |    returning { k bal } }
        |}""".stripMargin
    val fs = GraphQl.parseMutationFields(doc).fold(m => fail(m), identity)
    assert(fs === Seq(
      Mutations.Field(Mutations.Update("t", Eq("k", 3L),
        Seq("seg" -> "VIP")), Some(Seq("k", "seg", "bal")), single = true),
      Mutations.Field(Mutations.Delete("t", Eq("k", 4L)),
        Some(Seq("k", "bal")), single = true),
      Mutations.Field(Mutations.Insert("t", Seq(Seq("k" -> 11L,
        "bal" -> 1.5))), Some(Seq("k", "bal")), single = true),
      Mutations.Field(Mutations.Update("t", Eq("seg", "A"), Nil,
        Seq("bal" -> 2.0)), Some(Seq("k", "bal")))))
    // ...and the legacy affected_rows shape still parses for _one
    val legacy = GraphQl.parseMutationFields(
      "mutation { insert_t_one(object: {k: 11}) { affected_rows } }")
      .fold(m => fail(m), identity)
    assert(legacy === Seq(Mutations.Field(
      Mutations.Insert("t", Seq(Seq("k" -> 11L))))))
  }

  test("parseMutationFields rejects the silent-wrong-shape by_pk and " +
    "returning spellings loudly") {
    def err(doc: String, frag: String): Unit =
      GraphQl.parseMutationFields(doc) match {
        case Left(m) => assert(m.contains(frag), s"got: $m")
        case Right(r) => fail(s"parsed: $r")
      }
    // multi-entry pk_columns PARSES since r19 (composite keys) — the
    // store layer rejects a pk_columns that misses a key component
    val multi = GraphQl.parseMutationFields(
      """mutation { update_t_by_pk(pk_columns: {k: 1, k2: 2},
        |  _set: {seg: "X"}) { k } }""".stripMargin)
      .fold(m => fail(m), identity)
    assert(multi.head.m === Mutations.Update("t",
      And(Eq("k", 1L), Eq("k2", 2L)), Seq("seg" -> "X")))
    // a null key would tie nondeterministically in the merge window
    err("mutation { delete_t_by_pk(k: null) { k } }", "cannot be null")
    err("""mutation { update_t_by_pk(pk_columns: {k: null},
          |  _set: {seg: "X"}) { k } }""".stripMargin, "cannot be null")
    // delete_by_pk with several arguments parses as a composite key
    // (r19); with none it is loud
    err("mutation { delete_t_by_pk { k } }", "required")
    // by_pk updates still need something to write
    err("mutation { update_t_by_pk(pk_columns: {k: 1}) { k } }",
      "_set and/or _inc")
    // empty selections serve nothing
    err("mutation { delete_t_by_pk(k: 1) { } }", "empty selection")
    err("""mutation { delete_t(where: {k: {_eq: 1}}) {
          |  affected_rows returning { } } }""".stripMargin,
      "empty selection")
    // duplicate returning blocks would silently shadow one another
    err("""mutation { delete_t(where: {k: {_eq: 1}}) {
          |  returning { k } returning { bal } } }""".stripMargin,
      "duplicate returning")
    // a non-_one plain verb cannot select row columns directly
    err("mutation { delete_t(where: {k: {_eq: 1}}) { k } }",
      "unknown selection")
  }

  test("applyFields: returning sees THIS step's state — insert visible " +
    "to a later update's returning, delete returns prior values") {
    val doc =
      """mutation {
        |  insert_t(objects: [{k: 9, seg: "A", bal: -5.0}]) {
        |    affected_rows }
        |  update_t(where: {seg: {_eq: "A"}}, _inc: {bal: 100.0}) {
        |    affected_rows
        |    returning { k bal } }
        |  delete_t_by_pk(k: 2) { k bal }
        |}""".stripMargin
    val fs = GraphQl.parseMutationFields(doc).fold(m => fail(m), identity)
    val (next, rs) = Mutations.applyFields(snap, fs, "k")
    assert(rs.map(_.affected) === Seq(1L, 3L, 1L))
    // the update's returning includes the just-inserted k=9, post-inc
    val ret = rs(1).returning.get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ret === Seq((1L, 110.0), (2L, 120.0), (9L, 95.0)))
    // the delete returns the row AS IT WAS (post-update balance),
    // even though the final snapshot no longer holds it
    val del = rs(2).returning.get.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(del === Seq((2L, 120.0)))
    assert(next.filter(col("k") === 2L).count() === 0L)
    // returning frames stay valid after later steps fold on (they
    // materialized at their step)
    assert(rs(1).returning.get.count() === 3L)
    // unknown returning columns reject loudly
    val bad = Seq(Mutations.Field(Mutations.Delete("t", Eq("k", 1L)),
      Some(Seq("nope"))))
    val e = intercept[IllegalArgumentException](
      Mutations.applyFields(snap, bad, "k"))
    assert(e.getMessage.contains("unknown column"))
    // a by_pk verb addressing a NON-key column is a typo'd mass write
    // — the store knows its key and rejects before anything runs
    val e2 = intercept[IllegalArgumentException](
      Mutations.applyFields(snap, Seq(Mutations.Field(
        Mutations.Update("t", Eq("seg", "A"), Seq("bal" -> 0.0)),
        Some(Seq("k")), single = true)), "k"))
    assert(e2.getMessage.contains("key column(s) 'k'"))
    val e3 = intercept[IllegalArgumentException](
      Mutations.applyFields(snap, Seq(Mutations.Field(
        Mutations.Delete("t", Gt("k", 0L)),
        Some(Seq("k")), single = true)), "k"))
    assert(e3.getMessage.contains("key column(s) 'k'"))
    // a column in BOTH _set and _inc is Hasura's operator conflict
    val e4 = intercept[IllegalArgumentException](
      Mutations.Update("t", Eq("k", 1L),
        Seq("bal" -> 1.0), Seq("bal" -> 2.0)))
    assert(e4.getMessage.contains("more than one update operator"))
  }

  test("parse serves <table>_by_pk reads as a tracked-key point lookup") {
    val r = GraphQl.parse(
      "{ customer_by_pk(c_custkey: 7) { c_custkey c_name } }")
      .fold(m => fail(m), identity)
    assert(r === Request("customer", Seq("c_custkey", "c_name"),
      where = Some(Eq("c_custkey", 7L))))
    // variables resolve at the key position
    val rv = GraphQl.parse(
      "query ($k: bigint!) { customer_by_pk(c_custkey: $k) { c_name } }",
      variables = """{"k": 3}""").fold(m => fail(m), identity)
    assert(rv.where === Some(Eq("c_custkey", 3L)))
    def err(doc: String, frag: String): Unit =
      GraphQl.parse(doc) match {
        case Left(m) => assert(m.contains(frag), s"got: $m")
        case Right(x) => fail(s"parsed: $x")
      }
    // the argument must be the TRACKED key column, not any column
    err("{ customer_by_pk(c_name: \"x\") { c_custkey } }",
      "unknown argument")
    err("{ customer_by_pk { c_custkey } }", "is required")
    // a table with no tracked PK has no by_pk field (lineitem's key
    // is composite — untracked here, like Hasura without a PK)
    err("{ lineitem_by_pk(l_orderkey: 1) { l_orderkey } }",
      "no tracked primary key")
    // by_pk takes no list arguments (where/limit belong to the list
    // field)
    err("{ customer_by_pk(c_custkey: 1, limit: 5) { c_custkey } }",
      "unknown argument")
  }

  test("applyMutation: insert rejects existing keys, upsert overwrites, " +
    "absent columns land null, coercion is typed and loud") {
    val (next, n) = Mutations.applyMutation(snap,
      Mutations.Insert("t", Seq(Seq("k" -> 9L, "seg" -> "Z"))), "k")
    assert(n === 1L)
    val got = next.filter(col("k") === 9).collect().head
    assert(got.getString(1) === "Z")
    assert(got.isNullAt(2)) // bal absent -> null
    // duplicate key: loud unless upsert
    val dupErr = intercept[IllegalArgumentException] {
      Mutations.applyMutation(snap,
        Mutations.Insert("t", Seq(Seq("k" -> 1L))), "k")
    }
    assert(dupErr.getMessage.contains("already exist"))
    val (up, _) = Mutations.applyMutation(snap,
      Mutations.Insert("t", Seq(Seq("k" -> 1L, "seg" -> "NEW")),
        upsert = true), "k")
    assert(up.filter(col("k") === 1).collect().head.getString(1) === "NEW")
    assert(up.count() === 4)
    // unknown column is loud, not dropped
    val colErr = intercept[IllegalArgumentException] {
      Mutations.applyMutation(snap,
        Mutations.Insert("t", Seq(Seq("k" -> 9L, "nope" -> 1L))), "k")
    }
    assert(colErr.getMessage.contains("unknown column"))
    // a long into an int column checks the range (snap's k is long;
    // build an int-typed frame for the overflow check)
    val intSnap = Seq((1, "A")).toDF("k", "seg")
    val ovErr = intercept[IllegalArgumentException] {
      Mutations.applyMutation(intSnap,
        Mutations.Insert("t", Seq(Seq("k" -> (Long.MaxValue: Any)))), "k")
    }
    assert(ovErr.getMessage.contains("overflows"))
    // duplicate keys WITHIN one objects list would collapse to an
    // arbitrary winner in the merge — Hasura errors; so do we
    val dupList = intercept[IllegalArgumentException] {
      Mutations.applyMutation(snap, Mutations.Insert("t",
        Seq(Seq("k" -> 9L, "seg" -> "X"), Seq("k" -> 9L, "seg" -> "Y"))),
        "k")
    }
    assert(dupList.getMessage.contains("duplicate key"))
    // a missing/null key would slide past the equi-join clash check
    val noKey = intercept[IllegalArgumentException] {
      Mutations.applyMutation(snap,
        Mutations.Insert("t", Seq(Seq("seg" -> "Z"))), "k")
    }
    assert(noKey.getMessage.contains("non-null k"))
  }

  test("update coercion is loud driver-side: a type-mismatched _set/_inc " +
    "literal rejects instead of NULLing every matched row") {
    val setErr = intercept[IllegalArgumentException] {
      Mutations.applyMutation(snap,
        Mutations.Update("t", Eq("seg", "A"),
          Seq("bal" -> ("abc": Any))), "k")
    }
    assert(setErr.getMessage.contains("cannot coerce"))
    val incErr = intercept[IllegalArgumentException] {
      Mutations.applyMutation(snap,
        Mutations.Update("t", Eq("seg", "A"), Nil,
          Seq("seg" -> (1L: Any))), "k")
    }
    // the r20 column-type guard fires first: _inc on a string column
    // is wrong regardless of the literal's type
    assert(incErr.getMessage.contains("needs a numeric column"))
  }

  test("on_conflict update_columns: listed columns take incoming " +
    "values, the REST keep stored ones; [] is do-nothing; omissions " +
    "and key updates are loud") {
    // parse side: constraint accepted (and unused), update_columns
    // drives the policy
    val doc =
      """mutation { insert_t(objects: [{k: 1, seg: "U", bal: 500.0}],
        |  on_conflict: {constraint: t_pkey, update_columns: [seg]}) {
        |  affected_rows } }""".stripMargin
    val ms = GraphQl.parseMutations(doc).fold(m => fail(m), identity)
    assert(ms === Seq(Mutations.Insert("t",
      Seq(Seq("k" -> 1L, "seg" -> "U", "bal" -> 500.0)),
      updateColumns = Some(Seq("seg")))))
    // execution: k=1 exists (A, 10.0) — seg updates, bal KEEPS 10.0
    // (the incoming 500.0 is not an update_column); k=9 inserts whole
    val (next, n) = Mutations.applyMutation(snap, Mutations.Insert("t",
      Seq(Seq("k" -> 1L, "seg" -> "U", "bal" -> 500.0),
        Seq("k" -> 9L, "seg" -> "F", "bal" -> 7.5)),
      updateColumns = Some(Seq("seg"))), "k")
    assert(n === 2L)
    val rows = next.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((1L, "U", 10.0), (2L, "A", 20.0),
      (3L, "B", 30.0), (4L, "C", 40.0), (9L, "F", 7.5)))
    // [] = DO NOTHING: the conflict row is skipped and NOT counted
    val (next2, n2) = Mutations.applyMutation(snap, Mutations.Insert("t",
      Seq(Seq("k" -> 1L, "seg" -> "X"), Seq("k" -> 9L, "seg" -> "F")),
      updateColumns = Some(Nil)), "k")
    assert(n2 === 1L)
    assert(next2.filter(col("k") === 1).collect().head.getString(1) === "A")
    assert(next2.count() === 5)
    // a CONFLICTING object omitting an update_column would silently
    // NULL the stored value — loud instead
    val omit = intercept[IllegalArgumentException] {
      Mutations.applyMutation(snap, Mutations.Insert("t",
        Seq(Seq("k" -> 1L, "bal" -> 1.0)),
        updateColumns = Some(Seq("seg"))), "k")
    }
    assert(omit.getMessage.contains("omits update_column"))
    // ...but a FRESH row may omit it: no stored value exists to lose,
    // so it inserts with null (the documented absent-column behavior,
    // and what Hasura does)
    val (freshNext, nf) = Mutations.applyMutation(snap,
      Mutations.Insert("t", Seq(Seq("k" -> 9L, "bal" -> 1.0)),
        updateColumns = Some(Seq("seg"))), "k")
    assert(nf === 1L)
    assert(freshNext.filter(col("k") === 9).collect().head.isNullAt(1))
    // duplicated update_columns collapse instead of aliasing into an
    // ambiguous reference
    val (_, nDup) = Mutations.applyMutation(snap,
      Mutations.Insert("t", Seq(Seq("k" -> 1L, "seg" -> "D")),
        updateColumns = Some(Seq("seg", "seg"))), "k")
    assert(nDup === 1L)
    // duplicate fields inside the on_conflict object are a parse
    // error, not a silent last-wins policy swap
    GraphQl.parseMutations(
      """mutation { insert_t(objects: [{k: 1}],
        |  on_conflict: {update_columns: [seg], update_columns: []}) {
        |  affected_rows } }""".stripMargin) match {
      case Left(m) => assert(m.contains("duplicate field"))
      case Right(r) => fail(s"parsed: $r")
    }
    // the key is never an update_column; policies are exclusive
    val keyUp = intercept[IllegalArgumentException] {
      Mutations.applyMutation(snap, Mutations.Insert("t",
        Seq(Seq("k" -> 1L)), updateColumns = Some(Seq("k"))), "k")
    }
    assert(keyUp.getMessage.contains("key"))
    val both = intercept[IllegalArgumentException] {
      Mutations.Insert("t", Seq(Seq("k" -> 1L)), upsert = true,
        updateColumns = Some(Seq("seg")))
    }
    assert(both.getMessage.contains("alternative"))
  }

  test("q120 upsert round-trip: the non-listed column provably keeps " +
    "its stored value") {
    val out = GraphQl.q120UpsertRoundTrip(spark, "/root/testdata/sf0.001")
    val bySeg = out.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(bySeg("UPSERTED")._1 === 1L)
    assert(bySeg("FRESH") === ((1L, 77.5)))
    assert(bySeg.values.map(_._1).sum === 151L) // 150 + 1 fresh
  }

  test("applyMutation: update _set/_inc typed per column; key column " +
    "is immutable; delete tombstones drop rows") {
    val (next, n) = Mutations.applyMutation(snap,
      Mutations.Update("t", Eq("seg", "A"), Seq("seg" -> "M"),
        Seq("bal" -> 5.0)), "k")
    assert(n === 2L)
    val rows = next.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((1L, "M", 15.0), (2L, "M", 25.0),
      (3L, "B", 30.0), (4L, "C", 40.0)))
    val keyErr = intercept[IllegalArgumentException] {
      Mutations.applyMutation(snap,
        Mutations.Update("t", Eq("seg", "A"), Seq("k" -> 99L)), "k")
    }
    assert(keyErr.getMessage.contains("key column"))
    val (afterDel, d) = Mutations.applyMutation(snap,
      Mutations.Delete("t", Gt("bal", 25.0)), "k")
    assert(d === 2L)
    assert(afterDel.select("k").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L))
    assert(!afterDel.columns.contains("deleted"))
  }

  test("applyToStore: document folds in order against a persisted " +
    "snapshot, atomically rewritten; a stray table is refused") {
    val path = scratch(s"mutspec_${java.util.UUID.randomUUID()}")
    SnapshotStore.write(snap, path)
    val doc =
      """mutation {
        |  insert_t(objects: [{k: 9, seg: "Z", bal: 1.0}]) { affected_rows }
        |  update_t(where: {seg: {_eq: "Z"}}, _inc: {bal: 2.0}) {
        |    affected_rows }
        |  delete_t(where: {k: {_lte: 2}}) { affected_rows }
        |}""".stripMargin
    val ms = GraphQl.parseMutations(doc).fold(m => fail(m), identity)
    val counts = Mutations.applyToStore(spark, path, "t", "k", ms)
    assert(counts === Seq(1L, 1L, 2L))
    val got = SnapshotStore.read(spark, path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // the update saw the just-inserted row (document order), the
    // delete removed k=1,2
    assert(got.toSeq === Seq((3L, "B", 30.0), (4L, "C", 40.0),
      (9L, "Z", 3.0)))
    val stray = intercept[IllegalArgumentException] {
      Mutations.applyToStore(spark, path, "t", "k",
        Seq(Mutations.Delete("other", Eq("k", 1L))))
    }
    assert(stray.getMessage.contains("mutates other"))
  }

  test("applyFieldsToStores: one document over a store registry — " +
    "in-order per table, cross-table routing, per-table rewrites") {
    import java.nio.file.Files
    val tPath = Files.createTempDirectory("graft_mt_t").toString
    val uPath = Files.createTempDirectory("graft_mt_u").toString
    SnapshotStore.write(snap, tPath)
    SnapshotStore.write(Seq((10L, "open", 5.0), (11L, "done", 7.0))
      .toDF("id", "st", "amt"), uPath)
    val doc =
      """mutation {
        |  update_t(where: {seg: {_eq: "A"}}, _inc: {bal: 1.0}) {
        |    affected_rows }
        |  insert_u_one(object: {id: 12, st: "open", amt: 2.0}) {
        |    affected_rows }
        |  again: update_t(where: {seg: {_eq: "A"}}, _inc: {bal: 1.0}) {
        |    affected_rows
        |    returning { k bal } }
        |  delete_u_by_pk(id: 10) { id amt }
        |}""".stripMargin
    val fields = GraphQl.parseMutationFields(doc).fold(m => fail(m), identity)
    val reg = Map("t" -> ((tPath, Seq("k"))), "u" -> ((uPath, Seq("id"))))
    val rs = Mutations.applyFieldsToStores(spark, reg, fields)
    assert(rs.map(_.affected) === Seq(2L, 1L, 2L, 1L))
    // the second t-update folded on the first (in-order per table):
    // k=1 bal 10 -> 12, k=2 bal 20 -> 22
    assert(rs(2).returning.get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 12.0), (2L, 22.0)))
    // the by_pk delete returned u's row untouched by t's writes
    assert(rs(3).returning.get.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((10L, 5.0)))
    // both stores persisted their final states
    assert(SnapshotStore.read(spark, tPath)
      .agg(org.apache.spark.sql.functions.sum("bal")).head.getDouble(0)
      === 12.0 + 22.0 + 30.0 + 40.0)
    assert(SnapshotStore.read(spark, uPath).orderBy("id").collect()
      .map(_.getLong(0)).toSeq === Seq(11L, 12L))
    // a table with no registered store rejects loudly BEFORE any write
    val e = intercept[IllegalArgumentException](
      Mutations.applyFieldsToStores(spark, reg,
        Seq(Mutations.Field(Mutations.Delete("nope", Eq("k", 1L))))))
    assert(e.getMessage.contains("no registered store"))
    // a field matching ZERO rows must not rewrite the store — the
    // read+swap would land byte-identical content (files unmodified)
    val fs = new org.apache.hadoop.fs.Path(tPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def mtimes(p: String): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      val m = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val f = it.next(); m(f.getPath.toString) = f.getModificationTime
      }
      m.toMap
    }
    val before = mtimes(tPath)
    val noop = Mutations.applyFieldsToStores(spark, reg,
      Seq(Mutations.Field(Mutations.Delete("t", Eq("seg", "NOPE")))))
    assert(noop.head.affected === 0L)
    assert(mtimes(tPath) === before,
      "a zero-affected field rewrote its store")
  }

  test("_inc guards: a non-numeric column or a null increment is loud " +
    "(a bare add would null the column across every matched row " +
    "while affected_rows reported success); the programmatic API's " +
    "natural Int literals coerce") {
    val e1 = intercept[IllegalArgumentException](
      Mutations.applyMutation(snap,
        Mutations.Update("t", Eq("k", 1L), Nil,
          inc = Seq("seg" -> "x")), "k"))
    assert(e1.getMessage.contains("needs a numeric column"))
    val e2 = intercept[IllegalArgumentException](
      Mutations.applyMutation(snap,
        Mutations.Update("t", Eq("k", 1L), Nil,
          inc = Seq("bal" -> null)), "k"))
    assert(e2.getMessage.contains("null increment"))
    // a scala Int where the column is long/double — the natural
    // programmatic literal, previously a spurious coercion failure
    val (next, n) = Mutations.applyMutation(snap,
      Mutations.Update("t", Eq("k", 1L), Seq("bal" -> 99), Nil), "k")
    assert(n === 1L)
    assert(next.filter(col("k") === 1L).head.getAs[Double]("bal")
      === 99.0)
    val (next2, n2) = Mutations.applyMutation(snap,
      Mutations.Insert("t", Seq(Seq("k" -> 9, "bal" -> 5))), "k")
    assert(n2 === 1L)
    assert(next2.filter(col("k") === 9L).head.getAs[Double]("bal")
      === 5.0)
  }

  private val nestedSchema = GraphQl.Schema(
    Map(("t", "kids") -> GraphQl.Rel("u", "fk", "k")), keys = Map.empty)

  test("nested insert: objects carrying {rel: {data: [...]}} parse to " +
    "an InsertTree with FK-stitched children and per-child conflict " +
    "policies; one field, one affected_rows over the registry") {
    val doc =
      """mutation {
        |  insert_t(objects: [
        |    {k: 5, seg: "N", bal: 1.0, kids: {data: [
        |      {id: 100, amt: 1.5}, {id: 101, amt: 2.5}]}},
        |    {k: 6, seg: "N", bal: 2.0, kids: {
        |      data: {id: 102, amt: 3.5},
        |      on_conflict: {constraint: u_pkey, update_columns: [amt]}}}
        |  ]) { affected_rows returning { k bal } }
        |}""".stripMargin
    val fields = GraphQl.parseMutationFields(doc, schema = nestedSchema)
      .fold(m => fail(m), identity)
    assert(fields.map(_.m) === Seq(Mutations.InsertTree(
      Mutations.Insert("t", Seq(
        Seq("k" -> 5L, "seg" -> "N", "bal" -> 1.0),
        Seq("k" -> 6L, "seg" -> "N", "bal" -> 2.0))),
      Seq(
        Mutations.Insert("u", Seq(
          Seq("id" -> 100L, "amt" -> 1.5, "fk" -> 5L),
          Seq("id" -> 101L, "amt" -> 2.5, "fk" -> 5L))),
        Mutations.Insert("u", Seq(
          Seq("id" -> 102L, "amt" -> 3.5, "fk" -> 6L)),
          updateColumns = Some(Seq("amt")))))))
    // execute over a registry: parent rows + child rows in one count,
    // returning = the parent rows; the stitched FK lands in the store
    import java.nio.file.Files
    val tPath = Files.createTempDirectory("graft_nt_t").toString
    val uPath = Files.createTempDirectory("graft_nt_u").toString
    SnapshotStore.write(snap, tPath)
    SnapshotStore.write(Seq((102L, 0L, 9.0)).toDF("id", "fk", "amt"),
      uPath)
    val rs = Mutations.applyFieldsToStores(spark,
      Map("t" -> ((tPath, Seq("k"))), "u" -> ((uPath, Seq("id")))), fields)
    assert(rs.map(_.affected) === Seq(5L)) // 2 parents + 3 children
    assert(rs.head.returning.get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((5L, 1.0), (6L, 2.0)))
    // child 102 clashed: on_conflict took the incoming amt AND the
    // stitched fk... fk is not an update_column, so it keeps 0L —
    // the policy applies to children exactly as to top-level inserts
    assert(SnapshotStore.read(spark, uPath).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((100L, 5L, 1.5), (101L, 5L, 2.5), (102L, 0L, 3.5)))
    // insert_<t>_one carries nested data the same way
    val one = GraphQl.parseMutationFields(
      """mutation { insert_t_one(object: {k: 9, seg: "N", bal: 0.5,
        |  kids: {data: [{id: 200, amt: 1.0}]}}) { affected_rows }
        |}""".stripMargin, schema = nestedSchema)
      .fold(m => fail(m), identity)
    assert(one.head.m === Mutations.InsertTree(
      Mutations.Insert("t", Seq(Seq("k" -> 9L, "seg" -> "N",
        "bal" -> 0.5))),
      Seq(Mutations.Insert("u",
        Seq(Seq("id" -> 200L, "amt" -> 1.0, "fk" -> 9L))))))
  }

  test("nested insert: silent-detach shapes reject loudly; the " +
    "single-snapshot path and the printer refuse an InsertTree") {
    def err(doc: String, frag: String): Unit = {
      val r = GraphQl.parseMutationFields(doc, schema = nestedSchema)
      assert(r.isLeft && r.left.exists(_.contains(frag)),
        s"wanted '$frag' in: $r")
    }
    // an object value that is not a tracked relationship
    err("""mutation { insert_t(objects: [{k: 1, nope: {data: [{id: 1}]}}])
          | { affected_rows } }""".stripMargin,
      "tracked relationship")
    // the parent must carry its key literally for the stitch
    err("""mutation { insert_t(objects: [{seg: "N", kids:
          | {data: [{id: 1}]}}]) { affected_rows } }""".stripMargin,
      "must carry k")
    // a child spelling the FK could contradict the stitch
    err("""mutation { insert_t(objects: [{k: 1, kids:
          | {data: [{id: 1, fk: 9}]}}]) { affected_rows } }""".stripMargin,
      "stitched from the parent")
    // empty / missing data, unknown nested fields
    err("""mutation { insert_t(objects: [{k: 1, kids: {data: []}}])
          | { affected_rows } }""".stripMargin, "empty objects list")
    err("""mutation { insert_t(objects: [{k: 1, kids:
          | {on_conflict: {constraint: c, update_columns: []}}}])
          | { affected_rows } }""".stripMargin, "data is required")
    err("""mutation { insert_t(objects: [{k: 1, kids: {data: [{id: 1}],
          | returning: true}}]) { affected_rows } }""".stripMargin,
      "unknown field 'returning'")
    // a null parent key cannot stitch
    err("""mutation { insert_t(objects: [{k: null, kids:
          | {data: [{id: 1}]}}]) { affected_rows } }""".stripMargin,
      "cannot be null")
    // spec 5.6.3: duplicate input-object keys refuse (last-wins would
    // be a silent order-dependent write — r18 review catch)
    err("""mutation { insert_t(objects: [{k: 1, seg: "A", seg: "B"}])
          | { affected_rows } }""".stripMargin, "duplicate field")
    err("""mutation { update_t(where: {k: {_eq: 1}},
          | _set: {seg: "A", seg: "B"}) { affected_rows } }""".stripMargin,
      "duplicate field")
    val tree = Mutations.InsertTree(
      Mutations.Insert("t", Seq(Seq("k" -> 1L))),
      Seq(Mutations.Insert("u", Seq(Seq("id" -> 1L, "fk" -> 1L)))))
    // the single-snapshot path spans one table only
    val e1 = intercept[IllegalArgumentException](
      Mutations.applyFields(snap, Seq(Mutations.Field(tree)), "k"))
    assert(e1.getMessage.contains("store registry"))
    // the printer refuses (children are stitched flat — no round-trip)
    val e2 = intercept[IllegalArgumentException](
      GraphQl.renderMutationFields(Seq(Mutations.Field(tree))))
    assert(e2.getMessage.contains("does not round-trip"))
  }

  private val deepSchema = GraphQl.Schema(
    Map(("t", "kids") -> GraphQl.Rel("u", "fk", "k"),
      ("u", "grand") -> GraphQl.Rel("w", "ufk", "id")),
    keys = Map.empty,
    objRels = Map(("t", "owner") -> GraphQl.Rel("o", "oid", "own_fk")))

  test("RECURSIVE nested inserts (r18): depth-2 array trees and " +
    "object-relationship (parent-side) inserts parse, stitch, and " +
    "execute with every level counted") {
    val doc =
      """mutation {
        |  insert_t(objects: [
        |    {k: 5, seg: "N", bal: 1.0,
        |     owner: {data: {oid: 70, nm: "x"}},
        |     kids: {data: [
        |       {id: 100, amt: 1.5, grand: {data: [{wid: 900, z: 4.0}]}},
        |       {id: 101, amt: 2.5}]}}
        |  ]) { affected_rows returning { k } }
        |}""".stripMargin
    val fields = GraphQl.parseMutationFields(doc, schema = deepSchema)
      .fold(m => fail(m), identity)
    // the object-rel's key stitches INTO the parent row (own_fk = 70);
    // the related row rides `before`; the depth-2 grandchild stitches
    // from ITS parent's key (ufk = 100) and nests under the kids node
    assert(fields.map(_.m) === Seq(Mutations.InsertTree(
      Mutations.Insert("t", Seq(
        Seq("k" -> 5L, "seg" -> "N", "bal" -> 1.0, "own_fk" -> 70L))),
      children = Seq(Mutations.InsertTree(
        Mutations.Insert("u", Seq(
          Seq("id" -> 100L, "amt" -> 1.5, "fk" -> 5L),
          Seq("id" -> 101L, "amt" -> 2.5, "fk" -> 5L))),
        children = Seq(Mutations.Insert("w",
          Seq(Seq("wid" -> 900L, "z" -> 4.0, "ufk" -> 100L)))))),
      before = Seq(Mutations.Insert("o",
        Seq(Seq("oid" -> 70L, "nm" -> "x")))))))
    // execute over a 4-store registry: ONE affected_rows counting
    // every level (1 owner + 1 parent + 2 kids + 1 grandchild = 5),
    // returning = the ROOT rows
    import java.nio.file.Files
    def fresh(tag: String, df: org.apache.spark.sql.DataFrame) = {
      val p = Files.createTempDirectory(s"graft_deep_$tag").toString
      SnapshotStore.write(df, p); p
    }
    val tP = fresh("t", Seq((1L, "A", 9.0)).toDF("k", "seg", "bal")
      .withColumn("own_fk", org.apache.spark.sql.functions
        .lit(null).cast("long")))
    val uP = fresh("u", Seq((1L, 0.0, 0L)).toDF("id", "amt", "fk"))
    val wP = fresh("w", Seq((1L, 0.0, 0L)).toDF("wid", "z", "ufk"))
    val oP = fresh("o", Seq((1L, "a")).toDF("oid", "nm"))
    val rs = Mutations.applyFieldsToStores(spark, Map(
      "t" -> ((tP, Seq("k"))), "u" -> ((uP, Seq("id"))),
      "w" -> ((wP, Seq("wid"))), "o" -> ((oP, Seq("oid")))), fields)
    assert(rs.map(_.affected) === Seq(5L))
    assert(rs.head.returning.get.collect().map(_.getLong(0)).toSeq ===
      Seq(5L))
    // every level landed at its stitched key
    assert(SnapshotStore.read(spark, tP).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getAs[Any]("own_fk"))).toSeq ===
      Seq((1L, null), (5L, 70L)))
    assert(SnapshotStore.read(spark, uP).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((1L, 0L), (100L, 5L), (101L, 5L)))
    assert(SnapshotStore.read(spark, wP).orderBy("wid").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((1L, 0L), (900L, 100L)))
    assert(SnapshotStore.read(spark, oP).orderBy("oid").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 70L))
  }

  test("recursive nested inserts: object-rel silent-detach shapes " +
    "reject loudly") {
    def err(doc: String, frag: String): Unit = {
      val r = GraphQl.parseMutationFields(doc, schema = deepSchema)
      assert(r.isLeft && r.left.exists(_.contains(frag)),
        s"wanted '$frag' in: $r")
    }
    // the row spelling the FK an object rel stitches
    err("""mutation { insert_t(objects: [{k: 1, own_fk: 9,
          | owner: {data: {oid: 70}}}]) { affected_rows } }""".stripMargin,
      "do not set own_fk")
    // object-rel data is ONE object, never a list
    err("""mutation { insert_t(objects: [{k: 1,
          | owner: {data: [{oid: 70}]}}]) { affected_rows } }"""
        .stripMargin, "expected ONE object")
    // the related object must carry its key for the stitch
    err("""mutation { insert_t(objects: [{k: 1,
          | owner: {data: {nm: "x"}}}]) { affected_rows } }""".stripMargin,
      "must carry oid")
    err("""mutation { insert_t(objects: [{k: 1,
          | owner: {data: {oid: null}}}]) { affected_rows } }"""
        .stripMargin, "cannot be null")
    // a grandchild spelling ITS stitched FK is caught at depth
    err("""mutation { insert_t(objects: [{k: 1, kids: {data:
          | [{id: 2, grand: {data: [{wid: 3, ufk: 9}]}}]}}])
          | { affected_rows } }""".stripMargin,
      "stitched from the parent")
    // two object rels stitching one FK column would be order-dependent
    val twoRels = GraphQl.Schema(Map.empty, keys = Map.empty,
      objRels = Map(
        ("t", "owner") -> GraphQl.Rel("o", "oid", "own_fk"),
        ("t", "boss") -> GraphQl.Rel("o", "oid", "own_fk")))
    val r = GraphQl.parseMutationFields(
      """mutation { insert_t(objects: [{k: 1,
        | owner: {data: {oid: 1}}, boss: {data: {oid: 2}}}])
        | { affected_rows } }""".stripMargin, schema = twoRels)
    assert(r.isLeft && r.left.exists(_.contains("more than once")),
      s"got: $r")
  }

  test("relationship predicates in mutation wheres (r18): the EXISTS " +
    "decorrelates against the registry's CURRENT folded state; the " +
    "single-snapshot path refuses loudly") {
    import java.nio.file.Files
    val tP = Files.createTempDirectory("graft_rw_t").toString
    val uP = Files.createTempDirectory("graft_rw_u").toString
    SnapshotStore.write(snap, tP) // k 1..4, segs A A B C
    SnapshotStore.write(Seq((10L, 1L, 5.0), (11L, 1L, 9.0),
      (12L, 3L, 7.0)).toDF("id", "fk", "amt"), uP)
    val schema2 = GraphQl.Schema(
      Map(("t", "kids") -> GraphQl.Rel("u", "fk", "k")),
      keys = Map.empty,
      objRels = Map(("u", "parent") -> GraphQl.Rel("t", "k", "fk")))
    val doc =
      """mutation {
        |  nuke: delete_u(where: {parent: {seg: {_eq: "A"}}}) {
        |    affected_rows }
        |  flag: update_t(where: {kids: {amt: {_gte: 6.0}}},
        |                 _set: {seg: "HOT"}) { affected_rows }
        |}""".stripMargin
    val fields = GraphQl.parseMutationFields(doc, schema = schema2)
      .fold(m => fail(m), identity)
    val rs = Mutations.applyFieldsToStores(spark,
      Map("t" -> ((tP, Seq("k"))), "u" -> ((uP, Seq("id")))), fields)
    // rows 10,11 belong to seg-A parent 1 — deleted; then the update
    // sees the POST-delete kids: only k=3 still has an amt >= 6 kid
    // (k=1's 9.0 kid was just deleted — an engine evaluating against
    // pre-document state re-segments k=1 too and fails here)
    assert(rs.map(_.affected) === Seq(2L, 1L))
    assert(SnapshotStore.read(spark, uP).orderBy("id").collect()
      .map(_.getLong(0)).toSeq === Seq(12L))
    assert(SnapshotStore.read(spark, tP).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "A"), (2L, "A"), (3L, "HOT"), (4L, "C")))
    // update_<t>_many: a LATER step's predicate on the mutated table
    // itself sees the EARLIER steps' writes (each step is its own
    // statement — r18 review catch: the registry's folded state only
    // advances per FIELD)
    val selfSchema = GraphQl.Schema(
      Map(("t", "peers") -> GraphQl.Rel("t", "seg", "seg")),
      keys = Map.empty)
    val tP2 = Files.createTempDirectory("graft_rw_t2").toString
    SnapshotStore.write(snap, tP2)
    val many = GraphQl.parseMutationFields(
      """mutation { update_t_many(updates: [
        |  {where: {k: {_eq: 3}}, _set: {seg: "A"}},
        |  {where: {peers: {bal: {_gte: 25.0}}}, _inc: {bal: 1.0}}
        |]) { affected_rows } }""".stripMargin, schema = selfSchema)
      .fold(m => fail(m), identity)
    val rs2 = Mutations.applyFieldsToStores(spark,
      Map("t" -> ((tP2, Seq("k")))), many)
    // step 1 moves k=3 (bal 30) into seg A; step 2 increments every
    // row whose SEGMENT (post-step-1) contains a bal >= 25 row: seg A
    // now qualifies THROUGH k=3 — stale-state evaluation would see
    // seg A maxing at 20 and skip k=1,2,3
    assert(rs2.head.perStep.get.map(_.affected) === Seq(1L, 4L))
    assert(SnapshotStore.read(spark, tP2).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq ===
      Seq((1L, 11.0), (2L, 21.0), (3L, 31.0), (4L, 41.0)))
    // the single-snapshot path cannot load the child table — loud
    val e = intercept[IllegalArgumentException](
      Mutations.applyFields(snap, Seq(fields(1)), "k"))
    assert(e.getMessage.contains("store registry"))
    // an UNREGISTERED child table is loud, never a silent no-match
    val e2 = intercept[IllegalArgumentException](
      Mutations.applyFieldsToStores(spark,
        Map("t" -> ((tP, Seq("k")))), Seq(fields(1))))
    assert(e2.getMessage.contains("relationship child"))
  }

  test("on_conflict.where (r18): the conditional upsert updates only " +
    "where the predicate holds on the STORED row; suppressed clashes " +
    "neither write nor count") {
    // snap: k=1 bal 10, k=3 bal 30 — predicate bal < 15 passes 1,
    // fails 3; k=9 is fresh
    val ins = Mutations.Insert("t", Seq(
      Seq("k" -> 1L, "seg" -> "HIT", "bal" -> 999.0),
      Seq("k" -> 3L, "seg" -> "MISS", "bal" -> 888.0),
      Seq("k" -> 9L, "seg" -> "NEW", "bal" -> 1.0)),
      updateColumns = Some(Seq("seg")),
      conflictWhere = Some(Lt("bal", 15.0)))
    val (next, n) = Mutations.applyMutation(snap, ins, "k")
    assert(n === 2L) // fresh 9 + updated 1; the clash on 3 suppressed
    val rows = next.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    // key 1: listed column updates, bal keeps STORED 10 (q120's
    // partial-update rule composes); key 3: untouched entirely
    assert(rows === Seq((1L, "HIT", 10.0), (2L, "A", 20.0),
      (3L, "B", 30.0), (4L, "C", 40.0), (9L, "NEW", 1.0)))
    // where without a real update to condition refuses at construction
    val e = intercept[IllegalArgumentException](
      Mutations.Insert("t", Seq(Seq("k" -> 1L)),
        updateColumns = Some(Nil), conflictWhere = Some(Lt("bal", 1.0))))
    assert(e.getMessage.contains("needs update_columns"))
    // the GraphQL spelling parses and round-trips
    val fs = GraphQl.parseMutationFields(
      """mutation { insert_t(objects: [{k: 1, seg: "X"}],
        |  on_conflict: {constraint: t_pkey, update_columns: [seg],
        |                where: {bal: {_lt: 15.0}}}) { affected_rows }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(fs.head.m === Mutations.Insert("t",
      Seq(Seq("k" -> 1L, "seg" -> "X")),
      updateColumns = Some(Seq("seg")),
      conflictWhere = Some(Lt("bal", 15.0))))
    assert(GraphQl.parseMutationFields(
      GraphQl.renderMutationFields(fs)) === Right(fs))
    // parse-side guard: where over do-nothing is loud
    val r = GraphQl.parseMutationFields(
      """mutation { insert_t(objects: [{k: 1}],
        |  on_conflict: {constraint: t_pkey, update_columns: [],
        |                where: {bal: {_lt: 15.0}}}) { affected_rows }
        |}""".stripMargin)
    assert(r.isLeft && r.left.exists(_.contains("needs update_columns")))
  }

  test("JSONB update operators (r18): the five Hasura arguments " +
    "parse on all three update spellings; malformed operands and " +
    "operator-column collisions are loud") {
    import graft.functions.JsonbOps
    val fs = GraphQl.parseMutationFields(
      """mutation {
        |  update_t(where: {k: {_eq: 1}},
        |    _append: {props: {tags: ["a"], n: 2}},
        |    _delete_key: {other: "x"}) { affected_rows }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(fs.head.m === Mutations.Update("t", Eq("k", 1L), Nil, Nil,
      jsonb = Seq(
        "props" -> JsonbOps.Append("""{"tags":["a"],"n":2}"""),
        "other" -> JsonbOps.DeleteKey("x"))))
    // by_pk and _many take the family too
    val pk = GraphQl.parseMutationFields(
      """mutation { update_t_by_pk(pk_columns: {k: 1},
        |  _delete_at_path: {props: ["m", 0, "y"]}) { k }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(pk.head.m === Mutations.Update("t", Eq("k", 1L), Nil, Nil,
      jsonb = Seq("props" ->
        JsonbOps.DeleteAtPath(Seq("m", "0", "y")))))
    val many = GraphQl.parseMutationFields(
      """mutation { update_t_many(updates: [
        |  {where: {k: {_eq: 1}}, _prepend: {props: {a: 1}}},
        |  {where: {k: {_eq: 2}}, _delete_elem: {props: -1}}
        |]) { affected_rows } }""".stripMargin)
      .fold(m => fail(m), identity)
    assert(many.head.m === Mutations.UpdateMany("t", Seq(
      Mutations.Update("t", Eq("k", 1L), Nil, Nil,
        jsonb = Seq("props" -> JsonbOps.Prepend("""{"a":1}"""))),
      Mutations.Update("t", Eq("k", 2L), Nil, Nil,
        jsonb = Seq("props" -> JsonbOps.DeleteElem(-1))))))
    def err(doc: String, frag: String): Unit = {
      val r = GraphQl.parseMutationFields(doc)
      assert(r.isLeft && r.left.exists(_.contains(frag)),
        s"wanted '$frag' in: $r")
    }
    err("mutation { update_t(where: {k: {_eq: 1}}, " +
      "_delete_key: {props: 5}) { affected_rows } }",
      "expected a string key")
    err("mutation { update_t(where: {k: {_eq: 1}}, " +
      "_delete_elem: {props: \"x\"}) { affected_rows } }",
      "expected an integer index")
    err("mutation { update_t(where: {k: {_eq: 1}}, " +
      "_delete_at_path: {props: []}) { affected_rows } }",
      "empty path")
    err("mutation { update_t(where: {k: {_eq: 1}}, " +
      "_append: {props: UP}) { affected_rows } }",
      "not a JSON value")
    // one column in two operators would write an order-dependent value
    err("mutation { update_t(where: {k: {_eq: 1}}, " +
      "_set: {props: \"x\"}, _delete_key: {props: \"a\"}) " +
      "{ affected_rows } }", "more than one update operator")
    // ...including two DIFFERENT jsonb operators on one column (the
    // r18 review catch: a within-family collision is exactly as
    // order-dependent as the cross-family one)
    err("mutation { update_t(where: {k: {_eq: 1}}, " +
      "_append: {props: {tags: [\"x\"]}}, _delete_key: {props: \"tags\"}) " +
      "{ affected_rows } }", "more than one update operator")
    // execution: a jsonb op against a NON-string column is loud
    val e = intercept[IllegalArgumentException](
      Mutations.applyFields(snap, Seq(Mutations.Field(
        Mutations.Update("t", Eq("k", 1L), Nil, Nil,
          jsonb = Seq("bal" -> JsonbOps.DeleteKey("a"))))), "k"))
    assert(e.getMessage.contains("JSON-text"))
    // the printer refuses jsonb ops (operands canonicalized — no
    // byte-exact round-trip)
    val e2 = intercept[IllegalArgumentException](
      GraphQl.renderMutationFields(fs))
    assert(e2.getMessage.contains("do not round-trip"))
  }

  test("mutation ROOT-FIELD aliases (r18): the response key is the " +
    "alias — repeated verbs need them, identical repeats collapse " +
    "to one execution, aliased fields render back") {
    val fs = GraphQl.parseMutationFields(
      """mutation {
        |  lo: update_t(where: {bal: {_lt: 25.0}}, _set: {seg: "LOW"})
        |    { affected_rows }
        |  hi: update_t(where: {bal: {_gte: 25.0}}, _set: {seg: "HI"})
        |    { affected_rows }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(fs.map(_.as) === Seq(Some("lo"), Some("hi")))
    // both steps execute (distinct keys)
    val (next, rs) = Mutations.applyFields(snap, fs, "k")
    assert(rs.map(_.affected) === Seq(2L, 2L))
    assert(next.orderBy("k").collect().map(_.getString(1)).toSeq ===
      Seq("LOW", "LOW", "HI", "HI"))
    // distinct fields under ONE response key refuse (Hasura's rule)
    val dup = GraphQl.parseMutationFields(
      """mutation {
        |  update_t(where: {k: {_eq: 1}}, _set: {seg: "A"})
        |    { affected_rows }
        |  update_t(where: {k: {_eq: 2}}, _set: {seg: "B"})
        |    { affected_rows }
        |}""".stripMargin)
    assert(dup.isLeft &&
      dup.left.exists(_.contains("duplicate mutation response key")))
    // IDENTICAL repeats collapse to one execution (spec 5.3.2: merged
    // fields are one response entry)
    val same = GraphQl.parseMutationFields(
      """mutation {
        |  update_t(where: {k: {_eq: 1}}, _inc: {bal: 5.0})
        |    { affected_rows }
        |  update_t(where: {k: {_eq: 1}}, _inc: {bal: 5.0})
        |    { affected_rows }
        |}""".stripMargin).fold(m => fail(m), identity)
    assert(same.size === 1)
    val (next2, _) = Mutations.applyFields(snap, same, "k")
    assert(next2.filter($"k" === 1L).collect().head.getDouble(2) === 15.0)
    // printer round-trip carries the alias
    assert(GraphQl.parseMutationFields(
      GraphQl.renderMutationFields(fs)) === Right(fs))
  }

  test("update_many: updates apply sequentially (later steps see " +
    "earlier writes), per-step responses, printer round-trip") {
    val doc =
      """mutation {
        |  update_t_many(updates: [
        |    {where: {bal: {_lt: 25.0}}, _set: {seg: "LOW"}},
        |    {where: {seg: {_eq: "LOW"}}, _inc: {bal: 100.0}}
        |  ]) { affected_rows returning { k bal } }
        |}""".stripMargin
    val fields = GraphQl.parseMutationFields(doc).fold(m => fail(m),
      identity)
    assert(fields.map(_.m) === Seq(Mutations.UpdateMany("t", Seq(
      Mutations.Update("t", Lt("bal", 25.0), Seq("seg" -> "LOW")),
      Mutations.Update("t", Eq("seg", "LOW"), Nil,
        Seq("bal" -> 100.0))))))
    // snap: k=1 bal 10 seg A, k=2 bal 20 seg A, k=3 bal 30, k=4 bal 40
    // step 1 re-segments k=1,2 to LOW; step 2 increments EXACTLY those
    val (next, rs) = Mutations.applyFields(snap, fields, "k")
    val fr = rs.head
    assert(fr.affected === 4L) // 2 + 2
    assert(fr.perStep.get.map(_.affected) === Seq(2L, 2L))
    // per-step returning: step 1's rows at their pre-inc balances,
    // step 2's after the increment
    assert(fr.perStep.get.head.returning.get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 10.0), (2L, 20.0)))
    assert(fr.perStep.get(1).returning.get.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 110.0), (2L, 120.0)))
    assert(next.orderBy("k").collect().map(_.getDouble(2)).toSeq ===
      Seq(110.0, 120.0, 30.0, 40.0))
    // printer round-trip (the perStep selection renders as returning)
    assert(GraphQl.parseMutationFields(
      GraphQl.renderMutationFields(fields)) === Right(fields))
    // rejections: empty list, unknown step field, missing where,
    // steps with neither _set nor _inc
    def err(d: String, frag: String): Unit = {
      val r = GraphQl.parseMutationFields(d)
      assert(r.isLeft && r.left.exists(_.contains(frag)),
        s"wanted '$frag' in: $r")
    }
    err("mutation { update_t_many(updates: []) { affected_rows } }",
      "empty list")
    err("mutation { update_t_many(updates: [{where: {k: {_eq: 1}}, " +
      "limit: 2}]) { affected_rows } }", "unknown field 'limit'")
    err("mutation { update_t_many(updates: [{_set: {seg: \"X\"}}]) " +
      "{ affected_rows } }", "where is required")
    err("mutation { update_t_many(updates: [{where: {k: {_eq: 1}}}]) " +
      "{ affected_rows } }", "needs _set and/or _inc")
    // the single-mutation path refuses (per-step results live in
    // applyFields)
    val e = intercept[IllegalArgumentException](
      Mutations.applyMutation(snap, fields.head.m, "k"))
    assert(e.getMessage.contains("applyFields"))
  }

  test("printer: parseMutations(renderMutations(ms)) == Right(ms) over " +
    "generated documents (deterministic property sweep)") {
    import org.scalacheck.{Gen, rng}
    val cols = Seq("k", "seg", "bal", "note")
    val tables = Seq("t", "docs", "events")
    // object values may be null (a legal GraphQL object literal);
    // where-tree literals may not (the _eq: null ambiguity the read
    // printer documents)
    def genObjLit: Gen[Any] = Gen.oneOf(
      Gen.choose(-100000L, 100000L),
      Gen.oneOf("A", "x%", "O'hare \"q\"", "", "line\nbreak", "tab\there"),
      Gen.choose(-1.0e6, 1.0e6),
      Gen.oneOf(true, false),
      Gen.const(null))
    def genWhereLit: Gen[Any] = Gen.oneOf(
      Gen.choose(-100000L, 100000L),
      Gen.oneOf("A", "%x", "O'hare \"q\""),
      Gen.choose(-1.0e6, 1.0e6))
    def genLeaf: Gen[BoolExp] = for {
      f <- Gen.oneOf(cols)
      leaf <- Gen.oneOf[Gen[BoolExp]](
        genWhereLit.map(Eq(f, _)), genWhereLit.map(Gt(f, _)),
        genWhereLit.map(Lte(f, _)),
        Gen.listOfN(2, genWhereLit).map(In(f, _)),
        Gen.oneOf("%x%", "a_b").map(Like(f, _)),
        Gen.oneOf(true, false).map(IsNull(f, _))).flatMap(identity)
    } yield leaf
    def genTree(depth: Int): Gen[BoolExp] =
      if (depth <= 0) genLeaf
      else Gen.frequency(
        3 -> genLeaf,
        1 -> Gen.choose(1, 3).flatMap(n =>
          Gen.listOfN(n, genTree(depth - 1)).map(es => And(es: _*))),
        1 -> Gen.choose(1, 3).flatMap(n =>
          Gen.listOfN(n, genTree(depth - 1)).map(es => Or(es: _*))),
        1 -> genTree(depth - 1).map(Not(_)))
    def genEntries: Gen[Seq[(String, Any)]] = for {
      n <- Gen.choose(1, cols.length)
      ks <- Gen.pick(n, cols)
      vs <- Gen.listOfN(n, genObjLit)
    } yield ks.toSeq.zip(vs)
    val genInsert: Gen[Mutations.Mutation] = for {
      t <- Gen.oneOf(tables)
      nr <- Gen.choose(1, 3)
      rows <- Gen.listOfN(nr, genEntries)
      oc <- Gen.oneOf[Gen[Option[Seq[String]]]](
        Gen.const(None), Gen.const(Some(Nil)),
        Gen.choose(1, 2).flatMap(n =>
          Gen.pick(n, Seq("seg", "bal")).map(ps => Some(ps.toSeq))))
        .flatMap(identity)
    } yield Mutations.Insert(t, rows, updateColumns = oc)
    val genUpdate: Gen[Mutations.Mutation] = for {
      t <- Gen.oneOf(tables)
      w <- genTree(2)
      hasSet <- Gen.oneOf(true, false)
      set <- if (hasSet) genEntries else Gen.const(Nil)
      inc <- if (hasSet)
        Gen.oneOf[Gen[Seq[(String, Any)]]](Gen.const(Nil), genEntries)
          .flatMap(identity)
      else genEntries
    } yield Mutations.Update(t, w, set,
      // a column in both operators is Hasura's operator conflict —
      // rejected at construction, so the generator avoids it
      inc.filterNot(e => set.exists(_._1 == e._1)))
    val genDelete: Gen[Mutations.Mutation] =
      for { t <- Gen.oneOf(tables); w <- genTree(2) }
        yield Mutations.Delete(t, w)
    val genDoc: Gen[Seq[Mutations.Mutation]] = for {
      n <- Gen.choose(1, 4)
      ms <- Gen.listOfN(n,
        Gen.oneOf[Gen[Mutations.Mutation]](genInsert, genUpdate, genDelete)
          .flatMap(identity))
    } yield ms
    var checked = 0
    (1 to 400).foreach { seed =>
      genDoc.apply(Gen.Parameters.default, rng.Seed(seed.toLong))
        .foreach { ms =>
          checked += 1
          val text = GraphQl.renderMutations(ms)
          assert(GraphQl.parseMutations(text) === Right(ms),
            s"seed $seed did not round-trip:\n$text\n$ms")
        }
    }
    assert(checked > 300, s"generator drought: only $checked samples")
    // unrenderable shapes reject loudly, not drift
    assertThrows[IllegalArgumentException](GraphQl.renderMutations(Seq(
      Mutations.Insert("t", Seq(Seq("k" -> 1L)), upsert = true))))
    assertThrows[IllegalArgumentException](GraphQl.renderMutations(Seq(
      Mutations.Insert("t_one", Seq(Seq("k" -> 1L))))))
    assertThrows[IllegalArgumentException](
      GraphQl.renderMutations(Nil))
    // a non-Name identifier would parse back DIFFERENTLY (an 'a b'
    // column reads as two enums) — loud, never a drifted Right
    assertThrows[IllegalArgumentException](GraphQl.renderMutations(Seq(
      Mutations.Insert("t", Seq(Seq("k" -> 1L)),
        updateColumns = Some(Seq("a b"))))))
    assertThrows[IllegalArgumentException](GraphQl.renderMutations(Seq(
      Mutations.Insert("t", Seq(Seq("bad key" -> 1L))))))
    assertThrows[IllegalArgumentException](GraphQl.renderMutations(Seq(
      Mutations.Delete("no-table", Eq("k", 1L)))))
  }

  test("printer: parseMutationFields(renderMutationFields(fs)) == " +
    "Right(fs) over the FULL grammar (by_pk, returning, insert_one)") {
    import org.scalacheck.{Gen, rng}
    val cols = Seq("k", "seg", "bal", "note")
    val tables = Seq("t", "docs", "events")
    def genObjLit: Gen[Any] = Gen.oneOf(
      Gen.choose(-100000L, 100000L),
      Gen.oneOf("A", "x%", "O'hare \"q\"", "", "line\nbreak"),
      Gen.choose(-1.0e6, 1.0e6),
      Gen.oneOf(true, false),
      Gen.const(null))
    def genEntries: Gen[Seq[(String, Any)]] = for {
      n <- Gen.choose(1, cols.length)
      ks <- Gen.pick(n, cols)
      vs <- Gen.listOfN(n, genObjLit)
    } yield ks.toSeq.zip(vs)
    def genPk: Gen[BoolExp] = for {
      f <- Gen.oneOf("k", "id")
      v <- Gen.oneOf[Gen[Any]](Gen.choose(-9999L, 9999L),
        Gen.oneOf("a", "O'k")).flatMap(identity)
    } yield Eq(f, v)
    def genRet: Gen[Seq[String]] =
      Gen.choose(1, 3).flatMap(n => Gen.pick(n, cols)).map(_.toSeq)
    val genByPkUpdate: Gen[Mutations.Field] = for {
      t <- Gen.oneOf(tables); w <- genPk
      set <- genEntries; ret <- genRet
    } yield Mutations.Field(Mutations.Update(t, w, set), Some(ret),
      single = true)
    val genByPkDelete: Gen[Mutations.Field] = for {
      t <- Gen.oneOf(tables); w <- genPk; ret <- genRet
    } yield Mutations.Field(Mutations.Delete(t, w), Some(ret),
      single = true)
    val genInsertOne: Gen[Mutations.Field] = for {
      t <- Gen.oneOf(tables); row <- genEntries; ret <- genRet
      oc <- Gen.oneOf[Option[Seq[String]]](None, Some(Nil),
        Some(Seq("seg")))
    } yield Mutations.Field(
      Mutations.Insert(t, Seq(row), updateColumns = oc), Some(ret),
      single = true)
    val genPlainRet: Gen[Mutations.Field] = for {
      t <- Gen.oneOf(tables)
      w <- genPk
      ret <- Gen.oneOf[Option[Seq[String]]](None, None).flatMap(_ =>
        Gen.option(genRet))
      verb <- Gen.oneOf(0, 1, 2)
      set <- genEntries
      rows <- Gen.listOfN(2, genEntries)
    } yield verb match {
      case 0 => Mutations.Field(Mutations.Insert(t, rows), ret)
      case 1 => Mutations.Field(Mutations.Update(t, w, set), ret)
      case _ => Mutations.Field(Mutations.Delete(t, w), ret)
    }
    val genDoc: Gen[Seq[Mutations.Field]] = for {
      n <- Gen.choose(1, 4)
      fs <- Gen.listOfN(n, Gen.oneOf[Gen[Mutations.Field]](
        genByPkUpdate, genByPkDelete, genInsertOne, genPlainRet)
        .flatMap(identity))
      // root-field aliases (r18) keep generated response keys unique
      // (repeated verbs would refuse, Hasura's rule) AND walk the
      // alias printer on every sample
    } yield fs.zipWithIndex.map { case (f, i) =>
      f.copy(as = Some(s"m$i")) }
    var checked = 0
    (1 to 400).foreach { seed =>
      genDoc.apply(Gen.Parameters.default, rng.Seed(seed.toLong))
        .foreach { fs =>
          checked += 1
          val text = GraphQl.renderMutationFields(fs)
          assert(GraphQl.parseMutationFields(text) === Right(fs),
            s"seed $seed did not round-trip:\n$text\n$fs")
        }
    }
    assert(checked > 300, s"generator drought: only $checked samples")
    // unrenderable shapes reject loudly
    // by_pk with a non-Eq where has no spelling
    assertThrows[IllegalArgumentException](GraphQl.renderMutationFields(
      Seq(Mutations.Field(Mutations.Delete("t", Gt("k", 1L)),
        Some(Seq("k")), single = true))))
    // a by_pk response IS the row — no returning columns, no spelling
    assertThrows[IllegalArgumentException](GraphQl.renderMutationFields(
      Seq(Mutations.Field(Mutations.Delete("t", Eq("k", 1L)), None,
        single = true))))
    // a table named like the verb suffix would parse as by_pk
    assertThrows[IllegalArgumentException](GraphQl.renderMutationFields(
      Seq(Mutations.Field(Mutations.Update("x_by_pk", Eq("k", 1L),
        Seq("seg" -> "A")), None))))
    // single insert with two rows has no _one spelling
    assertThrows[IllegalArgumentException](GraphQl.renderMutationFields(
      Seq(Mutations.Field(Mutations.Insert("t",
        Seq(Seq("k" -> 1L), Seq("k" -> 2L))), Some(Seq("k")),
        single = true))))
  }

  test("@include/@skip gate mutation fields: excluded steps parse " +
      "and compile but never execute") {
    val doc =
      """mutation M($dry: Boolean!) {
        |  update_t(where: {k: {_eq: 1}}, _set: {seg: "X"})
        |    @skip(if: $dry) { affected_rows }
        |  delete_t(where: {seg: {_eq: "C"}}) @include(if: false) {
        |    affected_rows }
        |  bump: update_t(where: {k: {_eq: 2}}, _inc: {bal: 1.0}) {
        |    affected_rows }
        |}""".stripMargin
    val dry = GraphQl.parseMutationFields(doc, """{"dry": true}""")
      .fold(m => fail(m), identity)
    assert(dry.map(_.m) === Seq(
      Mutations.Update("t", Eq("k", 2L), Nil, Seq("bal" -> 1.0))))
    val live = GraphQl.parseMutationFields(doc, """{"dry": false}""")
      .fold(m => fail(m), identity)
    assert(live.length === 2) // the @include(if: false) field never runs
    // an excluded field still compiles — malformed writes stay loud
    assert(GraphQl.parseMutationFields(
      """mutation { update_t(_set: {seg: "X"}) @include(if: false) {
        |  affected_rows } }""".stripMargin).isLeft)
    // a fully-excluded document is a valid NO-OP (the dry-run toggle),
    // not an error; a document with no fields at all stays malformed
    assert(GraphQl.parseMutationFields(
      """mutation M($dry: Boolean!) {
        |  update_t(where: {k: {_eq: 1}}, _set: {seg: "X"})
        |    @skip(if: $dry) { affected_rows }
        |}""".stripMargin, """{"dry": true}""") === Right(Nil))
    assert(GraphQl.parseMutationFields("mutation { }").isLeft)
    // a malformed @skip cannot hide behind a false @include
    GraphQl.parseMutationFields(
      """mutation { update_t(where: {k: {_eq: 1}}, _set: {seg: "X"})
        |  @include(if: false) @skip(if: 1) { affected_rows } }"""
        .stripMargin) match {
      case Left(m) => assert(m.contains("@skip"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    // a mixed query+mutation document selects the mutation by
    // operationName; selecting the QUERY here is diagnosed as such
    val mixed =
      """query R { region { r_regionkey } }
        |mutation W { delete_t(where: {seg: {_eq: "C"}}) {
        |  affected_rows } }""".stripMargin
    assert(GraphQl.parseMutationFields(mixed,
      operationName = Some("W")) === Right(Seq(Mutations.Field(
      Mutations.Delete("t", Eq("seg", "C"))))))
    GraphQl.parseMutationFields(mixed, operationName = Some("R")) match {
      case Left(m) => assert(m.contains("expected 'mutation'"), m)
      case Right(r) => fail(s"parsed: $r")
    }
    assert(GraphQl.parseMutationFields(mixed).isLeft) // needs the name
  }

  test("deleteVictims compiles KeySet to a left-semi join, never an " +
      "In literal") {
    val snapshot = spark.range(1000)
      .select(col("id").as("k"), (col("id") % 7).as("seg"))
    val keys = spark.range(400).toDF("whatever") // name is irrelevant
    val victims = Mutations.deleteVictims(snapshot,
      KeySet("k", keys))
    val opt = victims.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi"), s"expected a semi-join:\n$opt")
    assert(!opt.contains(" IN "), s"keys leaked into a literal:\n$opt")
    assert(victims.count() === 400L)
    // the DSL leaf is structural-only: no Column form, no wire form
    assertThrows[UnsupportedOperationException](
      KeySet("k", keys).toColumn)
    assertThrows[IllegalArgumentException](
      KeySet("k", keys.withColumn("extra", lit(1))))
  }

  test("cascadeForget above the inline guard: a broad predicate " +
      "never materializes its keys on the driver") {
    import java.nio.file.Files
    val pPath = Files.createTempDirectory("graft_cf_p").toString
    val cPath = Files.createTempDirectory("graft_cf_c").toString
    val n = 20000L // doomed set (15000) >> CascadeInlineKeys (1000)
    SnapshotStore.write(spark.range(n).select(col("id").as("k"),
      (col("id") % 3).cast("string").as("seg")), pPath)
    SnapshotStore.write(spark.range(2 * n).select(col("id").as("ck"),
      floor(col("id") / 2).as("fk")), cPath)
    val res = Mutations.cascadeForget(spark,
      Map("p" -> ((pPath, Seq("k"))), "c" -> ((cPath, Seq("ck")))),
      "p", Lt("k", 15000L), Seq(("c", "fk")))
    assert(res === Seq(("p", 15000L), ("c", 30000L)))
    assert(SnapshotStore.read(spark, pPath).count() === 5000L)
    val c2 = SnapshotStore.read(spark, cPath)
    assert(c2.count() === 10000L)
    assert(c2.agg(min("fk")).head.getLong(0) === 15000L)
    // the person-sized fast path still inlines (and still cascades)
    val res2 = Mutations.cascadeForget(spark,
      Map("p" -> ((pPath, Seq("k"))), "c" -> ((cPath, Seq("ck")))),
      "p", Eq("k", 17000L), Seq(("c", "fk")))
    assert(res2 === Seq(("p", 1L), ("c", 2L)))
    // no doomed parents → zero-row rewrites, not errors
    val res3 = Mutations.cascadeForget(spark,
      Map("p" -> ((pPath, Seq("k"))), "c" -> ((cPath, Seq("ck")))),
      "p", Eq("k", -1L), Seq(("c", "fk")))
    assert(res3 === Seq(("p", 0L), ("c", 0L)))
  }

  test("q118 round-trip matches the SQL replay shape locally") {
    val out = GraphQl.q118MutationRoundTrip(spark, "/root/testdata/sf0.001")
    val bySeg = out.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // sf0.001 customer: 150 rows keyed 0..149; update touches 0..10
    // (11 rows), delete >1490 touches nothing, insert adds one
    // BUILDING row
    assert(bySeg("MUTATED")._1 === 11L)
    assert(bySeg.values.map(_._1).sum === 151L)
  }

  test("COMPOSITE primary keys (r19): the merge window partitions on " +
    "the full tuple, by_pk verbs must name every component, and the " +
    "clash check admits a new second component under an existing " +
    "first") {
    import org.apache.spark.sql.functions.col
    val snap2 = Seq((1L, 1, "a", 10.0), (1L, 2, "b", 20.0),
      (2L, 1, "c", 30.0)).toDF("k1", "k2", "seg", "bal")
    val ks = Seq("k1", "k2")
    // update_by_pk touches exactly ONE tuple — its sibling under the
    // same k1 is untouched (a single-component window would collapse
    // or co-update them)
    val (n1, a1) = Mutations.applyMutation(snap2,
      Mutations.Update("t",
        And(Eq("k1", 1L), Eq("k2", 1L)), Seq("seg" -> "X")), ks)
    assert(a1 === 1L)
    assert(n1.orderBy("k1", "k2").collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ===
      Seq((1L, 1, "X"), (1L, 2, "b"), (2L, 1, "c")))
    // a by_pk verb naming only ONE component is a silent mass write —
    // the store layer rejects it
    val e = intercept[IllegalArgumentException](
      Mutations.applyFields(snap2, Seq(Mutations.Field(
        Mutations.Update("t", Eq("k1", 1L), Seq("seg" -> "Y")),
        single = true)), ks, None))
    assert(e.getMessage.contains("key column(s) 'k1, k2'"))
    // both components named (in an And) passes
    val (_, rs) = Mutations.applyFields(snap2, Seq(Mutations.Field(
      Mutations.Delete("t", And(Eq("k2", 2L), Eq("k1", 1L))),
      single = true)), ks, None)
    assert(rs.head.affected === 1L)
    // plain insert: (1, 3) is NEW even though k1=1 exists — the
    // composite clash check admits it; (1, 2) clashes and rejects
    val (n3, a3) = Mutations.applyMutation(snap2,
      Mutations.Insert("t",
        Seq(Seq("k1" -> 1L, "k2" -> 3L, "seg" -> "n", "bal" -> 1.0))),
      ks)
    assert(a3 === 1L && n3.count() === 4L)
    val clash = intercept[IllegalArgumentException](
      Mutations.applyMutation(snap2, Mutations.Insert("t",
        Seq(Seq("k1" -> 1L, "k2" -> 2L, "seg" -> "n"))), ks))
    assert(clash.getMessage.contains("already exist"))
    // on_conflict update_columns matches the stored row on the FULL
    // tuple: (1,2) updates seg only, (2,9) inserts fresh
    val (n4, a4) = Mutations.applyMutation(snap2,
      Mutations.Insert("t",
        Seq(Seq("k1" -> 1L, "k2" -> 2L, "seg" -> "U"),
          Seq("k1" -> 2L, "k2" -> 9L, "seg" -> "F", "bal" -> 9.0)),
        updateColumns = Some(Seq("seg"))), ks)
    assert(a4 === 2L)
    val got = n4.orderBy("k1", "k2").collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSeq
    assert(got === Seq((1L, 1, "a", Some(10.0)),
      (1L, 2, "U", Some(20.0)), // stored bal kept, seg updated
      (2L, 1, "c", Some(30.0)), (2L, 9, "F", Some(9.0))))
    // every key component must be present and non-null in inserts
    val nul = intercept[IllegalArgumentException](
      Mutations.applyMutation(snap2, Mutations.Insert("t",
        Seq(Seq("k1" -> 5L, "seg" -> "n"))), ks))
    assert(nul.getMessage.contains("non-null k2"))
    // a duplicate TUPLE within one objects list rejects; same k1
    // under different k2 is fine
    val dup = intercept[IllegalArgumentException](
      Mutations.applyMutation(snap2, Mutations.Insert("t",
        Seq(Seq("k1" -> 7L, "k2" -> 1L), Seq("k1" -> 7L, "k2" -> 1L))),
        ks))
    assert(dup.getMessage.contains("duplicate key"))
    val okDup = Mutations.applyMutation(snap2, Mutations.Insert("t",
      Seq(Seq("k1" -> 7L, "k2" -> 1L), Seq("k1" -> 7L, "k2" -> 2L))),
      ks)
    assert(okDup._2 === 2L)
  }

  test("composite by_pk GraphQL surface: introspection advertises one " +
    "NonNull argument per key component and the pk_columns input " +
    "carries both fields") {
    val ms = GraphQl.metaSchema(spark, sf("sf0.001"),
      GraphQl.compositeSchema, Seq("lineitem"), Map.empty)
    val q = ms.types.find(_.tname == "query_root").get
    val byPk = q.mfields.find(_.fname == "lineitem_by_pk").get
    assert(byPk.fargs.map(_.fname) === Seq("l_orderkey", "l_linenumber"))
    val pkIn = ms.types.find(_.tname == "lineitem_pk_columns_input").get
    assert(pkIn.mfields.map(_.fname) ===
      Seq("l_orderkey", "l_linenumber"))
    val mr = ms.types.find(_.tname == "mutation_root").get
    val delByPk = mr.mfields.find(_.fname == "delete_lineitem_by_pk").get
    assert(delByPk.fargs.map(_.fname) ===
      Seq("l_orderkey", "l_linenumber"))
    // the by_pk READ parse requires EVERY component
    val missing = GraphQl.parse(
      "query { lineitem_by_pk(l_orderkey: 1) { l_orderkey } }",
      schema = GraphQl.compositeSchema)
    assert(missing.isLeft &&
      missing.left.exists(_.contains("l_linenumber is required")))
  }

  test("memoized fixture stores are DIR-SCOPED on disk: serving a " +
    "second table dir never silently swaps the first dir's store " +
    "(the cache key AND the store path both vary with dir)") {
    val dirA = sf("sf0.001")
    val dirB = sf("sf0.01")
    def probe(dir: String) =
      GraphQl.q118MutationRoundTrip(spark, dir).collect()
        .map(_.toSeq).toSeq
    val a1 = probe(dirA)
    val b = probe(dirB)
    assert(a1 !== b, "two scale factors produced identical aggregates" +
      " — the cross-dir scenario is unexercised")
    // the dirA cache entry must still serve dirA's data after dirB's
    // build (pre-fix, dirB's build squatted dirA's on-disk path)
    assert(probe(dirA) === a1, "dir B's store replaced dir A's")
  }
}
