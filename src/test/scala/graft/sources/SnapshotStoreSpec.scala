package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  test("merge is latest-wins, tombstone-aware, and idempotent") {
    val existing = Seq(("k1", 1L, "a", false), ("k2", 1L, "b", false))
      .toDF("key", "seq", "v", "deleted")
    val delta = Seq(("k1", 2L, "a2", false), ("k2", 2L, "b", true),
      ("k3", 2L, "c", false))
      .toDF("key", "seq", "v", "deleted")
    val once = SnapshotStore.merge(existing, delta, "key", "seq")
    val got = once.select("key", "v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("k1" -> "a2", "k3" -> "c")) // k2 tombstoned
    // replaying the same delta changes nothing
    val twice = SnapshotStore.merge(once, delta, "key", "seq")
      .select("key", "v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(twice === got)
  }

  test("appendLog dedups on id (cursor-resume analog)") {
    val log = Seq((1L, "x"), (2L, "y")).toDF("id", "p")
    val delta = Seq((2L, "y"), (3L, "z")).toDF("id", "p")
    val appended = SnapshotStore.appendLog(log, delta, "id")
    assert(appended.count() === 3)
    assert(SnapshotStore.appendLog(appended, delta, "id").count() === 3)
    // WITHIN-delta duplicates (the same event delivered twice inside
    // one poll window — the routine at-least-once failure mode) also
    // append once, not twice
    val dup = Seq((7L, "w"), (7L, "w"), (8L, "u")).toDF("id", "p")
    assert(SnapshotStore.appendLog(log, dup, "id").count() === 4)
  }

  test("merge edge rules: a NULL deleted flag reads as live (never " +
    "silently dropped), and a live-vs-tombstone tie at the SAME " +
    "(key, seq) resolves tombstone-first — deterministically") {
    // null-deleted: the store-where-only-tombstones-set-the-flag shape
    val existing = Seq(("k1", 1L, "a", Some(false)),
      ("k2", 1L, "b", None), ("k3", 1L, "c", Some(true)))
      .toDF("key", "seq", "v", "deleted")
    val delta = Seq(("k4", 2L, "d", Option.empty[Boolean]))
      .toDF("key", "seq", "v", "deleted")
    val got = SnapshotStore.merge(existing, delta, "key", "seq")
      .select("key").collect().map(_.getString(0)).toSet
    assert(got === Set("k1", "k2", "k4"),
      "null deleted must read as live; true still tombstones")
    // same-(key, seq) tie: the tombstone wins, every time (an
    // unordered tiebreak made two replays of one merge disagree)
    val live = Seq(("k", 5L, "x", false)).toDF("key", "seq", "v", "deleted")
    val tomb = Seq(("k", 5L, "x", true)).toDF("key", "seq", "v", "deleted")
    (1 to 5).foreach { _ =>
      assert(SnapshotStore.merge(live, tomb, "key", "seq").count() === 0L)
      assert(SnapshotStore.mergeKeepTombstones(live, tomb,
          Seq("key"), "seq")
        .filter(col("deleted")).count() === 1L)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val base = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    val facts = (1 to 1000).map(i => (i.toLong % 50, s"f$i"))
      .toDF("key", "payload")
    val dims = (0 until 50).map(i => (i.toLong, s"d$i")).toDF("key", "attr")
    SnapshotStore.writeBucketed(facts, "bkt_facts", s"$base/facts", "key", 8)
    SnapshotStore.writeBucketed(dims, "bkt_dims", s"$base/dims", "key", 8)
    try {
      // disable broadcast so the join would otherwise need a shuffle
      val joined = spark.table("bkt_facts").hint("merge")
        .join(spark.table("bkt_dims"), "key")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() === 1000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_facts")
      spark.sql("DROP TABLE IF EXISTS bkt_dims")
    }
  }

  test("partitioned write round-trips and prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val df = Seq(("2026-01-01", "k1", 1), ("2026-01-02", "k2", 2))
      .toDF("dt", "key", "v")
    SnapshotStore.write(df, dir, Seq("dt"))
    val pruned = SnapshotStore.read(spark, dir).filter(col("dt") === "2026-01-02")
    assert(pruned.collect().map(_.getAs[String]("key")).toSeq === Seq("k2"))
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filter must appear as a partition filter, not a data filter
    assert(plan.contains("PartitionFilters") &&
      plan.contains("dt"), s"no partition pruning:\n$plan")
  }

  test("JDBC sink round-trips through an embedded database") {
    // embedded Derby (on the Spark jars classpath) stands in for the
    // reference's Postgres — same spark-jdbc write/read path
    val db = scratch(s"derby_snap_${System.nanoTime()}")
    val url = s"jdbc:derby:$db;create=true"
    val snap = Seq(
      (1L, "alice", 3.5, true), (2L, "bob", 1.25, false),
      (3L, "carol", -7.0, true))
      .toDF("token_id", "owner", "price", "listed")
    SnapshotStore.writeJdbc(snap, url, "snapshot")
    val back = SnapshotStore.readJdbc(spark, url, "snapshot")
    assert(back.schema.fieldNames.sorted ===
      Array("listed", "owner", "price", "token_id"))
    val got = back.collect()
      .map(r => (r.getLong(r.fieldIndex("token_id")),
        r.getString(r.fieldIndex("owner")),
        r.getDouble(r.fieldIndex("price")),
        r.getBoolean(r.fieldIndex("listed")))).sortBy(_._1)
    assert(got === Array((1L, "alice", 3.5, true), (2L, "bob", 1.25, false),
      (3L, "carol", -7.0, true)))
    // overwrite replaces rows (snapshot-cycle semantics), not appends
    SnapshotStore.writeJdbc(snap.filter(col("token_id") <= 2), url, "snapshot")
    assert(SnapshotStore.readJdbc(spark, url, "snapshot").count() === 2)
  }

  test("diff: ops classify by side/value, delete carries the BEFORE " +
    "image, value<->null transitions are updates, unchanged absent") {
    val before = Seq((1L, Some("a"), 1.0), (2L, Some("b"), 2.0),
      (3L, None: Option[String], 3.0), (4L, Some("d"), 4.0))
      .toDF("k", "s", "v")
    val after = Seq((1L, Some("a"), 1.0), // unchanged
      (2L, None: Option[String], 2.0), // value -> null = update
      (3L, Some("c"), 3.0), // null -> value = update
      (5L, Some("e"), 5.0)) // fresh; k=4 deleted
      .toDF("k", "s", "v")
    val d = SnapshotStore.diff(before, after, "k").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)), r.getDouble(3))).sortBy(_._2)
    assert(d === Array(
      ("update", 2L, None, 2.0),
      ("update", 3L, Some("c"), 3.0),
      ("delete", 4L, Some("d"), 4.0), // BEFORE image
      ("insert", 5L, Some("e"), 5.0)))
    // schema drift between generations is loud, never a silent
    // column-positional comparison
    val e = intercept[IllegalArgumentException](
      SnapshotStore.diff(before, after.withColumnRenamed("v", "w"), "k"))
    assert(e.getMessage.contains("schemas differ"))
  }

  test("applyDiff inverts diff: applyDiff(before, diff(before, after)) " +
    "== after, and re-applying the same feed is a no-op") {
    val before = Seq((1L, Some("a"), 1.0), (2L, Some("b"), 2.0),
      (4L, Some("d"), 4.0)).toDF("k", "s", "v")
    val after = Seq((1L, Some("a"), 1.0), (2L, None: Option[String], 9.0),
      (5L, Some("e"), 5.0)).toDF("k", "s", "v")
    val feed = SnapshotStore.diff(before, after, "k")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "s", "v").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)),
          r.getDouble(2))).toSet
    val replayed = SnapshotStore.applyDiff(before, feed, "k")
    assert(rows(replayed) === rows(after))
    // at-least-once: the SAME feed applied to the already-caught-up
    // replica changes nothing
    assert(rows(SnapshotStore.applyDiff(replayed, feed, "k")) ===
      rows(after))
  }

  test("diff recovers exactly a mutation document's effects: " +
    "diff(before, applyFields(before, doc)) = the doc's writes") {
    import graft.api.{Mutations, QueryBuilder}
    val before = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "A", 30.0))
      .toDF("k", "seg", "bal")
    val doc = Seq(
      Mutations.Field(Mutations.Insert("t",
        Seq(Seq("k" -> 9L, "seg" -> "N", "bal" -> 1.5)))),
      Mutations.Field(Mutations.Update("t",
        QueryBuilder.Eq("seg", "A"), Nil, Seq("bal" -> 100.0))),
      Mutations.Field(Mutations.Delete("t", QueryBuilder.Eq("k", 2L))))
    val (after, _) = Mutations.applyFields(before, doc, "k")
    val feed = SnapshotStore.diff(before,
      after.select("k", "seg", "bal"), "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).sortBy(_._2)
    assert(feed === Array(
      ("update", 1L, "A", 110.0),
      ("delete", 2L, "B", 20.0), // prior values
      ("update", 3L, "A", 130.0),
      ("insert", 9L, "N", 1.5)))
  }

  test("COMPOSITE-key diff/applyDiff (r19): the change feed keys on " +
    "the full tuple — two lines of one order never collapse — and " +
    "the diff/apply inverse holds") {
    val before = Seq((1L, 1, "a", 1.0), (1L, 2, "b", 2.0),
      (2L, 1, "c", 3.0), (2L, 2, "d", 4.0)).toDF("k1", "k2", "s", "v")
    val after = Seq((1L, 1, "a", 1.0), (1L, 2, "b", 9.0),
      (2L, 2, "d", 4.0), (1L, 3, "n", 5.0)).toDF("k1", "k2", "s", "v")
    val ks = Seq("k1", "k2")
    val feed = SnapshotStore.diff(before, after, ks)
    val d = feed.collect().map(r => (r.getString(0), r.getLong(1),
      r.getInt(2), r.getString(3), r.getDouble(4)))
      .sortBy(t => (t._2, t._3))
    assert(d === Array(
      ("update", 1L, 2, "b", 9.0),  // only (1,2) — (1,1) untouched
      ("insert", 1L, 3, "n", 5.0),  // new line under an EXISTING order
      ("delete", 2L, 1, "c", 3.0))) // BEFORE image
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k1", "k2", "s", "v").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getDouble(3))).toSet
    val replayed = SnapshotStore.applyDiff(before, feed, ks)
    assert(rows(replayed) === rows(after))
    assert(rows(SnapshotStore.applyDiff(replayed, feed, ks)) ===
      rows(after)) // at-least-once no-op
  }

  private def hasDescriptor(p: String) =
    new java.io.File(p, SnapshotStore.SchemaFile).isFile

  test("read opens with the descriptor write left, and its schema is " +
    "what parquet inference gives: a flat store with metadata and " +
    "non-nullable columns, and a TokenSnapshot-shaped nested store") {
    import graft.operators.MarketplaceModel.{BidRow, NftRow, OfferRow,
      TokenSnapshot}
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "balance").build()
    val flat = Seq((1L, 2, "a", 1.5), (2L, 3, null, 2.5))
      .toDF("k", "n", "s", "bal")
      .withColumn("bal", col("bal").as("bal", meta))
    val snaps = Seq(
      TokenSnapshot("T1", Some(NftRow("T1", "d", "alice", "u", 1, "5token",
        "", "", "", None)), Seq(OfferRow("o1", "bob", "3token", "", "",
        "T1")), Seq(BidRow(7L, "carol", "", "", "4token", "T1"))),
      TokenSnapshot("T2", None, Nil, Nil)).toDS().toDF()
      .withColumn("_batch", lit(3L))
    for ((df, name) <- Seq(flat -> "flat", snaps -> "tokens")) {
      val p = scratch(s"snap_desc_$name")
      SnapshotStore.write(df, p)
      assert(hasDescriptor(p))
      val inferred = spark.read.parquet(p)
      val got = SnapshotStore.read(spark, p)
      assert(got.schema === inferred.schema, name)
      assert(got.schema.json === inferred.schema.json, name) // metadata too
      assert(got.collect().map(_.toString).toSet ===
        inferred.collect().map(_.toString).toSet, name)
    }
    assert(SnapshotStore.read(spark, scratch("snap_desc_flat"))
      .schema("bal").metadata === meta)
    // the descriptor is what read trusts: a narrower one narrows the read
    val p = scratch("snap_desc_flat")
    val out = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).create(
      new org.apache.hadoop.fs.Path(p, SnapshotStore.SchemaFile), true)
    try out.write(flat.select("k").schema.json.getBytes("UTF-8"))
    finally out.close()
    assert(SnapshotStore.read(spark, p).columns.toSeq === Seq("k"))
  }

  test("a directory write did not produce (plain df.write.parquet) is " +
    "still read by inference") {
    val p = scratch("snap_plain")
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").write.parquet(p)
    assert(!hasDescriptor(p))
    val got = SnapshotStore.read(spark, p)
    assert(got.schema === spark.read.parquet(p).schema)
    assert(got.orderBy("k").collect().map(_.getString(1)).toSeq ===
      Seq("x", "y"))
  }

  test("an AtomicSwap rewrite that adds a column reads back with it: the " +
    "descriptor swaps with the data") {
    val p = scratch("snap_swap")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    AtomicSwap.initOrRewrite(fs, p)(tmp =>
      SnapshotStore.write(Seq((1L, "x"), (2L, "y")).toDF("k", "v"), tmp))
    AtomicSwap.initOrRewrite(fs, p)(tmp =>
      SnapshotStore.write(SnapshotStore.read(spark, p)
        .withColumn("w", col("k") * 10), tmp))
    val got = SnapshotStore.read(spark, p)
    assert(got.columns.toSeq === Seq("k", "v", "w"))
    assert(got.schema === spark.read.parquet(p).schema)
    assert(got.orderBy("k").collect().map(_.getLong(2)).toSeq ===
      Seq(10L, 20L))
  }

  test("a partitioned write carries no descriptor and reads back exactly " +
    "as inference reads it, also over an earlier unpartitioned write") {
    val p = scratch("snap_parts")
    val df = Seq(("2026-01-01", "k1", 1), ("2026-01-02", "k2", 2))
      .toDF("dt", "key", "v")
    SnapshotStore.write(df.select("key", "v"), p)
    assert(hasDescriptor(p))
    SnapshotStore.write(df, p, Seq("dt"))
    assert(!hasDescriptor(p))
    val got = SnapshotStore.read(spark, p)
    val inferred = spark.read.parquet(p)
    assert(got.schema === inferred.schema)
    assert(got.columns.toSeq === Seq("key", "v", "dt"))
    assert(got.collect().map(_.toString).toSet ===
      inferred.collect().map(_.toString).toSet)
  }

  test("the descriptor is never a data row and never a .parquet file") {
    val p = scratch("snap_rows")
    SnapshotStore.write(Seq((1L, "x"), (2L, "y"), (3L, "z"))
      .toDF("k", "v").repartition(2), p)
    assert(!SnapshotStore.SchemaFile.endsWith(".parquet"))
    val parquetFiles = new java.io.File(p).list().filter(_.endsWith(".parquet"))
    assert(parquetFiles.length === 2)
    assert(SnapshotStore.read(spark, p).count() === 3L)
    assert(spark.read.parquet(p).count() === 3L)
    assert(!spark.read.parquet(p).inputFiles
      .exists(_.contains(SnapshotStore.SchemaFile)))
    assert(!SnapshotStore.read(spark, p).inputFiles
      .exists(_.contains(SnapshotStore.SchemaFile)))
  }
}
