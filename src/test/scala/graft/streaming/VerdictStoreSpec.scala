package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The verdict store's merge semantics the q226 oracle cannot see:
  * at-least-once ingestion is idempotent, a RE-scored doc latest-wins,
  * malformed batches are loud — and (r20) writes touch ONLY the
  * buckets their doc_ids hash into, a checkpoint REPLAY maps back to
  * its original epochs through the persisted run floor, and the
  * no-argument compaction derives a provable floor. */
class VerdictStoreSpec extends SparkSpec {
  import spark.implicits._

  private def row(id: Long, verdict: String) =
    (id, 1, 1, 1, if (verdict == "keep") 1 else 0, verdict,
      if (verdict == "keep") null else "lm")

  private def frame(rows: (Long, Int, Int, Int, Int, String, String)*) =
    rows.toSeq.toDF("doc_id", "ratios_ok", "fences_ok", "clf_ok",
      "lm_ok", "verdict", "first_fail")

  private def path(tag: String) = scratch(s"vsspec_$tag")

  private def canon(p: String) =
    VerdictStore.read(spark, p).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq

  /** Which bucket a doc_id lands in under the store's shared rule. */
  private def bucketOf(id: Long, buckets: Int): Int =
    spark.range(1)
      .select(VerdictStore.bucketOf(lit(id), buckets).as("b"))
      .head.getInt(0)

  /** (relative path, length, mtime) of every data file under the
    * store's bucket dirs — the physical-isolation fingerprint. */
  private def bucketFiles(p: String): Map[String, Seq[(String, Long, Long)]] = {
    val root = new java.io.File(p)
    root.listFiles().toSeq.filter(_.isDirectory)
      .filter(_.getName.matches("b\\d+"))
      .map { d =>
        d.getName -> d.listFiles().toSeq.filter(_.isFile)
          .map(f => (f.getName, f.length(), f.lastModified()))
          .sortBy(_._1)
      }.toMap
  }

  test("re-ingesting the same batch is idempotent; a re-scored doc " +
    "latest-wins on EPOCH — replaying an older batch never " +
    "regresses a newer rescore") {
    val p = path("merge")
    VerdictStore.init(spark, p, frame(row(1, "keep"), row(2, "drop")))
    val batch1 = frame(row(2, "keep"), row(3, "drop"))
    assert(VerdictStore.ingest(spark, p, batch1, epoch = 1L) === 2L)
    val after1 = canon(p)
    assert(after1.map(r => (r.head, r(5), r(7))) ===
      Seq((1L, "keep", 0L), (2L, "keep", 1L), (3L, "drop", 1L)))
    // at-least-once delivery: the same batch again changes nothing
    VerdictStore.ingest(spark, p, batch1, epoch = 1L)
    assert(canon(p) === after1)
    // epoch 2 rescores doc 3; a crash-recovery REPLAY of epoch 1
    // must NOT roll it back (the constant-delta-wins bug this
    // sequence column exists to prevent)
    VerdictStore.ingest(spark, p, frame(row(3, "keep")), epoch = 2L)
    val after2 = canon(p)
    assert(after2.map(r => (r.head, r(5), r(7))) ===
      Seq((1L, "keep", 0L), (2L, "keep", 1L), (3L, "keep", 2L)))
    VerdictStore.ingest(spark, p, batch1, epoch = 1L) // the replay
    assert(canon(p) === after2)
  }

  test("an ingest rewrites ONLY the buckets its doc_ids hash into — " +
    "untouched bucket files are physically unmodified (the " +
    "IncrementalDedup O(affected-buckets) discipline)") {
    val p = path("buckets")
    val buckets = 8
    VerdictStore.init(spark, p,
      frame((1L to 40L).map(row(_, "keep")): _*), buckets)
    // one doc → one affected bucket
    val target = 7L
    val tb = bucketOf(target, buckets)
    val before = bucketFiles(p)
    assert(before.keySet === (0 until buckets).map(k => s"b$k").toSet)
    VerdictStore.ingest(spark, p, frame(row(target, "drop")),
      epoch = 1L)
    val after = bucketFiles(p)
    // the target bucket changed; every other bucket's files are
    // byte-for-byte the ones init wrote (same names, sizes, mtimes)
    assert(after(s"b$tb") !== before(s"b$tb"))
    (0 until buckets).filter(_ != tb).foreach { k =>
      assert(after(s"b$k") === before(s"b$k"),
        s"bucket b$k was touched by an ingest that does not map to it")
    }
    // ...and a forget of that one doc touches only its bucket again
    val mid = bucketFiles(p)
    assert(VerdictStore.forget(spark, p, Seq(target).toDF("doc_id"),
      epoch = 2L) === 1L)
    val post = bucketFiles(p)
    (0 until buckets).filter(_ != tb).foreach { k =>
      assert(post(s"b$k") === mid(s"b$k"),
        s"bucket b$k was touched by a forget that does not map to it")
    }
    assert(canon(p).size === 39)
  }

  test("the STREAMING sink: a verdictStream feeds the store per " +
    "micro-batch with epoch = batchId + 1, and the final store " +
    "equals the batch-scored answer over everything delivered") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val dir = sf("sf0.001")
    val p = path("stream")
    val all = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "lang", "n_chars", "text").limit(40)
      .localCheckpoint(true)
    val lm = CorpusStreams.freezeLm(spark, dir, maxBigrams = 2000)
    val fences = CorpusStreams.freezeFences(spark, dir)
    val clfKeep = graft.queries.SimilarityQueries
      .q94ClassifierScore(spark, dir)
      .select(col("vec_id").as("doc_id"), col("keep"))
      .localCheckpoint(true)
    VerdictStore.init(spark, p,
      graft.queries.TextQueries.q217EnsembleVerdict(spark, dir)
        .limit(0)) // empty store: everything arrives via the stream
    val rows = all.collect().map(r => (r.getLong(0),
      Option(r.getString(1)), r.getLong(2), Option(r.getString(3))))
      .toSeq
    val input = MemoryStream[(Long, Option[String], Long, Option[String])]
    val q = VerdictStore.sink(
      CorpusStreams.verdictStream(
        input.toDS().toDF("doc_id", "lang", "n_chars", "text"),
        fences, lm, clfKeep), p, runTag = "stream-run").start()
    try {
      val half = rows.size / 2
      input.addData(rows.take(half)); q.processAllAvailable()
      input.addData(rows.drop(half)); q.processAllAvailable()
    } finally q.stop()
    val got = VerdictStore.read(spark, p).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(5), r.getLong(7))).toSeq
    val expect = CorpusStreams.verdictStream(all, fences, lm, clfKeep)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(6))).toSeq
    assert(got.map(t => (t._1, t._2)) === expect)
    // epochs record WHICH micro-batch delivered each doc
    assert(got.map(_._3).distinct.sorted === Seq(1L, 2L))
  }

  test("forget tombstones PERSIST as the replay fence: a forgotten " +
    "doc stays gone through a crash-recovery replay of the older " +
    "batch that scored it") {
    val p = path("forget")
    VerdictStore.init(spark, p, frame(row(1, "keep"), row(2, "keep")))
    val batch1 = frame(row(3, "keep"))
    VerdictStore.ingest(spark, p, batch1, epoch = 1L)
    assert(VerdictStore.forget(spark, p,
      Seq(2L, 3L).toDF("doc_id"), epoch = 2L) === 2L)
    assert(canon(p).map(_.head) === Seq(1L))
    // the at-least-once replay of batch1 (epoch 1 < the forget's 2)
    // must NOT resurrect doc 3
    VerdictStore.ingest(spark, p, batch1, epoch = 1L)
    assert(canon(p).map(_.head) === Seq(1L))
    // a GENUINE later rescore (epoch 3) may re-admit the doc — a
    // forget fences the past, not the future (re-ingestion of a
    // re-consented document is a new event)
    VerdictStore.ingest(spark, p, frame(row(3, "drop")), epoch = 3L)
    assert(canon(p).map(r => (r.head, r(5))) ===
      Seq((1L, "keep"), (3L, "drop")))
    // forgetting an absent id is a zero-count no-op, not an error
    assert(VerdictStore.forget(spark, p,
      Seq(99L).toDF("doc_id"), epoch = 4L) === 0L)
    // a forget whose epoch does NOT out-sequence the stored rows
    // would lose the merge while reporting success — loud instead
    // (the one failure a deletion API must never have)
    val low = intercept[IllegalArgumentException](
      VerdictStore.forget(spark, p, Seq(3L).toDF("doc_id"),
        epoch = 2L)) // doc 3 sits at epoch 3
    assert(low.getMessage.contains("out-sequence"))
  }

  test("a CHECKPOINT REPLAY under the same run tag re-ingests at its " +
    "ORIGINAL epoch: a forget issued between crash and restart still " +
    "out-sequences the replayed batch — forgotten docs stay gone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val p = path("replayfence")
    VerdictStore.init(spark, p, frame())
    def run(tag: String,
        rows: Seq[(Long, Int, Int, Int, Int, String, String)]): Unit = {
      val in = MemoryStream[(Long, Int, Int, Int, Int, String, String)]
      val q = VerdictStore.sink(in.toDS().toDF("doc_id", "ratios_ok",
        "fences_ok", "clf_ok", "lm_ok", "verdict", "first_fail"), p,
        runTag = tag).start()
      try { in.addData(rows); q.processAllAvailable() }
      finally q.stop()
    }
    // run "cp1", batch 0: doc 3 scores keep at epoch = floor 0 + 1
    run("cp1", Seq(row(3, "keep")))
    assert(canon(p).map(r => (r.head, r(7))) === Seq((3L, 1L)))
    // the run crashes; a forget lands while it is down (epoch 2
    // out-sequences the stored row)
    assert(VerdictStore.forget(spark, p, Seq(3L).toDF("doc_id"),
      epoch = 2L) === 1L)
    assert(canon(p) === Nil)
    // the SAME checkpoint restarts (same tag, batchId 0 again — the
    // at-least-once replay): the persisted floor maps the batch back
    // to epoch 1 < 2, so the tombstone keeps winning. Recomputing
    // the floor at re-attach (the r19 bug) would lift the replay to
    // epoch 3 and resurrect the forgotten doc.
    run("cp1", Seq(row(3, "keep")))
    assert(canon(p) === Nil,
      "a replayed batch resurrected a forgotten doc")
    // a FRESH checkpoint is a fresh tag: it attaches ABOVE the
    // fence and its genuinely-new scoring may re-admit (a new event)
    run("cp2", Seq(row(3, "drop")))
    assert(canon(p).map(r => (r.head, r(5), r(7))) ===
      Seq((3L, "drop", 3L)))
  }

  test("the GDPR chain end to end: forget in the verdict store, " +
    "rebuild only the affected manifest shards, compaction drops the " +
    "fence without changing live answers") {
    import graft.operators.CorpusManifest
    val p = path("gdpr")
    val mp = path("gdpr_manifest")
    // store: 30 keepers, one dropper
    VerdictStore.init(spark, p,
      frame((1L to 30L).map(row(_, "keep")) :+ row(31L, "drop"): _*))
    def keeperDocs() = VerdictStore.read(spark, p)
      .filter(col("verdict") === "keep").select("doc_id")
      .withColumn("ntok", lit(10L) + col("doc_id") % 3)
    CorpusManifest.init(spark, mp, keeperDocs(), budget = 40L,
      shards = 4)
    val before = CorpusManifest.read(spark, mp)
      .orderBy("shard", "pack_id").collect().map(_.toSeq).toSeq
    // the deletion request: two docs forgotten, manifest updated for
    // exactly their shards
    val gone = Seq(5L, 17L)
    assert(VerdictStore.forget(spark, p, gone.toDF("doc_id"),
      epoch = 1L) === 2L)
    val affected = CorpusManifest.update(spark, mp, keeperDocs(),
      gone.toDF("doc_id"), budget = 40L, shards = 4)
    assert(affected.nonEmpty && affected.size < 4)
    // the updated manifest equals a from-scratch build over the
    // post-forget keepers (the q152 contract across BOTH stores)
    val scratch = path("gdpr_scratch")
    CorpusManifest.init(spark, scratch, keeperDocs(), budget = 40L,
      shards = 4)
    def canonM(pp: String) = CorpusManifest.read(spark, pp)
      .orderBy("shard", "pack_id").collect().map(_.toSeq).toSeq
    assert(canonM(mp) === canonM(scratch))
    assert(canonM(mp) !== before)
    // compaction drops the two fences; live answers identical
    val live = canon(p)
    assert(VerdictStore.compact(spark, p, epochFloor = 1L) === 2L)
    assert(canon(p) === live)
    // a floor BELOW the fences drops nothing
    assert(VerdictStore.compact(spark, p, epochFloor = 0L) === 0L)
  }

  test("AUTO-COMPACTION derives its floor from the persisted run " +
    "floors: an active run's fence survives (its replay could still " +
    "carry an epoch the tombstone must out-sequence), retiring the " +
    "run releases it, and a retired tag cannot re-attach") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val p = path("autofloor")
    VerdictStore.init(spark, p, frame(row(1, "keep")))
    def run(tag: String,
        rows: Seq[(Long, Int, Int, Int, Int, String, String)]): Unit = {
      val in = MemoryStream[(Long, Int, Int, Int, Int, String, String)]
      val q = VerdictStore.sink(in.toDS().toDF("doc_id", "ratios_ok",
        "fences_ok", "clf_ok", "lm_ok", "verdict", "first_fail"), p,
        runTag = tag).start()
      try { in.addData(rows); q.processAllAvailable() }
      finally q.stop()
    }
    // run "a" attaches at floor 0 and scores doc 2 (epoch 1)
    run("a", Seq(row(2, "keep")))
    // forget doc 2 at epoch 2 — the fence a replay of run "a" 's
    // batch (epoch 1 ≤ 2) still needs
    assert(VerdictStore.forget(spark, p, Seq(2L).toDF("doc_id"),
      epoch = 2L) === 1L)
    // auto floor = min active floor = 0 → nothing droppable
    val (f1, n1) = VerdictStore.compact(spark, p)
    assert((f1, n1) === (0L, 0L))
    // the operator deletes run "a" 's checkpoints and retires it:
    // with no active runs the floor rises to the store max and the
    // fence compacts — live answers identical throughout
    val live = canon(p)
    VerdictStore.retireRun(spark, p, "a")
    val (f2, n2) = VerdictStore.compact(spark, p)
    assert(n2 === 1L && f2 >= 2L)
    assert(canon(p) === live)
    // retirement is the proof the checkpoints are gone — the tag
    // may never attach again
    val e = intercept[IllegalArgumentException](
      VerdictStore.sink(frame(), p, runTag = "a"))
    assert(e.getMessage.contains("retired"))
  }

  test("REBUCKET rewrites the store under a new bucket count: live " +
    "answers identical, tombstone fences still out-sequence replays, " +
    "run floors carry over, and new writes land in the new layout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val p = path("rebucket")
    VerdictStore.init(spark, p,
      frame((1L to 30L).map(row(_, "keep")): _*), buckets = 8)
    // a sink run persists a floor; a forget writes a fence above it
    val in = MemoryStream[(Long, Int, Int, Int, Int, String, String)]
    val q = VerdictStore.sink(in.toDS().toDF("doc_id", "ratios_ok",
      "fences_ok", "clf_ok", "lm_ok", "verdict", "first_fail"), p,
      runTag = "rb").start()
    val batch1 = Seq(row(31, "keep"))
    try { in.addData(batch1); q.processAllAvailable() }
    finally q.stop()
    assert(VerdictStore.forget(spark, p, Seq(31L).toDF("doc_id"),
      epoch = 2L) === 1L)
    val before = canon(p)
    VerdictStore.rebucket(spark, p, 4)
    assert(VerdictStore.numBuckets(spark, p) === 4)
    assert(bucketFiles(p).keySet === (0 until 4).map(k => s"b$k").toSet)
    assert(canon(p) === before)
    // the fence re-hashed with the store: the epoch-1 replay still
    // cannot resurrect the forgotten doc
    VerdictStore.ingest(spark, p, frame(row(31, "keep")), epoch = 1L)
    assert(canon(p) === before)
    // the run floor carried over: auto-compaction still derives its
    // proof (active floor 0 → nothing droppable; retired → the
    // fence drops) and live answers never change
    assert(VerdictStore.compact(spark, p) === ((0L, 0L)))
    VerdictStore.retireRun(spark, p, "rb")
    val (floor, dropped) = VerdictStore.compact(spark, p)
    assert(dropped === 1L && floor >= 2L)
    assert(canon(p) === before)
    // a same-count rebucket is a no-op, not a rewrite
    val files = bucketFiles(p)
    VerdictStore.rebucket(spark, p, 4)
    assert(bucketFiles(p) === files)
  }

  test("LOOKUP reads only the buckets its ids hash into: answers " +
    "equal read()+semi-join, forgotten docs stay absent, and a " +
    "physically missing UNAFFECTED bucket never blocks the lookup") {
    val p = path("lookup")
    val buckets = 8
    VerdictStore.init(spark, p,
      frame((1L to 40L).map(row(_, "keep")): _*), buckets)
    VerdictStore.forget(spark, p, Seq(7L).toDF("doc_id"), epoch = 1L)
    val ids = Seq(5L, 7L, 99L) // live, forgotten, absent
    val got = VerdictStore.lookup(spark, p, ids.toDF("id"))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(5L)) // the fence filters, the absent id skips
    // the pruning is physical: strand a bucket NO requested id hashes
    // into — a full-scan read() would crash on it, lookup must not
    val touched = ids.map(bucketOf(_, buckets)).toSet
    val spare = (0 until buckets).find(!touched.contains(_)).get
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$p/b$spare")
    val aside = new org.apache.hadoop.fs.Path(s"$p/b${spare}_gone")
    assert(fs.rename(dir, aside))
    try {
      assert(VerdictStore.lookup(spark, p, ids.toDF("id"))
        .collect().map(_.getLong(0)).toSeq === Seq(5L))
    } finally assert(fs.rename(aside, dir))
    // empty or all-null id sets → empty answer at one bucket's
    // schema cost, nulls skipped (they can match no stored doc)
    assert(VerdictStore.lookup(spark, p,
      Seq.empty[Long].toDF("id")).count() === 0L)
    assert(VerdictStore.lookup(spark, p,
      Seq[Option[Long]](None, Some(5L)).toDF("id"))
      .collect().map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("a CRASHED rebucket (store stranded at _precompact) recovers " +
    "on ANY entry point: a same-tag re-attach reuses the ORIGINAL " +
    "floor (replays stay below the forget fences), retire works, " +
    "and init refuses to shadow the orphaned store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val p = path("rootcrash")
    VerdictStore.init(spark, p, frame())
    def run(tag: String,
        rows: Seq[(Long, Int, Int, Int, Int, String, String)]): Unit = {
      val in = MemoryStream[(Long, Int, Int, Int, Int, String, String)]
      val q = VerdictStore.sink(in.toDS().toDF("doc_id", "ratios_ok",
        "fences_ok", "clf_ok", "lm_ok", "verdict", "first_fail"), p,
        runTag = tag).start()
      try { in.addData(rows); q.processAllAvailable() }
      finally q.stop()
    }
    run("rc", Seq(row(3, "keep"))) // floor 0 persisted, doc 3 @ epoch 1
    assert(VerdictStore.forget(spark, p, Seq(3L).toDF("doc_id"),
      epoch = 2L) === 1L)
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def strand(): Unit = { // the mid-rebucket crash window
      assert(fs.rename(new org.apache.hadoop.fs.Path(p),
        new org.apache.hadoop.fs.Path(p + "_precompact")))
    }
    // 1. the SAME-tag restart through the crash window: attachFloor
    // must recover the root BEFORE consulting the marker — a missing
    // root read as "first attach" would rewrite the floor to
    // maxEpoch (2) and the replayed batch would land ABOVE the
    // forget fence, resurrecting doc 3
    strand()
    run("rc", Seq(row(3, "keep"))) // the checkpoint replay of batch 0
    assert(canon(p) === Nil,
      "a replay through the crash window resurrected a forgotten doc")
    // 2. runFloors/retireRun recover too: the floor is still there
    // and retirement really lands (a silent no-op would let the tag
    // re-attach later at a stale floor)
    strand()
    assert(VerdictStore.runFloors(spark, p)
      .map(f => (f._1, f._3)) === Seq(("rc", false)))
    strand()
    VerdictStore.retireRun(spark, p, "rc")
    assert(VerdictStore.runFloors(spark, p)
      .map(f => (f._1, f._3)) === Seq(("rc", true)))
    // 3. init through the crash window refuses instead of writing a
    // fresh store over the orphaned original
    strand()
    val e = intercept[IllegalArgumentException](
      VerdictStore.init(spark, p, frame(row(9, "keep"))))
    assert(e.getMessage.contains("already an initialized"))
    assert(canon(p) === Nil) // the recovered original, not a shadow
  }

  test("MODEL ROTATION rides the epoch merge: a doc rescored under " +
    "the post-rotation epoch keeps its v2 verdict through a replay " +
    "of its pre-rotation batch, and pre-rotation verdicts stand") {
    val p = path("rotate")
    // epoch 0: init store; epoch 1: doc 5 scores keep under v1
    VerdictStore.init(spark, p, frame(row(1, "keep")))
    val preRotation = frame(row(5, "keep"))
    VerdictStore.ingest(spark, p, preRotation, epoch = 1L)
    // rotation: v2 rescoring of later arrivals lands at epoch 2 —
    // doc 5 re-arrives and the new model now DROPS it
    VerdictStore.ingest(spark, p, frame(row(5, "drop")), epoch = 2L)
    assert(canon(p).map(r => (r.head, r(5), r(7))) ===
      Seq((1L, "keep", 0L), (5L, "drop", 2L)))
    // the crash-recovery replay of the PRE-rotation batch (epoch 1)
    // cannot clobber the v2 rescore...
    VerdictStore.ingest(spark, p, preRotation, epoch = 1L)
    assert(canon(p).map(r => (r.head, r(5), r(7))) ===
      Seq((1L, "keep", 0L), (5L, "drop", 2L)))
    // ...and the rotation never touched the init-epoch verdict
    assert(canon(p).head === Seq(1L, 1, 1, 1, 1, "keep", null, 0L))
  }

  test("a batch missing a verdict column, carrying a duplicate " +
    "doc_id, or claiming epoch 0 is loud") {
    val p = path("shape")
    VerdictStore.init(spark, p, frame(row(1, "keep")))
    val e = intercept[IllegalArgumentException](
      VerdictStore.ingest(spark, p,
        Seq((2L, 1)).toDF("doc_id", "ratios_ok"), epoch = 1L))
    assert(e.getMessage.contains("verdict rows need columns"))
    // two same-epoch verdicts for one doc have no winner
    val e2 = intercept[IllegalArgumentException](
      VerdictStore.ingest(spark, p,
        frame(row(5, "keep"), row(5, "drop")), epoch = 1L))
    assert(e2.getMessage.contains("more than once"))
    val e3 = intercept[IllegalArgumentException](
      VerdictStore.ingest(spark, p, frame(row(6, "keep")), epoch = 0L))
    assert(e3.getMessage.contains("start at 1"))
    // re-init of a live store is refused (the bucket loop is not
    // atomic across buckets — a crash would blend two generations)
    val e4 = intercept[IllegalArgumentException](
      VerdictStore.init(spark, p, frame(row(7, "keep"))))
    assert(e4.getMessage.contains("already an initialized"))
    // auto-compaction over a store with NO persisted run floors has
    // no replay proof to derive — loud, never a guessed floor (a
    // direct-ingest replay could out-race a dropped fence)
    val e5 = intercept[IllegalArgumentException](
      VerdictStore.compact(spark, p))
    assert(e5.getMessage.contains("no persisted run floors"))
    // run tags ending in the marker protocol's own suffixes refuse:
    // a '<tag>.tmp' floor marker would be invisible to runFloors —
    // dropped from rebucket carry-over and the auto-compaction
    // proof, and a same-tag re-attach would recompute its floor
    // ABOVE the forget fences (the exact resurrection the persisted
    // floor exists to prevent); '.retired' would alias another
    // tag's retirement marker
    Seq("job.tmp", "job.retired").foreach { tag =>
      val e6 = intercept[IllegalArgumentException](
        VerdictStore.sink(
          frame(row(9, "keep")), p, runTag = tag))
      assert(e6.getMessage.contains("reserved"), s"tag $tag")
    }
  }
}
