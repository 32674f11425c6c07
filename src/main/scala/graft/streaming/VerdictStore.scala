package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained QUALITY-VERDICT store (r19,
  * bucket-partitioned r20) — the missing middle of the corpus-serving
  * loop: batch q217 verdicts initialize it, frozen-artifact-scored
  * arrivals UPSERT into it, and downstream builds (the corpus
  * manifest) read keepers from the STORE instead of recomputing the
  * ensemble.
  *
  * Epoch semantics (the CCNet split): the INIT epoch's verdicts come
  * from the batch ensemble trained on the init corpus (epoch 0);
  * every LATER arrival is scored against FROZEN artifacts
  * ([[CorpusStreams.verdictStream]]'s row-local scorer — arriving
  * data is unseen by construction, so the frozen model scores all of
  * it) and ingests under its batch's EPOCH NUMBER. The stored epoch
  * IS the merge sequence: the HIGHEST-epoch verdict per doc_id wins,
  * so a crash-recovery REPLAY of an older batch can never regress a
  * newer rescore (the real latest-wins rule — a constant delta-wins
  * flag would be last-call-wins). A batch carrying one doc_id twice
  * is rejected loudly: two same-epoch verdicts for one doc have no
  * deterministic winner.
  *
  * STORAGE (r20): doc_id-HASH BUCKETS — one parquet dataset per
  * bucket under `path/b<k>`, the bucket rule shared verbatim with
  * [[graft.operators.CorpusManifest.shardOf]] (seed-5 content-stable
  * hash), each bucket replaced independently through
  * [[graft.sources.AtomicSwap]]. An ingest or forget reads, merges,
  * and rewrites ONLY the buckets its doc_ids hash into — the
  * [[graft.operators.IncrementalDedup]]/BucketForget O(affected-
  * buckets) discipline; at a billion-row store a continuous scorer's
  * per-batch cost is bounded by the touched buckets' slice, never the
  * store (the r19 layout rewrote the WHOLE store per micro-batch).
  * A crash between two bucket rewrites leaves each bucket internally
  * consistent (per-bucket swap) and the replayed batch completes the
  * rest idempotently — the same cross-shard contract
  * [[graft.operators.CorpusManifest.update]] documents.
  *
  * Scale posture: one merge shuffle on doc_id per affected bucket,
  * bounded by |bucket| + |batch slice|; the duplicate probe is one
  * bounded aggregate over the batch; the affected-bucket collect is
  * ≤ the bucket count; no driver state beyond that.
  */
object VerdictStore {

  /** The verdict-row schema both epochs produce (the q217 shape);
    * the store adds the `epoch` provenance/sequence column. */
  val Columns: Seq[String] = Seq("doc_id", "ratios_ok", "fences_ok",
    "clf_ok", "lm_ok", "verdict", "first_fail")

  /** Default bucket count — sized so a test-scale store stays cheap;
    * a production store picks buckets ~ |store| / target-bucket-size
    * at [[init]] (the count is persisted, every later op reads it). */
  val DefaultBuckets = 8

  /** ONE bucket rule with the corpus manifest (seed-5 content-stable
    * hash mod buckets) — a doc's verdict bucket and its pack shard
    * derive from the same function family. */
  def bucketOf(docId: Column, buckets: Int): Column =
    graft.operators.CorpusManifest.shardOf(docId, buckets)

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketDir(path: String, k: Int) = s"$path/b$k"

  private def checked(rows: DataFrame, at: String): DataFrame = {
    require(rows.columns.toSeq.sorted == Columns.sorted,
      s"$at: verdict rows need columns ${Columns.mkString(", ")} — " +
        s"got ${rows.columns.mkString(", ")}")
    rows.select(Columns.map(col): _*)
  }

  /** Epoch-sequenced latest-wins that KEEPS winning tombstones in the
    * stored dataset — [[graft.sources.SnapshotStore
    * .mergeKeepTombstones]], which also normalizes a legacy store
    * missing the `deleted` column (rows default to live). */
  private def latestWins(cur: DataFrame, delta: DataFrame): DataFrame =
    graft.sources.SnapshotStore.mergeKeepTombstones(
      cur, delta, Seq("doc_id"), "epoch")

  // ---- bucket-count marker (committed LAST by init, so a reader
  // finding it knows every bucket dir exists) ------------------------
  // every marker here is WRITE-ONCE (init's _buckets behind its
  // guard, a run floor only at first attach, rebucket's staged tree)
  // and committed by AtomicSwap.publish, so readers never see a marker
  // vanish mid-rewrite

  private def readMarker(fs: FileSystem, at: Path): String = {
    val in = fs.open(at)
    try scala.io.Source.fromInputStream(in).mkString.trim
    finally in.close()
  }

  /** The store's bucket count, persisted by [[init]]. Like every
    * entry point that consults the store's filesystem, it first
    * recovers an interrupted ROOT-level swap ([[rebucket]] moves the
    * whole store directory): an entry point that read markers (or
    * their absence) before recovery would act on the missing-root
    * illusion — a sink re-attach would overwrite its persisted floor,
    * an init would shadow the orphaned store, a retire would silently
    * no-op. */
  def numBuckets(spark: SparkSession, path: String): Int = {
    val fs = fsOf(spark, path)
    graft.sources.AtomicSwap.recover(fs, path)
    val at = new Path(s"$path/_buckets")
    require(fs.exists(at), s"verdict store at $path: no _buckets " +
      "marker — not an initialized (r20 bucket-partitioned) store")
    readMarker(fs, at).toInt
  }

  /** REBUCKET (r20): rewrite the store under a new bucket count —
    * the scale lever when a store outgrows its init-time choice
    * (per-bucket slices should stay executor-memory-sized as the
    * corpus grows). The WHOLE store root swaps atomically through
    * [[graft.sources.AtomicSwap]]: every stored row INCLUDING the
    * tombstone fences re-hashes into the new layout, and the
    * persisted run floors carry over (the compaction proof
    * survives).
    *
    * Concurrency contract — STRICTER than the per-bucket swaps: a
    * rebucket is a quiesced MAINTENANCE operation. No ingest/forget
    * may run concurrently (the single-writer rule every swap has),
    * and no read() may be IN FLIGHT across the swap either: a read
    * is marker-then-N-bucket-loads, and one that read the OLD
    * bucket count could list the NEW generation's same-named bucket
    * dirs after the swap lands — a silently partial answer no
    * single-dataset swap can produce. Readers that START after the
    * swap (every entry point recovers the root first) are safe, as
    * is a crash at any point — recovery serves one complete
    * generation, never a blend. */
  def rebucket(spark: SparkSession, path: String,
      newBuckets: Int): Unit = {
    require(newBuckets > 0,
      s"rebucket: bucket count must be positive: $newBuckets")
    val fs = fsOf(spark, path)
    if (numBuckets(spark, path) == newBuckets) return
    // pinned BEFORE the swap replaces the inputs
    val rows = readAll(spark, path)
      .withColumn("_b", bucketOf(col("doc_id"), newBuckets))
      .localCheckpoint(true)
    val floors = runFloors(spark, path)
    graft.sources.AtomicSwap.rewrite(fs, path) { tmp =>
      (0 until newBuckets).foreach { k =>
        graft.sources.SnapshotStore.write(
          rows.filter(col("_b") === k).drop("_b"), bucketDir(tmp, k))
      }
      floors.foreach { case (tag, floor, retired) =>
        val name = if (retired) s"$tag.retired" else tag
        graft.sources.AtomicSwap.publish(fs,
          new Path(s"$tmp/_runs/$name"), floor.toString)
      }
      graft.sources.AtomicSwap.publish(fs, new Path(s"$tmp/_buckets"),
        newBuckets.toString)
    }
  }

  private def readBucket(spark: SparkSession, path: String, k: Int)
      : DataFrame =
    graft.sources.SnapshotStore.read(spark, bucketDir(path, k))

  /** The buckets a key frame's doc_ids hash into — a distinct-collect
    * bounded by the bucket count, the only driver state any write
    * pays. */
  private def affectedBuckets(keys: DataFrame, docCol: String,
      buckets: Int): Seq[Int] =
    keys.select(bucketOf(col(docCol), buckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Create the store from the init epoch's batch verdict rows
    * (stored as epoch 0) across `buckets` doc_id-hash buckets.
    * Refuses an ALREADY-INITIALIZED path: the bucket loop is not
    * atomic across buckets, so re-initializing a live store could
    * crash into a silently readable blend of two generations under
    * the still-valid marker — a rebuild belongs at a fresh path
    * (or flows through [[ingest]]/[[forget]], which are). */
  def init(spark: SparkSession, path: String, rows: DataFrame,
      buckets: Int = DefaultBuckets): Unit = {
    require(buckets > 0, s"init: bucket count must be positive")
    val fs = fsOf(spark, path)
    // a crashed rebucket leaves the WHOLE store under a swap-trace
    // name — recover first, so the guard sees the restored store
    // instead of writing a fresh one over the orphaned original
    // (which the next root swap's cleanup would then delete)
    graft.sources.AtomicSwap.recover(fs, path)
    require(!fs.exists(new Path(s"$path/_buckets")),
      s"init: $path is already an initialized verdict store — " +
        "re-init of a live store is not crash-safe; write to a " +
        "fresh path")
    val tagged = checked(rows, "init")
      .withColumn("epoch", lit(0L))
      .withColumn("deleted", lit(false))
      .withColumn("_b", bucketOf(col("doc_id"), buckets))
      .localCheckpoint(true)
    (0 until buckets).foreach { k =>
      graft.sources.SnapshotStore.write(
        tagged.filter(col("_b") === k).drop("_b"), bucketDir(path, k))
    }
    graft.sources.AtomicSwap.publish(fs, new Path(s"$path/_buckets"),
      buckets.toString)
  }

  /** Upsert one scored batch under `epoch` (> 0): per doc_id the
    * HIGHEST stored epoch wins, so replaying an older batch is a
    * no-op for docs a newer epoch already rescored or forgot.
    * Rewrites ONLY the buckets the batch's doc_ids hash into, each
    * atomically; returns the batch's row count. */
  def ingest(spark: SparkSession, path: String,
      scored: DataFrame, epoch: Long): Long = {
    require(epoch > 0, s"ingest epochs start at 1 (init is 0): $epoch")
    val buckets = numBuckets(spark, path)
    val delta = checked(scored, "ingest")
      .withColumn("epoch", lit(epoch))
      .withColumn("deleted", lit(false))
      .withColumn("_b", bucketOf(col("doc_id"), buckets))
      .localCheckpoint(true)
    val dup = delta.groupBy("doc_id").count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty, s"ingest: doc_id ${dup.head.get(0)} appears " +
      "more than once in this batch — two same-epoch verdicts have " +
      "no deterministic winner (dedupe upstream)")
    val fs = fsOf(spark, path)
    delta.select(col("_b").as("b")).distinct().collect()
      .map(_.getInt(0)).sorted.foreach { k =>
        val next = latestWins(readBucket(spark, path, k),
          delta.filter(col("_b") === k).drop("_b"))
          .localCheckpoint(true) // pinned before the swap replaces input
        graft.sources.AtomicSwap.rewrite(fs, bucketDir(path, k))(tmp =>
          graft.sources.SnapshotStore.write(next, tmp))
      }
    delta.count()
  }

  /** The ONE tombstone-visibility rule: live rows only, the fence
    * column dropped; a legacy frame missing `deleted` reads
    * all-live. [[read]] and [[lookup]] must never disagree on this. */
  private def liveOf(raw: DataFrame): DataFrame =
    if (raw.columns.contains("deleted"))
      raw.filter(!col("deleted")).drop("deleted")
    else raw

  /** The live verdict rows — tombstoned docs filtered (they stay in
    * the stored dataset as the replay fence until a compaction with
    * a proven epoch floor removes them). Unions the bucket datasets;
    * a legacy bucket missing the `deleted` column reads all-live. */
  def read(spark: SparkSession, path: String): DataFrame =
    liveOf(readAll(spark, path))

  /** BUCKET-PRUNED point lookup (r20): the live verdict rows for the
    * given doc_ids, reading ONLY the buckets those ids hash into —
    * the serving-read counterpart of the bucketed writes (a "what is
    * stored about doc X" audit, the DSAR read, must not scan a
    * billion-row store). Keys are a DataFrame like [[forget]]'s;
    * null ids match no stored doc and are skipped (an
    * externally-assembled subject frame legitimately carries them).
    * The answer equals `read().join(ids, semi)` by construction
    * (spec-pinned), at the cost of the affected buckets' slice. */
  def lookup(spark: SparkSession, path: String, ids: DataFrame)
      : DataFrame = {
    require(ids.columns.length == 1, "lookup: ids must be one column")
    val buckets = numBuckets(spark, path)
    val key = ids.columns.head
    val keys = ids.filter(col(key).isNotNull).localCheckpoint(true)
    val affected = affectedBuckets(keys, key, buckets)
    if (affected.isEmpty) // schema-faithful empty at ONE bucket's cost
      return liveOf(readBucket(spark, path, 0)).limit(0)
    val live = liveOf(affected.map(readBucket(spark, path, _))
      .reduce(_.unionByName(_)))
    live.join(keys, live("doc_id") === keys(key), "left_semi")
  }

  /** Every stored row, tombstones included (compaction + floors). */
  private def readAll(spark: SparkSession, path: String): DataFrame =
    (0 until numBuckets(spark, path))
      .map(readBucket(spark, path, _)).reduce(_.unionByName(_))

  /** The highest epoch the store has seen (0 for a fresh init) — the
    * floor new runs must exceed so stale high-epoch rows can never
    * outrank fresh writes. Bounded: one aggregate, read once per
    * run attach, never per batch. */
  def maxEpoch(spark: SparkSession, path: String): Long = {
    val raw = readAll(spark, path)
    if (!raw.columns.contains("epoch")) 0L
    else Option(raw.agg(max(col("epoch"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** RIGHT-TO-BE-FORGOTTEN: tombstone the given doc_ids under
    * `epoch`. The tombstone PERSISTS in the stored dataset (read()
    * filters it), so a crash-recovery replay of an OLDER scoring
    * batch can never resurrect a forgotten doc — the fence outlives
    * the forget. Touches ONLY the buckets the ids hash into; the
    * epoch check runs over ALL affected buckets BEFORE any rewrite,
    * so a rejected forget mutates nothing. Returns how many live
    * rows the forget removed. Keys are a DataFrame so a person-sized
    * set and a ten-million-row purge ride the same semi-join, never
    * a driver literal. */
  def forget(spark: SparkSession, path: String, ids: DataFrame,
      epoch: Long): Long = {
    require(epoch > 0, s"forget epochs start at 1 (init is 0): $epoch")
    require(ids.columns.length == 1, "forget: ids must be one column")
    val buckets = numBuckets(spark, path)
    val key = ids.columns.head
    // a null id matches no stored doc_id — skip it rather than NPE
    // in the bucket-hash collect (external subject frames carry them)
    val keys = ids.filter(col(key).isNotNull).localCheckpoint(true)
    val affected = affectedBuckets(keys, key, buckets)
    if (affected.isEmpty) return 0L
    val fs = fsOf(spark, path)
    // phase 1 — across every affected bucket: the doomed rows and
    // their max epoch, BEFORE any rewrite (a tombstone at an epoch ≤
    // a doomed row's own would LOSE the merge and silently leave the
    // doc live while this method reports it removed — the one
    // failure mode a deletion API must never have; loud, with the
    // floor to use, and nothing half-written)
    val perBucket = affected.map { k =>
      val cur0 = readBucket(spark, path, k)
      val cur = // legacy buckets (no deleted column) are all-live
        if (cur0.columns.contains("deleted")) cur0
        else cur0.withColumn("deleted", lit(false))
      val doomed = cur.filter(col("deleted") === false)
        .join(keys, cur("doc_id") === keys(key), "left_semi")
        .localCheckpoint(true)
      (k, cur, doomed, doomed.count())
    }
    val n = perBucket.map(_._4).sum
    if (n > 0) {
      val doomedMax = perBucket.filter(_._4 > 0)
        .map(_._3.agg(max(col("epoch"))).head.getLong(0)).max
      require(epoch > doomedMax, s"forget: epoch $epoch does not " +
        s"out-sequence the stored rows (max epoch $doomedMax) — the " +
        "tombstone would lose the merge and the docs would stay " +
        s"live; use an epoch > $doomedMax")
      // phase 2 — rewrite exactly the buckets holding doomed rows
      perBucket.filter(_._4 > 0).foreach { case (k, cur, doomed, _) =>
        val next = latestWins(cur,
          doomed.withColumn("epoch", lit(epoch))
            .withColumn("deleted", lit(true))
            .select(cur.columns.map(col): _*))
          .localCheckpoint(true)
        graft.sources.AtomicSwap.rewrite(fs, bucketDir(path, k))(tmp =>
          graft.sources.SnapshotStore.write(next, tmp))
      }
    }
    n
  }

  /** COMPACTION: physically drop tombstones whose epoch is at or
    * below `epochFloor` — safe exactly when the caller can prove no
    * batch at an epoch ≤ the floor will ever replay (the no-argument
    * overload DERIVES that proof from the persisted run floors).
    * Rewrites only the buckets that hold droppable fences. Live rows
    * are untouched; [[read]] answers identically before and after
    * (spec-pinned). Returns the number of tombstones dropped. */
  def compact(spark: SparkSession, path: String,
      epochFloor: Long): Long = {
    val fs = fsOf(spark, path)
    val doomed = col("deleted") && col("epoch") <= epochFloor
    (0 until numBuckets(spark, path)).map { k =>
      val cur = readBucket(spark, path, k)
      if (!cur.columns.contains("deleted")) 0L
      else {
        val n = cur.filter(doomed).count()
        if (n > 0) {
          val next = cur.filter(!doomed).localCheckpoint(true)
          graft.sources.AtomicSwap.rewrite(fs, bucketDir(path, k))(
            tmp => graft.sources.SnapshotStore.write(next, tmp))
        }
        n
      }
    }.sum
  }

  /** AUTO-COMPACTION (r20): derive the provable epoch floor from the
    * persisted run floors instead of trusting the caller. A
    * still-active run attached at floor F can only (re)write epochs
    * > F — its batches carry F + batchId + 1 — so a tombstone at
    * epoch ≤ min(active floors) can never be out-raced by any
    * replay; with every known run RETIRED, its checkpoints are
    * proven gone and any future sink attaches at a floor ≥ the
    * current max epoch, so every existing fence is droppable. A
    * store with NO persisted floors at all was fed by direct
    * [[ingest]] calls whose replay story this method cannot see —
    * there is no proof to derive, so it refuses loudly rather than
    * guess (the explicit-floor overload is the direct-ingest path).
    * Returns (floor used, tombstones dropped). */
  def compact(spark: SparkSession, path: String): (Long, Long) = {
    val floors = runFloors(spark, path)
    require(floors.nonEmpty, "compact(): no persisted run floors — " +
      "this store has never had a sink() attached, so no replay " +
      "floor can be proven; pass an explicit epochFloor instead")
    val active = floors.collect {
      case (_, floor, retired) if !retired => floor
    }
    val floor =
      if (active.nonEmpty) active.min else maxEpoch(spark, path)
    (floor, compact(spark, path, floor))
  }

  // ---- persisted run floors (the restart-safe epoch mapping) --------

  private def runMarker(path: String, tag: String): Path = {
    require(tag.nonEmpty && tag.forall(c => c.isLetterOrDigit ||
      "._-".contains(c)), s"run tag must be [A-Za-z0-9._-]+: '$tag'")
    // the marker PROTOCOL owns these suffixes: a tag ending '.tmp'
    // would be invisible to runFloors (its filterNot) — the run's
    // floor silently dropped from rebucket carry-over and the auto
    // compaction proof, re-attaching above the forget fences — and a
    // tag ending '.retired' would alias another tag's retirement
    require(!tag.endsWith(".tmp") && !tag.endsWith(".retired"),
      s"run tag must not end in '.tmp' or '.retired' (reserved by " +
        s"the marker protocol): '$tag'")
    new Path(s"$path/_runs/$tag")
  }

  /** Every persisted run floor: (tag, floor, retired). Bounded by the
    * number of runs ever attached (compactable via [[retireRun]]). */
  def runFloors(spark: SparkSession, path: String)
      : Seq[(String, Long, Boolean)] = {
    val fs = fsOf(spark, path)
    graft.sources.AtomicSwap.recover(fs, path)
    val dir = new Path(s"$path/_runs")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filterNot(_.getName.endsWith(".tmp"))
      .map { p =>
        val retired = p.getName.endsWith(".retired")
        (p.getName.stripSuffix(".retired"),
          readMarker(fs, p).toLong, retired)
      }
  }

  /** The floor for `tag`: reuse the persisted one when the tag has
    * attached before (the RESTART path — replayed batchIds map back
    * to their ORIGINAL epochs, so a forget tombstone written after
    * the original batch still out-sequences the replay and the
    * compaction proof stands); persist maxEpoch on first attach. A
    * retired tag cannot re-attach — retirement IS the proof its
    * checkpoints are gone. */
  private def attachFloor(spark: SparkSession, path: String,
      tag: String): Long = {
    val fs = fsOf(spark, path)
    // recover a crashed rebucket BEFORE consulting the marker: a
    // missing root would masquerade as a first attach and the floor
    // rewrite below would lift this run's replays above every forget
    // fence written since the original attach
    graft.sources.AtomicSwap.recover(fs, path)
    val at = runMarker(path, tag)
    require(!fs.exists(new Path(at.toString + ".retired")),
      s"sink: run '$tag' is retired — a retired run's checkpoints " +
        "are proven gone, so nothing may re-attach under its tag " +
        "(attach a fresh tag)")
    if (fs.exists(at)) readMarker(fs, at).toLong
    else {
      val floor = maxEpoch(spark, path)
      graft.sources.AtomicSwap.publish(fs, at, floor.toString)
      floor
    }
  }

  /** Declare run `tag`'s checkpoints RETIRED: no batch of that run
    * will ever replay again (the caller deleted the checkpoint dir).
    * The tag's floor stops constraining [[compact(spark,path)*]]'s
    * auto floor. Idempotent. */
  def retireRun(spark: SparkSession, path: String, tag: String)
      : Unit = {
    val fs = fsOf(spark, path)
    // a missing root would silently no-op below
    graft.sources.AtomicSwap.recover(fs, path)
    val at = runMarker(path, tag)
    val done = new Path(at.toString + ".retired")
    if (fs.exists(at) && !fs.exists(done))
      require(fs.rename(at, done), s"retireRun: cannot retire '$tag'")
  }

  /** Attach the store as a STREAMING sink for a scored verdict stream
    * ([[CorpusStreams.verdictStream]]'s output): each micro-batch
    * ingests under epoch = FLOOR + batchId + 1. The floor PERSISTS
    * per run tag at first attach (`path/_runs/<tag>`), and `runTag`
    * MUST identify the checkpoint lineage (same checkpoint dir ⇒
    * same tag): a RESTART from the same checkpoint then re-ingests
    * each replayed batch under its ORIGINAL epoch — idempotent by
    * the merge, unable to out-sequence a forget tombstone written
    * after the original batch (recomputing the floor at re-attach
    * would lift replays ABOVE those fences and resurrect forgotten
    * docs), and bounded below by the floor for the compaction proof.
    * A FRESH checkpoint is a fresh tag: it attaches at the store's
    * current max epoch and out-sequences everything stored. Within-
    * batch duplicate doc_ids are the caller's bug and stay loud. */
  def sink(scored: DataFrame, path: String, runTag: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val floor = attachFloor(scored.sparkSession, path, runTag)
    scored.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        ingest(batch.sparkSession, path,
          batch.drop("score"), epoch = floor + batchId + 1)
        ()
    }
  }
}
