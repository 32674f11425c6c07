package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** VERSIONED, incrementally-maintained corpus-build manifest (r19) —
  * the persisted form of the q220 pack manifest, maintained across
  * corpus APPENDS and right-to-be-forgotten FORGETS without a
  * from-scratch rebuild.
  *
  * Invalidation unit = the SHARD: the q65 packing is a per-shard
  * prefix fold (each doc's pack is the running token sum before it in
  * (h, doc_id) order), so ANY membership change in a shard shifts
  * every later pack boundary in that shard — pack-level patching
  * cannot preserve the from-scratch layout. The store therefore keeps
  * one dataset per shard and an update recomputes EXACTLY the shards
  * whose membership changed, leaving the other shard datasets
  * untouched on disk. The maintained invariant is the q152
  * incremental-view contract: after any update sequence, the stored
  * manifest equals the from-scratch build over the current corpus
  * (spec-pinned, and q225's oracle replays the from-scratch build).
  *
  * Crash safety: each shard rewrites through
  * [[graft.sources.AtomicSwap]] (readers recover interrupted swaps);
  * the version marker commits LAST via create-temp + rename, so a
  * crash mid-update leaves a store that a re-run of the same update
  * repairs idempotently (same inputs → same shard rows).
  *
  * 100 TB posture: an update's work is proportional to the TOUCHED
  * shards' corpus slice, not the corpus; the affected-shard set is
  * bounded by the shard count (a distinct-collect of ≤ `shards`
  * ints); no driver state beyond that.
  */
object CorpusManifest {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def shardDir(path: String, k: Int) = s"$path/s$k"

  /** The q220/q65 shard assignment — ONE definition with the batch
    * query (seed-5 content-stable hash mod shards). */
  def shardOf(docId: Column, shards: Int): Column =
    (graft.functions.TextFunctions.seededHash(docId.cast("string"), 5)
      % shards).cast("int")

  /** The q220 manifest fold over (doc_id, ntok) docs — one row per
    * (shard, pack): counts plus the placement-ordered id checksum.
    * Package-visible: q228 packs the verdict store's keepers through
    * this same definition. */
  private[graft] def manifestRows(docs: DataFrame, budget: Long,
      shards: Int): DataFrame = manifestRows(docs, budget, shards, Nil)

  /** [[manifestRows]] with EXTRA per-pack aggregates (r20): q233's
    * mixed-modality manifest rides this same fold with per-modality
    * counts — the pack rule (hash, shard, prefix sum, cut, checksum)
    * stays ONE definition, so it cannot silently diverge between the
    * single-modality and mixed builds. Extra aggregates land between
    * `n_tokens` and `ids_md5`. */
  private[graft] def manifestRows(docs: DataFrame, budget: Long,
      shards: Int, extraAggs: Seq[org.apache.spark.sql.Column])
      : DataFrame = {
    import graft.functions.TextFunctions.seededHash
    val d = docs
      .withColumn("h", seededHash(col("doc_id").cast("string"), 5))
      .withColumn("shard", shardOf(col("doc_id"), shards))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("h"), col("doc_id"))
    val aggs = Seq(count(lit(1)).as("n_docs"),
      sum(col("ntok")).as("n_tokens")) ++ extraAggs :+
      md5(concat_ws(",",
        transform(
          sort_array(collect_list(struct(col("h"), col("doc_id")))),
          x => x.getField("doc_id").cast("string")))).as("ids_md5")
    d.withColumn("strt", sum(col("ntok")).over(w) - col("ntok"))
      .withColumn("pack_id", floor(col("strt") / budget))
      .groupBy("shard", "pack_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Commit one shard's rows without ever exposing a partial parquet
    * dir — [[graft.sources.AtomicSwap.initOrRewrite]]: an EXISTING
    * shard rides the two-rename swap (readers recover interruptions),
    * a FRESH one stages aside and commits by ONE rename (`_staging`
    * never matches [[read]]'s shard-dir pattern, so a crash mid-stage
    * is invisible and the re-run repairs it). */
  private def writeShard(spark: SparkSession, fs: FileSystem,
      path: String, k: Int, shardRows: DataFrame): Unit =
    graft.sources.AtomicSwap.initOrRewrite(fs, shardDir(path, k))(at =>
      shardRows.coalesce(1).write.mode("overwrite").parquet(at))

  /** Version marker: a one-line `_version_<v>` file committed AFTER
    * the shard rewrites — the store's generation number a serving
    * layer keys caches on. MONOTONIC FILENAMES, never delete-then-
    * rename (r20): the commit is one rename onto a name that does
    * not exist yet, so there is NO window in which a reader sees no
    * marker — a reader racing a live writer reads either the old max
    * or the new max, both complete by construction (the r19 layout's
    * promote-the-tmp reader could steal a live writer's rename and
    * abort a healthy update after its shard rewrites). Superseded
    * markers are garbage-collected best-effort; a crash between
    * commit and GC leaves both, and [[version]] takes the max. */
  private def writeVersion(fs: FileSystem, path: String,
      v: Long): Unit = {
    val dst = new Path(s"$path/_version_$v")
    // an identical crashed re-run may already have committed it
    if (!fs.exists(dst))
      graft.sources.AtomicSwap.publish(fs, dst, v.toString)
    versionMarkers(fs, path).filter(_._2 < v)
      .foreach { case (p, _) => fs.delete(p, false) }
    // GC orphans the anchored marker regex never matches: crashed
    // writers' .tmp staging files and the pre-r20 _version layout
    // (both superseded the moment a monotonic marker committed)
    Seq(s"_version_$v.tmp", "_version", "_version_tmp")
      .map(n => new Path(s"$path/$n"))
      .filter(fs.exists).foreach(fs.delete(_, false))
  }

  private def versionMarkers(fs: FileSystem, path: String)
      : Seq[(Path, Long)] = {
    val dir = new Path(path)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .flatMap { p =>
        val m = "_version_(\\d+)".r
        p.getName match {
          case m(n) => Some(p -> n.toLong)
          case _ => None
        }
      }
  }

  def version(spark: SparkSession, path: String): Long = {
    val fs = fsOf(spark, path)
    val vs = versionMarkers(fs, path)
    if (vs.nonEmpty) vs.map(_._2).max
    else {
      // pre-r20 layout fallback: a single _version file (or, after a
      // crash inside the old delete→rename window, only the COMPLETE
      // _version_tmp) — readable here so an existing store survives
      // the marker-scheme change; the next writeVersion migrates and
      // GCs it
      val legacy = Seq("_version", "_version_tmp")
        .map(n => new Path(s"$path/$n")).find(fs.exists)
        .getOrElse(throw new IllegalArgumentException(
          s"manifest at $path: no version marker"))
      val in = fs.open(legacy)
      try scala.io.Source.fromInputStream(in).mkString.trim.toLong
      finally in.close()
    }
  }

  /** Full build: every shard written, version 1. `docs` is the
    * CURRENT corpus as (doc_id, ntok) — filtering (the ensemble
    * verdict) happens upstream. Doubles as the REBUILD path over an
    * existing store (the version bumps past the old generation).
    * Crash safety (r20): no shard dir is ever written DIRECTLY — a
    * fresh shard stages fully aside and commits by one rename (a
    * crash mid-stage leaves only the invisible `_staging` dir, which
    * the re-run overwrites), an existing shard rides [[graft.sources
    * .AtomicSwap]] like [[update]]'s — so [[read]] can never serve a
    * partially-written parquet dir. A crash between two shard
    * commits leaves a blend of generations, each shard complete; the
    * blend is exactly [[update]]'s documented mid-update state (shard
    * content depends only on that shard's docs) and a re-run repairs
    * it idempotently. */
  def init(spark: SparkSession, path: String, docs: DataFrame,
      budget: Long, shards: Int): Unit = {
    val fs = fsOf(spark, path)
    val rows = manifestRows(docs, budget, shards).localCheckpoint(true)
    (0 until shards).foreach { k =>
      writeShard(spark, fs, path, k,
        rows.filter(col("shard") === k).drop("shard"))
    }
    // a rebuild under a SMALLER shard count must clear the old
    // generation's now-out-of-range shard dirs (and any swap/stage
    // leftovers) — read()'s listing would otherwise union both
    // generations into a manifest where a doc appears twice; each
    // surviving state is still per-shard complete, and a crash
    // mid-delete is repaired by the re-run like any other blend
    fs.listStatus(new Path(path)).toSeq.map(_.getPath)
      .filter { p =>
        val name = graft.sources.AtomicSwap.datasetOf(p.getName,
          staged = true).getOrElse(p.getName)
        name.matches("s\\d+") && name.drop(1).toInt >= shards
      }.foreach(fs.delete(_, true))
    // a REBUILD over an existing store must bump PAST the old
    // generation — committing "1" under a surviving higher marker
    // (or a surviving pre-r20 legacy `_version`, which version()
    // still reads) would leave version() unchanged or REGRESSED
    // across a rebuild that rewrote every shard, and version-keyed
    // caches would serve stale packs
    val v = 1L + (try version(spark, path)
      catch { case _: IllegalArgumentException => 0L })
    writeVersion(fs, path, v)
  }

  /** Incremental maintenance: `docs` is the corpus AFTER the
    * append/forget, `changed` the doc_ids that were appended OR
    * forgotten. Recomputes exactly the shards those ids hash into
    * and bumps the version; untouched shard datasets are not opened,
    * not rewritten. Returns the affected shard ids (sorted). Re-run
    * with the same inputs is idempotent — the crash-repair path. */
  def update(spark: SparkSession, path: String, docs: DataFrame,
      changed: DataFrame, budget: Long, shards: Int): Seq[Int] = {
    val fs = fsOf(spark, path)
    val affected = changed
      .select(shardOf(col("doc_id"), shards).as("shard"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) return affected
    val rows = manifestRows(
      docs.filter(shardOf(col("doc_id"), shards).isin(affected: _*)),
      budget, shards).localCheckpoint(true)
    affected.foreach { k =>
      writeShard(spark, fs, path, k,
        rows.filter(col("shard") === k).drop("shard"))
    }
    writeVersion(fs, path, version(spark, path) + 1L)
    affected
  }

  /** [[update]] that also returns the PACK-LEVEL CHANGE FEED between
    * the two generations (r20) — the CDC-OUT a serving layer keys
    * cache invalidation on: one row per (shard, pack_id) whose
    * manifest row changed, `op` ∈ insert/update/delete with
    * [[graft.sources.SnapshotStore.diff]]'s image rule (delete
    * carries the BEFORE row). The version bump alone says "something
    * changed"; this says WHICH packs to re-fetch — at 100 TB the
    * difference between re-reading the touched shards' slice and
    * re-reading nothing but the changed packs.
    *
    * Cost ∝ the TOUCHED shards: the before-image reads only the
    * affected shard datasets (pinned eagerly before any rewrite),
    * the diff is one full-outer join bounded by their pack rows —
    * and because untouched shards cannot change (a shard's packs
    * depend only on its own docs), the affected-shards diff EQUALS
    * the whole-store diff (spec-pinned). */
  def updateWithFeed(spark: SparkSession, path: String,
      docs: DataFrame, changed: DataFrame, budget: Long,
      shards: Int): DataFrame = {
    // pinned: update() re-derives the affected set from this frame,
    // and a non-deterministic `changed` could otherwise diverge
    // between the before-image read here and the rewrite there —
    // a feed that misses changed shards
    val ch = changed.localCheckpoint(true)
    val affected = ch
      .select(shardOf(col("doc_id"), shards).as("shard"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (affected.isEmpty) { // schema-faithful empty feed, one shard's cost
      val probe = readShards(spark, path, Seq(0)).limit(0)
      return graft.sources.SnapshotStore.diff(probe, probe,
        Seq("shard", "pack_id"))
    }
    val before = readShards(spark, path, affected)
      .localCheckpoint(true) // pinned before the swaps replace it
    update(spark, path, docs, ch, budget, shards)
    // the feed pins too: a LATER update's swap deletes the files the
    // after-side plan captured — a lazily-held feed would throw (or
    // silently shrink) when finally collected
    graft.sources.SnapshotStore.diff(before,
      readShards(spark, path, affected), Seq("shard", "pack_id"))
      .localCheckpoint(true)
  }

  /** The stored rows of the given shards only — [[read]]'s recovery
    * contract at the touched slice's cost. */
  private def readShards(spark: SparkSession, path: String,
      ks: Seq[Int]): DataFrame = {
    val fs = fsOf(spark, path)
    ks.map { k =>
      graft.sources.AtomicSwap.recover(fs, shardDir(path, k))
      spark.read.parquet(shardDir(path, k))
        .withColumn("shard", lit(k))
    }.reduce(_.unionByName(_))
      .select("shard", "pack_id", "n_docs", "n_tokens", "ids_md5")
  }

  /** Read the current manifest — recovers any interrupted shard swap
    * first (the AtomicSwap reader contract), then unions the shard
    * datasets back with their shard column. Requires a committed
    * version marker: [[init]] commits it LAST, so its presence proves
    * every shard dir landed — without the gate, a crash mid-FIRST-
    * init would serve a silently partial manifest. */
  def read(spark: SparkSession, path: String): DataFrame = {
    version(spark, path) // loud on a store init never finished
    val fs = fsOf(spark, path)
    val live = fs.listStatus(new Path(path)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .map(n => graft.sources.AtomicSwap.datasetOf(n).getOrElse(n))
      .filter(_.matches("s\\d+")).distinct.sorted
    live.map { name =>
      graft.sources.AtomicSwap.recover(fs, s"$path/$name")
      spark.read.parquet(s"$path/$name")
        .withColumn("shard", lit(name.drop(1).toInt))
    }.reduce(_.unionByName(_))
      .select("shard", "pack_id", "n_docs", "n_tokens", "ids_md5")
  }
}
