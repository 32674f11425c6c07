package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The incremental corpus-build store's maintained invariant (the
  * q152 incremental-view contract): after any append/forget update,
  * the stored manifest equals the from-scratch build over the current
  * corpus — plus the parts the oracle cannot see: untouched shards
  * are NOT rewritten, updates are idempotent (the crash-repair path),
  * and an interrupted shard swap recovers on read. */
class CorpusManifestSpec extends SparkSpec {
  import spark.implicits._

  private val Shards = 8
  private val Budget = 50L

  private def corpus(ids: Seq[Long]) =
    ids.map(id => (id, 7L + id % 5)).toDF("doc_id", "ntok")

  private def freshPath(tag: String): String = scratch(s"cmspec_$tag")

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("shard", "pack_id").collect().map(_.toSeq).toSeq

  test("update after append+forget equals the from-scratch build, " +
    "recomputes only the affected shards, and leaves untouched " +
    "shard datasets physically unmodified") {
    val path = freshPath("inc")
    val v1Ids = (0L until 200L).filterNot(Seq(5L, 10L).contains) ++
      Seq(5L, 10L)
    CorpusManifest.init(spark, path, corpus(v1Ids), Budget, Shards)
    assert(CorpusManifest.version(spark, path) === 1L)
    // one update: append 3 new docs, forget 2 old ones
    val appended = Seq(1000L, 1001L, 1002L)
    val finalIds = (0L until 200L)
      .filterNot(Seq(5L, 10L).contains) ++ appended
    val affected = CorpusManifest.update(spark, path, corpus(finalIds),
      (appended ++ Seq(5L, 10L)).toDF("doc_id"), Budget, Shards)
    assert(CorpusManifest.version(spark, path) === 2L)
    assert(affected.nonEmpty && affected.size < Shards,
      s"5 changed ids must touch fewer than $Shards shards: $affected")
    // the stored v2 manifest IS the from-scratch build (the contract)
    val scratch = freshPath("scratch")
    CorpusManifest.init(spark, scratch, corpus(finalIds), Budget, Shards)
    assert(canon(CorpusManifest.read(spark, path)) ===
      canon(CorpusManifest.read(spark, scratch)))
    // untouched shards were not rewritten: their files' mtimes predate
    // the update (the swap replaces the whole shard dir)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val untouched = (0 until Shards).filterNot(affected.contains)
    assert(untouched.nonEmpty)
    untouched.foreach { k =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/s$k")
      val newest = fs.listStatus(dir).map(_.getModificationTime).max
      val touchedOldest = affected.map { a =>
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/s$a"))
          .map(_.getModificationTime).max
      }.min
      assert(newest < touchedOldest,
        s"shard s$k looks rewritten (mtime $newest >= $touchedOldest)")
    }
    // a FULL REBUILD over the existing store bumps PAST the old
    // generation — a version-keyed cache must see the change (r20:
    // committing "1" under the surviving "2" marker left version()
    // frozen across a rebuild)
    CorpusManifest.init(spark, path, corpus(finalIds), Budget, Shards)
    assert(CorpusManifest.version(spark, path) === 3L)
    assert(canon(CorpusManifest.read(spark, path)) ===
      canon(CorpusManifest.read(spark, scratch)))
  }

  test("re-running the same update is idempotent — the crash-repair " +
    "path after a mid-update failure") {
    val path = freshPath("idem")
    CorpusManifest.init(spark, path, corpus(0L until 100L),
      Budget, Shards)
    val finalC = corpus((0L until 100L) ++ Seq(500L))
    val changed = Seq(500L).toDF("doc_id")
    CorpusManifest.update(spark, path, finalC, changed, Budget, Shards)
    val after1 = canon(CorpusManifest.read(spark, path))
    CorpusManifest.update(spark, path, finalC, changed, Budget, Shards)
    assert(canon(CorpusManifest.read(spark, path)) === after1)
    assert(CorpusManifest.version(spark, path) === 3L) // v bumps, rows stable
  }

  test("an interrupted shard swap recovers on read: a shard left at " +
    "its _precompact name (crash between the two renames) serves " +
    "its complete pre-swap data") {
    val path = freshPath("crash")
    CorpusManifest.init(spark, path, corpus(0L until 120L),
      Budget, Shards)
    val before = canon(CorpusManifest.read(spark, path))
    // simulate the crash window: the live dir was moved aside and the
    // writer died before promoting the replacement
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val s0 = new org.apache.hadoop.fs.Path(s"$path/s0")
    assert(fs.rename(s0, new org.apache.hadoop.fs.Path(
      s"$path/s0_precompact")))
    assert(canon(CorpusManifest.read(spark, path)) === before)
    assert(fs.exists(s0)) // recovery restored the live name
  }

  test("updateWithFeed: the pack-level change feed equals the whole-" +
    "store diff of the two generations (untouched shards cannot " +
    "change), and an empty change set feeds nothing") {
    import spark.implicits._
    val path = freshPath("feed")
    CorpusManifest.init(spark, path, corpus(0L until 200L),
      Budget, Shards)
    val beforeAll = CorpusManifest.read(spark, path)
      .localCheckpoint(true)
    val appended = Seq(2000L, 2001L)
    val finalIds = (0L until 200L).filterNot(_ == 7L) ++ appended
    val feedDf = CorpusManifest.updateWithFeed(spark, path,
      corpus(finalIds), (appended :+ 7L).toDF("doc_id"),
      Budget, Shards).localCheckpoint(true)
    val feed = feedDf.orderBy("shard", "pack_id").collect()
    val whole = graft.sources.SnapshotStore.diff(beforeAll,
      CorpusManifest.read(spark, path), Seq("shard", "pack_id"))
      .orderBy("shard", "pack_id").collect()
    assert(feed.map(_.toSeq).toSeq === whole.map(_.toSeq).toSeq)
    assert(feed.nonEmpty)
    // every fed pack sits in a shard a changed id hashes into
    val affected = (appended :+ 7L).toDF("doc_id")
      .select(CorpusManifest.shardOf(col("doc_id"), Shards))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(feed.map(_.getAs[Int]("shard")).toSet.subsetOf(affected))
    assert(CorpusManifest.version(spark, path) === 2L)
    // the CONSUMER half of the loop: a replica of generation 1 that
    // applies the feed serves generation 2 (diff/apply inverses, the
    // q156 algebra on the manifest rows)
    val replayed = graft.sources.SnapshotStore.applyDiff(beforeAll,
      feedDf, Seq("shard", "pack_id"))
    assert(canon(replayed) ===
      canon(CorpusManifest.read(spark, path)))
    // no-op change set: nothing rewritten, nothing fed, version holds
    val empty = CorpusManifest.updateWithFeed(spark, path,
      corpus(finalIds), Seq.empty[Long].toDF("doc_id"),
      Budget, Shards)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq ===
      Seq("op", "shard", "pack_id", "n_docs", "n_tokens", "ids_md5"))
    assert(CorpusManifest.version(spark, path) === 2L)
  }

  test("a rebuild under a SMALLER shard count clears the old " +
    "generation's out-of-range shard dirs — read() serves exactly " +
    "the new-count from-scratch build, never a two-generation blend") {
    val path = freshPath("shrink")
    CorpusManifest.init(spark, path, corpus(0L until 180L),
      Budget, Shards)
    CorpusManifest.init(spark, path, corpus(0L until 180L),
      Budget, Shards / 2)
    assert(CorpusManifest.version(spark, path) === 2L)
    val scratch = freshPath("shrink_scratch")
    CorpusManifest.init(spark, scratch, corpus(0L until 180L),
      Budget, Shards / 2)
    assert(canon(CorpusManifest.read(spark, path)) ===
      canon(CorpusManifest.read(spark, scratch)))
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stale = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName)
      .filter(_.matches(s"s([${Shards / 2}-9]|\\d\\d+).*"))
    assert(stale.isEmpty, s"stale shard dirs survived: ${stale.toSeq}")
  }

  test("a crashed FIRST init is loud, never silently partial: read() " +
    "refuses until the re-run commits the marker, and a _staging " +
    "leftover is invisible to the shard listing") {
    val path = freshPath("halfinit")
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // simulate the crash: some shard dirs landed (complete — init
    // commits each by one rename), one died mid-stage, no marker yet
    val docs = corpus(0L until 150L)
    val scratch = freshPath("halfinit_scratch")
    CorpusManifest.init(spark, scratch, docs, Budget, Shards)
    (0 until 3).foreach { k =>
      fs.rename(new org.apache.hadoop.fs.Path(s"$scratch/s$k"),
        new org.apache.hadoop.fs.Path(s"$path/s$k"))
    }
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/s3_staging"))
    intercept[IllegalArgumentException] { // no version marker → loud
      CorpusManifest.read(spark, path)
    }
    // the re-run (same inputs) repairs: every shard commits, marker
    // lands last, and the served manifest IS the from-scratch build
    CorpusManifest.init(spark, path, docs, Budget, Shards)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/s3_staging")))
    val scratch2 = freshPath("halfinit_scratch2")
    CorpusManifest.init(spark, scratch2, docs, Budget, Shards)
    assert(canon(CorpusManifest.read(spark, path)) ===
      canon(CorpusManifest.read(spark, scratch2)))
  }
}
