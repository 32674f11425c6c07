package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The store commit protocol: the one module that knows how a
  * directory dataset is replaced, first committed and recovered, and
  * how a small marker file is published. Every persisted store commits
  * through it. The invariant: at any instant the data exists under AT
  * LEAST one of `path`, `path_precompact` (the original, mid-swap) or
  * `path_compacting` (the finished replacement, mid-swap) — and a rerun
  * first completes or rolls back an interrupted swap before deleting
  * anything.
  *
  * Writers: [[rewrite]] (an existing dataset), [[initOrRewrite]] (also
  * the first commit, staged at `path_staging`) and [[publish]] (a small
  * write-once file). Readers: [[recover]], which [[SnapshotStore.read]]
  * calls itself.
  *
  * Swap discipline: two renames, never delete-then-rename, with every
  * rename's boolean result CHECKED (Hadoop FileSystems report most
  * failures by returning false, not throwing); a failed promotion
  * restores the original before aborting.
  *
  * Reader-vs-writer: the live path legitimately vanishes only inside
  * the writer's two-rename window, which the writer brackets with a
  * `path_swapping` liveness marker. [[recover]] treats a FRESH marker
  * as "a live writer is mid-swap" and waits it out instead of renaming
  * `_precompact` back over the live name — which would silently roll
  * the compaction back and fail the writer's promotion. Only a STALE
  * marker (the writer crashed inside the window) falls through to
  * actual recovery.
  *
  * Concurrency contract: rewrite is a single-WRITER maintenance
  * operation — callers must not append to `path` while it runs (a
  * filesystem layout has no lock to offer; writes landing between the
  * snapshot read and the swap would be lost with the superseded copy).
  * Concurrent READERS are safe: they go through [[recover]].
  */
object AtomicSwap {

  /** How long [[recover]] believes a `_swapping` marker means a LIVE
    * writer before treating it as a crash leftover. The gated window is
    * two renames (milliseconds on any real FileSystem); the grace only
    * delays readers once after a genuine writer crash. Test-tunable. */
  @volatile private[sources] var livenessGraceMs: Long = 10000L

  // the swap traces beside a dataset at `path`
  private val Aside = "_precompact" // the original, moved aside
  private val Replacement = "_compacting" // the finished replacement
  private val Lock = "_swapping" // the writer's liveness marker
  private val Stage = "_staging" // a first commit, built aside

  private def lockOf(path: String) = new Path(path + Lock)

  /** The dataset a directory entry named `name` is a swap trace of: a
    * copy [[recover]] restores (`_precompact`, `_compacting`) and, with
    * `staged`, also a first commit's stage, which is never served.
    * None for any other name. */
  def datasetOf(name: String, staged: Boolean = false): Option[String] =
    (if (staged) Seq(Aside, Replacement, Stage) else Seq(Aside, Replacement))
      .find(name.endsWith).map(s => name.dropRight(s.length))

  /** Test-only failpoint: specs inject a concurrent reader at a named
    * protocol step (a unit test cannot GC-pause the JVM mid-swap).
    * Production never sets it. */
  @volatile private[sources] var failpoint: String => Unit = _ => ()

  /** Recover an interrupted swap at `path`, if any: restore the original
    * if it was moved aside (preferred — it is always complete), else
    * promote the finished replacement. MUST be called by READERS of a
    * swap-managed path before their first read — the recovery logic
    * living only inside [[rewrite]] would be unreachable exactly when
    * it is needed (every entry point reads the path before it ever
    * rewrites it, so a mid-swap crash would wedge the dataset until the
    * next rewrite that never comes). No-op when the path is live, and
    * when neither it nor a copy of it exists (a dataset never
    * committed: the caller's own read answers); waits out a FRESH
    * liveness marker (live writer mid-swap) rather than racing it. */
  def recover(fs: FileSystem, path: String): Unit = {
    val live = new Path(path)
    val tmp = new Path(path + Replacement)
    val old = new Path(path + Aside)
    val lock = lockOf(path)
    // TWO recovering readers can reach the stale-marker branch together:
    // whoever renames first wins, and the loser must treat its lost race
    // as "already recovered" — a blind rename would nest the source
    // inside the now-restored live dir (Hadoop rename-into-existing-dir
    // semantics) or fail spuriously. So: re-check live immediately
    // before every rename, never assert a rename that can legitimately
    // lose, and LOOP — the next iteration observes the winner's result.
    // The attempt cap turns a persistent FS fault (nothing racing,
    // rename still failing) back into a loud error instead of a hang.
    var attempts = 0
    while (!fs.exists(live)) {
      val writerAlive = try {
        System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime <= livenessGraceMs
      } catch { case _: java.io.FileNotFoundException => false }
      if (writerAlive) Thread.sleep(25) // about to finish its swap
      else {
        attempts += 1
        if (attempts > 20)
          throw new java.io.IOException(
            s"swap recovery: $path still missing after $attempts attempts")
        // a rename whose SOURCE a racing recoverer just took can THROW
        // FileNotFoundException (RawLocalFileSystem's copy fallback
        // stats the source) rather than return false — same lost race,
        // same treatment: loop and observe the winner's result. And a
        // rename whose DESTINATION appeared in the exists-check→rename
        // gap (the writer's own promotion racing this recovery) NESTS
        // the source inside it — audit and un-nest, then treat as a
        // lost race: the destination that appeared is the live data.
        def promote(src: Path): Boolean =
          try {
            if (fs.exists(live) || !fs.rename(src, live)) false
            else {
              val nested = new Path(live, src.getName)
              if (fs.exists(nested)) { fs.rename(nested, src); false }
              else true
            }
          } catch { case _: java.io.FileNotFoundException => false }
        val recovered =
          if (fs.exists(old)) promote(old)
          else if (fs.exists(tmp)) promote(tmp)
          else true // a racing recoverer just won, or nothing to recover
        if (recovered) {
          fs.delete(lock, false)
          return
        } // else: lost the race or transient failure — loop re-checks
      }
    }
  }

  /** [[rewrite]] that also handles the FIRST commit: an EXISTING
    * dataset rides the two-rename swap; a dataset that never existed
    * stages fully aside (`path_staging`) and commits by ONE rename —
    * a crash mid-stage leaves only the stage dir (the dataset still
    * "never existed", and the re-run's delete-then-restage repairs
    * it), so readers can never see a partially-written first build.
    * Recovers a crashed swap BEFORE the exists probe, so a mid-swap
    * dataset takes the swap path instead of a shadowing stage. */
  def initOrRewrite(fs: FileSystem, path: String)
      (write: String => Unit): Unit = {
    val live = new Path(path)
    recover(fs, path)
    if (fs.exists(live)) rewrite(fs, path)(write)
    else {
      val stage = new Path(path + Stage)
      fs.delete(stage, true)
      write(stage.toString)
      // a racing second initializer can land its rename first — then
      // THIS rename moves the stage INSIDE the now-existing live dir
      // (Hadoop rename-into-existing-dir) and still returns true,
      // silently blending a `<name>_staging` subdir into the dataset.
      // Same defense as recover()/rewrite(): re-check, audit, un-nest.
      if (fs.exists(live) || !fs.rename(stage, live)) {
        val nested = new Path(live, stage.getName)
        if (fs.exists(nested)) fs.rename(nested, stage)
        if (!fs.exists(live))
          throw new java.io.IOException(
            s"swap: cannot commit first write at $path")
        throw new java.io.IOException(
          s"swap: lost the first-commit race at $path — another " +
            s"writer's dataset is live; this one's is at $stage")
      }
      val nested = new Path(live, stage.getName)
      if (fs.exists(nested)) {
        fs.rename(nested, stage)
        throw new java.io.IOException(
          s"swap: lost the first-commit race at $path (nested commit " +
            s"repaired); the loser's dataset is at $stage")
      }
    }
  }

  /** Rewrite `path` by having `write` produce the replacement at the tmp
    * location, then swap it live. `write` reads the live path freely —
    * nothing moves until it returns. A path that does not exist (after
    * recovery) fails loudly: there is nothing to rewrite. */
  def rewrite(fs: FileSystem, path: String)(write: String => Unit): Unit = {
    val live = new Path(path)
    val tmp = new Path(path + Replacement)
    val old = new Path(path + Aside)
    val lock = lockOf(path)
    recover(fs, path)
    if (!fs.exists(live)) throw new java.io.FileNotFoundException(path)
    fs.delete(tmp, true); fs.delete(old, true)
    write(tmp.toString)
    // liveness marker brackets the swap window: while it is fresh,
    // concurrent readers' recover() waits instead of rolling us back
    fs.create(lock, true).close()
    try {
      require(fs.rename(live, old), s"swap: cannot move $path aside")
      failpoint("aside")
      // refresh the liveness marker IMMEDIATELY before promoting: a
      // reader's recovery that samples the mtime from here on sees a
      // fresh writer and waits, shrinking the exists-check→rename race
      // to the promotion itself (covered by the post-rename audit below)
      fs.create(lock, true).close()
      // re-check live before promoting: if a reader's stale-marker
      // recovery restored the original while this writer was paused,
      // renaming onto the existing dir would NEST the replacement
      // inside it (Hadoop's rename-into-existing-dir fallback),
      // silently corrupting the dataset instead of failing
      val liveRestored = fs.exists(live)
      failpoint("promote")
      if (liveRestored || !fs.rename(tmp, live)) {
        if (fs.exists(live)) {
          // a reader's stale-marker recovery rolled us back mid-window
          // (this writer paused past the liveness grace — GC, swap-out):
          // the ORIGINAL is live again and our replacement still sits at
          // tmp. Data is safe; report the rollback, not a bogus
          // "restore failed".
          throw new java.io.IOException(
            s"swap: rolled back by concurrent recovery at $path " +
              s"(writer exceeded the liveness grace); replacement left " +
              s"at $tmp — retry the rewrite")
        }
        // promotion failed (dest recreated, object-store quirk, ...):
        // put the original back so the live path never stays empty
        require(fs.rename(old, live), s"swap: promotion AND restore failed " +
          s"for $path — data is at $old")
        throw new java.io.IOException(
          s"swap: cannot promote $tmp over $path; original restored")
      }
      // post-promotion audit closes the residual exists-check→rename
      // window: if a recovery restored the original in that gap, our
      // rename nested the replacement at live/<tmp-basename>. Un-nest
      // it back to tmp and report the rollback loudly — the restored
      // ORIGINAL stays live, nothing is silently corrupted.
      val nested = new Path(live, tmp.getName)
      if (fs.exists(nested)) {
        fs.rename(nested, tmp)
        throw new java.io.IOException(
          s"swap: rolled back by concurrent recovery at $path (nested " +
            s"promotion repaired); replacement left at $tmp — retry")
      }
      fs.delete(old, true)
    } finally fs.delete(lock, false)
    ()
  }

  /** Publish the small file `at` holding `text`: the bytes land in
    * `<at>.tmp`, which renames onto `at` only after a successful close,
    * so a reader sees the whole file or none (a crash leaves at most
    * the `.tmp`, which readers ignore). Write-once: an existing `at`
    * is refused before anything is written, because a rename onto it
    * would replace it and a delete-then-rename would open a window
    * with no file at all. */
  def publish(fs: FileSystem, at: Path, text: String): Unit = {
    require(!fs.exists(at), s"publish: $at already exists")
    val tmp = new Path(at.getParent, at.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, at)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"publish: cannot commit $at")
    }
  }
}
