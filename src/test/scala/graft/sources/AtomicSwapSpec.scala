package graft.sources

import graft.SparkSpec

/** The swap invariant under simulated crashes: a rerun after ANY
  * interruption point recovers the data instead of deleting it (the
  * failure mode of a naive delete-leftovers-first swap: crash between
  * the renames, rerun deletes both surviving copies). */
class AtomicSwapSpec extends SparkSpec {

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def mkData(path: String, n: Int): Unit = {
    import spark.implicits._
    (1 to n).toDF("v").write.mode("overwrite").parquet(path)
  }

  private def rows(path: String): Long = spark.read.parquet(path).count()

  private def rewriteDouble(path: String): Unit =
    AtomicSwap.rewrite(fs, path) { tmp =>
      import spark.implicits._
      spark.read.parquet(path).as[Int].map(_ * 2).toDF("v")
        .write.mode("overwrite").parquet(tmp)
    }

  test("normal rewrite replaces the data and clears scaffolding") {
    val p = java.nio.file.Files.createTempDirectory("swap_n").toString + "/d"
    mkData(p, 10)
    rewriteDouble(p)
    assert(rows(p) === 10)
    assert(spark.read.parquet(p).collect().map(_.getInt(0)).sum === 110)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "_compacting")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "_precompact")))
  }

  test("crash between the renames: rerun restores the original and works") {
    val p = java.nio.file.Files.createTempDirectory("swap_c").toString + "/d"
    mkData(p, 10)
    // simulate the exact mid-swap crash state: live moved aside, the
    // replacement still at the tmp name
    mkData(p + "_compacting", 99)
    assert(fs.rename(new org.apache.hadoop.fs.Path(p),
      new org.apache.hadoop.fs.Path(p + "_precompact")))
    // a rerun must NOT delete either surviving copy before recovering
    rewriteDouble(p)
    assert(rows(p) === 10, "original data lost by rerun")
  }

  test("crash after the original was deleted: the replacement is promoted") {
    val p = java.nio.file.Files.createTempDirectory("swap_t").toString + "/d"
    // only the finished replacement survives (crash after old-delete
    // started... i.e. live gone, no precompact)
    mkData(p + "_compacting", 7)
    rewriteDouble(p)
    assert(rows(p) === 7)
  }

  test("nothing to recover: missing path fails loudly, deletes nothing") {
    val p = java.nio.file.Files.createTempDirectory("swap_m").toString + "/d"
    intercept[java.io.FileNotFoundException] { rewriteDouble(p) }
  }

  test("a reader inside a LIVE compaction's swap window waits for the " +
    "writer instead of rolling the compaction back") {
    val p = java.nio.file.Files.createTempDirectory("swap_race").toString + "/d"
    val live = new org.apache.hadoop.fs.Path(p)
    val old = new org.apache.hadoop.fs.Path(p + "_precompact")
    val tmp = new org.apache.hadoop.fs.Path(p + "_compacting")
    val lock = new org.apache.hadoop.fs.Path(p + "_swapping")
    // freeze the exact mid-swap instant: original moved aside, the
    // replacement still at the tmp name, liveness marker FRESH
    mkData(p, 10)
    mkData(p + "_compacting", 7)
    fs.create(lock, true).close()
    assert(fs.rename(live, old))
    // the "writer" finishes its swap 200 ms later, on another thread
    val writer = new Thread(() => {
      Thread.sleep(200)
      assert(fs.rename(tmp, live))
      fs.delete(old, true)
      fs.delete(lock, false)
    })
    writer.start()
    // the reader arrives inside the window: recover() must NOT rename
    // _precompact back over the live name (that would roll back the
    // compaction and fail the writer's promotion) — it waits
    AtomicSwap.recover(fs, p)
    writer.join()
    assert(rows(p) === 7, "reader rolled back the live compaction")
    assert(!fs.exists(old) && !fs.exists(tmp) && !fs.exists(lock))
  }

  test("TWO readers recovering the same stale crash do not destroy data: " +
    "the loser treats its lost race as already-recovered") {
    val p = java.nio.file.Files.createTempDirectory("swap_race2").toString + "/d"
    val live = new org.apache.hadoop.fs.Path(p)
    val old = new org.apache.hadoop.fs.Path(p + "_precompact")
    val lock = new org.apache.hadoop.fs.Path(p + "_swapping")
    val prev = AtomicSwap.livenessGraceMs
    AtomicSwap.livenessGraceMs = 0L
    try {
      for (round <- 1 to 5) { // the race is timing-dependent: hammer it
        mkData(p, 10)
        mkData(p + "_compacting", 99)
        fs.create(lock, true).close()
        assert(fs.rename(live, old))
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        val readers = (1 to 2).map(_ => new Thread(() =>
          try AtomicSwap.recover(fs, p)
          catch { case t: Throwable => errs.add(t) }))
        readers.foreach(_.start()); readers.foreach(_.join())
        assert(errs.isEmpty, s"round $round: ${errs.peek()}")
        // the original is live, once, not nested inside itself
        assert(rows(p) === 10, s"round $round: data lost")
        assert(!fs.exists(new org.apache.hadoop.fs.Path(live, "d")) &&
          !fs.exists(new org.apache.hadoop.fs.Path(live, "d_precompact")),
          s"round $round: loser's rename nested a copy inside the live dir")
        fs.delete(live, true)
        fs.delete(new org.apache.hadoop.fs.Path(p + "_compacting"), true)
        fs.delete(lock, false)
      }
    } finally AtomicSwap.livenessGraceMs = prev
  }

  test("a writer rolled back mid-swap by stale-marker recovery reports " +
    "the rollback (data stays live) instead of a bogus restore failure") {
    val p = java.nio.file.Files.createTempDirectory("swap_rb").toString + "/d"
    mkData(p, 10)
    // simulate the writer GC-pausing past the liveness grace right after
    // it moved the live data aside: a reader then treats the marker as
    // stale and recovers (rolling the swap back) before the writer wakes
    val prev = AtomicSwap.livenessGraceMs
    AtomicSwap.livenessGraceMs = 0L
    AtomicSwap.failpoint = step =>
      if (step == "aside") AtomicSwap.recover(fs, p)
    val e = try intercept[java.io.IOException](rewriteDouble(p))
    finally {
      AtomicSwap.failpoint = _ => ()
      AtomicSwap.livenessGraceMs = prev
    }
    // the woken writer's promotion failed: it must say "rolled back",
    // not "promotion AND restore failed", and leave the live data alone
    assert(e.getMessage.contains("rolled back"), e.getMessage)
    assert(rows(p) === 10, "rollback lost the original data")
    assert(spark.read.parquet(p).collect().map(_.getInt(0)).sum === 55,
      "live data is not the original")
    // and the writer's retry (the error message's advice) succeeds
    rewriteDouble(p)
    assert(spark.read.parquet(p).collect().map(_.getInt(0)).sum === 110)
  }

  test("a STALE liveness marker (crashed writer) does not wedge readers: " +
    "recovery restores the original and clears the marker") {
    val p = java.nio.file.Files.createTempDirectory("swap_stale").toString + "/d"
    val live = new org.apache.hadoop.fs.Path(p)
    val old = new org.apache.hadoop.fs.Path(p + "_precompact")
    val lock = new org.apache.hadoop.fs.Path(p + "_swapping")
    mkData(p, 10)
    mkData(p + "_compacting", 99)
    fs.create(lock, true).close()
    assert(fs.rename(live, old))
    // age the marker past the grace window instead of sleeping 10 s
    val prev = AtomicSwap.livenessGraceMs
    AtomicSwap.livenessGraceMs = 50L
    try {
      Thread.sleep(120)
      AtomicSwap.recover(fs, p)
    } finally AtomicSwap.livenessGraceMs = prev
    assert(rows(p) === 10, "original not restored after writer crash")
    assert(!fs.exists(lock), "stale marker not cleared")
  }

  test("recovery landing BETWEEN the writer's live-check and its " +
    "promotion is audited and repaired: the nested replacement is " +
    "un-nested, the original stays live, the retry succeeds") {
    val p = java.nio.file.Files.createTempDirectory("swap_nest")
      .toString + "/d"
    mkData(p, 10)
    // worst-case interleaving: the writer passes its exists(live) check
    // (false — data is aside), THEN a reader's stale-marker recovery
    // restores the original, THEN the writer's rename(tmp, live) runs —
    // Hadoop nests tmp inside the restored dir instead of failing
    val prev = AtomicSwap.livenessGraceMs
    AtomicSwap.livenessGraceMs = 0L
    AtomicSwap.failpoint = step =>
      if (step == "promote") AtomicSwap.recover(fs, p)
    val e = try intercept[java.io.IOException](rewriteDouble(p))
    finally {
      AtomicSwap.failpoint = _ => ()
      AtomicSwap.livenessGraceMs = prev
    }
    assert(e.getMessage.contains("rolled back"), e.getMessage)
    // the live dataset is the ORIGINAL, with no nested _compacting dir
    assert(rows(p) === 10, "nested promotion corrupted the live data")
    assert(spark.read.parquet(p).collect().map(_.getInt(0)).sum === 55)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "/d_compacting")),
      "replacement left nested inside the live dataset")
    // the replacement was put back at tmp; the advised retry works
    rewriteDouble(p)
    assert(spark.read.parquet(p).collect().map(_.getInt(0)).sum === 110)
  }

  test("initOrRewrite: first commit stages and lands by one rename; " +
    "rebuild rides the swap; a LOST first-commit race is loud with " +
    "the winner's data intact — never a staging dir nested inside " +
    "the live dataset") {
    val p = java.nio.file.Files.createTempDirectory("graft_ior")
      .toString + "/store"
    AtomicSwap.initOrRewrite(fs, p)(at => mkData(at, 5))
    assert(rows(p) === 5)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "_staging")))
    AtomicSwap.initOrRewrite(fs, p)(at => mkData(at, 7)) // rebuild=swap
    assert(rows(p) === 7)
    // the race: a concurrent initializer's rename lands while this
    // writer is still staging (simulated by the write callback itself
    // committing the winner) — Hadoop's rename-into-existing-dir
    // would silently nest the loser's stage inside the live dataset
    val r = java.nio.file.Files.createTempDirectory("graft_ior2")
      .toString + "/store"
    val e = intercept[java.io.IOException] {
      AtomicSwap.initOrRewrite(fs, r) { at =>
        mkData(at, 3) // the loser's stage
        mkData(r, 9) // the winner lands mid-window
      }
    }
    assert(e.getMessage.contains("first-commit race"))
    assert(rows(r) === 9, "the winner's dataset must stay live")
    val nested = fs.listStatus(new org.apache.hadoop.fs.Path(r))
      .map(_.getPath.getName).filter(_.contains("_staging"))
    assert(nested.isEmpty, s"staging nested into live: ${nested.toSeq}")
    assert(rows(r + "_staging") === 3, "the loser's data is preserved")
  }

  test("recover on a path with no trace creates nothing and throws " +
    "nothing") {
    val d = java.nio.file.Files.createTempDirectory("swap_absent")
    val p = d.toString + "/d"
    AtomicSwap.recover(fs, p)
    assert(d.toFile.list().isEmpty,
      s"recover created ${d.toFile.list().toSeq}")
  }

  test("publish: writes the file whole, refuses an existing destination " +
    "and leaves no <at>.tmp behind") {
    val d = java.nio.file.Files.createTempDirectory("swap_pub")
    val at = new org.apache.hadoop.fs.Path(d.toString, "_marker")
    AtomicSwap.publish(fs, at, "7")
    val in = fs.open(at)
    try assert(new String(in.readAllBytes(), "UTF-8") === "7")
    finally in.close()
    val e = intercept[IllegalArgumentException](
      AtomicSwap.publish(fs, at, "8"))
    assert(e.getMessage.contains("already exists"))
    val in2 = fs.open(at)
    try assert(new String(in2.readAllBytes(), "UTF-8") === "7",
      "a refused publish changed the file")
    finally in2.close()
    val names = d.toFile.list().toSeq
    assert(!names.exists(_.contains(".tmp")), s"tmp left: $names")
  }

  test("the swap-trace names appear in no main source file but " +
    "AtomicSwap.scala") {
    import java.io.File
    val src = new File("src/main/scala")
    assert(src.isDirectory, s"run from the repo root: $src")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f)
    val trace = "_precompact|_compacting|_swapping|_building".r
    val offenders = for {
      f <- files(src)
      if f.getName.endsWith(".scala") && f.getName != "AtomicSwap.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .zipWithIndex.toSeq
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") ||
        code.startsWith("/*"))
      if trace.findFirstIn(code).isDefined
    } yield s"${f.getPath}:${i + 1}: $code"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
