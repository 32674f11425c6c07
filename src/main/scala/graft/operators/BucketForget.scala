package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Bucket-pruned RIGHT-TO-BE-FORGOTTEN for `band_bucket`-partitioned
  * serving stores (the text minhash store's layout and the image/audio
  * hamming store's — the operator is layout-generic over both twins):
  * instead of recompacting the WHOLE store to drop a forgotten key
  * (`compactToServing(forget = ...)` — O(store) per deletion cycle,
  * the r14 contract), rewrite ONLY the bucket directories that hold
  * the forgotten keys' band rows.
  *
  * Work done: one column-pruned locate scan (key + band_bucket only —
  * parquet row-group stats and dictionaries skip most of the store),
  * then a rewrite of at most |forget| x nBands of the nBuckets
  * directories. At 10^10 resident hashes and a handful of deletion
  * requests, that is a few directories instead of the store.
  *
  * Crash safety (the store has no table format, so directory renames
  * are the atomic primitive — a finer-grained sibling of the
  * [[graft.sources.AtomicSwap]] ritual):
  *  1. ALL replacement bucket directories build aside under
  *     `<path>_forgetting` while the live store keeps serving;
  *  2. a `_FORGET_READY` marker records every (unit, has-replacement)
  *     pair — published through [[graft.sources.AtomicSwap.publish]],
  *     so the marker either exists whole or not at all — and only then do
  *     live directories start swapping, one delete+rename pair per
  *     bucket (two metadata operations);
  *  3. the work directory deletes last.
  * A crash before the marker leaves the store untouched (recovery
  * discards the half-built work dir; re-run the forget). A crash
  * mid-swap is completed by [[recover]] from the marker: a unit whose
  * replacement still exists swaps now; a unit whose replacement is
  * gone already swapped (never re-deleted — that would drop the new
  * data); a unit marked replacement-less (the bucket held ONLY the
  * forgotten key's rows) deletes idempotently. Both twins' `loadStore`
  * call [[recover]] before reading.
  *
  * Single-writer discipline as everywhere in the store family: run
  * forgets from the store's owner on the deletion-SLA cadence; probes
  * racing the swap window of one bucket re-list on their next load.
  */
object BucketForget {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  private def workDir(path: String) = new Path(path + "_forgetting")
  private def marker(path: String) =
    new Path(workDir(path), "_FORGET_READY")

  /** The swap units of `affected` buckets: relative
    * `batch=X/band_bucket=K` paths present under `root`. */
  private def unitsUnder(fs: FileSystem, root: Path,
      affected: Set[Int]): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .flatMap { b =>
        fs.listStatus(b.getPath).toSeq.filter { s =>
          val n = s.getPath.getName
          s.isDirectory && n.startsWith("band_bucket=") &&
            scala.util.Try(n.stripPrefix("band_bucket=").toInt)
              .toOption.exists(affected)
        }.map(s => s"${b.getPath.getName}/${s.getPath.getName}")
      }.sorted

  /** Swap one unit: the live directory deletes and, when a
    * replacement was built (the bucket kept surviving rows), the
    * replacement renames into its place. */
  private def applySwaps(fs: FileSystem, path: String,
      units: Seq[(String, Boolean)]): Unit =
    units.foreach { case (unit, hasRepl) =>
      val live = new Path(s"$path/$unit")
      val repl = new Path(workDir(path), unit)
      if (hasRepl) {
        if (fs.exists(repl)) { // not yet swapped (idempotent re-run)
          fs.delete(live, true)
          require(fs.rename(repl, live),
            s"forget: cannot publish $live")
        }
      } else fs.delete(live, true)
    }

  /** Complete (or discard) an interrupted forget — called by the
    * twins' `loadStore` before the first read, mirroring
    * `AtomicSwap.recover`. No-op when no forget was in flight. */
  def recover(fs: FileSystem, path: String): Unit = {
    val work = workDir(path)
    if (!fs.exists(work)) return
    val m = marker(path)
    if (!fs.exists(m)) {
      // crashed mid-build: the live store was never touched — discard
      // the partial build; the owner re-runs the forget
      fs.delete(work, true); return
    }
    val in = fs.open(m)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toVector
      finally in.close()
    // the marker published atomically (temp-write + rename), so a
    // malformed line means corruption, not a crash window — refuse
    // LOUDLY rather than apply a partial swap list (a silent partial
    // forget on a compliance-critical path)
    val units = lines.filter(_.nonEmpty).map { l =>
      l.split('\t') match {
        case Array(u, f) if (f == "0" || f == "1") &&
            u.matches("batch=[^/]+/band_bucket=\\d+") => (u, f == "1")
        case _ => throw new IllegalStateException(
          s"forget: malformed _FORGET_READY line '$l' under $path — " +
            "refusing to apply a partial swap list; inspect the " +
            "store and the work directory by hand")
      }
    }
    applySwaps(fs, path, units)
    fs.delete(work, true)
  }

  /** Forget `forget` keys (a single-column frame named after the
    * store's key column) from the serving store at `servingPath`,
    * rewriting only the bucket directories that contain them. Returns
    * the affected bucket ids — empty means no resident fingerprints
    * and an untouched store. */
  def apply(spark: SparkSession, servingPath: String,
      forget: DataFrame): Seq[Int] = {
    require(forget.columns.length == 1,
      s"forget: expected a single-column key frame, got " +
        forget.columns.mkString(", "))
    val kc = forget.columns.head
    val fs = fsOf(spark, servingPath)
    recover(fs, servingPath) // complete any prior interrupted forget
    val store = spark.read.option("mergeSchema", "true")
      .parquet(servingPath)
    require(store.columns.contains("band_bucket"),
      s"forgetFromServing: $servingPath is not a serving layout " +
        "(no band_bucket partitioning) — use compactToServing(forget=)")
    require(store.columns.contains(kc),
      s"forgetFromServing: store has no '$kc' column")
    // pin the key set: the locate scan and the rewrites must see one
    // consistent frame even if the caller's source moves underneath
    val keys = forget.distinct().localCheckpoint(true)
    val affected = store.join(keys, Seq(kc), "left_semi")
      .select("band_bucket").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) return Nil
    val work = workDir(servingPath)
    fs.delete(work, true)
    // build the surviving rows of ONLY the affected buckets aside;
    // partition columns re-materialize so the layout mirrors the live
    // store's batch=X/band_bucket=K shape
    store.filter(col("band_bucket").isin(affected: _*))
      .join(keys, Seq(kc), "left_anti")
      .repartition(col("band_bucket"))
      .write.partitionBy("batch", "band_bucket")
      .parquet(work.toString)
    val liveUnits = unitsUnder(fs, new Path(servingPath), affected.toSet)
    val units = liveUnits.map(u =>
      (u, fs.exists(new Path(work, u)))) // false = bucket emptied
    // the marker publishes ATOMICALLY: a crash mid-write leaves no
    // marker, so recover() discards the untouched-store work dir
    // instead of applying a TRUNCATED unit list — a silent partial
    // forget
    graft.sources.AtomicSwap.publish(fs, marker(servingPath),
      units.map { case (u, f) => s"$u\t${if (f) "1" else "0"}" }
        .mkString("\n"))
    applySwaps(fs, servingPath, units)
    fs.delete(work, true)
    affected
  }
}
