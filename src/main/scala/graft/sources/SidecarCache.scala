package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-side memo for DRIVER-SMALL index sidecars (`_stats` rows,
  * `_centroids` codebooks, store markers): a serving engine holds index
  * METADATA in memory and re-reads it only when the index actually
  * changes — paying a Spark job (plan + schedule + task) per probe just
  * to re-read an unchanged one-row parquet is pure per-request latency,
  * at any scale.
  *
  * Correctness: entries are validated against a FINGERPRINT of the
  * sidecar directory's file inventory (name + length + mtime of every
  * file under it), checked on every access. Any writer — this JVM or
  * another — that rewrites the sidecar changes the inventory (writes go
  * through AtomicSwap renames or full overwrites; parquet part files
  * never mutate in place), so a stale entry can never be served: the
  * next access sees a new fingerprint and reloads. The listing is one
  * (recursive, sidecar-small) RPC against the filesystem — microseconds
  * on local disks vs tens of milliseconds for the Spark job it replaces.
  *
  * This memoizes index METADATA only — never query results: every data
  * scan still runs against the parquet buckets.
  */
object SidecarCache {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Any)]()

  /** Fingerprint of the directory's file inventory ("" if absent).
    * Entries are keyed by the path RELATIVE to the sidecar root (not the
    * basename): two same-named, same-length, same-mtime files in
    * different subdirectories must produce different fingerprints. */
  private def fingerprint(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return ""
    val root = fs.makeQualified(p).toString.stripSuffix("/") + "/"
    val sb = new StringBuilder
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val full = f.getPath.toString
      val rel = if (full.startsWith(root)) full.substring(root.length) else full
      sb.append(rel).append(':')
        .append(f.getLen).append(':')
        .append(f.getModificationTime).append(';')
    }
    sb.toString
  }

  /** Load-through: return the cached value when the sidecar's file
    * inventory is unchanged, else run `load` and cache its result under
    * the fresh fingerprint. An empty/absent dir ("" fingerprint) still
    * delegates to `load`, whose own error is the honest answer. */
  def cached[T](spark: SparkSession, dir: String)(load: => T): T = {
    val key = spark.sparkContext.applicationId + "|" + dir
    val fp = fingerprint(spark, dir)
    val hit = cache.get(key)
    if (hit != null && fp.nonEmpty && hit._1 == fp) hit._2.asInstanceOf[T]
    else {
      val v = load
      cache.put(key, (fp, v))
      v
    }
  }

  /** The committed part files of the sidecar directory `dir`: empty
    * when it is absent or holds none (a writer crashed before its job
    * committed). */
  def parts(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Open the sidecar directory `dir` through its part files. Spark's
    * DataSource logs "All paths were ignored" whenever every path it is
    * given has a `_`- or `.`-prefixed name (which every sidecar has),
    * although it reads them all the same; naming the part files keeps
    * that WARN for reads that really ignore data. A directory without
    * part files opens as given, so Spark's own error answers. */
  def read(spark: SparkSession, dir: String): DataFrame =
    parts(spark, dir) match {
      case Nil => spark.read.parquet(dir)
      case files => spark.read.parquet(files: _*)
    }
}
