package graft.sources

import graft.SparkSpec

/** The sidecar memo's correctness contract: a cached value is served
  * only while the directory's file inventory is byte-identical, where
  * the inventory keys files by their path RELATIVE to the sidecar root
  * (basenames alone cannot distinguish same-named files that moved
  * between subdirectories). */
class SidecarCacheSpec extends SparkSpec {

  private def write(dir: java.nio.file.Path, rel: String, body: String,
      mtime: Long): Unit = {
    val f = dir.resolve(rel)
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.writeString(f, body)
    f.toFile.setLastModified(mtime)
  }

  test("unchanged inventory serves the memo; any rewrite reloads") {
    val d = java.nio.file.Files.createTempDirectory("sc_basic")
    write(d, "part-0", "aaaa", 1000000L)
    var loads = 0
    def get(): Int =
      SidecarCache.cached(spark, d.toString) { loads += 1; loads }
    assert(get() == 1)
    assert(get() == 1) // memo hit, no reload
    write(d, "part-0", "bbbbbb", 2000000L) // new length + mtime
    assert(get() == 2)
  }

  test("same-named same-length same-mtime files in different subdirs " +
      "produce different fingerprints") {
    val d = java.nio.file.Files.createTempDirectory("sc_nested")
    write(d, "x/part-0", "aaaa", 1000000L)
    var loads = 0
    def get(): Int =
      SidecarCache.cached(spark, d.toString) { loads += 1; loads }
    assert(get() == 1)
    // move the file to a sibling subdir, SAME basename/length/mtime:
    // a basename-keyed fingerprint would be identical and serve stale
    java.nio.file.Files.createDirectories(d.resolve("y"))
    java.nio.file.Files.move(d.resolve("x/part-0"), d.resolve("y/part-0"))
    d.resolve("y/part-0").toFile.setLastModified(1000000L)
    assert(get() == 2)
  }

  test("absent dir never caches: each access reloads") {
    val d = java.nio.file.Files.createTempDirectory("sc_absent")
    java.nio.file.Files.delete(d)
    var loads = 0
    def get(): Int =
      SidecarCache.cached(spark, d.toString) { loads += 1; loads }
    assert(get() == 1)
    assert(get() == 2)
  }

  test("index searches open their `_`-named sidecars without Spark's " +
    "\"All paths were ignored\" WARN") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, sf("sf0.001"), "documents")
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val inv = java.nio.file.Files.createTempDirectory("sc_inv").toString
    val ivf = java.nio.file.Files.createTempDirectory("sc_ivf").toString
    graft.search.InvertedIndex.build(docs, inv, nBuckets = 8)
    graft.similarity.IvfIndex.build(emb, ivf, nCells = 8)
    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("sidecar-warn", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    appender.start()
    logger.addAppender(appender)
    try {
      graft.search.InvertedIndex.search(spark, inv, Seq("join", "hash"))
        .collect()
      graft.similarity.IvfIndex.search(spark, ivf, query, nProbe = 2,
        k = 3).collect()
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    val ignored = seen.toArray.map(_.toString)
      .filter(_.contains("All paths were ignored"))
    assert(ignored.isEmpty, ignored.mkString("\n"))
  }
}
