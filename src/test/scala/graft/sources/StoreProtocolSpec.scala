package graft.sources

import graft.SparkSpec
import graft.api.{GraphQl, Mutations}
import graft.operators.{BucketForget, IncrementalDedup,
  IncrementalImageDedup, MultimodalOps}
import graft.streaming.VerdictStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The store commit protocol as the stores use it: readers recover
  * through [[SnapshotStore.read]], first builds commit through
  * [[AtomicSwap.initOrRewrite]], and crash leftovers of the small-file
  * publish stay invisible. */
class StoreProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("a store left mid-swap (live aside, replacement at _compacting, " +
    "stale _swapping marker): read serves the original rows and a " +
    "mutation applies to them") {
    val p = tempDir("proto_midswap") + "/t"
    val orig = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("k", "seg", "bal")
    SnapshotStore.write(orig, p)
    SnapshotStore.write(Seq((9L, "Z", 99.0)).toDF("k", "seg", "bal"),
      p + "_compacting")
    // the exact crash state: the writer moved the original aside,
    // finished the replacement, and died inside the swap window
    def strand(): Unit = {
      assert(fs.rename(new Path(p), new Path(p + "_precompact")))
      val lock = new Path(p + "_swapping")
      fs.create(lock, true).close()
      fs.setTimes(lock, System.currentTimeMillis() - 600000L, -1L)
    }
    strand()
    assert(rowsOf(SnapshotStore.read(spark, p)) === rowsOf(orig))
    strand()
    val fields = GraphQl.parseMutationFields(
      """mutation { update_t(where: {k: {_eq: 1}}, _inc: {bal: 1.0}) {
        |  affected_rows } }""".stripMargin).fold(m => fail(m), identity)
    val rs = Mutations.applyFieldsToStores(spark,
      Map("t" -> ((p, Seq("k")))), fields)
    assert(rs.map(_.affected) === Seq(1L))
    assert(rowsOf(SnapshotStore.read(spark, p)) ===
      Seq("1|A|11.0", "2|B|20.0"))
    Seq("_precompact", "_compacting", "_swapping").foreach { t =>
      assert(!fs.exists(new Path(p + t)), s"$t left behind")
    }
  }

  /** `build(servingPath)` over a half-written `<serving>_staging` a
    * crashed first build left equals a clean first build, and leaves
    * no stage behind. */
  private def firstBuildOverLeftover(tag: String)
      (build: String => Unit, load: String => DataFrame): Unit = {
    val base = tempDir(tag)
    build(s"$base/clean")
    val stage = s"$base/serving_staging"
    Seq(-1L).toDF("junk").write.parquet(s"$stage/batch=-1/band_bucket=0")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stage, "part-torn.parquet"), "PAR1")
    build(s"$base/serving")
    assert(rowsOf(load(s"$base/serving")) === rowsOf(load(s"$base/clean")))
    Seq("serving_staging", "serving_building", "clean_staging",
      "clean_building").foreach { n =>
      assert(!fs.exists(new Path(s"$base/$n")), s"$n left behind")
    }
  }

  test("IncrementalDedup.compactToServing: a first build over a " +
    "leftover _staging equals a clean first build") {
    val corpus = graft.Tables.load(spark, sf("sf0.001"), "documents")
      .select("doc_id", "text").filter(col("doc_id") < 120)
      .localCheckpoint(true)
    val ingest = tempDir("proto_txt_ingest") + "/ingest"
    IncrementalDedup.initStore(corpus, ingest)
    firstBuildOverLeftover("proto_txt")(
      at => IncrementalDedup.compactToServing(spark, ingest, at,
        nBuckets = 8),
      at => IncrementalDedup.loadStore(spark, at))
  }

  test("IncrementalImageDedup.compactToServing: a first build over a " +
    "leftover _staging equals a clean first build") {
    val ingest = tempDir("proto_img_ingest") + "/ingest"
    IncrementalImageDedup.initStore(MultimodalOps.imageDHashes(
      graft.queries.PipelineQueries.dhashFixtureBytes
        .toDF("key", "bytes")), ingest)
    firstBuildOverLeftover("proto_img")(
      at => IncrementalImageDedup.compactToServing(spark, ingest, at,
        nBuckets = 8),
      at => IncrementalImageDedup.loadStore(spark, at))
  }

  test("a <at>.tmp a crashed publish left is ignored by runFloors and " +
    "discarded by BucketForget.recover") {
    val p = tempDir("proto_vs") + "/vs"
    VerdictStore.init(spark, p,
      Seq((1L, 1, 1, 1, 1, "keep", null: String)).toDF("doc_id",
        "ratios_ok", "fences_ok", "clf_ok", "lm_ok", "verdict",
        "first_fail"), buckets = 2)
    AtomicSwap.publish(fs, new Path(s"$p/_runs/a"), "0")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$p/_runs/b.tmp"), "5")
    assert(VerdictStore.runFloors(spark, p) === Seq(("a", 0L, false)))
    val serving = tempDir("proto_bf") + "/serving"
    val work = java.nio.file.Paths.get(serving + "_forgetting")
    java.nio.file.Files.createDirectories(work)
    java.nio.file.Files.writeString(work.resolve("_FORGET_READY.tmp"),
      "batch=-1/band_bucket=0\t") // torn mid-line
    BucketForget.recover(fs, serving)
    assert(!java.nio.file.Files.exists(work))
  }
}
