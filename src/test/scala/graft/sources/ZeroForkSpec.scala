package graft.sources

import java.net.URI

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.api.{GraphQl, Permissions}
import graft.api.Permissions.{Policy, TablePerm}
import graft.operators.MarketplaceModel.{MarketplaceEvent, MsgType}
import graft.streaming.MarketplaceStream
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

/** A store commit forks no child process: no `chmod`, no `readlink`.
  * Child processes are counted with JFR's `jdk.ProcessStart` event around
  * one stream trigger and one served mutation, the two paths that commit
  * parquet, checkpoints, state and swap markers. */
class ZeroForkSpec extends SparkSpec {

  /** Spark's own forks, which come at a time of their own whatever the
    * engine does, and are left out by command AND thread:
    *  - `getconf` on a heartbeat thread (`driver-heartbeater` or
    *    `executor-heartbeater`, whichever beats first): once per JVM,
    *    for the process-tree metrics;
    *  - `rm -rf` of one session's `artifacts-<id>/<session>` directory
    *    on a JDK `Cleaner-<n>` thread: Spark's ArtifactManager
    *    registers that cleanup for every session, so a garbage
    *    collection that finds sessions cloned earlier (streaming
    *    queries clone them) forks one per session. */
  private def sparksOwn(command: String, thread: String): Boolean =
    (thread == "driver-heartbeater" || thread == "executor-heartbeater") &&
      command.startsWith("getconf ") ||
    thread.startsWith("Cleaner-") &&
      command.matches("""rm -rf \S*/artifacts-[^/\s]+/[^/\s]+""")

  /** Commands of the child processes the JVM started while `body` ran,
    * [[sparksOwn]] forks left out. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .flatMap { e =>
          val thread = Option(e.getThread).map(_.getJavaName).orNull
          val command = e.getString("command")
          if (thread != null && sparksOwn(command, thread)) None
          else Some(s"$command ($thread)")
        }
    } finally {
      rec.close()
      java.nio.file.Files.delete(f)
    }
  }

  test("the session binds file: to the engine classes, for FileSystem " +
    "and FileContext, in cloned sessions too") {
    for (s <- Seq(spark, spark.newSession())) {
      val conf = s.sessionState.newHadoopConf()
      assert(FileSystem.get(URI.create("file:///"), conf)
        .isInstanceOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
      assert(AbstractFileSystem.get(URI.create("file:///"), conf)
        .isInstanceOf[NioLocalFs])
    }
  }

  test("a bus send plus a snapshot-stream trigger merging into a " +
    "SnapshotStore through AtomicSwap starts no process") {
    import spark.implicits._
    val dir = scratch("zero_fork_stream")
    val (bus, sink) = (s"$dir/bus", s"$dir/sink")
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def events(from: Int): Dataset[MarketplaceEvent] =
      (from until from + 20).map(i => MarketplaceEvent(i.toLong,
        MsgType.MintNFT).copy(tokenId = s"T${i % 7}", sender = "u_s",
        recipient = s"u$i")).toDS()
    def send(from: Int): Unit = MessageBus.send(MessageBus.envelope(
      events(from).toDF(), "tokenId", "seq", current_timestamp(),
      "marketplace"), bus)
    val payload = Encoders.product[MarketplaceEvent].schema
    send(0) // the bus directory must exist before the stream starts
    val q = MarketplaceStream.snapshotStream(
        MessageBus.decode(MessageBus.readStream(spark, "files",
          Map("path" -> bus)), payload)
          .select(payload.fieldNames.map(col).toIndexedSeq: _*)
          .as[MarketplaceEvent])
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch { (delta: Dataset[_], id: Long) =>
        val d = delta.toDF().withColumn("_batch", lit(id))
        AtomicSwap.initOrRewrite(fs, sink) { tmp =>
          SnapshotStore.write(
            if (fs.exists(new Path(sink)))
              SnapshotStore.merge(SnapshotStore.read(spark, sink), d,
                "tokenId", "_batch")
            else d, tmp)
        }
        ()
      }.start()
    try {
      q.processAllAvailable() // the first commit, unrecorded
      val forks = processStarts { send(20); q.processAllAvailable() }
      assert(forks.isEmpty, forks.distinct.take(5).mkString("; "))
      assert(q.exception.isEmpty)
      assert(SnapshotStore.read(spark, sink).count() === 7L)
    } finally q.stop()
  }

  test("a served mutation rewriting its store starts no process") {
    import spark.implicits._
    val p = scratch("zero_fork_store")
    SnapshotStore.write(Seq((1L, "A", 10.0), (2L, "B", 20.0))
      .toDF("k", "seg", "bal"), p)
    val policy = Policy(Map(("writer", "t") -> TablePerm()))
    val schema = GraphQl.Schema(Map.empty, keys = Map("t" -> Seq("k")))
    def inc() = Permissions.serveMutationsAs(spark, "writer", policy,
      "mutation { update_t(where: {k: {_eq: 1}}, _inc: {bal: 1.0}) { " +
        "affected_rows } }", Map("t" -> ((p, Seq("k")))), schema)
      .fold(m => fail(m), _.map(_.affected))
    assert(inc() === Seq(1L)) // warm, unrecorded
    val forks = processStarts { assert(inc() === Seq(1L)) }
    assert(forks.isEmpty, forks.distinct.take(5).mkString("; "))
    assert(SnapshotStore.read(spark, p).filter($"k" === 1)
      .select("bal").as[Double].head() === 12.0)
  }
}
