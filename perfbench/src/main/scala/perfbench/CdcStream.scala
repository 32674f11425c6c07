package perfbench

import graft.operators.MarketplaceFold
import graft.operators.MarketplaceModel.MarketplaceEvent
import graft.queries.CdcQueries
import graft.sources.{AtomicSwap, MessageBus, SnapshotStore}
import graft.streaming.MarketplaceStream
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `cdc_stream`: the indexer path. sf0.1 `events` map to marketplace
  * messages (`CdcQueries.mapToMarketplace`) and are cut into fixed-size
  * micro-batches in cursor order; the seed picks the batch the stream
  * starts from, as an indexer resuming at a cursor. For each batch one
  * producer calls `MessageBus.send`, and the streaming query (the file
  * bus, a decode step, `MarketplaceStream.snapshotStream`, and a
  * `foreachBatch` latest-wins merge into a `SnapshotStore`) runs until
  * the batch is committed. Latency is send to sink commit. The final
  * snapshot must equal `MarketplaceFold.foldTokens` over every event
  * sent. */
final class CdcStream extends Workload {
  val batchSize = 500
  /** Untimed batches after the cold one (about 6 s): per-batch latency
    * falls by a third over the first few batches as the JIT compiles the
    * trigger path. */
  val warmupBatches = 4

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val events0 = Fixture.dirOf(ctx.fixtures, Fixture.events)
    val dir = s"${ctx.work}/cdc"
    new java.io.File(s"$dir/bus").mkdirs()
    // set-up: map the event log to marketplace messages in cursor order
    val setupS = Serve.timedSetup(_ => ()) { i =>
      CdcQueries.mapToMarketplace(spark, events0).toDF()
        .withColumn("batch", (col("seq") / batchSize).cast("long"))
        .write.parquet(s"$dir/mapped_$i")
    }
    ctx.mark("setup")
    val mapped = spark.read.parquet(s"$dir/mapped_2")
    val bus = s"$dir/bus"
    val sink = s"$dir/sink"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)

    // the tracer and span of the batch in flight, for the sink's span
    @volatile var inFlight: (Tracer, (Long, Long)) = (ctx.untraced, null)
    val mergeMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val payload = Encoders.product[MarketplaceEvent].schema
    val events: Dataset[MarketplaceEvent] =
      MessageBus.decode(MessageBus.readStream(spark, "files",
        Map("path" -> bus)), payload)
        .select(payload.fieldNames.map(col).toIndexedSeq: _*)
        .as[MarketplaceEvent]
    val query: StreamingQuery = MarketplaceStream.snapshotStream(events)
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch { (delta: Dataset[_], id: Long) =>
        val (tr, parent) = inFlight
        val t0 = System.nanoTime()
        tr.under(parent, "sink.merge") {
          val d = delta.toDF().withColumn("_batch", lit(id))
          AtomicSwap.initOrRewrite(fs, sink) { tmp =>
            val next =
              if (fs.exists(new org.apache.hadoop.fs.Path(sink)))
                SnapshotStore.merge(SnapshotStore.read(spark, sink), d,
                  "tokenId", "_batch")
              else d
            SnapshotStore.write(next, tmp)
          }
        }
        mergeMs.add((System.nanoTime() - t0) / 1e6)
        ()
      }.start()

    val nBatches = mapped.agg(max("batch")).head().getLong(0) + 1
    // the first batch sent; at least half the log is left to stream
    val first = new java.util.SplittableRandom(ctx.seed)
      .nextLong(nBatches / 2)
    var sent = 0
    def ingest(tr: Tracer): Boolean = {
      val b = first + sent
      tr.span("MessageBus.send") {
        MessageBus.send(MessageBus.envelope(mapped.filter(col("batch") === b)
          .drop("batch"), "tokenId", "seq", current_timestamp(),
          "marketplace"), bus)
      }
      sent += 1
      tr.span("stream.processAllAvailable") {
        inFlight = (tr, tr.handle)
        ctx.jobs.redirect = (query.runId.toString,
          spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        query.processAllAvailable()
      }
      true
    }

    val t0 = System.nanoTime()
    val coldOk = ingest(ctx.untraced)
    val coldS = (System.nanoTime() - t0) / 1e9
    ctx.mark("cold pass")

    def batch(tr: Tracer) = Clients.timed(ctx, "ingest", tr)(ingest(tr))
    // a fixed number of untimed batches, so that every run measures from
    // the same point of the stream's warm-up
    val warmup = (1 to warmupBatches).map(_ => batch(ctx.untraced))
    ctx.mark("warm-up")
    val gc0 = ctx.heap.gcSeconds
    val m0 = System.nanoTime()
    val deadline = m0 + ctx.seconds * 1000000000L
    val samples = Iterator.continually(())
      .takeWhile(_ => System.nanoTime() < deadline && first + sent < nBatches)
      .map(_ => batch(ctx.tracerFor())).toVector
    val elapsed = (System.nanoTime() - m0) / 1e9
    val gcS = ctx.heap.gcSeconds - gc0
    ctx.liveMb = ctx.heap.liveMb()
    ctx.mark("measure")
    // the triggers of the measured batches, one each, after those of the
    // start, the cold batch and the warm-up
    val triggers = query.recentProgress.size
    val progress = query.recentProgress.toSeq.takeRight(samples.size)
    val streamOk = query.exception.isEmpty
    query.stop()

    // the snapshot must equal the batch fold of every event sent
    def canon(df: DataFrame) = df.select(col("tokenId"),
      to_json(struct(col("nft"), col("offers"), col("bids"))).as("v"))
    val want = canon(MarketplaceFold.foldTokens(mapped
      .filter(col("batch") >= first && col("batch") < first + sent)
      .drop("batch").as[MarketplaceEvent]).toDF())
    val got = canon(SnapshotStore.read(spark, sink))
    val diff = want.exceptAll(got).count() + got.exceptAll(want).count()
    if (diff > 0) System.err.println(s"[perfbench] snapshot differs from " +
      s"the batch fold in $diff rows")

    val ms = samples.map(_.ms)
    val e2e = Map("setup_s" -> setupS, "cold_s" -> coldS,
      "p50_ms" -> Stats.median(ms), "p90_ms" -> Stats.pct(ms, 0.9),
      "ops_per_s" -> samples.size * batchSize.toDouble / elapsed)
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      ctx.drainListeners()
      import scala.jdk.CollectionConverters._
      def dur(k: String) = Stats.median(progress.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      def state(f: org.apache.spark.sql.streaming.StateOperatorProgress =>
        Double) = Stats.median(progress.flatMap(_.stateOperators.headOption)
        .map(f))
      Serve.fill(Map(
        "bus.send_ms" -> ctx.tracer.medianMs("MessageBus.send"),
        "sink.merge_ms" -> Stats.median(mergeMs.asScala.toSeq),
        "stream.latest_offset_ms" -> dur("latestOffset"),
        "stream.query_planning_ms" -> dur("queryPlanning"),
        "stream.add_batch_ms" -> dur("addBatch"),
        "stream.wal_commit_ms" -> dur("walCommit"),
        "state.rows" -> state(_.numRowsTotal.toDouble),
        "state.mem_bytes" -> state(_.memoryUsedBytes.toDouble),
        "state.commit_ms" -> state(_.commitTimeMs.toDouble),
        "store.mb" -> (ctx.sizeMb(sink) + ctx.sizeMb(bus)),
        "store.files" -> ctx.fileCount(sink, ".parquet").toDouble,
        "jvm.gc_s" -> gcS,
        "trace.overhead_pct" -> Serve.overheadPct(samples),
        "trace.unattributed_pct" -> ctx.tracer.unattributedPct) ++
        Serve.sparkLayers(ctx, samples.filter(_.traced).map(_.group), 0.0))
    }
    Outcome(warmup.size + samples.size + 2,
      (warmup ++ samples).count(!_.ok) +
      (if (coldOk && streamOk) 0 else 1) + (if (diff == 0) 0 else 1),
      e2e, layers, Seq(Map("first_batch" -> first,
        "batches" -> sent, "batch_size" -> batchSize,
        "triggers" -> triggers)))
  }
}
