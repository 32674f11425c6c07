package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the seed, the work
  * directory, the tracer and the per-job-group Spark counters. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Int, val work: String, val fixtures: String,
    val traced: Boolean) {
  val heap = new HeapMonitor
  /** Heap retained at the end of the measurement, set by the workload. */
  var liveMb = 0.0
  val jobs = new JobStats
  /** A traced run traces every other operation and leaves the rest
    * untraced, so both halves see the same warm-up and load; their
    * difference is the tracing overhead. */
  val tracer = new Tracer(true)
  val untraced = new Tracer(false)
  private val flips = new java.util.concurrent.atomic.AtomicLong()
  def tracerFor(): Tracer =
    if (traced && flips.incrementAndGet() % 2 == 0) tracer else untraced
  private val opIds = new java.util.concurrent.atomic.AtomicLong()

  /** Run `body` as one operation under its own Spark job group; returns
    * the group id (the key into [[jobs]]) with the result. */
  def op[T](kind: String)(body: => T): (String, T) = {
    val g = s"$kind-${opIds.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(g, kind, interruptOnCancel = false)
    try (g, body) finally sc.clearJobGroup()
  }

  /** Note on stderr how far into the run a phase ends. */
  def mark(phase: String): Unit = System.err.println(f"[perfbench] $phase " +
    f"done at ${(System.currentTimeMillis() - java.lang.management
      .ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s")

  /** Drain Spark's listener bus so [[jobs]] holds every finished task. */
  def drainListeners(): Unit =
    org.apache.spark.BenchAccess.drain(spark.sparkContext)

  /** Directory size in MB (0 if absent). */
  def sizeMb(path: String): Double = {
    val f = new java.io.File(path)
    def walk(x: java.io.File): Long =
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.map(walk).sum
      else x.length()
    if (f.exists()) walk(f) / 1048576.0 else 0.0
  }

  def fileCount(path: String, suffix: String): Int = {
    def walk(x: java.io.File): Int =
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.map(walk).sum
      else if (x.getName.endsWith(suffix)) 1 else 0
    walk(new java.io.File(path))
  }
}

/** One timed operation: its kind, latency, Spark job group, whether it
  * failed (an exception or a wrong answer) and whether it was traced. */
final case class Sample(kind: String, ms: Double, group: String,
    ok: Boolean, traced: Boolean = false)

/** Closed-loop clients: each waits for its reply before it sends the
  * next request, as Hasura clients and the indexer do. */
object Clients {
  /** `n` clients send requests until `seconds` have passed; `next(c, i)`
    * serves client `c`'s `i`-th request. Returns the samples and the
    * seconds until the last reply. */
  def run(n: Int, seconds: Double)(next: (Int, Int) => Sample)
      : (Seq[Sample], Double) = {
    val out = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Sample]())
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(n)
    (0 until n).foreach { c =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = 0
          while (System.nanoTime() < deadline) { out.add(next(c, i)); i += 1 }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(600, TimeUnit.SECONDS)
    import scala.jdk.CollectionConverters._
    (out.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Time `body`, turning an exception into a failed sample. */
  def timed(ctx: Ctx, kind: String, tr: Tracer)(body: => Boolean): Sample = {
    val t0 = System.nanoTime()
    val (g, ok) = ctx.op(kind) {
      try tr.request(kind)(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind failed: $e")
          false
      }
    }
    Sample(kind, (System.nanoTime() - t0) / 1e6, g, ok, tr.on)
  }
}

/** What a workload reports: operations attempted and failed, end-to-end
  * metrics and, for a traced run, per-layer metrics and trace rows. */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    traceRows: Seq[Map[String, Any]] = Nil)

trait Workload {
  def run(ctx: Ctx): Outcome
}

object Main {
  /** End-to-end metrics and units, as BENCHMARK.json lists them. */
  val e2eUnits: Seq[(String, String)] = Seq("setup_s" -> "s",
    "cold_s" -> "s", "p50_ms" -> "ms", "p90_ms" -> "ms",
    "ops_per_s" -> "1/s", "heap_live_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (kv.contains("make-fixtures")) {
      Fixture.makeAll(kv("make-fixtures"))
      return
    }
    val workload = kv("workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toInt
    val traced = kv.getOrElse("trace", "0") == "1"
    val work = kv("work")
    val out = kv("out")
    val t0 = System.nanoTime()
    // two task threads: on a 4-vCPU machine, more of them beside the
    // clients, the JIT and the collector made the runs time the scheduler
    val spark = graft.Tables.configure(SparkSession.builder()
      .master("local[2]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, seconds, work, kv("fixtures"), traced)
    spark.sparkContext.addSparkListener(ctx.jobs)
    val sessionS = (System.nanoTime() - t0) / 1e9
    ctx.mark("session")
    val w: Workload = workload match {
      case "serve" => new Serving
      case "cdc_stream" => new CdcStream
      case "batch_registry" =>
        new Registry(kv("golden"), kv.getOrElse("write-golden", "0") == "1")
      case other => sys.error(s"unknown workload '$other'")
    }
    val o = w.run(ctx)
    ctx.mark("checks")
    val e2e = o.e2e.updated("setup_s", sessionS + o.e2e("setup_s"))
      .updated("heap_live_mb", ctx.liveMb)
    val metrics =
      if (traced) o.layers.map { case (k, v) => k -> (v, unitOf(k)) }
      else e2eUnits.map { case (k, u) => k -> (e2e(k), u) }.toMap
    // a metric that could not be computed is written as null
    def num(v: Double): Any = if (v.isNaN || v.isInfinite) null else v
    def jmap(kvs: Seq[(String, Any)]) = {
      val m = new java.util.LinkedHashMap[String, Any]()
      kvs.foreach { case (k, v) => m.put(k, v) }
      m
    }
    val result = jmap(Seq(
      "correct" -> (o.failed == 0),
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> jmap(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> jmap(Seq("value" -> num(v), "unit" -> u)) }),
      "end_to_end" -> jmap(e2e.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> num(v) }),
      "trace_rows" -> java.util.Arrays.asList(o.traceRows.map(r =>
        jmap(r.toSeq.map { case (k, v) => k -> (v match {
          case d: Double => num(d)
          case x => x
        }) })): _*)))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(out), result)
    spark.stop()
    ctx.mark("stop")
  }

  /** Units of the per-layer metrics, by name suffix. */
  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("mb")) "MB"
    else if (name.endsWith("_ratio") || name.contains("_per_")) "ratio"
    else "count"
}
