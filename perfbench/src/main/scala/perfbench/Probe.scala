package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The `p` percentile of each kind's latencies, averaged over the kinds
    * with equal weight: it does not depend on how many operations of each
    * kind a run completed, and no percentile sits on the border between
    * the latencies of two kinds. */
  def kindPct(ms: Seq[(String, Double)], p: Double): Double =
    mean(ms.groupBy(_._1).values.map(xs => pct(xs.map(_._2), p)).toSeq)
}

/** In-memory spans around the benchmark's calls into each layer. A span
  * has a name, start, end, parent and request id; spans are kept until
  * the run ends. When tracing is off every call is a plain pass-through.
  */
final class Tracer(val on: Boolean) {
  final case class Span(id: Long, parent: Long, req: Long, name: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  // (span id, request id) of the innermost open span on this thread
  private val current = new ThreadLocal[(Long, Long)]

  /** A root span that starts a new request. */
  def request[T](name: String)(body: => T): T =
    if (!on) body else open(name, 0L, ids.incrementAndGet())(body)

  /** A child span of the innermost open span on this thread. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else Option(current.get) match {
      case Some((sid, req)) => open(name, sid, req)(body)
      case None => open(name, 0L, ids.incrementAndGet())(body)
    }

  /** A span under an explicit parent, for work that runs on another
    * thread (a streaming sink) on behalf of a request. */
  def under[T](parent: (Long, Long), name: String)(body: => T): T =
    if (!on || parent == null) body else open(name, parent._1, parent._2)(body)

  /** The innermost open span of this thread, to hand to [[under]]. */
  def handle: (Long, Long) = current.get

  private def open[T](name: String, parent: Long, req: Long)
      (body: => T): T = {
    val id = ids.incrementAndGet()
    val saved = current.get
    current.set((id, req))
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
      current.set(saved)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Median duration of the spans with any of `names`, in ms (0 if none). */
  def medianMs(names: String*): Double = {
    val xs = all.filter(s => names.contains(s.name)).map(_.ms)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** For each request, the share of its time that no layer span (a
    * direct child of the request's root span) covers: the harness's own
    * work inside a request plus anything the layers do between the calls
    * the benchmark can see. The median over requests, in percent. */
  def unattributedPct: Double = {
    val kids = all.groupBy(_.parent)
    val shares = all.filter(_.parent == 0L).map { r =>
      val covered = kids.getOrElse(r.id, Nil).map(_.ms).sum
      100.0 * (r.ms - covered) / math.max(r.ms, 1e-9)
    }
    if (shares.isEmpty) 0.0 else Stats.median(shares)
  }
}

/** Spark work counted per job group: the benchmark's client threads set
  * one job group per operation, so each group's jobs, stages, tasks and
  * task metrics belong to exactly one operation. */
final class JobStats extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var jobMs, runMs, cpuNs, schedMs, gcMs = 0.0
    var scanBytes, recordsRead, shuffleRead, shuffleWrite, spill = 0L
  }
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  /** Jobs of job group `_1` (a streaming query's run, which sets its own
    * group on its own thread) count for the operation group `_2`. */
  @volatile var redirect: (String, String) = ("", "")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(g => if (g == redirect._1) redirect._2 else g)
    g.foreach { grp =>
      jobStart.put(e.jobId, (grp, e.time))
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, grp))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val a = acc(g)
      a.synchronized { a.jobs += 1; a.jobMs += e.time - t0 }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val a = acc(g); a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.schedMs += math.max(0L, e.taskInfo.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - e.taskInfo.gettingResultTime)
          a.scanBytes += m.inputMetrics.bytesRead
          a.recordsRead += m.inputMetrics.recordsRead
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def get(group: String): Acc = Option(groups.get(group)).getOrElse(new Acc)

  /** Mean of `f` over the given groups (0 when empty). */
  def meanOf(gs: Seq[String])(f: Acc => Double): Double =
    Stats.mean(gs.map(g => f(get(g))))

  def medianOf(gs: Seq[String])(f: Acc => Double): Double =
    if (gs.isEmpty) 0.0 else Stats.median(gs.map(g => f(get(g))))
}

/** The heap the run retains and the time spent collecting garbage. */
final class HeapMonitor {
  import java.lang.management.ManagementFactory

  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** Heap in use right after a full collection: what the run keeps alive
    * (cached blocks, memoised tables and indexes, stream state). */
  def liveMb(): Double = {
    // each collection reclaims what Spark's ContextCleaner released
    // (unreferenced RDD, broadcast and checkpoint blocks) after the one
    // before it
    System.gc()
    Thread.sleep(300)
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds: Double = beans.map(_.getCollectionTime).sum / 1000.0
}
