package graft.queries

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Registry keys launch only the jobs their data needs: each key is
  * written to the `noop` sink under its own job group (what a caller
  * pays, as the benchmark's batch_registry does) and its jobs are
  * counted by a listener. The bounds are bounds, not exact counts:
  * adaptive execution may plan differently at another scale. */
class RegistryJobsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = sf("sf0.001")

  /** What one noop write of `df` ran: its jobs, the stages whose
    * lineage scans a file source, and the write's executed plan. */
  private case class Run(jobs: Int, scanStages: Int, plan: SparkPlan)

  private def run(name: String)(df: => DataFrame): Run = {
    val sc = spark.sparkContext
    val group = s"registry-jobs-$name-${System.nanoTime()}"
    val jobs, scans = new AtomicInteger()
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties) &&
            e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scans.incrementAndGet()
    }
    val writes = new ConcurrentLinkedQueue[SparkPlan]()
    val writePlans = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.executedPlan match {
          case w: V2TableWriteExec => writes.add(w)
          case _ => // another action of the key, such as a checkpoint
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(writePlans)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try {
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.ListenerDrain(sc)
      assert(writes.size === 1)
      Run(jobs.get(), scans.get(), writes.peek())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(writePlans)
      spark.catalog.clearCache()
    }
  }

  private def expressions(p: SparkPlan): Seq[String] =
    collect(p) { case n => n }.flatMap(_.expressions.map(_.toString))

  test("q62 dup clusters run in at most 8 jobs") {
    val r = run("q62")(TextQueries.q62DupClusters(spark, dir))
    assert(r.jobs <= 8, s"q62 ran ${r.jobs} jobs")
  }

  test("q77 and q88 scan documents in one stage, tokenize it there " +
    "only, and run in at most 6 jobs") {
    Seq("q77" -> (() => TextQueries.q77Bm25Topk(spark, dir)),
        "q88" -> (() => TextQueries.q88Bm25And(spark, dir)))
      .foreach { case (k, q) =>
        val r = run(k)(q())
        assert(r.jobs <= 6, s"$k ran ${r.jobs} jobs")
        assert(r.scanStages === 1,
          s"$k scanned documents in ${r.scanStages} stages")
        // the ranking plan reads the tokens kept by that one scan
        assert(!expressions(r.plan).exists(_.contains("split(")),
          s"$k re-tokenizes documents:\n${r.plan}")
      }
  }

  test("q29 signs only the rows its TakeOrderedAndProject keeps") {
    val r = run("q29")(TextQueries.q29MinhashSig(spark, dir))
    val tops = collect(r.plan) { case t: TakeOrderedAndProjectExec => t }
    assert(tops.size === 1, s"no single bounded top-k:\n${r.plan}")
    val top = tops.head
    def signs(e: String) = e.contains("word_shingles")
    assert(!expressions(top.child).exists(signs),
      s"q29 signs rows below its top-k cut:\n${r.plan}")
    assert(expressions(r.plan).exists(signs),
      s"no signature in q29's plan:\n${r.plan}")
    assert(r.jobs <= 1, s"q29 ran ${r.jobs} jobs")
  }
}
