package perfbench

import java.util.SplittableRandom

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `batch_registry`: a fixed set of `SparkEntry.queries` keys, run one
  * key at a time in an order drawn from the seed, with the cache cleared
  * between keys. Every pass materialises every column of every row, so
  * Catalyst cannot prune the output the way a `count()` lets it.
  *
  * The first pass after set-up is cold. It materialises each key as its
  * row count and an order-insensitive hash of every column, which is
  * checked against the golden answers made on the same generated tables
  * (`golden/registry.txt`), or the row count alone for the keys the
  * golden file lists as not deterministic. The warm passes that follow
  * write each key to the `noop` sink. */
final class Registry(golden: String, writeGolden: Boolean)
    extends Workload {
  /** One key per kernel family that carries the batch side: MinHash
    * signatures, the CDC fold, dedup clusters, BM25 and PQ search. The
    * set is small so that a cold pass and two warm passes fit in a run;
    * keys that write scratch stores to fixed paths are left out, since a
    * run may write only inside its own directory. */
  val keys: Seq[String] = Seq("q29_minhash_sig", "q35_cdc_fold",
    "q62_dup_clusters", "q77_bm25_topk", "q86_pq_adc")

  /** Catalyst's phase times (analysis, optimisation, planning) of the
    * queries each key runs, keyed by the key's job group. A traced run
    * drains the listener bus after every key, so a callback always
    * belongs to the key in `current`. */
  private val phases = new java.util.concurrent.ConcurrentHashMap[String,
    Array[Double]]()
  @volatile private var current = ""
  private val phaseListener =
    new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        val p = qe.tracker.phases
        def ms(n: String) = p.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
        phases.merge(current, Array(ms("analysis"), ms("optimization"),
          ms("planning")), (a, b) => a.zip(b).map(x => x._1 + x._2))
      }
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }

  /** One key's run: seconds, the persisted RDDs it left behind before the
    * cache was cleared, its job group, and (rows, hash) for a digest. */
  final case class KeyRun(s: Double, pinned: Int, group: String,
      digest: (Long, Long))

  /** (rows, order-insensitive hash of every column) of `df`. */
  private def digestOf(df: DataFrame): (Long, Long) = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`"))
      .toIndexedSeq: _*)))
    val r = df.select(pmod(h, lit(1000000007L)).as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Run key `k` as `how`: "digest", "noop" or "count". */
  private def materialise(ctx: Ctx, dir: String, k: String,
      how: String): KeyRun = {
    val before = ctx.spark.sparkContext.getPersistentRDDs.size
    val t0 = System.nanoTime()
    val (g, d) = ctx.op(k) {
      current = ctx.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
      val df = SparkEntry.queries(k)(ctx.spark, dir)
      how match {
        case "digest" => digestOf(df)
        case "noop" =>
          df.write.format("noop").mode("overwrite").save(); (0L, 0L)
        case "count" => (df.count(), 0L)
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (ctx.traced) ctx.drainListeners()
    val pinned = math.max(0,
      ctx.spark.sparkContext.getPersistentRDDs.size - before)
    ctx.spark.catalog.clearCache()
    KeyRun(s, pinned, g, d)
  }

  /** The keys of pass `p` in the order the seed draws for it. */
  private def order(ctx: Ctx, p: Int): Seq[String] = {
    val r = new SplittableRandom(ctx.seed * 7919L + p)
    keys.map(k => (r.nextDouble(), k)).sortBy(_._1).map(_._2)
  }

  def run(ctx: Ctx): Outcome = {
    val fixture = Fixture.dirOf(ctx.fixtures, Fixture.registry)
    var dir = ""
    val setupS = Serve.timedSetup { i =>
      dir = s"${ctx.work}/registry_$i"
      Fixture.copy(fixture, dir)
    } { _ => Serve.loadTables(ctx, dir, graft.Tables.names) }
    ctx.mark("setup")
    if (ctx.traced) ctx.spark.listenerManager.register(phaseListener)
    // the cold and the warm-up pass run the keys in one fixed order: the
    // JIT compiles from what these passes run first, and with a seeded
    // order here the later passes' times spread more between seeds
    val cold = keys.map(k => k -> materialise(ctx, dir, k, "digest"))
    val coldS = cold.map(_._2.s).sum
    ctx.mark("cold pass")
    // one untimed warm-up pass: per-key time still falls by up to a
    // third from the first pass after the cold one to the next
    val warmup = keys.map(k => materialise(ctx, dir, k, "noop"))
    ctx.mark("warm-up")
    val gc0 = ctx.heap.gcSeconds
    // timed warm passes until the time is up, key by key; the first two
    // passes always run whole, so each key has a median
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val warm = Iterator.from(1)
      .flatMap(p => order(ctx, p).iterator.map(k => (p, k)))
      .takeWhile { case (p, _) => p <= 2 || System.nanoTime() < deadline }
      .map { case (_, k) => k -> materialise(ctx, dir, k, "noop") }.toVector
    val gcS = ctx.heap.gcSeconds - gc0
    ctx.liveMb = ctx.heap.liveMb()
    ctx.mark("measure")
    val countS =
      if (ctx.traced) keys.map(k => materialise(ctx, dir, k, "count").s).sum
      else 0.0

    val digests = cold.map { case (k, r) => k -> r.digest }.toMap
    val failed =
      if (writeGolden) { Golden.write(golden, digests); 0 }
      else {
        val g = Golden.read(golden)
        val rowsOnly = Golden.rowsOnly(golden)
        keys.count { k =>
          val (rows, hash) = digests(k)
          val ok = g.get(k).exists { case (gr, gh) =>
            gr == rows && (rowsOnly(k) || gh == hash) }
          if (!ok) System.err.println(s"[perfbench] $k: rows $rows hash " +
            s"$hash, golden ${g.get(k)}")
          !ok
        }
      }

    def warmOf(k: String) = warm.filter(_._1 == k).map(_._2)
    val byKey = warm.map { case (k, r) => (k, r.s * 1000) }
    val e2e = Map("setup_s" -> setupS, "cold_s" -> coldS,
      "p50_ms" -> Stats.kindPct(byKey, 0.5),
      "p90_ms" -> Stats.kindPct(byKey, 0.9),
      // a whole pass's rate: the last pass stops part-way, and which
      // keys it reached would otherwise move the figure
      "ops_per_s" ->
        keys.size / keys.map(k => Stats.mean(warmOf(k).map(_.s))).sum)
    val warmGroups = warm.map(_._2.group)
    val nPasses = warm.size.toDouble / keys.size
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      ctx.drainListeners()
      def phase(i: Int) = Stats.median(warmGroups.map(g =>
        Option(phases.get(g)).map(_(i)).getOrElse(0.0)))
      Serve.fill(Map(
        "spark.analyze_ms" -> phase(0), "spark.optimize_ms" -> phase(1),
        "spark.plan_ms" -> phase(2),
        "cache.pinned_entries" -> warm.map(_._2.pinned).sum.toDouble / nPasses,
        "registry.count_s" -> countS,
        "jvm.gc_s" -> gcS / nPasses) ++
        Serve.sparkLayers(ctx, warmGroups, 0.0))
    }
    val rows = keys.map { k =>
      val last = warmOf(k).last
      val a = ctx.jobs.get(last.group)
      Map[String, Any]("key" -> k,
        "cold_s" -> cold.find(_._1 == k).get._2.s,
        "warm_s" -> Stats.median(warmOf(k).map(_.s)),
        "rows" -> digests(k)._1, "pinned" -> last.pinned,
        "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "task_cpu_s" -> a.cpuNs / 1e9, "scan_bytes" -> a.scanBytes,
        "shuffle_read_bytes" -> a.shuffleRead,
        "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill)
    }
    Outcome(keys.size.toLong + warmup.size + warm.size, failed, e2e,
      layers, rows)
  }
}

/** The golden answers: one line per key, `key rows hash`, and a line
  * `rows_only k1 k2 ...` naming the keys checked on rows alone. */
object Golden {
  private def lines(path: String) = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.trim).filter(_.nonEmpty).toVector
    finally src.close()
  }

  def read(path: String): Map[String, (Long, Long)] =
    lines(path).filterNot(_.startsWith("rows_only")).map { l =>
      val Array(k, r, h) = l.split("\\s+"); k -> (r.toLong, h.toLong)
    }.toMap

  def rowsOnly(path: String): Set[String] =
    lines(path).filter(_.startsWith("rows_only"))
      .flatMap(_.split("\\s+").drop(1)).toSet

  def write(path: String, d: Map[String, (Long, Long)]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      d.toSeq.sortBy(_._1).map { case (k, (r, h)) => s"$k $r $h" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
}
