package perfbench

import java.util.SplittableRandom

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{GraphQl, Permissions, QueryBuilder}
import graft.api.Permissions.{Policy, TablePerm}
import graft.api.QueryBuilder.Neq
import org.apache.spark.sql.{DataFrame, Row}

/** Shared by the `serve` workload's clients: the role, the skewed
  * draws, the traced serve path and the canonical form answers are
  * compared in. */
object Serve {
  /** Reading clients of the `serve` workload (one more client writes). */
  val readers = 2
  /** Seconds of untimed requests between the cold pass and the
    * measurement: the first requests after the cold pass still run partly
    * interpreted code, so timing them would measure the JIT. */
  val warmupS = 4.0
  val sf: Double = Fixture.serving.sf
  val role = "reader"

  /** The reader role: customers outside AUTOMOBILE, orders that are not
    * 5-LOW, and every line item, nation and region. */
  val policy: Policy = Policy(Map(
    (role, "customer") -> TablePerm(Some(Neq("c_mktsegment", "AUTOMOBILE"))),
    (role, "orders") -> TablePerm(Some(Neq("o_orderpriority", "5-LOW"))),
    (role, "lineitem") -> TablePerm(),
    (role, "nation") -> TablePerm(),
    (role, "region") -> TablePerm()))

  /** A key in [0, n) drawn with skew toward small keys (a hot set). */
  def skewed(r: SplittableRandom, n: Long): Long =
    math.min(n - 1, (n * math.pow(r.nextDouble(), 3)).toLong)

  def rng(seed: Long, client: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + client)

  /** One GraphQL read document with its variables. */
  final case class Doc(shape: String, text: String, vars: String,
      multiRoot: Boolean)

  /** Serve `d` the way the engine's GraphQL endpoint does. Untraced it
    * is one call to [[Permissions.serveAs]] or [[Permissions.serveRootsAs]];
    * traced it is the same public steps with a span around each. The
    * answer comes back as (root key, rows) pairs. */
  def serve(ctx: Ctx, tr: Tracer, dir: String, d: Doc)
      : Seq[(String, Array[Row])] = {
    val s = ctx.spark
    if (!tr.on) {
      val dfs =
        if (d.multiRoot) Permissions.serveRootsAs(s, dir, role, policy,
          d.text, variables = d.vars).fold(m => sys.error(m), identity)
        else Seq("" -> Permissions.serveAs(s, dir, role, policy, d.text,
          variables = d.vars).fold(m => sys.error(m), identity))
      dfs.map { case (k, df) => k -> df.collect() }
    } else {
      val dfs: Seq[(String, DataFrame)] =
        if (d.multiRoot) {
          val roots = tr.span("GraphQl.parseRoots") {
            GraphQl.parseRoots(d.text, variables = d.vars)
          }.fold(m => sys.error(m), identity)
          val secured = tr.span("Permissions.secure") {
            roots.map {
              case (k, GraphQl.ReadRoot(r)) => k -> GraphQl.ReadRoot(
                Permissions.secure(r, role, policy).fold(sys.error, identity))
              case (k, GraphQl.ByPkRoot(r)) => k -> GraphQl.ByPkRoot(
                Permissions.secure(r, role, policy).fold(sys.error, identity))
              case (k, GraphQl.AggRoot(r)) => k -> GraphQl.AggRoot(
                Permissions.secureAggregate(r, role, policy)
                  .fold(sys.error, identity))
              case (k, other) => sys.error(s"root $k: unexpected $other")
            }
          }
          tr.span("QueryBuilder.run") { GraphQl.runRoots(s, dir, secured) }
        } else {
          val req = tr.span("GraphQl.parse") {
            GraphQl.parse(d.text, variables = d.vars)
          }.fold(m => sys.error(m), identity)
          val sec = tr.span("Permissions.secure") {
            Permissions.secure(req, role, policy)
          }.fold(m => sys.error(m), identity)
          Seq("" -> tr.span("QueryBuilder.run") {
            QueryBuilder.run(s, dir, sec) })
        }
      execute(tr, dfs)
    }
  }

  /** The plan and execute steps of a traced serve, with Catalyst's own
    * phase times recorded for the request. */
  def execute(tr: Tracer, dfs: Seq[(String, DataFrame)])
      : Seq[(String, Array[Row])] = {
    tr.span("spark.plan") { dfs.foreach(_._2.queryExecution.executedPlan) }
    val rows = tr.span("spark.execute") { dfs.map { case (k, df) =>
      k -> df.collect() } }
    val ph = dfs.map(_._2.queryExecution.tracker.phases)
    def phase(n: String) = ph.map(_.get(n).map(_.durationMs).getOrElse(0L))
      .sum.toDouble
    Catalyst.record(phase("analysis"), phase("optimization"),
      phase("planning"), dfs.size, rows.map(_._2.length).sum)
    rows
  }

  /** Per-request Catalyst phases and result sizes of the traced phase. */
  object Catalyst {
    final case class Rec(analyze: Double, optimize: Double, plan: Double,
        frames: Int, rowsOut: Int)
    private val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    def record(a: Double, o: Double, p: Double, f: Int, r: Int): Unit =
      recs.add(Rec(a, o, p, f, r))
    def all: Seq[Rec] = {
      import scala.jdk.CollectionConverters._
      recs.asScala.toSeq
    }
  }

  private val mapper = new ObjectMapper()

  /** Canonical text of an answer: doubles to 2 decimals, JSON columns
    * parsed and re-rendered with sorted keys, so the engine's rendering
    * and an independent query's compare equal exactly when the values
    * do. */
  def canon(answer: Seq[(String, Array[Row])]): String =
    answer.map { case (k, rows) =>
      k + ":" + rows.map(r => r.toSeq.map(canonValue).mkString("|"))
        .mkString("\n")
    }.mkString("\n#\n")

  def canonValue(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.2f"
    case f: Float => f"${f.toDouble}%.2f"
    case s: String if s.startsWith("[") || s.startsWith("{") =>
      canonJson(mapper.readTree(s))
    case r: Row => r.toSeq.map(canonValue).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(canonValue).mkString("[", ",", "]")
    case other => other.toString
  }

  private def canonJson(n: JsonNode): String = {
    import scala.jdk.CollectionConverters._
    if (n.isObject) n.fields().asScala.toSeq.sortBy(_.getKey)
      .map(e => e.getKey + "=" + canonJson(e.getValue)).mkString("{", ",", "}")
    else if (n.isArray) n.elements().asScala.map(canonJson)
      .mkString("[", ",", "]")
    else if (n.isNull) "null"
    else if (n.isIntegralNumber) n.asLong().toString
    else if (n.isNumber) f"${n.asDouble()}%.2f"
    else n.asText()
  }

  /** Medians and means of the Spark-side counters over a set of
    * operations (their job groups), as per-layer metrics. */
  def sparkLayers(ctx: Ctx, groups: Seq[String], rowsOut: Double)
      : Map[String, Double] = {
    val j = ctx.jobs
    val scanned = groups.map(g => j.get(g).recordsRead.toDouble).sum
    Map(
      "spark.exec_ms" -> j.medianOf(groups)(_.jobMs),
      "spark.jobs_per_op" -> j.meanOf(groups)(_.jobs.toDouble),
      "spark.stages_per_op" -> j.meanOf(groups)(_.stages.toDouble),
      "spark.tasks_per_op" -> j.meanOf(groups)(_.tasks.toDouble),
      "spark.sched_delay_ms" -> j.medianOf(groups)(_.schedMs),
      "spark.task_cpu_s" -> j.meanOf(groups)(_.cpuNs / 1e9),
      "spark.scan_bytes" -> j.meanOf(groups)(_.scanBytes.toDouble),
      "spark.shuffle_read_bytes" -> j.meanOf(groups)(_.shuffleRead.toDouble),
      "spark.shuffle_write_bytes" ->
        j.meanOf(groups)(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> j.meanOf(groups)(_.spill.toDouble),
      "rows_scanned_per_row_out" ->
        (if (rowsOut > 0) scanned / rowsOut else 0.0))
  }

  def catalystLayers(): Map[String, Double] = {
    val recs = Catalyst.all
    def med(f: Catalyst.Rec => Double) =
      if (recs.isEmpty) 0.0 else Stats.median(recs.map(f))
    Map("spark.analyze_ms" -> med(_.analyze),
      "spark.optimize_ms" -> med(_.optimize),
      "spark.plan_ms" -> med(_.plan),
      "querybuilder.frames_per_req" ->
        (if (recs.isEmpty) 0.0 else Stats.mean(recs.map(_.frames.toDouble))))
  }

  /** Every per-layer metric the benchmark defines, zero where the
    * workload does not exercise that layer. */
  val layerNames: Seq[String] = Seq("graphql.parse_ms",
    "permissions.secure_ms", "querybuilder.compile_ms",
    "querybuilder.frames_per_req", "spark.analyze_ms", "spark.optimize_ms",
    "spark.plan_ms", "spark.exec_ms", "spark.jobs_per_op",
    "spark.stages_per_op", "spark.tasks_per_op", "spark.sched_delay_ms",
    "spark.task_cpu_s", "spark.scan_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "jvm.gc_s",
    "rows_scanned_per_row_out", "mutations.apply_ms",
    "mutations.zero_affected_ratio", "store.rewrite_bytes_per_affected_row",
    "store.files", "store.read_ms", "store.mb", "bus.send_ms",
    "sink.merge_ms", "stream.latest_offset_ms", "stream.query_planning_ms",
    "stream.add_batch_ms", "stream.wal_commit_ms", "state.rows",
    "state.mem_bytes", "state.commit_ms", "cache.pinned_entries",
    "registry.count_s", "trace.overhead_pct", "trace.unattributed_pct")

  def fill(m: Map[String, Double]): Map[String, Double] = {
    val extra = m.keySet -- layerNames
    require(extra.isEmpty, s"undeclared per-layer metric(s): $extra")
    layerNames.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }

  /** Percent by which the traced operations' median latency exceeds the
    * untraced ones', compared kind by kind (as [[Stats.kindPct]]) so that
    * the mix of kinds each half happened to get does not count. */
  def overheadPct(samples: Seq[Sample]): Double = {
    val (t, u) = samples.partition(_.traced)
    val kinds = t.map(_.kind).toSet intersect u.map(_.kind).toSet
    def med(xs: Seq[Sample]) =
      Stats.kindPct(xs.filter(s => kinds(s.kind)).map(s => (s.kind, s.ms)), 0.5)
    if (kinds.isEmpty) 0.0 else (med(t) / med(u) - 1) * 100
  }

  /** Median time of the system's set-up `step` over three repetitions;
    * `prepare` (untimed) readies each repetition's inputs. */
  def timedSetup(prepare: Int => Unit)(step: Int => Unit): Double =
    Stats.median((0 until 3).map { i =>
      prepare(i)
      val t0 = System.nanoTime(); step(i); (System.nanoTime() - t0) / 1e9
    })

  /** The set-up a serving process does before its first request: load
    * (list and read the footers of) every table it serves. */
  def loadTables(ctx: Ctx, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => graft.Tables.load(ctx.spark, dir, t))
}
