package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declared relational query inventory (SURVEY §2.11, Q1–Q20 + Q24).
  *
  * Each builder is the Spark-first expression of an operator family the
  * reference exposes either in Go code or through its Hasura/Postgres query
  * layer (citations per query). All queries end in a total ORDER BY and round
  * computed floats so the DuckDB oracle hash-compare is deterministic.
  * Timestamps are canonicalized to epoch microseconds (`unix_micros`) before
  * leaving the engine — parquet ns→µs truncation then matches DuckDB exactly.
  *
  * Scale notes: every query is a pure declarative plan — Catalyst pushes
  * filters/projections into the parquet scan, chooses broadcast joins for the
  * hinted dimension tables, and runs two-phase hash aggregation. Nothing
  * collects to the driver except scalar subquery results (Q11's count).
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Q1 — event-log scan + monotonic cursor filter.
    * Reference: x/indexer/indexer.go:217-231 (skip failed/old txs). */
  def q1EventScan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_id") > 100 && col("event_type") =!= "error")
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")
      .limit(500)

  /** Q2 — latest-state-per-key fold: the core event-sourcing operator.
    * Reference: every UpdateColumns-by-token_id arm,
    * x/indexer/handlers/marketplace.go:114-423. */
  def q2LatestState(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "value")
      .orderBy("user_id")
  }

  /** Q3 — boolean combinators + LIKE + order/limit/offset (Hasura whereexp,
    * reference README.md:121-155). */
  def q3FilterCombo(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .filter((col("c_acctbal") >= 1000 || col("c_mktsegment") === "BUILDING")
        && col("c_name").like("%5%"))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
      .offset(10)
      .limit(50)

  /** Q4 — nested relationship join, the Hasura users→nfts analog
    * (reference README.md:89-120, FK edge types.go:118). */
  def q4JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, o("o_custkey") === c("c_custkey"), "left")
      .groupBy(c("c_custkey"), c("c_name"))
      .agg(
        count(o("o_orderkey")).as("n_orders"),
        round(coalesce(sum(o("o_totalprice")), lit(0.0)), 2).as("total"))
      .orderBy("c_custkey")
  }

  /** Q5 — find-or-create missing-key probe as an anti join
    * (reference marketplace.go:49-89 findOrCreateUser). */
  def q5AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select("o_custkey")
      .join(t(s, dir, "customer").select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .distinct()
      .orderBy("o_custkey")

  /** Q6 — upsert/latest-wins over a keyed document set
    * (reference Mongo upsert, x/tokenMetadataService/service.go:177-210). */
  def q6DocLatest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("n_chars").desc, col("lang"))
    t(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang")
      .orderBy("doc_id")
      .limit(200)
  }

  /** Q7 — change detection as EXCEPT (reference reflect.DeepEqual change
    * check, service.go:192). */
  def q7Except(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber")
      .except(li.filter(col("l_linestatus") === "F")
        .select("l_orderkey", "l_linenumber"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(300)
  }

  /** Q8 — multi-way join + grouped aggregate (TPC-H Q5 shape; the analytics
    * surface Hasura exposes as *_aggregate). Region/nation are broadcast. */
  def q8Revenue(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    val n = broadcast(t(s, dir, "nation"))
    val r = broadcast(t(s, dir, "region"))
    c.join(o, o("o_custkey") === c("c_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .join(n, n("n_nationkey") === c("c_nationkey"))
      .join(r, r("r_regionkey") === n("n_regionkey"))
      .filter(r("r_name") === "ASIA")
      .groupBy(n("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q9 — top-bid-per-token analog: rank with deterministic tie-break
    * (reference auction winner, marketplace.go:232-317). */
  def q9TopOrder(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rk", rank().over(w))
      .filter(col("rk") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }

  /** Q10 — counter matrix by two labels (reference Prometheus CounterVec,
    * x/common/metrics.go:7-49). */
  def q10Counter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"),
        (col("value") >= 0.5).cast("int").as("accepted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "accepted")

  /** Q11 — stalest-k selection: the k = 20%-of-corpus oldest events
    * (reference x/mongoDaemon/service.go:100-103).
    *
    * Scale posture: `orderBy.limit(k)` would plan as TakeOrderedAndProject
    * — a per-task heap of k rows (k is O(corpus)) gathered at a single
    * point, and `limit` takes an Int, overflowing past 2^31. Instead the
    * EXACT k-th (ts, event_id) boundary is found distributedly —
    * iterative approxQuantile narrowing, each step verified with exact
    * counts so quantile error can only cost a retry, never correctness —
    * then the result is a full-scan FILTER on that boundary: no global
    * sort in the selection, no driver-sized limit, Long-sized k.
    * event_id is the unique tie-break, so the filter admits exactly k
    * rows. The trailing orderBy is presentational (the oracle compare
    * wants deterministic order) and is a range-partitioned distributed
    * sort of the RESULT, not a single-point gather. Driver-side state is
    * a handful of scalar counts and one ≤`rankCap`-row boundary lookup —
    * bounded regardless of corpus size. */
  def q11Stalest(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val k = (ev.count() * 20) / 100
    if (k <= 0) return ev.filter(lit(false)).select("event_id", "ts_us")
    val (bTs, bId) = rankBoundary(ev, "ts_us", "event_id", k)
    ev.filter(col("ts_us") < bTs ||
        (col("ts_us") === bTs && col("event_id") <= bId))
      .select("event_id", "ts_us")
      .orderBy("ts_us", "event_id")
  }

  /** Bucket size below which the exact boundary is taken via one bounded
    * single-partition row_number — the same adjudicated-benign shape as
    * the post-limit windows elsewhere. */
  private val rankCap = 131072L

  /** Exact rank-r boundary of `(key, tie)` (1-based, ordered asc,asc) —
    * distributed, no global sort. Narrows a candidate bucket with
    * approxQuantile on `key` (switching to the unique `tie` column once
    * the bucket is a single key value), verifying every narrowing with
    * exact counts: quantile/rounding error can only fail the check and
    * fall through to the bounded-window endgame, never move the boundary.
    * Bucket shrinks ~100x per round, so passes are O(log n) with ~3
    * bucket scans each. Doubles represent the quantile probe only; the
    * Long bounds used for filtering are widened by 1 so 2^53+ keys
    * cannot round the true boundary out of the bucket.
    *
    * The input is PINNED (Materialize.pin) for the duration: each round
    * issues several actions (count, min/max, quantile, 1-3 filter-count
    * probes) over buckets that are filters of the same frame, and an
    * unpinned lineage would re-run the upstream scan for every one —
    * ~5-7 full-table passes in round 1 alone. Pinning makes that one
    * materialization plus cheap cached re-reads; unpersisted on exit.
    *
    * Endgame bound: the single-partition window normally sees ≤`cap`
    * rows (the loop stops early only once count ≤ cap). The exception is
    * the DEGENERATE fallback — widen attempts exhausted, or the
    * candidate range covering the whole bucket — reachable only when
    * approxQuantile's Long-rounded bounds stay useless across
    * exponential widening (adversarial >2^53 key distributions; never
    * unix-micros timestamps). Correctness holds there but the endgame
    * window is UNBOUNDED, so it's logged loudly, not silently absorbed. */
  private[queries] def rankBoundary(df: DataFrame, key: String, tie: String,
      rank: Long, cap: Long = rankCap): (Long, Long) = {
    val pinned = graft.operators.Materialize.pin(df)
    try rankBoundaryPinned(pinned, key, tie, rank, cap)
    finally { pinned.unpersist(); () }
  }

  private def rankBoundaryPinned(df: DataFrame, key: String, tie: String,
      rank: Long, cap: Long): (Long, Long) = {
    var bucket = df
    var r = rank
    var rounds = 12 // ~100x shrink per round: 12 covers any Long-sized n
    while (rounds > 0) {
      rounds -= 1
      val cnt = bucket.count()
      if (cnt <= cap) rounds = 0
      else {
        // single key value left → narrow by the unique tie column
        val mm = bucket.agg(min(col(key)), max(col(key))).head()
        val c = if (mm.getLong(0) == mm.getLong(1)) tie else key
        val frac = r.toDouble / cnt
        val eps = 0.001
        val qs = bucket.stat.approxQuantile(c,
          Array(math.max(0.0, frac - 4 * eps),
            math.min(1.0, frac + 4 * eps)), eps)
        // tight Long bounds first; exponential widening only if the
        // rank check fails (double rounding above 2^53 — never ts_us)
        var lo = math.floor(qs(0)).toLong
        var hi = math.ceil(qs(1)).toLong
        var widen = 1L
        var attempts = 3
        var shrunk = false
        while (!shrunk && attempts > 0) {
          attempts -= 1
          val below = bucket.filter(col(c) < lo).count()
          val in = bucket.filter(col(c) >= lo && col(c) <= hi).count()
          if (below < r && below + in >= r && in < cnt) {
            bucket = bucket.filter(col(c) >= lo && col(c) <= hi)
            r -= below
            shrunk = true
          } else if (below < r && below + in >= r) {
            // in == cnt: range covers the whole bucket, nothing to cut —
            // hand the (correct) residual to the window endgame
            attempts = 0
          } else {
            lo -= widen; hi += widen; widen *= 4096
          }
        }
        if (!shrunk) {
          // degenerate fallback: correctness intact, endgame UNBOUNDED —
          // say so loudly instead of absorbing an un-narrowed window
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"rankBoundary: narrowing failed with $cnt rows left " +
              s"(> cap $cap); endgame window is unbounded this call")
          rounds = 0
        }
      }
    }
    val w = Window.orderBy(col(key), col(tie))
    val row = bucket.withColumn("rn", row_number().over(w))
      .filter(col("rn") === r).select(col(key), col(tie)).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Q12 — exact distinct per group (reference md5 content identity,
    * storage.go:37-62). */
  def q12Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("d"))
      .orderBy("l_returnflag")

  /** Q13 — content-hash dedup histogram (reference content-addressed store,
    * storage.go:37-62; key format imgstorage/service.go:7).
    *
    * The hash itself is not observable in the output — the histogram
    * depends only on the GROUP IDENTITY the hash induces, and
    * md5(partkey_suppkey) partitions rows exactly like (partkey, suppkey)
    * itself — so the engine groups by the natural key directly: grouping
    * two longs beats hashing+grouping 32-char strings at any scale. (The
    * oracle still computes the md5 route; results are identical. Real
    * content-hashing where the digest IS the output: q22/q28/contentKey.) */
  def q13HashDedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_partkey", "l_suppkey").agg(count(lit(1)).as("cnt"))
      .groupBy("cnt").agg(count(lit(1)).as("n_groups"))
      .orderBy("cnt")

  /** Q14 — resolution-fallback as COALESCE (reference file load fallback,
    * storage.go:86-125). */
  def q14Coalesce(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"),
        coalesce(nullif(col("p_brand"), lit("")), col("p_type")).as("label"))
      .orderBy("p_partkey")
      .limit(100)

  /** Q15 — rollup subtotals (Hasura-style dashboard aggregates, SURVEY A6). */
  def q15Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("s"))
      .orderBy(col("o_orderstatus").asc_nulls_last,
        col("o_orderpriority").asc_nulls_last)

  /** Q16 — union of task streams + within-batch priority ordering
    * (reference RabbitMQ producers merging into dwh_uri_tasks,
    * marketplace.go:123 + mongoDaemon/receiver_sender.go:182-208). */
  def q16UnionPriority(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("id"), lit(3).as("priority"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("id"), lit(1).as("priority"))
    purchases.unionAll(views)
      .orderBy(col("priority").desc, col("id"))
      .limit(200)
  }

  /** Q17 — running balance over a ledger (reference
    * fungible_token_transfers, types.go:103-109). */
  def q17Running(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .filter(col("user_id") <= 25)
      .select(col("user_id"), col("event_id"),
        round(sum(col("value")).over(w), 4).as("running"))
      .orderBy("user_id", "event_id")
  }

  /** Q18 — JSON extraction + grouped fold (reference JSONB columns +
    * dynamic metadata access, types.go:140,165 / service.go:138-150). */
  def q18Json(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("k").asc_nulls_last)

  /** Q19 — tumbling hourly window (SURVEY P6; hour-aligned tumbling ≡
    * date_trunc('hour')). Output canonicalized to epoch micros. */
  def q19Hourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .orderBy("w", "event_type")

  /** Q20 — session windows via gaps-and-islands (SURVEY P6; expressed so
    * DuckDB can verify; streaming twin uses session_window). */
  def q20Sessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .filter(col("new_s") === 1)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .orderBy("user_id")
  }

  /** Q39 — sketch-based distinct (A5's scale path): HLL++ next to the exact
    * count so the smoke check shows the approximation error. At 100 TB the
    * sketch is the only affordable distinct — mergeable across partitions
    * and tables. Rows-only check (sketch internals are engine-specific). */
  def q39ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey")).as("d_approx"),
        countDistinct(col("l_orderkey")).as("d_exact"))
      .withColumn("rel_err",
        round(abs(col("d_approx") - col("d_exact")) /
          col("d_exact"), 4))
      .orderBy("l_returnflag")

  /** Q40 — the Hasura nested-response shape (J1: users{nfts{...}} from
    * reference README.md:89-120): parent rows with their children embedded
    * as a sorted array of structs — `collect_list(struct(...))` + sort for
    * determinism. One shuffle on the parent key.
    *
    * The nested array leaves the engine as a JSON STRING (`to_json`): the
    * oracle compare canonicalizes scalar columns only, and a string is the
    * cross-engine-stable encoding. Prices are rendered `%.2f` AFTER
    * round(x,2) — the already-rounded double is never a formatting tie, so
    * Java (HALF_UP) and C (half-even) emit identical digits. */
  def q40Nested(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, o("o_custkey") === c("c_custkey"))
      .filter(c("c_custkey") <= 50)
      .groupBy(c("c_custkey"))
      .agg(to_json(sort_array(collect_list(struct(
        o("o_orderkey").as("k"),
        format_string("%.2f", round(o("o_totalprice"), 2)).as("p")))))
        .as("orders"))
      .orderBy("c_custkey")
  }

  /** Q49 — TWO-level nested response, the full Hasura depth
    * (users{nfts{offers,bids}} analog, reference README.md:89-120):
    * customer{orders{lineitems}}. Children aggregate bottom-up — lineitems
    * fold to per-order arrays first, then orders (with their embedded item
    * arrays) fold to per-customer arrays — so each level is one shuffle on
    * its own parent key and the fan-out never materializes as a flat
    * cross-product row set. Same JSON-string canonicalization as q40. */
  def q49NestedDeep(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        col("l_linenumber").cast("long").as("ln"),
        col("l_quantity").cast("long").as("q")))).as("items"))
    c.join(o, o("o_custkey") === c("c_custkey"))
      .filter(c("c_custkey") <= 20)
      .join(li, col("l_orderkey") === o("o_orderkey"))
      .groupBy(c("c_custkey"))
      .agg(to_json(sort_array(collect_list(struct(
        o("o_orderkey").as("k"), col("items"))))).as("orders"))
      .orderBy("c_custkey")
  }

  /** Q45 — as-of join (point-in-time lookup, the training-data feature-at-
    * label-time operator): for every event, the id of the user's latest
    * purchase at-or-before it. Oracle: DuckDB's native ASOF LEFT JOIN.
    * Spark lacks the operator — graft.operators.AsOfJoin supplies the
    * one-shuffle union+window plan. */
  def q45AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("event_id").as("p_event_id"))
    graft.operators.AsOfJoin.asof(
      ev.select("event_id", "user_id", "ts"), purchases,
      key = "user_id", leftTime = "ts", rightTime = "ts",
      tieBreak = "p_event_id")
      .select(col("event_id"), col("r_p_event_id").as("last_purchase"))
      .orderBy("event_id")
      .limit(500)
  }

  /** Q46 — range join: events inside each purchase's 30-minute follow-up
    * window, per user — binned equi-join (graft.operators.RangeJoin)
    * instead of the nested-loop plan Spark gives a raw BETWEEN join.
    * Oracle: DuckDB inequality join. */
  def q46RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
    graft.operators.RangeJoin.pointInInterval(
      ev.select(col("user_id"), col("ts"), col("event_id")),
      windows, key = "user_id", t = "ts", start = "w_start", end = "w_end")
      .groupBy("p_id")
      .agg(count(lit(1)).as("n_in_window"))
      .orderBy("p_id")
      .limit(500)
  }

  /** Q47 — statistical aggregates (the *_aggregate surface Hasura exposes
    * beyond count/sum/avg: stddev, variance, exact median). */
  def q47Stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        round(stddev_samp(col("value")), 4).as("sd"),
        round(var_samp(col("value")), 4).as("vr"),
        round(percentile(col("value"), lit(0.5)), 4).as("med"))
      .orderBy("event_type")

  /** Q61 — the VARIANT path for semi-structured columns (C7 at 100 TB):
    * parse once to Spark 4's VARIANT (shredded binary encoding — no
    * per-access string re-parse like get_json_object), extract typed
    * fields, aggregate. q18 is the string-path twin; this is the layout a
    * large JSON corpus should use. */
  def q61VariantAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        variant_get(try_parse_json(col("props")), "$.k", "bigint").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n"),
        sum(col("k")).as("sk"),
        min(col("k")).as("mn"), max(col("k")).as("mx"))
      .orderBy("event_type")

  /** Q56 — supplier-side revenue (TPC-H Q15 shape): lineitem's SECOND FK
    * edge (l_suppkey→supplier, J2) with the supplier/nation dimensions
    * broadcast; per-supplier revenue, top-100 with deterministic
    * tie-break. Completes the star: every fixture table is now exercised
    * by at least one oracle-checked query. */
  def q56TopSuppliers(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val sup = broadcast(t(s, dir, "supplier"))
    val n = broadcast(t(s, dir, "nation"))
    l.join(sup, sup("s_suppkey") === l("l_suppkey"))
      .join(n, n("n_nationkey") === sup("s_nationkey"))
      .groupBy(sup("s_suppkey"), sup("s_name"), n("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("s_suppkey"))
      .limit(100)
  }

  /** Q57 — Z-order layout round-trip: write events clustered on
    * (user_id, event_id), re-read with a two-dimensional range predicate,
    * aggregate. Results are layout-invariant (the oracle runs the same
    * predicate on the raw table); what the layout buys — per-file
    * rectangle coverage, so this scan prunes on BOTH dimensions — is
    * asserted in ZOrderSpec.
    *
    * The write and scan are split ([[q57WriteLayout]]/[[q57Scan]]) so the
    * bench can time the layout job and the clustered scan separately — the
    * write is a once-per-snapshot-cycle maintenance cost, the scan is the
    * repeated win; timing them as one number made q57 a layout benchmark,
    * not a scan benchmark. [[q57ScanRaw]] runs the same predicate on the
    * unclustered table as the comparison bar. */
  def q57ZorderScan(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.path(s, "q57_zorder", dir)
    q57WriteLayout(s, dir, path)
    q57Scan(s, path)
  }

  /** The z-order layout job: events clustered on (user_id, event_id). */
  def q57WriteLayout(s: SparkSession, dir: String, path: String): Unit =
    graft.sources.SnapshotStore.writeZOrdered(
      t(s, dir, "events").select("user_id", "event_id", "value"),
      path, "user_id", "event_id", numFiles = 8, buckets = 256)

  /** Two-dimensional range predicate + aggregate over the clustered copy. */
  def q57Scan(s: SparkSession, path: String): DataFrame =
    q57Agg(s.read.parquet(path))

  /** Same predicate over the raw (unclustered) table — the baseline the
    * clustered scan must beat on pruned-file count and wall time. */
  def q57ScanRaw(s: SparkSession, dir: String): DataFrame =
    q57Agg(t(s, dir, "events").select("user_id", "event_id", "value"))

  /** A genuinely UNCLUSTERED copy of the q57 columns (round-robin
    * repartition destroys any incidental ordering), same file count as the
    * z-ordered layout. The fixture events.parquet happens to be written in
    * event_id order, so its row-group min/max already prune the event_id
    * predicate — scanning it is a one-dimension-clustered baseline, not an
    * unclustered one. This copy is the honest comparison bar. */
  def q57WriteUnclustered(s: SparkSession, dir: String, path: String): Unit =
    t(s, dir, "events").select("user_id", "event_id", "value")
      .repartition(8)
      .write.mode("overwrite").parquet(path)

  private def q57Agg(df: DataFrame): DataFrame =
    df.filter(col("user_id").between(40, 80) &&
        col("event_id").between(1000, 3000))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"),
        min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))

  /** Q24 — snapshot write→read round-trip (reference Postgres sink S4).
    * Writes Q2's fold result as a parquet snapshot, re-reads, aggregates. */
  def q24Snapshot(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Scratch.path(s, "q24_snapshot", dir)
    q2LatestState(s, dir).write.mode("overwrite").parquet(path)
    s.read.parquet(path)
      .agg(count(lit(1)).as("n"),
        min(col("user_id")).as("mn"), max(col("user_id")).as("mx"))
  }

  /** Q161 — the SALTED skew join under the oracle gate: events are
    * genuinely hot-keyed (5 event_type values over the whole table —
    * each key one task under a plain hash join), so the probe side
    * salts 8 ways on event_id and the dim side replicates per salt
    * ([[graft.operators.SkewJoin.saltedJoin]]). The result must equal
    * the UNSALTED join row for row — which is exactly what DuckDB
    * replays — so the mitigation is proven answer-preserving, not
    * just spec'd on toy rows. */
  def q161SaltedSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val dim = e.groupBy("event_type")
      .agg(round(avg(col("value")), 4).as("type_avg"))
    graft.operators.SkewJoin.saltedJoin(e, dim, "event_type",
        "event_id", nSalts = 8)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > col("type_avg"), 1L).otherwise(0L))
          .as("n_above"),
        max(col("type_avg")).as("type_avg"))
      .orderBy("event_type")
  }

  /** Q154 — COHORT RETENTION: users grouped by first-seen week, the
    * classic warehouse activity matrix (cohort week × week offset →
    * distinct active users) a product dashboard draws. Two folds on
    * user_id — first-seen week, then the distinct (user, week)
    * activity — joined and re-grouped; every shuffle keys on user_id
    * or the small (cohort, offset) output space, nothing quadratic.
    * Week keys serialize as epoch micros (the q19 cross-engine date
    * discipline); both engines truncate weeks to Monday. */
  def q154CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .distinct()
    val fu = e.groupBy("user_id").agg(min(col("w")).as("cw"))
    e.join(fu, "user_id")
      .groupBy(unix_micros(col("cw")).as("cohort"),
        (datediff(col("w"), col("cw")) / 7).cast("long")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort", "week_offset")
  }

  /** Q155 — ORDERED EVENT FUNNEL: per user, the strictly-increasing
    * view → click → purchase timestamp chain (a later step counts
    * only AFTER the earlier one happened — the sequencing that
    * separates a funnel from three independent counts), reported as
    * step reach + conversion rates. Three chained whole-partition
    * window minima over ONE user_id exchange (each step's gate
    * reads the previous window's column), then a single global fold
    * — no self-joins, no per-user collect. */
  def q155EventFunnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val staged = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") > col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t2"), col("ts"))).over(w))
    staged.agg(
        countDistinct(when(col("t1").isNotNull, col("user_id")))
          .as("n_view"),
        countDistinct(when(col("t2").isNotNull, col("user_id")))
          .as("n_click"),
        countDistinct(when(col("t3").isNotNull, col("user_id")))
          .as("n_purchase"))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click").cast("double") / col("n_view"), 4)
          .as("r_view_click"),
        round(col("n_purchase").cast("double") / col("n_click"), 4)
          .as("r_click_purchase"))
  }

  /** Q156 — snapshot CHANGE FEED: derive the CDC-out delta between
    * two store generations ([[graft.sources.SnapshotStore.diff]]) —
    * the "after" state drops keys ≤ 10, re-prices every BUILDING row,
    * and adds two fresh keys, so the feed carries all three ops with
    * delete rows showing BEFORE values and insert/update rows AFTER
    * values. Reported as per-op counts + checksums (the feed itself
    * is row-level; the checksums hash its images). */
  def q156ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val before = t(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    val after = before.filter(col("c_custkey") > 10L)
      .withColumn("c_acctbal",
        when(col("c_mktsegment") === "BUILDING",
          col("c_acctbal") + 100.0).otherwise(col("c_acctbal")))
      .unionByName(s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(999001L, "NEW", 1.0),
        org.apache.spark.sql.Row(999002L, "NEW", 2.0)),
        before.schema))
    graft.sources.SnapshotStore.diff(before, after, "c_custkey")
      .groupBy("op")
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey")).as("k_sum"),
        round(sum(col("c_acctbal")), 2).as("bal_sum"))
      .orderBy("op")
  }

  /** Q152 — INCREMENTAL AGGREGATE VIEW maintenance end to end: a
    * persisted per-customer orders view (count / revenue sum / max
    * price) builds from a base slice, then refreshes from two delta
    * slices WITHOUT rescanning the base — and a redelivery of the
    * first batch is a checked no-op (the exactly-once contract,
    * asserted engine-side). The read-back equals the one-shot
    * aggregate over base+deltas, which is exactly what DuckDB
    * replays. See [[graft.operators.IncrementalAgg]] for the merge
    * algebra and the single-swap durability story. */
  def q152IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val spec = IncrementalAgg.Spec("o_custkey",
      sums = Seq("o_totalprice"), maxs = Seq("o_totalprice"))
    val orders = graft.Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // the init + two refresh cycles + redelivery no-op run once per
    // process (FixtureCache serving contract); every call reads the
    // refreshed view — the steady state an incremental view serves
    val root = graft.FixtureCache.once(s, s"q152|$dir") {
      val r = graft.Scratch.path(s, "q152_view", dir)
      IncrementalAgg.initStore(s, r,
        orders.filter(col("o_orderkey") <= 200000L), spec)
      def slice(lo: Long, hi: Long) =
        orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
      require(IncrementalAgg.refreshStore(s, r, "b1",
        slice(200000L, 210000L), spec), "q152: batch b1 should apply")
      require(IncrementalAgg.refreshStore(s, r, "b2",
        slice(210000L, 220000L), spec), "q152: batch b2 should apply")
      // at-least-once redelivery: already-applied id is a no-op
      require(!IncrementalAgg.refreshStore(s, r, "b1",
        slice(200000L, 210000L), spec),
        "q152: redelivered batch b1 must not double-count")
      r
    }
    IncrementalAgg.readStore(s, root)
      .select(col("o_custkey"), col("n"),
        round(col("sum_o_totalprice"), 2).as("sum_o_totalprice"),
        col("max_o_totalprice"))
      .orderBy("o_custkey")
  }
}
