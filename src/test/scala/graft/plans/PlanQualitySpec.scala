package graft.plans

import graft.SparkSpec
import graft.queries.{RelationalQueries => R, SimilarityQueries => S}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audits (SURVEY §4.2): correctness tests prove the WHAT,
  * these prove the HOW — filters reach the parquet scan, projections prune
  * the read schema, dimension joins broadcast, hot paths stay inside
  * whole-stage codegen, and sort+limit plans as TakeOrderedAndProject
  * instead of a global sort. A plan regression here is a 100 TB incident
  * that a row-count test would never catch. */
class PlanQualitySpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q1: predicate pushed into the parquet scan + pruned read schema") {
    val p = plan(R.q1EventScan(spark, dir))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan(event_id,100)")
      && pushed.contains("Not(EqualTo(event_type,error))"),
      s"filters not pushed to scan: $pushed\n$p")
    // only the 3 selected columns are read, not ts/value/props
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("event_id") && !readSchema.contains("props"),
      s"read schema not pruned: $readSchema")
  }

  test("q8: dimension tables broadcast, fact join shuffles only facts") {
    val p = plan(R.q8Revenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    // region filter r_name=ASIA is pushed into its scan
    assert(p.contains("EqualTo(r_name,ASIA)"), s"region filter not pushed:\n$p")
  }

  test("q1/q3: orderBy+limit plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(R.q3FilterCombo(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"global sort in:\n$p")
  }

  test("q11 stalest-k: rank-boundary FILTER, not a corpus-sized " +
    "TakeOrdered heap — k is O(corpus), so limit(k) is a scale-killer") {
    val df = R.q11Stalest(spark, dir)
    val p = plan(df)
    // the selection must be a boundary filter over the scan: no
    // TakeOrderedAndProject (per-task heap of k rows + single-point
    // gather), no CollectLimit/GlobalLimit (Int-sized k, driver gather)
    assert(!p.contains("TakeOrderedAndProject"),
      s"corpus-sized TakeOrdered heap in q11:\n$p")
    assert(!p.contains("CollectLimit") && !p.contains("GlobalLimit"),
      s"driver-sized limit in q11:\n$p")
    assert(p.contains("Filter"), s"no boundary filter in q11:\n$p")
    // the trailing deterministic-output sort must be the distributed
    // range-partitioned kind, not a single-partition gather
    assert(p.contains("rangepartitioning"),
      s"output sort is not range-partitioned in q11:\n$p")
  }

  test("q23: codegen dot-product stays inside WholeStageCodegen") {
    // AQE inserts codegen stages at runtime — execute, then inspect the
    // final adaptive plan.
    val df = S.q23CosineKnn(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators carry the "*(n)" marker in the final plan
    assert(p.contains("*(2) Project [vec_id"), s"no codegen span in:\n$p")
    assert(p.contains("vec_dot"), s"custom expression missing from plan:\n$p")
    assert(p.contains("*(2) Project [vec_id#0L, vec_normalize")
      || p.contains("vec_normalize"),
      s"normalize expression missing from plan:\n$p")
    // the scoring projection sits INSIDE the codegen region
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("vec_dot")),
      s"vec_dot not inside a codegen region:\n$p")
  }

  test("q2: single shuffle for the latest-state fold") {
    val p = plan(R.q2LatestState(spark, dir))
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    // one hash exchange for the window partitionBy; the final orderBy on the
    // small fold output may add a range exchange — anything beyond that is
    // a regression
    assert(exchanges <= 2, s"$exchanges exchanges in:\n$p")
  }

  test("q5: anti join stays an anti join (no fallback to cartesian)") {
    val p = plan(R.q5AntiJoin(spark, dir))
    assert(p.contains("LeftAnti"), s"anti join lost in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("near-dup joins never degrade to a cartesian product") {
    import graft.queries.TextQueries
    Seq(TextQueries.q30MinhashPairs(spark, dir),
      TextQueries.q32NgramJaccard(spark, dir),
      TextQueries.q51MinhashPairsMd5(spark, dir)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    }
  }

  test("q49 two-level nesting: bottom-up aggregation, no cartesian") {
    val df = R.q49NestedDeep(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // two collect_list aggregations (per-order items, per-customer orders)
    val objAggs = p.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") || l.contains("SortAggregate"))
    assert(objAggs >= 2, s"missing bottom-up aggregation stages:\n$p")
  }

  test("q35 fold: one hash exchange + partition sort, no global sort") {
    import graft.queries.CdcQueries
    val df = CdcQueries.q35CdcFold(spark, dir)
    df.collect()
    // AQE toString prints Final AND Initial plans — audit only the final
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, s"$hashEx hash exchanges in fold:\n$p")
    // only the final ORDER BY sorts globally; the fold's secondary sort is
    // per-partition (the *(n) Sort ... false lines)
    val globalSorts = p.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("], true,")).size
    assert(globalSorts <= 1, s"unexpected global sorts:\n$p")
  }

  test("LSH band joins use a hash/merge strategy, not nested loops") {
    import graft.queries.TextQueries
    val df = TextQueries.q30MinhashPairs(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"band join strategy degraded:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in LSH band join:\n$p")
  }

  test("fused text/vector kernels stay inside whole-stage codegen") {
    import graft.queries.TextQueries
    import graft.functions.VectorFunctions
    // q31's fused simhash projection must carry the codegen marker
    val sh = TextQueries.q31Simhash(spark, dir)
    sh.collect()
    val pSh = sh.queryExecution.executedPlan.toString
    assert(pSh.linesIterator.exists(l =>
      l.contains("*(") && l.contains("simhash_md5")),
      s"simhash kernel outside codegen:\n$pSh")
    // the int8 quantization kernel likewise
    val e = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
      .select(VectorFunctions.quantizeI8(
        org.apache.spark.sql.functions.col("embedding")
          .cast("array<double>")).as("z"))
    e.collect()
    val pQ = e.queryExecution.executedPlan.toString
    assert(pQ.linesIterator.exists(l =>
      l.contains("*(") && l.contains("vec_quantize_i8")),
      s"quantize kernel outside codegen:\n$pQ")
  }

  test("q34 IVF assignment is map-side: zero Exchange before the top-k") {
    val df = S.q34AnnIvf(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("Exchange"),
      s"IVF assignment shuffles (should be a pure projection):\n$p")
    assert(p.contains("vec_nearest_centroid"),
      s"map-side argmax expression missing:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"global sort in:\n$p")
  }

  test("bucketed q8 chain: co-located joins skip the shuffle exchange") {
    import graft.queries.BucketedQueries
    BucketedQueries.ensureTables(spark, dir)
    val c = spark.table(BucketedQueries.tableName("customer"))
    val o = spark.table(BucketedQueries.tableName("orders"))
    val l = spark.table(BucketedQueries.tableName("lineitem"))
    // force the sort-merge path (broadcast would hide the bucket effect on
    // the tiny fixture); at bench scale the planner chooses freely
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val co = c.join(o, o("o_custkey") === c("c_custkey"))
      co.collect()
      val pCo = co.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!pCo.contains("Exchange"),
        s"bucketed customer⋈orders still shuffles:\n$pCo")

      // full chain: lineitem's scan side must not shuffle (its buckets are
      // the join partitioning); only the c⋈o intermediate re-keys
      val full = co.join(l, l("l_orderkey") === o("o_orderkey"))
      full.collect()
      val pFull = full.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val exchanges = pFull.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1,
        s"$exchanges exchanges in bucketed chain (want <=1, the co→orderkey re-key):\n$pFull")
      assert(!pFull.linesIterator.exists(lx =>
        lx.contains("Exchange hashpartitioning(l_orderkey")),
        s"lineitem side shuffles despite bucketing:\n$pFull")
    }
  }

  test("aggregations are two-phase (partial before the exchange)") {
    val p = plan(R.q10Counter(spark, dir))
    val aggLines = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.size >= 2, s"no partial aggregation in:\n$p")
  }

  test("q65 packing: shard-local window (no global sort) + mass conserved") {
    import graft.queries.{TextQueries => T}
    val df = T.q65SeqPack(spark, dir)
    val rows = df.collect()
    // the window sorts per shard — a global (true) sort of the corpus
    // would serialize packing on one partition at 100 TB; only the final
    // presentation ORDER BY may sort globally
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val globalSorts = p.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("], true,")).size
    assert(globalSorts <= 1, s"packing sorts globally:\n$p")
    // packing is a layout, not a filter: every doc and every token lands
    // in exactly one pack
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, dir, "documents")
    val expDocs = docs.count()
    val expToks = docs.select(sum(size(split(col("text"), " "))))
      .head.getLong(0)
    assert(rows.map(_.getLong(2)).sum === expDocs)
    assert(rows.map(_.getLong(3)).sum === expToks)
    // every shard starts at pack 0 (first doc starts at offset 0)
    rows.groupBy(_.getInt(0)).foreach { case (sh, rs) =>
      assert(rs.map(_.getLong(1)).min === 0L, s"shard $sh missing pack 0")
    }
  }

  test("composed pair pipelines never pay a hidden global sort") {
    import graft.queries.{TextQueries => T}
    import org.apache.spark.sql.functions.col
    // Compositions must consume the RAW (unsorted) pair variants:
    // EliminateSorts strips a sort under q70's join/aggregate, but has NO
    // case for the Union that componentLabels checkpoints for q62/q67 —
    // a sorted input there would really execute its range-exchange+sort
    // during checkpoint materialization, invisibly to the final plan.
    // So assert the edge-union plan (what the checkpoint materializes)
    // and q70's executed plan are both sort-free.
    val ab = T.simhashPairsRaw(spark, dir).select(col("a"), col("b"))
    val edges = ab.union(ab.select(col("b"), col("a")))
    edges.collect()
    val pe = edges.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!pe.contains("], true,"), s"edge union pays a global sort:\n$pe")
    val q70 = T.q70DupSources(spark, dir)
    q70.collect()
    val p70 = q70.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val globalSorts = p70.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("], true,")).size
    assert(globalSorts <= 1, s"q70 keeps an inner global sort:\n$p70")
  }

  test("q66 LM scoring: model joins are hash/merge, aggs are two-phase") {
    import graft.queries.{TextQueries => T}
    val df = T.q66LmXent(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the count-model joins must never degrade to a nested loop — that
    // is the difference between vocab-keyed shuffles and O(n·V) at scale
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$p")
    // count tables fold map-side before their exchange
    val aggLines = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.size >= 4, s"no partial aggregation in:\n$p")
  }

  test("q69 funnel: one scan, one fold — no per-stage re-read") {
    import graft.queries.{TextQueries => T}
    val df = T.q69FilterFunnel(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // all five audit counters ride ONE pass over the corpus; a funnel
    // that re-scans per stage would read 100 TB five times
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1, s"funnel scans the corpus $scans times:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"no partial aggregation in:\n$p")
  }

  test("q92 counter matrix: the three increment candidates ride ONE " +
    "verdict pass (array-explode), not three scans of it") {
    import graft.queries.{CdcQueries => C}
    // the UNCACHED build: the served q92 pins its matrix per session
    // (FixtureCache), so the serving plan is a checkpoint scan — the
    // shape under audit is the build that pin prices once
    val df = C.q92CountersUncached(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the events source feeds two verdict slices (token-keyed +
    // denom-keyed, a genuine semantic split) and NOTHING else — the
    // Received/Common + Received/MsgX + Accepted/MsgX emission is one
    // generator over the verdicts, so no third read appears
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 2, s"counter matrix scans events $scans times:\n$p")
    assert(p.contains("Generate explode"), s"no array-explode emission:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"cell counts not two-phase:\n$p")
  }

  test("q90/q91 builder-compiled requests keep the handwritten plans' " +
    "shape: pushdown + TakeOrderedAndProject / single parent shuffle") {
    val p90 = plan(graft.api.QueryBuilder.q90QbFilter(spark, dir))
    assert(p90.contains("TakeOrderedAndProject"), s"global sort in:\n$p90")
    val pushed = p90.linesIterator.filter(_.contains("PushedFilters"))
      .mkString
    assert(pushed.contains("c_acctbal") || pushed.contains("Or("),
      s"where-tree not pushed:\n$pushed")
    val p91 = plan(graft.api.QueryBuilder.q91QbNested(spark, dir))
    // one shuffle keys the parent aggregate; the child join must not
    // introduce a nested loop
    assert(!p91.contains("BroadcastNestedLoopJoin")
      && !p91.contains("CartesianProduct"), s"nested loop in:\n$p91")
    assert(p91.contains("c_custkey <= 50")
      || p91.contains("LessThanOrEqual(c_custkey,50)"),
      s"parent filter not pushed:\n$p91")
    // the builder-compiled TWO-LEVEL nesting keeps q49's bottom-up
    // shape: each level folds before joining upward, no nested loop
    val p97 = plan(graft.api.QueryBuilder.q97QbNestedDeep(spark, dir))
    assert(!p97.contains("BroadcastNestedLoopJoin")
      && !p97.contains("CartesianProduct"), s"nested loop in:\n$p97")
    // formatted explain lists the fold functions in the detail section:
    // one collect_list per nesting level (orders, items)
    assert("collect_list\\(".r.findAllIn(p97).length >= 2,
      s"two-level nesting should fold per level (bottom-up):\n$p97")
    // q98's per-relationship args: the child's own where reaches the
    // child's parquet scan, and the per-parent limit is a row_number
    // window riding the fold's hash partitioning — the ONLY range
    // exchange is the root order_by's output sort, never a global sort
    // of the child fan-out
    val p98 = plan(graft.api.QueryBuilder.q98QbChildArgs(spark, dir))
    val pushed98 = p98.linesIterator.filter(_.contains("PushedFilters"))
      .mkString
    assert(pushed98.contains("o_orderstatus"),
      s"child where not pushed to the orders scan:\n$pushed98")
    assert(p98.contains("row_number"), s"no windowed top-n:\n$p98")
    assert(p98.linesIterator
      .count(_.contains("Exchange rangepartitioning")) <= 1,
      s"child top-n must not global-sort:\n$p98")
  }

  test("banded hamming pairs: distance filter runs BELOW the dedup " +
    "exchange — band-collision false candidates die before the shuffle") {
    import spark.implicits._
    val hs = Seq(("a", 0x0L), ("b", 0x1L), ("c", 0xffffL))
      .toDF("id", "h")
    val df = graft.functions.HammingBands.pairs(hs, "id", "h",
      nBands = 4, bandBits = 8, maxDist = 3)
    val p = plan(df)
    // with the filter written BEFORE the distinct, Catalyst pushes the
    // distance bound all the way into the band-join condition — false
    // candidates die at the join, never reaching the dedup exchange.
    // (Written after the distinct, the bound is stuck above the final
    // aggregate and every collision pays the shuffle.)
    val joinCond = p.linesIterator
      .find(_.trim.startsWith("Join condition:")).getOrElse("")
    assert(joinCond.contains("bit_count") && joinCond.contains("<= 3"),
      s"distance bound not pushed into the band join: '$joinCond'\n$p")
    // and nothing filters above the dedup aggregate
    val compact = p.split("\\(1\\) ").head
    assert(!compact.contains("Filter"),
      s"distance filter floated above the dedup:\n$compact")
  }

  test("crossPairs + repostVerdicts: two-sided banded join pushes the " +
    "distance bound into the join; the verdict aggregate is two-phase " +
    "(container pairs shuffle, not frame pairs) with no cartesian") {
    import spark.implicits._
    val left = Seq(("v1#0", 0x0L), ("v1#1", 0x1L)).toDF("key", "h")
    val right = Seq(("w1#0", 0x1L), ("w2#0", 0xffffL)).toDF("key", "h")
    val cp = graft.functions.HammingBands.crossPairs(left, right,
      "key", "h", nBands = 4, bandBits = 8, maxDist = 3)
    val pcp = plan(cp)
    assert(!pcp.contains("CartesianProduct")
      && !pcp.contains("BroadcastNestedLoopJoin"),
      s"cross-modal match must stay a banded equi-join:\n$pcp")
    val joinCond = pcp.linesIterator
      .find(_.trim.startsWith("Join condition:")).getOrElse("")
    assert(joinCond.contains("bit_count") && joinCond.contains("<= 3"),
      s"distance bound not pushed into the cross band join: '$joinCond'")
    // the verdict over a pair stream: partial aggregation below the
    // exchange, so the shuffle carries container pairs only
    val pairs = Seq(("v1#0", "w1#0", 0L), ("v1#1", "w1#1", 0L))
      .toDF("a", "b", "d")
    val pv = plan(graft.operators.MultimodalOps.repostVerdicts(pairs))
    assert(pv.contains("partial_count") || pv.contains("partial count"),
      s"verdict aggregate is not two-phase:\n$pv")
  }

  test("q94 scoring rides one scan: codegen dot against the literal " +
    "weights, no exchange before the output sort") {
    val df = S.q94ClassifierScore(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 1,
      s"classifier scoring re-scans:\n$p")
    assert(p.contains("vec_dot"), s"dot kernel missing:\n$p")
    // the only exchange allowed is the final single-partition sort (or
    // none at all under TakeOrdered-style planning)
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"$exchanges exchanges in a scoring scan:\n$p")
  }

  test("q93 fusion: both legs stay bounded top-k (TakeOrdered), the " +
    "full-outer join never degrades to a nested loop") {
    import graft.queries.{TextQueries => T}
    val df = T.q93HybridRrf(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("TakeOrderedAndProject"),
      s"fusion legs pay a global sort:\n$p")
    // the vector leg broadcasts its 1-ROW query vector (that nested
    // loop is the documented q23 shape and costs one row per probe);
    // the FUSION join itself must be keyed — FullOuter on a hash/merge
    // join operator, never a nested loop over the lists
    val fullOuterLine = p.linesIterator
      .find(l => l.contains("FullOuter")).getOrElse("")
    assert(fullOuterLine.contains("SortMergeJoin")
      || fullOuterLine.contains("ShuffledHashJoin"),
      s"fusion join not keyed: '$fullOuterLine'\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in fusion:\n$p")
  }

  test("q76 bloom probe prunes the corpus side BELOW the confirm join") {
    import graft.queries.{TextQueries => T}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = T.q76DecontaminateBloom(spark, dir)
    df.collect()
    // flatten the adaptive tree (stages hide their subtrees from children)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    def hasProbe(p: SparkPlan): Boolean = p.expressions.exists(_.exists {
      case _: BloomFilterMightContain => true
      case _ => false
    })
    val all = nodes(df.queryExecution.executedPlan)
    val join = all.find(_.nodeName.contains("Join")).getOrElse(
      fail(s"no confirm join in:\n${df.queryExecution.executedPlan}"))
    // the probe must sit in the join's INPUT subtree — pruning the scan
    // before rows move — never as a post-join residual; at 100 TB the
    // difference is shuffling survivors vs shuffling the whole corpus
    val belowJoin = join.children.flatMap(nodes)
    assert(belowJoin.exists(hasProbe),
      s"bloom probe not below the join:\n${df.queryExecution.executedPlan}")
    val joinIdx = all.indexOf(join)
    assert(!all.take(joinIdx).exists(hasProbe),
      s"bloom probe floated above the join:\n${df.queryExecution.executedPlan}")
  }

  test("q77 BM25: df broadcast, query-term filter below the aggregate, " +
    "top-k via TakeOrderedAndProject") {
    import graft.queries.{TextQueries => T}
    // q77 checkpoints the (doc_id, dl, query-term tokens) frame it
    // tokenizes the corpus into; keep that action's executed plan
    val kept = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val checkpoints = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (f == "localCheckpoint") kept.add(qe.executedPlan.toString)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(checkpoints)
    val df = try {
      val q = T.q77Bm25Topk(spark, dir)
      q.collect()
      org.apache.spark.ListenerDrain(spark.sparkContext)
      q
    } finally spark.listenerManager.unregister(checkpoints)
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the tiny per-term df table joins broadcast — the postings never
    // shuffle against it
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
    // top-k is a bounded per-partition heap, not a global sort of every
    // scored document
    assert(p.contains("TakeOrderedAndProject"), s"no bounded top-k:\n$p")
    // the query-term IN filter runs in the scan stage that tokenizes
    // the corpus into the checkpointed frame, below any exchange
    // (postings are pruned before any shuffle)...
    assert(kept.size === 1, s"${kept.size} checkpoints")
    val kp = kept.peek
    assert(kp.contains("FileScan") && !kp.contains("Exchange"),
      s"query-term tokens not kept in the scan stage:\n$kp")
    assert(kp.linesIterator.exists(l =>
        l.contains("filter(") && l.contains("IN (join,hash,window)")),
      s"no query-term filter where the corpus is tokenized:\n$kp")
    // ...so the ranking plan never re-tokenizes the text, and explodes
    // the kept tokens into postings below its first exchange
    assert(!p.contains("split("), s"ranking plan re-tokenizes:\n$p")
    val lines = p.linesIterator.toSeq
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val explodeIdx = lines.lastIndexWhere(_.contains("Generate explode"))
    assert(explodeIdx > firstExchange,
      s"postings not exploded below the exchange:\n$p")
  }

  test("q78 heavy hitters: sketch aggregate is two-phase (partial " +
    "summaries cross the wire, not tokens)") {
    import graft.queries.{TextQueries => T}
    // q78 executes eagerly (its runtime exactness validation needs the
    // survivor counts on the driver), so the plan audit targets the two
    // distributed stages it runs
    val sk = T.q78Sketch(spark, dir, capacity = 256)
    val skRow = sk.head
    val p = sk.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // TypedImperativeAggregate plans as ObjectHashAggregate; two
    // occurrences = partial (per partition) + final (after exchange)
    val objAgg = p.linesIterator
      .count(_.contains("ObjectHashAggregate"))
    assert(objAgg >= 2, s"MG sketch not two-phase:\n$p")
    // the survivor re-count joins broadcast (survivors <= capacity)
    val cand = skRow.getSeq[org.apache.spark.sql.Row](0)
      .map(_.getAs[String]("w")).toSeq
    val rc = T.q78Recount(spark, dir, cand, k = 20)
    rc.collect()
    val rp = rc.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(rp.contains("BroadcastHashJoin"), s"re-count not broadcast:\n$rp")
  }

  test("q95 anchor flagging: the df count is a one-exchange partial " +
    "aggregate over kernel-distinct grams, the flag-back joins " +
    "hash-wise on gh, the corpus is scanned once per consumer") {
    import graft.queries.{TextQueries => T}
    val df = T.q95RepeatedSpans(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val lines = p.linesIterator.toSeq
    // aggregate + probe each read the corpus once; NOT pinned on
    // purpose (the exploded gram set is ~l x the corpus)
    assert(lines.count(_.contains("FileScan parquet")) === 2,
      s"gram flagging re-scans the corpus:\n$p")
    // the per-doc gram dedup is fused into the kernel
    // (distinct_word_shingles), so the df count is a plain TWO-PHASE
    // count: a partial_count below ONE gh exchange — no (gh, doc_id)
    // pair ever crosses the network, and a hot boilerplate gram's
    // partial counts merge map-side instead of concentrating
    val mapCount = lines.lastIndexWhere(l =>
      l.contains("HashAggregate(keys=[gh") && l.contains("partial_count"))
    val countExchange = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning(gh"))
    assert(mapCount >= 0 && countExchange >= 0 && countExchange < mapCount,
      s"gram df count is not a map-side partial count:\n$p")
    // and no (gh, doc_id) pair-dedup aggregate survives anywhere — the
    // old two-exchange distinct shape must not creep back
    assert(!lines.exists(l =>
      l.contains("Exchange hashpartitioning(gh") && l.contains("doc_id")),
      s"(gh, doc_id) pairs are crossing an exchange again:\n$p")
    // the flag-back is a hash equi-join on gh — broadcast of the
    // df-filtered key set at this scale, never a nested loop
    assert(lines.exists(l => l.contains("Join [gh")
      || l.contains("Join [coalesce(gh")),
      s"flag-back not an equi-join on gh:\n$p")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$p")
    // island merge runs per document AFTER flagging: exactly one
    // doc_id exchange feeds the windows
    assert(lines.count(_.contains(
      "Exchange hashpartitioning(doc_id")) === 1,
      s"island merge should shuffle flagged anchors once:\n$p")
  }

  test("q96 redaction: covered-position anti-join stays hash-based " +
    "and the kept-token rebuild aggregates without a global sort") {
    import graft.queries.{TextQueries => T}
    val df = T.q96SpanRedact(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("LeftAnti"), s"kept tokens not an anti-join:\n$p")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$p")
    // sort_array runs inside the aggregate buffer; the only Sort nodes
    // allowed are SMJ children and the final output ordering
    val sorts = p.linesIterator.count(l =>
      l.contains(" Sort ") && l.contains("global=true")
        || l.trim.startsWith("Sort ["))
    assert(sorts <= 3, s"redaction pays extra global sorts:\n$p")
  }
  test("q133/q134 relationship predicates: decorrelated flag joins " +
    "stay hash/broadcast equi-joins, no cartesian, two-phase distinct") {
    import graft.api.GraphQl
    for (q <- Seq(GraphQl.q133RelPred(spark, dir),
        GraphQl.q134RelPredAlgebra(spark, dir))) {
      q.collect()
      val p = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"), s"cross join in:\n$p")
      // the satisfying-child-keys build dedups via aggregate, which
      // must be two-phase (partial below its exchange)
      assert(p.linesIterator.count(l =>
        l.contains("HashAggregate") || l.contains("ObjectHashAggregate"))
        >= 2, s"child-key distinct not two-phase:\n$p")
    }
  }

  test("q135 aggregate ordering: one shared child aggregate join per " +
    "relationship, ordering without a partition-less window") {
    import graft.api.GraphQl
    val df = GraphQl.q135AggOrder(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("WindowExec"), s"window in agg-order plan:\n$p")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), s"cross join in:\n$p")
    // both ordering aggregates (count + sum) ride ONE orders scan:
    // exactly one aggregate subtree over the orders table
    val ordersScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("o_totalprice"))
    assert(ordersScans <= 1, s"orders scanned $ordersScans times:\n$p")
  }

  test("q145 stream pages: cursor bound and where push into the scan, " +
    "the page cut is a TakeOrdered (never a global sort)") {
    import graft.api.GraphQl
    val p = plan(GraphQl.q145StreamPages(spark, dir))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("GreaterThan(event_id,3000)") &&
      pushed.contains("EqualTo(event_type,click)"),
      s"cursor/where not pushed: $pushed\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"page cut is not a bounded top-k:\n$p")
  }

  test("q149 aggregate nodes: the nodes array rides the SAME child " +
    "pre-aggregation as count/sum — one orders scan, no cross join") {
    import graft.api.GraphQl
    val df = GraphQl.q149AggRelNodes(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), s"cross join in:\n$p")
    val ordersScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("o_totalprice"))
    assert(ordersScans <= 1, s"orders scanned $ordersScans times:\n$p")
  }

  test("q186/q187: store probes stay banded equi-joins — the simhash " +
    "search pushes its band disjunction, the agreement joins candidate " +
    "sets without a cartesian") {
    import graft.queries.{TextQueries => T}
    val p186 = T.q186SimhashStoreSearch(spark, dir)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p186.contains("CartesianProduct")
      && !p186.contains("BroadcastNestedLoopJoin"),
      s"q186 probe must stay a banded scan:\n$p186")
    // the query's 4 band values reach the store scan as pushed filters
    val pushed186 = p186.linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed186.contains("EqualTo(band.b,"),
      s"band disjunction not pushed:\n$pushed186\n$p186")
    val p187 = T.q187TextKernelAgreement(spark, dir)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p187.contains("CartesianProduct")
      && !p187.contains("BroadcastNestedLoopJoin"),
      s"q187 agreement must stay banded equi-joins:\n$p187")
  }

  test("q155 funnel: three chained window minima share ONE user_id " +
    "exchange, never a partition-less window") {
    val df = R.q155EventFunnel(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // every window spec is keyed on user_id (a partition-less window
    // prints windowspecdefinition WITHOUT the key)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty, s"no window in funnel plan:\n$p")
    specs.foreach(l => assert(l.contains("user_id"),
      s"partition-less window in funnel plan: $l\n$p"))
    // the three step columns fold over exactly one user_id exchange
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges === 1, s"funnel should shuffle ONCE on user_id:\n$p")
  }

  test("q156 change feed: one full-outer hash join, no cartesian, " +
    "both sides scanned once") {
    val df = R.q156ChangeFeed(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("FullOuter"), s"diff is not a full-outer join:\n$p")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), s"cross join in:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("c_acctbal"))
    assert(scans <= 2, s"customer scanned $scans times:\n$p")
  }

  test("q161 salted join: the join key carries the salt (no single " +
    "hot partition), the dim side replicates via explode") {
    val df = R.q161SaltedSkewJoin(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("_salt"), s"salt absent from the plan:\n$p")
    assert(p.contains("Generate explode("),
      s"dim side not replicated via explode:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q172 retention: the keep-best window and the drop-count fold " +
    "share ONE cluster-key exchange, no partition-less window") {
    val df = graft.queries.PipelineQueries.q172ImageRetention(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // every window spec keys on the cluster canonical (a partition-
    // less window would total-order the corpus through one task)
    val specs = p.linesIterator
      .filter(_.contains("windowspecdefinition(")).toSeq
    assert(specs.nonEmpty, s"no window in retention plan:\n$p")
    specs.foreach(l => assert(l.contains("canonical"),
      s"partition-less window in retention plan: $l\n$p"))
    // row_number and the groupBy fold reuse one canonical shuffle
    val exchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning(canonical"))
    assert(exchanges === 1,
      s"retention should shuffle ONCE on the cluster key:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q174 decorrelated aggregate filter: the satisfying-key build " +
    "broadcasts, no cartesian, the fold is two-phase") {
    val df = graft.api.Permissions.q174AggregateRelFilter(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), s"cross join in:\n$p")
    // the distinct child-key set is small → AQE broadcasts the flag join
    assert(p.contains("BroadcastHashJoin"),
      s"satisfying-key join did not broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"aggregate not two-phase:\n$p")
  }

  test("q180 source profile: the exact-distinct pair plans as ONE " +
    "expand + the canonical two-stage distinct shuffle, all keyed " +
    "on source") {
    val df = graft.queries.TextQueries.q180SourceProfile(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("Expand"), s"count-distinct pair should expand:\n$p")
    // exact multi-distinct is inherently two source-keyed stages:
    // dedup on (source, expanded distinct key), then the final fold
    // on source — both exchanges lead with the group key, so the
    // profile never shuffles on anything wider (a distinct-unaware
    // rewrite would add a per-distinct exchange each)
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning(")).toSeq
    assert(exchanges.size === 2,
      s"expected the two-stage distinct shape:\n$p")
    exchanges.foreach(l => assert(
      l.contains("hashpartitioning(source"),
      s"an exchange is not keyed on source: $l\n$p"))
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q150 retrieval eval: broadcast query set over ONE corpus " +
    "scan, top-k is a partial (map-side) object-hash aggregate") {
    val df = graft.queries.SimilarityQueries
      .q150RetrievalEval(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the ONLY nested-loop is the intended broadcast of the 16-query
    // side; the corpus is never self-crossed
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the bounded top-k pre-reduces map-side: a partial_topk before
    // the per-query exchange
    assert(p.contains("partial_topk") || p.contains("partial_top_k") ||
      p.toLowerCase.contains("objecthashaggregate"),
      s"top-k not a mergeable aggregate:\n$p")
  }

  test("q195 filtered ordering aggregate: the role's child filter " +
    "reaches the orders scan, one child aggregate join, no window") {
    val df = graft.api.Permissions.q195FilteredOrderAgg(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), s"cross join in:\n$p")
    assert(!p.contains("WindowExec"), s"window in agg-order plan:\n$p")
    // the grant filter prunes the child scan itself — the aggregate
    // never reads invisible rows
    val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("EqualTo(o_orderstatus,O)"),
      s"grant filter not pushed to the orders scan:\n$pushed\n$p")
    assert(pushed.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"root grant filter not pushed:\n$pushed\n$p")
    val ordersScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("o_custkey"))
    assert(ordersScans <= 1, s"orders scanned $ordersScans times:\n$p")
  }

  test("q196 agreement retention: both pair pipelines stay banded " +
    "equi-joins and the keep-best window shares the cluster exchange") {
    // the RAW agreed-pair pipeline (q196 consumes it through a
    // once-per-process checkpoint, so assert the banded shape on the
    // producer itself)
    val pAgreed = graft.queries.TextQueries.agreedPairs(spark, dir)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!pAgreed.contains("CartesianProduct")
      && !pAgreed.contains("BroadcastNestedLoopJoin"),
      s"agreed-pair pipelines must stay banded equi-joins:\n$pAgreed")
    val df = graft.queries.TextQueries.q196AgreementRetention(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"agreement must stay banded equi-joins:\n$p")
    // the keep-best fold reuses the window's cluster-key exchange
    // (the q172 retention contract): no exchange BETWEEN the window
    // and the aggregate over canonical
    val lines = p.linesIterator.toVector
    val wIdx = lines.indexWhere(_.contains("Window"))
    val aIdx = lines.lastIndexWhere(l =>
      l.contains("HashAggregate") && l.contains("canonical"))
    assert(wIdx >= 0, s"no keep-best window in:\n$p")
    if (aIdx >= 0 && aIdx < wIdx)
      assert(!lines.slice(aIdx, wIdx).exists(_.contains("Exchange")),
        s"extra exchange between window and fold:\n$p")
  }

  test("REGISTRY SWEEP: every unpartitioned window in every registered " +
    "query sits over an input bounded BY CONSTRUCTION (r16 verdict #10 " +
    "— a partition-less window over an unbounded intermediate is a " +
    "single-task gather of the whole dataset at 100 TB)") {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
    // bounded-by-construction = Catalyst can prove a row-count ceiling
    // (maxRows propagates through Limit/one-row aggregates/joins of
    // bounded sides); the ceiling itself must be presentation-sized.
    // 100k rows is far above any real result page yet far below any
    // "accidentally the whole corpus" shape.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val cap = 100000L
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach {
      case (name, q) =>
        val plan: LogicalPlan =
          try q(spark, dir).queryExecution.optimizedPlan
          catch { case e: Throwable =>
            fail(s"$name failed to build a plan: ${e.getMessage}")
          }
        plan.foreach {
          case w: Window if w.partitionSpec.isEmpty =>
            val bound = w.child.maxRows
            if (!bound.exists(_ <= cap))
              offenders += s"$name: unpartitioned window over " +
                s"maxRows=$bound\n${w.treeString.take(2000)}"
          // same blanket rule for CONDITION-FREE joins: a cross join
          // is O(|L|×|R|) rows at 100 TB unless one side is provably
          // tiny (a broadcast constants/threshold table) or the
          // author EXPLICITLY broadcast-hinted a side (the documented
          // request-sized probe of the brute-force kNN baselines —
          // Catalyst cannot bound a filter's selectivity statically,
          // the hint is the in-plan assertion that a human did)
          case j: Join if j.condition.isEmpty =>
            val tiny = Seq(j.left, j.right)
              .exists(_.maxRows.exists(_ <= 1000L))
            val hinted = j.hint.leftHint.exists(_.strategy.isDefined) ||
              j.hint.rightHint.exists(_.strategy.isDefined)
            if (!tiny && !hinted)
              offenders += s"$name: condition-free join with no " +
                s"provably-tiny or broadcast-hinted side " +
                s"(maxRows L=${j.left.maxRows} " +
                s"R=${j.right.maxRows})\n${j.treeString.take(2000)}"
          case _ => ()
        }
    }
    assert(offenders.isEmpty,
      s"unbounded single-partition windows / unbounded cross joins:\n${
        offenders.mkString("\n")}")
  }
}
