package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST,
  Join, ResolvedHint}

/** The plans [[TextQueries.componentLabels]] hands its callers: the
  * union-find output is broadcast only while it is small, and the
  * distributed path's cluster-size aggregate costs nothing to a caller
  * that drops the size. */
class ComponentLabelsSpec extends SparkSpec {

  // two components, {1, 2, 3} and {5, 6}: 3 pairs, 6 directed edges
  private def pairs: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
  }

  private val expected =
    Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (5L, 5L, 2L), (6L, 5L, 2L))

  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

  private def broadcastHinted(df: DataFrame) =
    df.queryExecution.analyzed.exists {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      case _ => false
    }

  test("union-find labels are broadcast only up to broadcastEdges edges") {
    val small = TextQueries.componentLabels(spark, pairs)
    assert(broadcastHinted(small), s"small graph not broadcast:\n" +
      small.queryExecution.analyzed)
    assert(rows(small) === expected)
    // n disjoint pairs (2i, 2i + 1): 2n directed edges, just past the
    // bound, still one union-find task but no hint, so AQE decides
    val n = TextQueries.broadcastEdges / 2 + 1
    val large = TextQueries.componentLabels(spark, spark.range(n)
      .select((col("id") * 2).as("a"), (col("id") * 2 + 1).as("b")))
    assert(!broadcastHinted(large), s"large graph broadcast:\n" +
      large.queryExecution.analyzed)
    assert(TextQueries.q62LastRounds === 0)
    val wrong = large.filter(col("size") =!= 2L ||
      col("label") =!= col("id") - pmod(col("id"), lit(2L)))
    assert(large.count() === 2 * n && wrong.count() === 0)
  }

  test("distributed labels: the size aggregate is pruned when unused") {
    // limit 0 forces the distributed label-propagation loop
    val labels = TextQueries.componentLabels(spark, pairs, smallGraphLimit = 0)
    assert(TextQueries.q62LastRounds > 0)
    assert(rows(labels) === expected)
    // the rounds are checkpointed, so the only aggregate and join left
    // in the plan are the size's
    def sizePlan(df: DataFrame) = {
      val p = df.queryExecution.optimizedPlan
      p.exists(_.isInstanceOf[Aggregate]) || p.exists(_.isInstanceOf[Join])
    }
    assert(sizePlan(labels), s"no size join:\n" +
      labels.queryExecution.optimizedPlan)
    val idLabel = labels.select("id", "label")
    assert(!sizePlan(idLabel), s"unused size still joined:\n" +
      idLabel.queryExecution.optimizedPlan)
  }
}
