package graft.queries

import graft.Tables
import graft.sources.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The co-located-join scale path for the fact-join chain (SURVEY J2/A3 at
  * 100 TB; the concrete answer to q8 being the most expensive bench query).
  *
  * q8's cost is the honest 3-way shuffle join customer⋈orders⋈lineitem.
  * Snapshot tables are write-once-read-many, so the scale move is to PAY
  * THE SHUFFLE AT WRITE TIME: `SnapshotStore.writeBucketed` hash-buckets
  * each table on its join key, and every subsequent join against that key
  * reads co-located buckets and skips the exchange —
  *  - customer + orders bucket on custkey → their join shuffles NOTHING;
  *  - lineitem buckets on l_orderkey → the BIGGEST table never shuffles
  *    (only the much smaller customer⋈orders intermediate re-keys to
  *    orderkey).
  * At 1000 executors that converts the dominant all-to-all of ~all fact
  * bytes into one map-side-local merge per bucket.
  */
object BucketedQueries {

  /** Matches local[32]; at cluster scale ≈ total cores (or a multiple). */
  val nBuckets = 32

  def tableName(t: String): String = s"graft_bkt_$t"

  @volatile private var loadedDir: String = null

  /** Idempotent per session: bucketed+sorted copies of the q8 join chain.
    * A real deployment writes these ONCE per snapshot cycle; callers after
    * the first get the catalog tables for free. */
  def ensureTables(s: SparkSession, dir: String): Unit = synchronized {
    if (loadedDir == dir && s.catalog.tableExists(tableName("customer")))
      return
    val base = graft.Scratch.path(s, "bucketed", dir)
    Seq(("customer", "c_custkey"), ("orders", "o_custkey"),
      ("lineitem", "l_orderkey")).foreach { case (t, key) =>
      s.sql(s"DROP TABLE IF EXISTS ${tableName(t)}")
      SnapshotStore.writeBucketed(Tables.load(s, dir, t), tableName(t),
        s"$base/$t", key, nBuckets)
    }
    loadedDir = dir
  }

  /** Q50 — q8's exact join chain over the bucketed tables (identical
    * result, shared oracle). The customer⋈orders exchange disappears; the
    * lineitem side reads its buckets in place.
    *
    * Honest bench note: at sf0.1 the whole chain fits under the broadcast
    * threshold, so plain q8 broadcasts and q50's extra bucket files make it
    * SLOWER there — the win is the eliminated Exchange (PlanQualitySpec),
    * which pays off precisely when the tables outgrow broadcast, i.e. the
    * 100 TB regime this path exists for. */
  def q50RevenueBucketed(s: SparkSession, dir: String): DataFrame = {
    ensureTables(s, dir)
    val c = s.table(tableName("customer"))
    val o = s.table(tableName("orders"))
    val l = s.table(tableName("lineitem"))
    val n = broadcast(Tables.load(s, dir, "nation"))
    val r = broadcast(Tables.load(s, dir, "region"))
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
}
