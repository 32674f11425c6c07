package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Catalog of the driver-generated test tables (TESTDATA.md / FIXTURES.md §A).
  *
  * These tables model the reference's data shapes (SURVEY §1.1):
  * `events` is the append-only event log (reference `x/common/types.go:133-195`
  * txes/messages analog), the TPC-H-ish star tables are the snapshot/relational
  * surface Hasura exposes (reference `README.md:89-155`), and
  * `documents`/`embeddings` back the north-star text/similarity operators.
  *
  * Scale posture: readers are plain parquet scans so Catalyst's vectorized
  * reader, predicate pushdown and column pruning all apply. At 100 TB these
  * paths become partitioned directories; nothing here assumes a single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to always broadcast in joins. */
  val broadcastable: Set[String] = Set("region", "nation", "supplier", "part")

  // Memoized per (session, dir, name): spark.read.parquet re-lists files
  // and re-reads footers for the schema on EVERY call, and the query
  // surface loads the same ten tables hundreds of times per run. The cached
  // value is an immutable logical plan — sharing it is free. Keyed WEAKLY
  // on the session object: a stopped session's entries become collectable
  // (no leak across session churn) and identity equality can't collide the
  // way identityHashCode keys could.
  private val loaded = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]())

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loaded.computeIfAbsent(spark, _ =>
      new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
      .computeIfAbsent((dir, name), _ => {
        // events.ts has shipped as parquet TIMESTAMP(NANOS) (vectorized
        // reader rejects it; sessions set spark.sql.legacy.parquet
        // .nanosAsLong=true — see configure() — so it arrives as Long
        // nanos, truncated here to µs exactly like DuckDB's ns→µs) and
        // as TIMESTAMP(MICROS) without UTC adjustment (arrives as
        // TIMESTAMP_NTZ, which unix_micros/date arithmetic reject).
        // Normalize BOTH to a session-UTC TimestampType so every
        // downstream query sees one type regardless of generator
        // vintage; with the session pinned to UTC the NTZ→LTZ cast is
        // the same wall-clock=UTC reading DuckDB applies to naive
        // timestamps.
        val df = spark.read.parquet(s"$dir/$name.parquet")
        df.schema.find(_.name == "ts").map(_.dataType) match {
          case Some(LongType) =>
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case Some(TimestampNTZType) =>
            df.withColumn("ts", col("ts").cast(TimestampType))
          case _ => df
        }
      })

  /** Shuffle/spill scratch directory (spark.local.dir). Overridable via
    * SPARK_GRAFT_LOCAL_DIR; defaults to a RAM-backed dir when the host
    * has one. Rationale (optimization guide §2.1/§6): at this engine's
    * local shuffle sizes the dominant cost is FILE CREATION — the
    * whole-sweep profile attributed ~4 s/run to
    * DiskBlockObjectWriter.initialize + createTempShuffleBlock on the
    * default /tmp (a VM disk). Shuffle scratch is ephemeral by contract
    * (lost blocks recompute), so tmpfs is semantically safe; production
    * deployments point spark.local.dir at fast local NVMe the same way. */
  private def localDir: String =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").getOrElse {
      val shm = new java.io.File("/dev/shm")
      val disk = sys.props.getOrElse("java.io.tmpdir", "/tmp")
      // tmpfs holds shuffle SPILL files too, and spill happens exactly
      // when memory is tight — so the RAM-backed default is gated on
      // generous headroom (local shuffle scratch here is well under a
      // GiB; 8 GiB usable keeps crash-orphaned blockmgr dirs plus a
      // full spill from pushing the host toward OOM) and falls back to
      // the disk default when the gate — or mkdirs itself — fails.
      val d = new java.io.File(shm, "graft-spark-local")
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= 8L * 1024 * 1024 * 1024 &&
          (d.isDirectory || d.mkdirs())) d.getAbsolutePath
      else disk
    }

  /** Session configuration every entry point (Verify/Bench/tests) applies. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", localDir)
      // single-tenant engine process: per-session artifact/classloader
      // isolation (a Spark Connect multi-tenancy feature) costs a
      // classloader + artifact sync on every cloned session — streaming
      // serves clone one per query — for zero benefit here (~0.3 s per
      // live-serve call, measured on q193)
      .config("spark.sql.artifact.isolation.enabled", "false")
      // local files through java.nio where Hadoop without libhadoop
      // forks chmod/readlink per file operation (checkpoint and state
      // commits, parquet commits, swap markers); see NioLocalFs
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)

  /** Register every table as a temp view so `spark.sql` surfaces work too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
