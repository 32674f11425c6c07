package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The snapshot sink/source layer (SURVEY §2.1 S4/S8) — the Postgres/Mongo
  * "current state" tables re-expressed as parquet snapshot stores with an
  * incremental latest-wins merge.
  *
  * 100 TB posture:
  *  - snapshots are written `partitionBy` a low-cardinality column (ingest
  *    date, region, status...) so readers prune partitions, and bucketed
  *    variants co-locate the join key so snapshot⋈snapshot joins shuffle
  *    nothing;
  *  - the merge is one full-outer-join-free pass: union(existing, delta) →
  *    latest-per-key window — O(|existing| + |delta|) with a single shuffle
  *    on the key, the same shape foreachBatch uses in streaming (S8);
  *  - deletes are tombstone rows (deleted=true), dropped after the window —
  *    the GORM soft-delete analog (x/common/types.go gorm.Model).
  */
object SnapshotStore {

  /** Schema descriptor of a store generation, inside the dataset
    * directory: the schema the data was written with, field metadata
    * included (what each parquet footer carries; Spark opens a file
    * source all-nullable either way), so [[read]] opens the store
    * without Spark's schema-inference job. The `_` prefix keeps it out
    * of Spark's file listing, and living inside the directory it moves
    * with the data through every [[AtomicSwap]] rename. Contract: a
    * directory holding it was written whole by [[write]]. */
  val SchemaFile = "_graft_schema.json"

  /** Write a snapshot partitioned by `partitionCols` (prunable reads).
    * An unpartitioned snapshot also gets its [[SchemaFile]]. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
    // a partitioned read infers its partition columns from the layout
    if (partitionCols.isEmpty) {
      val f = new Path(path, SchemaFile)
      val out = f.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .create(f, true)
      try out.write(df.schema.json.getBytes(UTF_8))
      finally out.close()
    }
  }

  /** Write bucketed by the join key: each output file covers one hash
    * bucket of the key, so joins between tables bucketed the same way read
    * co-located data and skip the shuffle exchange entirely — the
    * co-location analog of the reference's FK-indexed Postgres joins. */
  def writeBucketed(df: DataFrame, table: String, path: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** Write Z-ordered on two range-predicate dimensions: each output file
    * covers a small RECTANGLE of the (d1, d2) key space, so parquet
    * min/max statistics prune scans filtering on either or both columns —
    * a plain sort clusters only its leading column. Quantile boundaries
    * come from approxQuantile (driver-side sketch — no extra shuffle);
    * the Morton code adds one range repartition + partition sort, i.e.
    * exactly what any clustered write pays. */
  def writeZOrdered(df: DataFrame, path: String, d1: String, d2: String,
      numFiles: Int, buckets: Int = 4096): Unit = {
    import graft.functions.ZOrderFunctions.{bucketize, morton}
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    // ONE multi-column sketch pass — two single-column calls would
    // each full-scan the input just for the boundary arrays
    val Array(b1, b2) =
      df.stat.approxQuantile(Array(d1, d2), probes, 0.001)
    df.withColumn("_z",
      morton(bucketize(col(d1).cast("double"), b1).cast("long"),
        bucketize(col(d2).cast("double"), b2).cast("long")))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Open a snapshot: with the [[SchemaFile]] schema when [[write]]
    * left one, else (partitioned or foreign directories) inferred.
    * Completes an interrupted [[AtomicSwap]] of the store first (the
    * reader contract), so callers need no recovery of their own. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val f = new Path(path, SchemaFile)
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, path)
    val schema =
      try {
        val in = fs.open(f)
        try Some(DataType.fromJson(new String(in.readAllBytes(), UTF_8))
          .asInstanceOf[StructType])
        finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(path)
  }

  /** JDBC sink option (S4): the reference writes its current-state tables
    * to Postgres (x/indexer/handlers/marketplace.go:100-426, DDL
    * :432-510); the parquet snapshot is this library's default, and this
    * is the drop-in relational alternative — same latest-wins [[merge]]
    * upstream, `.write.format("jdbc")` downstream.
    *
    * Scale posture: each input partition opens one connection and writes
    * batched INSERTs, so write parallelism = `numPartitions` (pass it in
    * `options` to cap connections; `batchsize` tunes rows per round-trip).
    * `overwrite` + truncate=true replaces the data but keeps the DDL
    * (indexes, grants) — the analog of the reference's migrate-once,
    * rewrite-rows cycle. Works against any driver on the executor
    * classpath (Postgres in production; embedded Derby in the spec). */
  def writeJdbc(df: DataFrame, url: String, table: String,
      mode: String = "overwrite",
      options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("truncate", "true")
      .options(options)
      .mode(mode)
      .save()

  /** JDBC read-back of a snapshot table (parallelize with
    * partitionColumn/lowerBound/upperBound/numPartitions in `options`). */
  def readJdbc(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(options)
      .load()

  /** Latest-wins merge of a delta into the current snapshot (the upsert
    * S4/S8 analog). Both inputs need (keyCol, seqCol); rows with
    * deleted=true act as tombstones. Exactly-once under replay: merging the
    * same delta twice is idempotent (same key+seq wins once). */
  def merge(existing: DataFrame, delta: DataFrame, keyCol: String,
      seqCol: String): DataFrame =
    merge(existing, delta, Seq(keyCol), seqCol)

  /** [[merge]] on a COMPOSITE key (r19): the latest-wins window
    * partitions on the full key tuple — the reference's own cursor is
    * a composite (Height, TxIndex, MsgID) triple
    * (x/indexer/cursor.go:5-18), and a store keyed like `lineitem`'s
    * natural (l_orderkey, l_linenumber) needs every component in the
    * partition clause or two rows of one order collapse. Same single
    * shuffle, same tombstone rule. */
  def merge(existing: DataFrame, delta: DataFrame, keyCols: Seq[String],
      seqCol: String): DataFrame =
    latestWins(existing, delta, keyCols, seqCol,
      keepTombstones = false)

  /** [[merge]] that KEEPS winning tombstones in the output (the
    * verdict store's replay fence: a deletion at sequence N must
    * out-sequence replayed writes at < N forever, which only a
    * persisted tombstone can do — readers filter `deleted`
    * themselves). ONE latest-wins definition with [[merge]]. */
  def mergeKeepTombstones(existing: DataFrame, delta: DataFrame,
      keyCols: Seq[String], seqCol: String): DataFrame =
    latestWins(existing, delta, keyCols, seqCol,
      keepTombstones = true)

  /** THE latest-wins rule, once: per key tuple the highest sequence
    * wins; a tie between a live row and a tombstone at the SAME
    * (key, seq) resolves TOMBSTONE-FIRST — the conservative answer,
    * and a deterministic one (an unordered tiebreak made two replays
    * of the identical merge disagree). A NULL `deleted` reads as
    * live (a store where only tombstones set the flag is a legal
    * shape; `!null` would silently drop every such winning row). */
  private def latestWins(existing: DataFrame, delta: DataFrame,
      keyCols: Seq[String], seqCol: String,
      keepTombstones: Boolean): DataFrame = {
    require(keyCols.nonEmpty, "merge: empty key column list")
    val withDel = (df: DataFrame) =>
      if (df.columns.contains("deleted"))
        df.withColumn("deleted", coalesce(col("deleted"), lit(false)))
      else df.withColumn("deleted", lit(false))
    val all = withDel(existing).unionByName(withDel(delta))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol).desc, col("deleted").desc)
    val top = all.withColumn("rn", row_number().over(w))
      .filter(if (keepTombstones) col("rn") === 1
        else col("rn") === 1 && !col("deleted"))
    top.drop("rn")
  }

  /** Idempotent event-log append (S3/P5 exactly-once resume): drop delta
    * rows whose event id already exists downstream — dedup-on-id, the
    * batch analog of the cursor skip (x/indexer/indexer.go:228-231). */
  def appendLog(existing: DataFrame, delta: DataFrame,
      idCol: String): DataFrame =
    existing.unionByName(
      // dedup WITHIN the delta too: an at-least-once source delivers
      // the same event twice inside one poll window as routinely as
      // across windows — the anti-join alone would append both copies
      delta.dropDuplicates(Seq(idCol))
        .join(existing.select(idCol), Seq(idCol), "left_anti"))

  /** CHANGE FEED between two snapshot states — the CDC-OUT direction
    * (the reference emits deltas to downstream consumers over the
    * bus; this derives them from any two store generations, e.g.
    * before/after an [[graft.sources.AtomicSwap]] rewrite). One row
    * per changed key: `op` ∈ insert/update/delete, the data columns
    * carrying the AFTER image for insert/update and the BEFORE image
    * for delete (the prior values are what a consumer needs to
    * retract). Unchanged keys are absent. NULL-SAFE value comparison
    * (a value→null transition IS an update).
    *
    * Scale: one full-outer hash join on the key + a codegen struct
    * comparison — O(|before| + |after|), no driver state; the output
    * is bounded by the churn, not the store. */
  def diff(before: DataFrame, after: DataFrame,
      keyCol: String): DataFrame = diff(before, after, Seq(keyCol))

  /** [[diff]] on a COMPOSITE key: full-outer on the key tuple; the
    * "which side exists" test uses the first key component (all
    * components are non-null on the side that has the row). */
  def diff(before: DataFrame, after: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diff: empty key column list")
    require(before.columns.toSeq == after.columns.toSeq,
      s"diff: snapshot schemas differ (${before.columns.mkString(",")}" +
        s" vs ${after.columns.mkString(",")})")
    val dataCols = before.columns.filterNot(keyCols.contains).toSeq
    val b = before.select(keyCols.map(k => col(k).as(s"__bk_$k")) ++
      dataCols.map(c => col(c).as(s"__b_$c")): _*)
    val a = after.select(keyCols.map(k => col(k).as(s"__ak_$k")) ++
      dataCols.map(c => col(c).as(s"__a_$c")): _*)
    val valueChanged =
      if (dataCols.isEmpty) lit(false)
      else !(struct(dataCols.map(c => col(s"__a_$c")): _*) <=>
        struct(dataCols.map(c => col(s"__b_$c")): _*))
    val joinCond = keyCols.map(k => col(s"__bk_$k") === col(s"__ak_$k"))
      .reduce(_ && _)
    b.join(a, joinCond, "full_outer")
      .withColumn("op",
        when(col(s"__bk_${keyCols.head}").isNull, "insert")
          .when(col(s"__ak_${keyCols.head}").isNull, "delete")
          .when(valueChanged, "update"))
      .filter(col("op").isNotNull)
      .select(col("op") +: (keyCols.map(k =>
        coalesce(col(s"__ak_$k"), col(s"__bk_$k")).as(k)) ++
        dataCols.map(c =>
          // delete carries the BEFORE image; insert/update the AFTER
          when(col("op") === "delete", col(s"__b_$c"))
            .otherwise(col(s"__a_$c")).as(c))): _*)
  }

  /** Apply a [[diff]] feed to a replica — the CONSUMER half of the
    * change-feed loop (ship `diff`'s rows over the bus, replay them
    * here): inserts/updates upsert their AFTER image, deletes
    * tombstone. The algebra is spec-pinned:
    * `applyDiff(before, diff(before, after)) == after` (diff/apply
    * are inverses), and re-applying the same feed is a no-op
    * (at-least-once delivery safe — latest-wins merge on equal
    * content). One merge shuffle on the key, O(replica + feed). */
  def applyDiff(replica: DataFrame, feed: DataFrame,
      keyCol: String): DataFrame =
    applyDiff(replica, feed, Seq(keyCol))

  /** [[applyDiff]] on a COMPOSITE key. */
  def applyDiff(replica: DataFrame, feed: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val delta = feed
      .withColumn("deleted", col("op") === "delete")
      .drop("op")
    merge(replica.withColumn("_dseq", lit(0L)),
      delta.withColumn("_dseq", lit(1L)), keyCols, "_dseq")
      .drop("_dseq", "deleted")
  }
}
