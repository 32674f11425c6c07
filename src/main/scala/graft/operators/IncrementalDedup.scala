package graft.operators

import graft.functions.TextFunctions.{fastLshBands, lshBands, minhashJaccard, minhashSignature}
import graft.functions.TextKernelExpressions
import graft.sources.AtomicSwap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-duplicate dedup against a persisted signature store —
  * the form corpus dedup actually takes at 100 TB: nobody re-mines pairs
  * over the whole corpus when a batch arrives; the corpus keeps a
  * signature index and each incoming batch probes it.
  *
  *  1. batch → minhash signatures + LSH band keys (narrow, per-doc — the
  *     same q30 kernel, so incremental and batch dedup agree exactly);
  *  2. candidates = equi-join on the band key against the store; the
  *     batch side is tiny relative to the corpus, so with the store
  *     bucketed on the band key ([[graft.sources.SnapshotStore
  *     .writeBucketed]]) the probe shuffles ONLY the batch;
  *  3. candidates verify on full-signature estimated Jaccard (bands gate,
  *     signatures decide — LSH false positives die here);
  *  4. fresh docs' signature rows APPEND to the store; the store only
  *     ever grows by appends, never rewrites.
  *
  * Matches the batch pipeline by construction: same kernel, same band
  * layout, same threshold → findDups(new | old) equals the cross-split
  * subset of q30MinhashPairs(old ∪ new) (spec-asserted).
  *
  * Scope: this is BATCH-vs-STORE dedup. Docs within one batch are not
  * compared against each other — run the within-batch pair pipeline
  * (q30 shape) or exact dedup on the batch first if intra-batch
  * duplicates are possible; [[processBatch]] only guarantees that
  * nothing entering the store duplicates what was already there.
  */
object IncrementalDedup {
  /** q30's exact parameters — one shared shape for batch + incremental. */
  val K = 16
  val ShingleLen = 3
  val Bands = 8
  val RowsPerBand = 2

  /** The two MINHASH KERNELS a store can carry, self-described by its
    * `kernel` column: "xxhash" (the codegen'd scale path — q30's
    * fused signature + murmur band ints) and "md5" (the
    * oracle-replayable path — q51's md5-seeded signature + md5 band
    * strings). One store, one kernel: the probe derives it and hashes
    * identically, so a probe can never band-miss by hashing
    * differently from the writer. */
  private def docSigs(docs: DataFrame, k: Int, shingleLen: Int,
      kernel: String): DataFrame = kernel match {
    case "xxhash" =>
      docs.select(col("doc_id"),
          TextKernelExpressions.minhashSig(col("text"), k, shingleLen)
            .as("sig"))
        .filter(col("sig").isNotNull)
    case "md5" =>
      docs.select(col("doc_id"), TextKernelExpressions
          .wordShinglesFast(col("text"), shingleLen).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"), minhashSignature(col("sh"), k).as("sig"))
    case other => throw new IllegalArgumentException(
      s"unknown minhash kernel '$other' (xxhash | md5)")
  }

  private def bandsOf(sig: Column, nBands: Int, rowsPerBand: Int,
      kernel: String): Column = kernel match {
    case "xxhash" => fastLshBands(sig, nBands, rowsPerBand)
    case "md5" => lshBands(sig, nBands, rowsPerBand)
    case other => throw new IllegalArgumentException(
      s"unknown minhash kernel '$other' (xxhash | md5)")
  }

  /** (doc_id, sig, band) — one row per band per doc; the band hash value
    * already encodes the band index (hash(b, slice)), so one column is
    * both the blocking key and the shuffle key.
    *
    * localCheckpoint (not persist): the signature must materialize once
    * before the band explode references it (projection collapse would run
    * the kernel per consumer), but this runs once per micro-batch in
    * streaming ingest — checkpointed blocks are reclaimed by the
    * ContextCleaner when the frame goes out of scope, while persisted
    * plans would accumulate in the CacheManager forever. */
  def signatureRows(docs: DataFrame): DataFrame =
    signatureRowsWith(docs, Bands, RowsPerBand, ShingleLen, "xxhash")

  /** [[signatureRows]] under explicit parameters — the kernel/banding a
    * self-describing store dictates (k = nBands * rowsPerBand). */
  def signatureRowsWith(docs: DataFrame, nBands: Int, rowsPerBand: Int,
      shingleLen: Int, kernel: String): DataFrame =
    docSigs(docs, nBands * rowsPerBand, shingleLen, kernel)
      .localCheckpoint(eager = false)
      .select(col("doc_id"), col("sig"),
        explode(bandsOf(col("sig"), nBands, rowsPerBand, kernel))
          .as("band"))

  /** Build the store from the existing corpus (one-time; production
    * bucketed on the band key so probes read it in place). The corpus
    * rows land in the `batch=-1` partition — every write carries a
    * batch id so replayed ingests are idempotent (see [[processBatch]]).
    * The store SELF-DESCRIBES its kernel and banding (constant
    * columns, RLE-compressed to nothing): probes and appends derive
    * them instead of trusting callers — a mismatch would silently
    * band-miss every candidate. */
  def initStore(docs: DataFrame, path: String, nBands: Int = Bands,
      rowsPerBand: Int = RowsPerBand, shingleLen: Int = ShingleLen,
      kernel: String = "xxhash"): Unit =
    signatureRowsWith(docs, nBands, rowsPerBand, shingleLen, kernel)
      .withColumn("n_bands", lit(nBands))
      .withColumn("rows_per_band", lit(rowsPerBand))
      .withColumn("shingle_len", lit(shingleLen))
      .withColumn("kernel", lit(kernel))
      .withColumn("batch", lit(-1L))
      .write.partitionBy("batch").mode("overwrite").parquet(path)

  /** The self-described metadata of a persisted store — ((nBands,
    * rowsPerBand, shingleLen, kernel), nBuckets), in ONE limit-1
    * collect. None components for pre-metadata stores and bare
    * signature DataFrames (callers' parameters are trusted there —
    * they built the rows). */
  private def storeMeta(store: DataFrame)
      : (Option[(Int, Int, Int, String)], Option[Int]) = {
    val cols = store.columns.toSet
    val hasM = cols("n_bands") && cols("rows_per_band") &&
      cols("shingle_len") && cols("kernel")
    val hasK = cols("n_buckets")
    if (!hasM && !hasK) return (None, None)
    val sel =
      (if (hasM) Seq("n_bands", "rows_per_band", "shingle_len", "kernel")
       else Nil) ++ (if (hasK) Seq("n_buckets") else Nil)
    // a legacy batch partition appended before the store self-described
    // would carry null metadata — skip those rows rather than read one
    store.select(sel.head, sel.tail: _*)
      .filter(col(sel.head).isNotNull).limit(1).collect()
      .headOption match {
      case Some(r) =>
        (if (hasM)
           Some((r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3)))
         else None,
          if (hasK) Some(r.getInt(if (hasM) 4 else 0)) else None)
      case None => (None, None)
    }
  }

  /** A store's effective (nBands, rowsPerBand, shingleLen, kernel) —
    * self-described when present, the q30 defaults for legacy
    * stores. */
  private def effectiveMeta(store: DataFrame): (Int, Int, Int, String) =
    storeMeta(store)._1.getOrElse((Bands, RowsPerBand, ShingleLen,
      "xxhash"))

  /** Open a dedup store (ingest or serving layout, either hash space):
    * completes an interrupted [[AtomicSwap]] compaction and an
    * interrupted [[BucketForget]] before the first read. */
  def loadStore(spark: SparkSession, path: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, path)
    BucketForget.recover(fs, path)
    // mergeSchema: a mixed store (legacy meta-less batch partitions +
    // self-described ones) must surface the meta columns no matter
    // which footer schema inference would otherwise sample — a
    // meta-less pick would silently downgrade probes to the default
    // kernel and band-miss every candidate. storeMeta's isNotNull
    // filter then skips the legacy rows' null meta as before.
    spark.read.option("mergeSchema", "true").parquet(path)
  }

  /** Bucket-pruned RIGHT-TO-BE-FORGOTTEN on the SERVING layout — the
    * O(affected-buckets) alternative to `compactToServing(forget=)`'s
    * O(store) recompaction (the r14 deletion-SLA contract): locate
    * the forgotten doc_ids' bucket directories with one column-pruned
    * scan, rewrite only those (≤ |forget| × nBands of nBuckets), swap
    * crash-safely ([[BucketForget]]'s marker ritual — `loadStore`
    * completes an interrupted forget before reading). Returns the
    * affected bucket ids. */
  def forgetFromServing(spark: SparkSession, servingPath: String,
      forget: DataFrame): Seq[Int] =
    BucketForget(spark, servingPath, forget)

  /** Probe: batch docs that near-duplicate a stored doc at ≥ threshold →
    * (doc_id, dup_of, est_jaccard), earliest (min id) store match wins.
    * A store row under the SAME id never matches (a replayed batch must
    * not classify its own first-attempt append as a duplicate). The
    * batch signatures compute under the STORE's self-described
    * kernel/banding (q30 defaults for legacy stores). */
  def findDups(batch: DataFrame, store: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val (nb, rpb, sl, kern) = effectiveMeta(store)
    findDupsFromSigs(signatureRowsWith(batch, nb, rpb, sl, kern), store,
      threshold, nb * rpb)
  }

  /** The verified candidate pairs of a probe, BEFORE any per-key cut —
    * (doc_id, s_id, est_jaccard), possibly duplicated across agreeing
    * bands. Exposed so composite policies (the q187 minhash+simhash
    * agreement — [[IncrementalImageDedup.findAgreedDups]]'s lesson for
    * text) can join candidate SETS on the (batch, stored) pair:
    * joining two kernels' already-cut winners would miss a common
    * match whenever their min-key winners differ. SAME contract as
    * [[IncrementalImageDedup.dupCandidates]]: the caller distincts
    * each side BEFORE a composite join (multi-band fan-in would
    * otherwise multiply across kernels) — one contract across the
    * twin operators, so a policy written against either API composes
    * correctly with both. */
  def dupCandidates(batch: DataFrame, store: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val (nb, rpb, sl, kern) = effectiveMeta(store)
    candidatesFromSigs(signatureRowsWith(batch, nb, rpb, sl, kern),
      store, threshold, nb * rpb)
  }

  /** The band-join + signature-verify core shared by [[findDupsFromSigs]]
    * and [[dupCandidates]] — neither distincts (min_by is fan-in-proof;
    * composite callers distinct before their join). */
  private def candidatesFromSigs(sigs: DataFrame, store: DataFrame,
      threshold: Double, k: Int): DataFrame =
    sigs
      .join(store.select(col("doc_id").as("s_id"), col("sig").as("s_sig"),
        col("band")), Seq("band"))
      .filter(col("doc_id") =!= col("s_id"))
      .select(col("doc_id"), col("s_id"), col("sig"), col("s_sig"))
      .withColumn("est_jaccard", minhashJaccard(col("sig"), col("s_sig"), k))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_id"), col("s_id"), col("est_jaccard"))

  /** Probe from precomputed signature rows (shared with [[processBatch]]
    * so the minhash kernel — the dominant per-batch cost — runs once).
    * `k` is the signature length (the store's nBands * rowsPerBand).
    * No distinct below the cut: multi-band candidate duplicates compute
    * the same estimate and cannot change the min_by answer — dropping
    * the dedup saves a full shuffle; the groupBy's map-side partial
    * aggregation absorbs the ≤Bands-fold fan-in. */
  def findDupsFromSigs(sigs: DataFrame, store: DataFrame,
      threshold: Double, k: Int = K): DataFrame =
    candidatesFromSigs(sigs, store, threshold, k)
      .groupBy("doc_id")
      .agg(min_by(struct(col("s_id"), col("est_jaccard")), col("s_id"))
        .as("m"))
      .select(col("doc_id"), col("m.s_id").as("dup_of"),
        col("m.est_jaccard").as("est_jaccard"))

  /** Append the non-duplicate batch docs' signature rows to the store,
    * into the `batch=<batchId>` partition (replaying the same id
    * overwrites its own partition — idempotent). Returns the fresh-doc
    * frame (the rows a pipeline keeps). */
  def appendFresh(batch: DataFrame, dups: DataFrame,
      storePath: String, batchId: Long): DataFrame = {
    val store = loadStore(batch.sparkSession, storePath)
    // same guard as processBatch: an append into the bucket-partitioned
    // serving layout would land rows with null band_bucket, invisible
    // to every pruned probe — silent candidate misses
    require(!store.columns.contains("band_bucket"),
      "this store uses the partitioned serving layout — ingest into " +
        "the batch-partitioned store and rebuild/compact to serve")
    val meta = storeMeta(store)._1 // ONE limit-1 probe per append
    val (nb, rpb, sl, kern) = meta.getOrElse((Bands, RowsPerBand,
      ShingleLen, "xxhash"))
    val fresh = batch.join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
    writeBatchPartition(
      withMetaColumns(signatureRowsWith(fresh, nb, rpb, sl, kern), meta),
      store, storePath, batchId)
    fresh
  }

  /** Re-attach a self-describing store's meta columns to rows being
    * appended — without them the batch partitions would read back with
    * null metadata and poison the limit-1 probe. */
  private def withMetaColumns(sigs: DataFrame,
      meta: Option[(Int, Int, Int, String)]): DataFrame =
    meta.map { case (nb, rpb, sl, kern) =>
      sigs.withColumn("n_bands", lit(nb))
        .withColumn("rows_per_band", lit(rpb))
        .withColumn("shingle_len", lit(sl))
        .withColumn("kernel", lit(kern))
    }.getOrElse(sigs)

  /** One batch partition written via dynamic partition overwrite —
    * shared with [[IncrementalImageDedup]] so the idempotence ritual
    * has exactly one definition. The overwrite mode rides a PER-WRITE
    * DataFrameWriter option, not a session-conf flip: mutating the
    * session conf around the write would race a concurrent writer on
    * the same session (its overwrite silently turning dynamic, or the
    * conf restored mid-write). Refuses a LEGACY batch-less store
    * loudly: writing `batch=<id>` directories next to root-level
    * parquet files would make the whole store unreadable (conflicting
    * partition depths) — rebuild flat stores with initStore before
    * incremental ingest. */
  private[operators] def writeBatchPartition(sigs: DataFrame,
      store: DataFrame, storePath: String, batchId: Long): Unit = {
    require(store.columns.contains("batch"),
      s"store at $storePath has the legacy flat layout (no batch " +
        "column); a partitioned write would corrupt it — rebuild the " +
        "store with initStore first")
    sigs.withColumn("batch", lit(batchId))
      .write.partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(storePath)
  }

  /** One ingest cycle — probe, append, report — with ONE signature pass
    * over the batch (findDups + appendFresh as separate calls each
    * recompute the kernel). Returns (dups, fresh); `dups` is
    * materialized (it gates the append).
    *
    * REPLAY-IDEMPOTENT, the [[IncrementalSpans.append]] contract:
    * `batchId` names the store partition (dynamic partition overwrite —
    * a foreachBatch redelivery overwrites its own rows instead of
    * double-appending), and the probe EXCLUDES the current batch's
    * partition so first-attempt appends cannot shadow the replay. */
  def processBatch(batch: DataFrame, store: DataFrame, storePath: String,
      batchId: Long, threshold: Double = 0.5): (DataFrame, DataFrame) = {
    // the bucket-partitioned SERVING layout is read-mostly: a batch
    // append would fan rows across bucket directories under the
    // replay contract — ingest into the batch-partitioned store and
    // rebuild/compact to serve (the IncrementalImageDedup discipline)
    require(!store.columns.contains("band_bucket"),
      "this store uses the partitioned serving layout — ingest into " +
        "the batch-partitioned store and rebuild/compact to serve")
    // pin the batch: it feeds both the signature pass and the fresh
    // anti-join, and a streaming micro-batch frame is not guaranteed to
    // replay its rows on re-evaluation
    val b = batch.localCheckpoint(eager = false)
    // probe AND append under the store's own kernel/banding
    // (self-described; q30 defaults for legacy stores) — an append
    // under a different kernel would poison every later probe
    val meta = storeMeta(store)._1
    val (nb, rpb, sl, kern) = meta.getOrElse((Bands, RowsPerBand,
      ShingleLen, "xxhash"))
    val sigs = signatureRowsWith(b, nb, rpb, sl, kern)
      .localCheckpoint(eager = false)
    val probeStore =
      if (store.columns.contains("batch"))
        store.filter(col("batch") =!= lit(batchId))
      else store
    val dups = findDupsFromSigs(sigs, probeStore, threshold, nb * rpb)
      .localCheckpoint(eager = false)
    writeBatchPartition(
      withMetaColumns(
        sigs.join(dups.select("doc_id"), Seq("doc_id"), "left_anti"),
        meta),
      store, storePath, batchId)
    val fresh = b.join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
    (dups, fresh)
  }

  // ---- partitioned SERVING layout + banded search --------------------

  /** The SERVING layout for a find-near-duplicates index over 10^10
    * resident documents — [[IncrementalImageDedup.initStorePartitioned]]
    * for minhash space: band rows land in `band_bucket` DIRECTORIES
    * (bucket = xxhash64(band) mod nBuckets, computed by the engine on
    * BOTH the write and probe sides so the two cannot disagree), and a
    * [[search]] probe statically prunes to at most `nBands` of
    * `nBuckets` directories — file-LISTING pruning, before any row is
    * read — with the band predicate pushed inside them. Read-mostly by
    * design: [[processBatch]] refuses this layout; ingest
    * batch-partitioned and [[compactToServing]] on the staleness
    * budget's cadence. */
  def initStorePartitioned(docs: DataFrame, path: String,
      nBands: Int = Bands, rowsPerBand: Int = RowsPerBand,
      shingleLen: Int = ShingleLen, kernel: String = "xxhash",
      nBuckets: Int = 64): Unit =
    writeServing(docSigs(docs, nBands * rowsPerBand, shingleLen, kernel),
      path, nBands, rowsPerBand, shingleLen, kernel, nBuckets)

  /** The serving writer from (doc_id, sig) rows — shared by
    * [[initStorePartitioned]] (signatures fresh from text) and
    * [[compactToServing]] (signatures re-read from the ingest store;
    * bands re-derive from the signature either way, so text is never
    * needed twice). */
  private def writeServing(sigs: DataFrame, path: String, nBands: Int,
      rowsPerBand: Int, shingleLen: Int, kernel: String,
      nBuckets: Int): Unit =
    sigs.select(col("doc_id"), col("sig"),
        explode(bandsOf(col("sig"), nBands, rowsPerBand, kernel))
          .as("band"))
      .withColumn("n_bands", lit(nBands))
      .withColumn("rows_per_band", lit(rowsPerBand))
      .withColumn("shingle_len", lit(shingleLen))
      .withColumn("kernel", lit(kernel))
      .withColumn("n_buckets", lit(nBuckets))
      .withColumn("band_bucket",
        pmod(xxhash64(col("band")), lit(nBuckets.toLong)).cast("int"))
      .withColumn("batch", lit(-1L))
      // cluster rows by their bucket before the partitioned write:
      // without it every shuffle partition fans a file into every
      // bucket directory (tasks × buckets small files); with it each
      // bucket's rows land from one task — one file per directory,
      // which is exactly what a file-listing-pruned probe wants to
      // list. (A 100-TB bucket writing one file is the documented
      // trade — raise shuffle partitions or sub-bucket if it bites.)
      .repartition(col("band_bucket"))
      .write.partitionBy("batch", "band_bucket").mode("overwrite")
      .parquet(path)

  /** COMPACT the batch-partitioned ingest store into the partitioned
    * SERVING layout — the read-mostly contract's other half
    * ([[processBatch]] ingests, this ships): distinct (doc_id, sig)
    * pairs re-band under the store's own kernel and land
    * bucket-partitioned at `servingPath`, through the [[AtomicSwap]]
    * ritual so a live serving store never reads half-built (and a
    * crash mid-compact leaves it fully old or fully new). The ingest
    * store stays untouched.
    *
    * `forget` (single-column doc_id frame) is the RIGHT-TO-BE-FORGOTTEN
    * hook for derived indexes: an append-only signature store retains a
    * forgotten document's fingerprints until something rewrites it —
    * the compaction IS that rewrite, so forgotten ids anti-join out
    * here and the published serving store never answers a probe with
    * them (the cascadeForget discipline carried into the index
    * family). Run the compaction on the deletion-SLA cadence; the
    * probe-visible store is atomic either way. */
  def compactToServing(spark: SparkSession, ingestPath: String,
      servingPath: String, nBuckets: Int = 64,
      forget: Option[DataFrame] = None): Unit = {
    val ingest = loadStore(spark, ingestPath)
    val (nb, rpb, sl, kern) = effectiveMeta(ingest)
    val sigs0 = ingest.select("doc_id", "sig").distinct()
    val sigs = forget.map { f =>
      require(f.columns.length == 1,
        s"forget: expected a single-column doc_id frame, got " +
          f.columns.mkString(", "))
      sigs0.join(f.select(col(f.columns.head).as("doc_id")),
        Seq("doc_id"), "left_anti")
    }.getOrElse(sigs0)
    // a first build stages aside and publishes by one rename, so a
    // crash never leaves a half-built directory a probe would read
    AtomicSwap.initOrRewrite(org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(servingPath),
      spark.sparkContext.hadoopConfiguration), servingPath)(at =>
      writeServing(sigs, at, nb, rpb, sl, kern, nBuckets))
  }

  /** SIMILARITY SEARCH over the persisted store — "find near-duplicates
    * of THIS document" against resident signatures as an INDEX PROBE,
    * never a corpus scan (the text twin of
    * [[IncrementalImageDedup.search]], completing the persisted-index
    * answer for every hash space): ONE one-row job computes the query
    * text's signature, band values, and serving buckets with the
    * store's OWN kernel expressions (self-described — probe and store
    * cannot hash differently), then the band disjunction reaches the
    * scan as a pushed filter and, on the serving layout, the bucket
    * values prune at the file listing (≤ nBands of nBuckets
    * directories touched at all). Candidates dedup once (bounded by
    * band selectivity, never corpus-sized) and verify on
    * full-signature estimated Jaccard; top-k by (similarity desc,
    * doc_id). A resident copy of the query doc itself surfaces at
    * est 1.0 — informative, not excluded. LSH semantics carry over:
    * only documents sharing ≥1 band are reachable (identical recall
    * to the pair pipeline — spec-pinned probe ≡ full-scan pairs). */
  def search(store: DataFrame, queryText: String, k: Int,
      threshold: Double = 0.5, nBands: Int = Bands,
      rowsPerBand: Int = RowsPerBand, shingleLen: Int = ShingleLen,
      kernel: String = "xxhash"): DataFrame = {
    require(k > 0, "k must be positive")
    val s = store.sparkSession
    // persisted stores SELF-DESCRIBE and override the parameters; the
    // explicit ones serve BARE signature frames (the image-twin
    // contract: pass what signatureRowsWith was given, or a
    // non-default frame probed under the defaults would silently
    // band-miss)
    val (meta, nBucketsOpt) = storeMeta(store)
    val (nb, rpb, sl, kern) = meta.getOrElse((nBands, rowsPerBand,
      shingleLen, kernel))
    val kk = nb * rpb
    val nB = nBucketsOpt.getOrElse(1)
    val qrows = docSigs(
        s.range(1).select(lit(0L).as("doc_id"),
          lit(queryText).as("text")), kk, sl, kern)
      .select(col("sig"), bandsOf(col("sig"), nb, rpb, kern).as("bands"))
      .select(col("sig"), col("bands"),
        transform(col("bands"),
          b => pmod(xxhash64(b), lit(nB.toLong)).cast("int"))
          .as("buckets"))
      .collect()
    require(qrows.nonEmpty,
      s"search: the query text has fewer than $sl tokens (no shingles)")
    val qsig = qrows(0).getSeq[Long](0).toSeq
    val qbands = qrows(0).getSeq[Any](1).toSeq
    val qbuckets = qrows(0).getSeq[Int](2).toSeq.distinct
    val pruned = nBucketsOpt match {
      case Some(_) if store.columns.contains("band_bucket") =>
        store.filter(col("band_bucket").isin(qbuckets: _*))
      case _ => store
    }
    pruned.filter(col("band").isin(qbands: _*))
      .select(col("doc_id"), col("sig")).distinct()
      .select(col("doc_id"),
        minhashJaccard(col("sig"), typedlit(qsig), kk).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .orderBy(col("est_jaccard").desc, col("doc_id"))
      .limit(k)
  }
}
