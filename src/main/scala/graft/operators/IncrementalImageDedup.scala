package graft.operators

import graft.functions.HammingBands
import graft.sources.AtomicSwap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental PERCEPTUAL image dedup against a persisted dHash store —
  * [[IncrementalDedup]]'s contract for the multimodal column: at 100 TB
  * nobody re-pairs the whole image corpus per arriving batch; the
  * corpus keeps (key, dhash, band) rows and each batch probes them.
  *
  *  1. batch media → 64-bit dHash ([[MultimodalOps.imageDHashes]], one
  *     map-side pass) → one row per pigeonhole band
  *     ([[HammingBands.bandKeys]] — the SAME banding the all-pairs join
  *     uses, one definition, so incremental and batch dedup cannot band
  *     differently);
  *  2. candidates = equi-join on the band key against the store — the
  *     batch side is tiny relative to the corpus, so with the store
  *     bucketed on the band key the probe shuffles only the batch;
  *  3. candidates verify on the EXACT popcount distance (pigeonhole
  *     banding is lossless within maxDist, so band agreement gates and
  *     the distance decides — no false negatives, no false positives);
  *  4. fresh keys' band rows APPEND to the store; append-only growth.
  *
  * Matches the batch pipeline by construction: same hash, same bands,
  * same bound → findDups(batch | store) equals the cross-split subset
  * of [[MultimodalOps.dhashNearDupPairs]](store ∪ batch)
  * (spec-asserted), with the earliest (min key) store match reported.
  *
  * Scope: batch-vs-store, like the text operator — intra-batch
  * duplicates are the all-pairs pipeline's job.
  */
object IncrementalImageDedup {

  /** q104's exact parameters — pigeonhole-lossless for maxDist 3. */
  val MaxDist = 3
  val NBands: Int = MaxDist + 1
  val BandBits: Int = 64 / NBands

  /** (key, dhash, band) — one row per band per image; undecodable rows
    * (null dhash) are dropped, never stored. Banding parameters
    * default to the d≤3 contract; a wider-radius kernel (pHash d≤6)
    * passes its own lossless split (7 bands × 9 bits) — pairs within
    * `nBands - 1` still agree on a band, the pigeonhole argument
    * unchanged. */
  def signatureRows(hashes: DataFrame, nBands: Int = NBands,
      bandBits: Int = BandBits): DataFrame =
    hashes.filter(col("dhash").isNotNull)
      .select(col("key"), col("dhash"),
        explode(HammingBands.bandKeys(col("dhash"), nBands, bandBits))
          .as("band"))

  /** Build the store from the existing corpus (one-time; production
    * bucketed on the band key so probes read it in place). The corpus
    * rows land in the `batch=-1` partition — every write carries a
    * batch id so replayed ingests are idempotent (see [[processBatch]]). */
  def initStore(hashes: DataFrame, path: String, nBands: Int = NBands,
      bandBits: Int = BandBits): Unit =
    signatureRows(hashes, nBands, bandBits)
      // the store SELF-DESCRIBES its banding (constant columns — RLE
      // compresses them to nothing): a probe or append under the
      // WRONG banding would silently miss every candidate, so readers
      // derive or verify against these instead of trusting callers
      .withColumn("n_bands", lit(nBands))
      .withColumn("band_bits", lit(bandBits))
      .withColumn("batch", lit(-1L))
      .write.partitionBy("batch").mode("overwrite").parquet(path)

  /** The band→directory bucket of the PARTITIONED serving layout —
    * deterministic integer math shared by the writer's column
    * expression and the driver-side probe (Spark's own hash() of a
    * struct is not reproducible driver-side). */
  def bandBucket(b: Int, v: Long, nBuckets: Int): Int =
    java.lang.Math.floorMod(v * 31 + b, nBuckets.toLong).toInt

  /** The SERVING layout for a find-similar index over 10^10 resident
    * hashes: band rows land in `band_bucket` DIRECTORIES (plus the
    * usual batch partition), so a [[search]] probe statically prunes
    * to at most `nBands` of `nBuckets` directories — file-LISTING
    * pruning, before any row is read — and the pushed band predicate
    * prunes within them. Read-mostly by design: [[processBatch]]
    * ingests into the batch-partitioned layout and refuses this one
    * (a batch append would have to fan its rows across bucket
    * directories — rebuild or compact into the serving layout
    * instead, the InvertedIndex discipline). */
  def initStorePartitioned(hashes: DataFrame, path: String,
      nBands: Int = NBands, bandBits: Int = BandBits,
      nBuckets: Int = 64): Unit =
    signatureRows(hashes, nBands, bandBits)
      .withColumn("n_bands", lit(nBands))
      .withColumn("band_bits", lit(bandBits))
      .withColumn("n_buckets", lit(nBuckets))
      .withColumn("band_bucket",
        pmod(col("band.v") * 31 + col("band.b"), lit(nBuckets.toLong))
          .cast("int"))
      .withColumn("batch", lit(-1L))
      // cluster by bucket before the partitioned write — one file per
      // bucket directory instead of tasks × buckets small files (the
      // IncrementalDedup.writeServing rationale)
      .repartition(col("band_bucket"))
      .write.partitionBy("batch", "band_bucket").mode("overwrite")
      .parquet(path)

  /** COMPACT the batch-partitioned ingest store into the partitioned
    * SERVING layout — the promised other half of the read-mostly
    * contract ([[processBatch]] ingests, this ships): distinct
    * (key, dhash) pairs re-band under the store's own split and land
    * bucket-partitioned at `servingPath`, through the [[graft.sources
    * .AtomicSwap]] ritual so a live serving store never reads
    * half-built (and a crash mid-compact leaves it fully old or fully
    * new — the InvertedIndex/SnapshotStore compaction discipline).
    * The ingest store stays untouched; run this on whatever cadence
    * the staleness budget allows. */
  /** `forget` (single-column key frame) anti-joins forgotten keys out
    * of the published store — the right-to-be-forgotten rewrite for
    * derived indexes, [[IncrementalDedup.compactToServing]]'s
    * contract on the hamming stores. */
  def compactToServing(spark: SparkSession, ingestPath: String,
      servingPath: String, nBuckets: Int = 64,
      forget: Option[DataFrame] = None): Unit = {
    val ingest = loadStore(spark, ingestPath)
    val (nb, bb) = storeBanding(ingest).getOrElse((NBands, BandBits))
    val hashes0 = ingest.select("key", "dhash").distinct()
    val hashes = forget.map { f =>
      require(f.columns.length == 1,
        s"forget: expected a single-column key frame, got " +
          f.columns.mkString(", "))
      hashes0.join(f.select(col(f.columns.head).as("key")),
        Seq("key"), "left_anti")
    }.getOrElse(hashes0)
    AtomicSwap.initOrRewrite(org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(servingPath),
      spark.sparkContext.hadoopConfiguration), servingPath)(at =>
      initStorePartitioned(hashes, at, nb, bb, nBuckets))
  }

  /** The self-described metadata of a persisted store — (banding,
    * bucket count), in ONE limit-1 collect (the serving path pays one
    * driver round-trip per probe, not one per field). None components
    * for pre-metadata stores and bare signature DataFrames (callers'
    * parameters are trusted there — they built the rows). */
  private def storeMeta(store: DataFrame)
      : (Option[(Int, Int)], Option[Int]) = {
    val cols = store.columns.toSet
    val hasB = cols("n_bands") && cols("band_bits")
    val hasK = cols("n_buckets")
    if (!hasB && !hasK) return (None, None)
    val sel = (if (hasB) Seq("n_bands", "band_bits") else Nil) ++
      (if (hasK) Seq("n_buckets") else Nil)
    // a legacy batch partition appended before the store self-described
    // carries null metadata under mergeSchema — skip those rows rather
    // than read one (the IncrementalDedup.storeMeta discipline)
    store.select(sel.head, sel.tail: _*)
      .filter(col(sel.head).isNotNull).limit(1).collect()
      .headOption match {
      case Some(r) =>
        (if (hasB) Some((r.getInt(0), r.getInt(1))) else None,
          if (hasK) Some(r.getInt(if (hasB) 2 else 0)) else None)
      case None => (None, None)
    }
  }

  private def storeBanding(store: DataFrame): Option[(Int, Int)] =
    storeMeta(store)._1

  /** [[IncrementalDedup.loadStore]]: the same recovery, the same
    * mergeSchema read. */
  def loadStore(spark: SparkSession, path: String): DataFrame =
    IncrementalDedup.loadStore(spark, path)

  /** Bucket-pruned RIGHT-TO-BE-FORGOTTEN on the SERVING layout — the
    * hamming-store twin of [[IncrementalDedup.forgetFromServing]]:
    * rewrite only the bucket directories holding the forgotten keys'
    * band rows instead of recompacting the store. The `forget` frame's
    * single column must be named `key` (this store's key column). */
  def forgetFromServing(spark: SparkSession, servingPath: String,
      forget: DataFrame): Seq[Int] =
    BucketForget(spark, servingPath, forget)

  /** The verified candidate pairs of a probe — (key, s_key, dist),
    * possibly several per batch key (and duplicated across agreeing
    * bands; see [[findDups]] on why that never needs a distinct).
    * Exposed so composite policies ([[findAgreedDups]]) can join
    * candidate SETS before any per-key cut — joining two kernels'
    * already-cut winners would miss a common match whenever the
    * kernels' min-key winners differ. */
  def dupCandidates(batchHashes: DataFrame, store: DataFrame,
      maxDist: Int = MaxDist, nBands: Int = NBands,
      bandBits: Int = BandBits): DataFrame = {
    require(maxDist < nBands, s"banding is lossless only to ${nBands - 1}")
    // a self-describing store must agree with the probe's banding —
    // a mismatch would band-key-miss every candidate SILENTLY
    storeBanding(store).foreach { case (sb, sbb) =>
      require(sb == nBands && sbb == bandBits,
        s"store is banded ${sb}x$sbb but the probe requested " +
          s"${nBands}x$bandBits")
    }
    signatureRows(batchHashes, nBands, bandBits)
      .join(store.select(col("key").as("s_key"),
        col("dhash").as("s_dhash"), col("band")), Seq("band"))
      .filter(col("key") =!= col("s_key"))
      .select(col("key"), col("s_key"), col("dhash"), col("s_dhash"))
      .withColumn("dist",
        bit_count(col("dhash").bitwiseXOR(col("s_dhash"))).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("key"), col("s_key"), col("dist"))
  }

  /** Probe: batch images within `maxDist` of a stored image →
    * (key, dup_of, dist), earliest (min key) store match wins. A store
    * row under the SAME key never matches (a replayed batch must not
    * classify its own first-attempt append as a duplicate). */
  def findDups(batchHashes: DataFrame, store: DataFrame,
      maxDist: Int = MaxDist, nBands: Int = NBands,
      bandBits: Int = BandBits): DataFrame =
    dupCandidates(batchHashes, store, maxDist, nBands, bandBits)
      // no distinct: multi-band candidate duplicates cannot change the
      // min_by answer, and dropping it saves a full shuffle — the
      // groupBy's map-side partial aggregation absorbs the fan-in
      .groupBy("key")
      .agg(min_by(struct(col("s_key"), col("dist")), col("s_key")).as("m"))
      .select(col("key"), col("m.s_key").as("dup_of"),
        col("m.dist").as("dist"))

  /** INCREMENTAL two-kernel agreement (q166's precision policy on the
    * batch-vs-store path): a batch item is a duplicate only when BOTH
    * kernels match the SAME stored item within their bounds. Candidate
    * sets (not per-kernel winners) join on the (key, s_key) pair —
    * two kernels can crown different min-key winners while agreeing
    * on a common match, and the policy must find it. Each side needs
    * a distinct BEFORE the join (multi-band fan-in would otherwise
    * multiply across kernels); the per-key cut happens once, after
    * agreement. Stores carry each kernel's own lossless banding
    * (dHash 4×16 for d≤3, pHash 7×9 for d≤6). Returns (key, dup_of,
    * dist_a, dist_b). */
  def findAgreedDups(batchA: DataFrame, storeA: DataFrame,
      batchB: DataFrame, storeB: DataFrame,
      maxDistA: Int = MaxDist, maxDistB: Int = 6,
      nBandsA: Int = NBands, bandBitsA: Int = BandBits,
      nBandsB: Int = 7, bandBitsB: Int = 9): DataFrame = {
    val a = dupCandidates(batchA, storeA, maxDistA, nBandsA, bandBitsA)
      .withColumnRenamed("dist", "dist_a").distinct()
    val b = dupCandidates(batchB, storeB, maxDistB, nBandsB, bandBitsB)
      .withColumnRenamed("dist", "dist_b").distinct()
    a.join(b, Seq("key", "s_key"))
      .groupBy("key")
      .agg(min_by(struct(col("s_key"), col("dist_a"), col("dist_b")),
        col("s_key")).as("m"))
      .select(col("key"), col("m.s_key").as("dup_of"),
        col("m.dist_a").as("dist_a"), col("m.dist_b").as("dist_b"))
  }

  /** SIMILARITY SEARCH over the persisted store — the [[graft.search
    * .InvertedIndex]]/[[graft.similarity.IvfIndex]] architecture for
    * hamming space: "find images similar to THIS one" against 10^10
    * resident hashes must probe the index, not scan the corpus
    * ([[HammingBands.knn]] is the right plan for one ad-hoc query, not
    * a serving path). The query hash's `nBands` band values compile to
    * a band-key disjunction that reaches the parquet scan (plan-
    * asserted PushedFilters; with the production store bucketed on the
    * band key, only matching buckets read at all) — pigeonhole-
    * LOSSLESS within `maxDist`, so the pruned candidates verify on the
    * exact popcount and nothing within the bound is missed. Returns
    * the top-k (key, d) by (distance, key) among rows within
    * `maxDist`; beyond-radius neighbors are inherently outside a
    * banded index's reach (the documented LSH-index trade — q111's
    * full scan serves unbounded kNN). Multi-band hits collapse via
    * one distinct on the candidate set (bounded by band selectivity,
    * never corpus-sized). The store (and this probe) is HASH-SPACE-
    * AGNOSTIC: any 64-bit kernel under the d≤3 banding contract —
    * image dHash (q170), audio fingerprints (q176) — rides the same
    * (key, dhash, band) layout. */
  def search(store: DataFrame, query: Long, k: Int,
      maxDist: Int = MaxDist, nBands: Int = NBands,
      bandBits: Int = BandBits): DataFrame = {
    // the probe's band predicate must be built under the STORE's
    // banding — self-described when persisted through initStore
    // (overriding the parameters), the caller's parameters for bare
    // signature frames (a 7x9 frame probed under the 4x16 default
    // would silently band-miss; pass what signatureRows was given)
    val (meta, metaBuckets) = storeMeta(store)
    val (nb, bb) = meta.getOrElse((nBands, bandBits))
    require(maxDist < nb,
      s"the store's banding is lossless only to ${nb - 1}")
    require(k > 0, "k must be positive")
    val mask = (1L << bb) - 1
    val bandVals = (0 until nb)
      .map(b => b -> ((query >>> (b * bb)) & mask))
    val pred = bandVals.map { case (b, v) =>
      col("band.b") === b && col("band.v") === v
    }.reduce(_ || _)
    // the partitioned serving layout prunes at the FILE LISTING: the
    // query's band bucket values compile to a partition filter, so
    // at most nBands of n_buckets directories are touched at all
    val pruned = metaBuckets match {
      case Some(nB) if store.columns.contains("band_bucket") =>
        val buckets = bandVals
          .map { case (b, v) => bandBucket(b, v, nB) }.distinct
        store.filter(col("band_bucket").isin(buckets: _*))
      case _ => store
    }
    pruned.filter(pred)
      .select(col("key"), col("dhash")).distinct()
      .select(col("key"),
        bit_count(col("dhash").bitwiseXOR(lit(query))).cast("long")
          .as("d"))
      .filter(col("d") <= maxDist)
      .orderBy(col("d"), col("key"))
      .limit(k)
  }

  /** One ingest cycle — probe, append fresh, report — hashing the batch
    * ONCE (the decode+hash pass dominates per-batch cost). Returns
    * (dups, freshHashes).
    *
    * REPLAY-IDEMPOTENT, the [[IncrementalSpans.append]] contract:
    * `batchId` names the store partition the fresh rows land in via
    * dynamic partition overwrite, so a foreachBatch redelivery (crash
    * between the parquet append and the sink commit) overwrites its own
    * partition instead of double-appending; the probe EXCLUDES the
    * current batch's partition, so the first attempt's rows cannot
    * shadow the replay's answers either. */
  def processBatch(batchMedia: DataFrame, store: DataFrame,
      storePath: String, batchId: Long,
      maxDist: Int = MaxDist): (DataFrame, DataFrame) = {
    val hashes = MultimodalOps.imageDHashes(batchMedia)
      .localCheckpoint(eager = false)
    // the bucket-partitioned SERVING layout is read-mostly: a batch
    // append would fan rows across bucket directories under the
    // replay contract — rebuild via initStorePartitioned instead
    require(!store.columns.contains("band_bucket"),
      "this store uses the partitioned serving layout — ingest into " +
        "the batch-partitioned store and rebuild/compact to serve")
    // probe AND append under the store's own banding (self-described;
    // d≤3 default for pre-banding-column stores) — an append under a
    // different split would poison every later probe
    val banding = storeBanding(store)
    val (nb, bb) = banding.getOrElse((NBands, BandBits))
    require(maxDist < nb, s"banding is lossless only to ${nb - 1}")
    val probeStore =
      if (store.columns.contains("batch"))
        store.filter(col("batch") =!= lit(batchId))
      else store
    val dups = findDups(hashes, probeStore, maxDist, nb, bb)
      .localCheckpoint(eager = false)
    val fresh = hashes.join(dups.select("key"), Seq("key"), "left_anti")
    val freshRows0 = signatureRows(fresh, nb, bb)
    val freshRows = banding.map { case (n0, b0) =>
      freshRows0.withColumn("n_bands", lit(n0))
        .withColumn("band_bits", lit(b0))
    }.getOrElse(freshRows0)
    // the text operator's write helper: one definition of the conf-flip
    // + partitioned-overwrite ritual, one legacy-store guard
    IncrementalDedup.writeBatchPartition(freshRows, store,
      storePath, batchId)
    (dups, fresh)
  }
}
