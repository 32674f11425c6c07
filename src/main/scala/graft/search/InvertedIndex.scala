package graft.search

import graft.functions.TextFunctions.tokens
import graft.sources.SidecarCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index — the storage layout that turns q77's
  * scan-time BM25 into an index probe (the text analog of
  * [[graft.similarity.IvfIndex]]: build once, probe many, read only the
  * slice a query needs).
  *
  *  - BUILD: one corpus scan → postings rows (w, doc_id, tf, dl), with
  *    the document length DENORMALIZED into each posting (the classic
  *    "norms in the index" trick: scoring never joins a doc-length
  *    table), written `partitionBy(bucket)` where bucket =
  *    pmod(xxhash64(w), nBuckets) — one directory per term-hash bucket.
  *    Corpus-level stats (N, avgdl) go to a one-row `_stats` sidecar.
  *  - SEARCH: hash the query terms (same xxhash64, evaluated through a
  *    one-row Spark job so the engine's own hash is the only
  *    implementation), read ONLY those buckets — `bucket IN (...)`
  *    prunes at the file listing, `w IN (...)` pushes into the parquet
  *    scan — and score Okapi BM25 with df derived from the pruned
  *    postings themselves. At 100 TB a q-term probe touches
  *    |terms|/nBuckets of the index instead of the corpus.
  *
  * Searching the index returns exactly q77's rows for the same terms
  * (spec-pinned): same constants, same 6-decimal rank key, same
  * tie-break.
  */
object InvertedIndex {

  /** Current index layout version. v2 postings carry the term's sorted
    * position list (the classic positional-postings layout) so phrase
    * queries can check adjacency inside the pruned slice; v1 indexes
    * (no `pos` column) keep working for bag-of-words and conjunctive
    * probes AND for appends — [[append]] matches the resident format,
    * dropping `pos` from new batches so the directory's file schema
    * never forks — and [[searchPhrase]] refuses them loudly.
    *
    * v1 → v2 migration is REBUILD-ONLY: positions are not recoverable
    * from v1 postings (tf alone says nothing about where the term
    * occurred), so no compact/append path can upgrade in place —
    * re-run [[build]] over the corpus at the same path (it overwrites
    * atomically). InvertedIndexSpec pins the whole matrix: v1 probe
    * parity, mixed-append schema stability, phrase refusal wording and
    * the rebuild path restoring phrase service. */
  val FormatVersion: Int = 2

  private def postingsOf(docs: DataFrame, nBuckets: Int): DataFrame =
    docs
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("double").as("dl"),
        posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .groupBy("doc_id", "dl", "w")
      .agg(count(lit(1)).cast("double").as("tf"),
        sort_array(collect_list(col("pos"))).as("pos"))
      .withColumn("bucket", pmod(xxhash64(col("w")), lit(nBuckets.toLong)))

  /** Corpus stats kept ADDITIVE — every field merges by plain addition
    * on append, so index growth never rescans resident data. Three
    * counters, not two, for exact q77 parity in the presence of
    * null-text documents (which produce NO postings but DO count toward
    * idf's N): n_docs = count(*) over the batch (narrow column-pruned
    * scan, no tokenize), n_tok_docs = docs with non-null text (avg()'s
    * denominator in q77), total_tokens = sum(tf) over the pinned
    * postings (avg()'s numerator — `tokens` maps "" to [""], so empty
    * and null text diverge exactly as they do in q77). avgdl derives at
    * search as total/n_tok_docs — the identical division avg performs. */
  private def statsOf(docs: DataFrame,
      postings: DataFrame): (Double, Double, Double) = {
    val d = docs.agg(count(lit(1)).cast("double").as("n"),
      count(col("text")).cast("double").as("nt")).head
    val t = postings.agg(
      coalesce(sum(col("tf")), lit(0.0)).as("tot")).head // null on 0 rows
    (d.getDouble(0), d.getDouble(1), t.getDouble(0))
  }

  /** One-row sidecar commit through [[graft.sources.AtomicSwap]] — a
    * bare mode("overwrite") deletes before it writes, and a crash in
    * that window would leave the whole index unreadable. `lastStage`
    * records the most recent applied staging id so [[recoverStaged]]
    * can tell a crash-after-stats leftover from an unapplied batch. */
  private def writeStats(spark: SparkSession, path: String,
      nDocs: Double, nTokDocs: Double, totalTokens: Double, nBuckets: Int,
      lastBatch: Long, lastStage: String,
      format: Int = FormatVersion): Unit = {
    import spark.implicits._
    def out(dir: String): Unit =
      Seq((nDocs, nTokDocs, totalTokens, nBuckets, lastBatch, lastStage,
          format))
        .toDF("n_docs", "n_tok_docs", "total_tokens", "n_buckets",
          "last_batch", "last_stage", "format")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    graft.sources.AtomicSwap.initOrRewrite(fsOf(spark, path),
      s"$path/_stats")(out)
  }

  /** Readers MUST come through here: completes any interrupted swap of
    * the index or its sidecar before the first read — the recovery in
    * AtomicSwap.rewrite alone is unreachable for a reader that throws
    * on the missing path first. */
  private def readStats(spark: SparkSession,
      path: String): org.apache.spark.sql.Row = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicSwap.recover(fs, path)
    graft.sources.AtomicSwap.recover(fs, s"$path/_stats")
    // one-row sidecar behind the fingerprint-validated driver memo: a
    // probe must not pay a Spark job to re-read unchanged index
    // metadata (writers rewrite `_stats`, changing the fingerprint,
    // so the memo can never serve a stale row)
    SidecarCache.cached(spark, s"$path/_stats") {
      SidecarCache.read(spark, s"$path/_stats").head
    }
  }

  private def lastBatchOf(st: org.apache.spark.sql.Row): Long =
    if (st.schema.fieldNames.contains("last_batch"))
      st.getAs[Long]("last_batch")
    else -1L

  private def lastStageOf(st: org.apache.spark.sql.Row): String =
    if (st.schema.fieldNames.contains("last_stage"))
      st.getAs[String]("last_stage")
    else ""

  private def formatOf(st: org.apache.spark.sql.Row): Int =
    if (st.schema.fieldNames.contains("format")) st.getAs[Int]("format")
    else 1 // pre-positions index

  /** Test-only failpoint: specs simulate a writer crash at a named
    * protocol step (a unit test cannot kill the JVM mid-append).
    * Production never sets it. */
  @volatile private[search] var failpoint: String => Unit = _ => ()

  private def fsOf(spark: SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stagingRoot(path: String): String = s"$path/_staging"

  /** The per-batch sentinel: written into the staging dir AFTER the
    * staged postings land and BEFORE any file moves into the live
    * buckets. Its presence means "this batch's postings and stats delta
    * are fully described here" — recovery can finish the apply without
    * re-reading the source docs; its absence means the stage itself
    * crashed mid-write and the whole dir is garbage. */
  private case class StageDelta(stage: String, batchId: Long,
      n: Double, nt: Double, tot: Double)

  private def writeDelta(spark: SparkSession, stageDir: String,
      d: StageDelta): Unit = {
    import spark.implicits._
    Seq((d.stage, d.batchId, d.n, d.nt, d.tot))
      .toDF("stage", "batch_id", "n", "nt", "tot")
      .coalesce(1).write.mode("overwrite").parquet(s"$stageDir/_delta")
  }

  /** None ONLY when the sentinel was never committed (absent `_delta`,
    * or a dir holding no committed part-file — a crash mid-sentinel
    * leaves files under `_temporary` only; they surface at top level
    * exactly at job commit): that is [[recoverStaged]]'s license to
    * discard the staging dir. A read failure on a COMMITTED sentinel is
    * a transient FS/parquet error and PROPAGATES — swallowing it would
    * make recovery silently delete a fully staged, unapplied batch
    * (unrecoverable for ad-hoc appends, which have no batch id to
    * replay). */
  private def readDelta(spark: SparkSession,
      stageDir: String): Option[StageDelta] = {
    val files = SidecarCache.parts(spark, s"$stageDir/_delta")
    if (files.isEmpty) return None
    val r = spark.read.parquet(files: _*).head
    Some(StageDelta(r.getAs[String]("stage"), r.getAs[Long]("batch_id"),
      r.getAs[Double]("n"), r.getAs[Double]("nt"), r.getAs[Double]("tot")))
  }

  /** Move every staged data file into its live bucket directory. Files
    * LEAVE the staging dir as they move (rename, not copy), so a replay
    * after a mid-move crash simply moves whatever remains — each file
    * lands in the live index exactly once, no name bookkeeping. */
  private def moveDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      stageDir: String, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(stageDir)
    fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("bucket=")
    ).foreach { b =>
      val dest = new org.apache.hadoop.fs.Path(path, b.getPath.getName)
      fs.mkdirs(dest)
      fs.listStatus(b.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          val to = new org.apache.hadoop.fs.Path(dest, f.getPath.getName)
          require(fs.rename(f.getPath, to),
            s"staged append: cannot move ${f.getPath} to $to")
        }
    }
  }

  /** Finish a fully-staged batch: move its files into the live buckets,
    * fold its delta into `_stats` (advancing the batch watermark and
    * recording the stage id), then drop the staging dir. Idempotent
    * across crashes at any point: moved files leave staging, the stats
    * rewrite is guarded by the stage id, and the final delete is pure
    * cleanup. */
  private def applyStage(spark: SparkSession, path: String,
      stageDir: String, d: StageDelta): Unit = {
    val fs = fsOf(spark, path)
    moveDataFiles(fs, stageDir, path)
    failpoint("moved")
    val st = readStats(spark, path)
    writeStats(spark, path, st.getAs[Double]("n_docs") + d.n,
      st.getAs[Double]("n_tok_docs") + d.nt,
      st.getAs[Double]("total_tokens") + d.tot,
      st.getAs[Int]("n_buckets"),
      math.max(d.batchId, lastBatchOf(st)), d.stage, formatOf(st))
    failpoint("stats")
    fs.delete(new org.apache.hadoop.fs.Path(stageDir), true)
  }

  /** Writer-entry recovery for the staged-append protocol: complete or
    * discard any staging dir a crashed append left behind, BEFORE new
    * work begins. Only writers call this ([[append]], [[compact]]) — a
    * reader completing a stage would race the live writer mid-move, the
    * same reader-vs-writer hazard AtomicSwap.recover guards against.
    * Single-writer discipline means at most one staging dir can exist.
    *
    *  - no `_delta` sentinel → the stage write itself crashed; the live
    *    index was never touched → delete, the batch replays whole.
    *  - sentinel present but already applied (batch id at-or-under the
    *    watermark, or stage id == `_stats.last_stage`) → crash landed
    *    between the stats rewrite and the cleanup → just delete.
    *  - sentinel present, not applied → finish the apply (moves are
    *    remaining-files-only, so this never duplicates a posting). */
  private def recoverStaged(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(stagingRoot(path))
    if (!fs.exists(root)) return
    val st = readStats(spark, path)
    val watermark = lastBatchOf(st)
    val lastStage = lastStageOf(st)
    fs.listStatus(root).foreach { s =>
      readDelta(spark, s.getPath.toString) match {
        case None => fs.delete(s.getPath, true)
        case Some(d)
          if (d.batchId >= 0 && d.batchId <= watermark) ||
            (d.stage.nonEmpty && d.stage == lastStage) =>
          fs.delete(s.getPath, true)
        case Some(d) => applyStage(spark, path, s.getPath.toString, d)
      }
    }
    fs.delete(root, true)
  }

  /** docs: needs (doc_id, text). ONE tokenizing corpus scan (the pinned
    * postings feed both the bucket write and the token-count fold; the
    * doc counters are a narrow no-tokenize aggregate). */
  def build(docs: DataFrame, path: String, nBuckets: Int = 64): Unit = {
    val postings = graft.operators.Materialize.pin(postingsOf(docs, nBuckets))
    try {
      // cluster by bucket BEFORE the partitioned write (the "hash
      // distribution mode" of guide §6): an unclustered partitionBy
      // write lands (writer tasks × buckets) small files — ~11 per
      // bucket at sf0.1, so a 3-term probe opened ~33 files per scan
      // and paid per-file open cost twice (df + scoring passes).
      // One shuffle at build time buys file-per-bucket probes forever;
      // at scale nBuckets grows with the corpus, keeping files sized.
      postings.repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
      val (n, nt, tot) = statsOf(docs, postings)
      writeStats(docs.sparkSession, path, n, nt, tot, nBuckets, -1L, "")
    } finally postings.unpersist()
  }

  /** Incremental ADD: the batch's postings append into their buckets and
    * the additive stats merge — resident postings are never rewritten or
    * re-read (the IvfIndex.append contract for text). Batch doc_ids must
    * be new; postings are per-(doc, term), so a re-sent doc would double
    * its tf — dedup upstream, as the snapshot pipeline does.
    *
    * `batchId` is the replay guard for streaming `foreachBatch` callers
    * (Spark re-runs a failed batch on restart — that is its delivery
    * contract): pass the foreachBatch batch id and a replayed batch is
    * skipped against the persisted high-watermark. Batch ids must be
    * monotonic, as foreachBatch's are.
    *
    * CRASH-IDEMPOTENT via staging: the batch's postings land in
    * `_staging/<id>` (invisible to readers — Spark skips
    * underscore-prefixed dirs) together with a `_delta` sentinel
    * carrying the stats delta, and only then move file-by-file into the
    * live buckets before the `_stats` rewrite. A crash at ANY point
    * replays safely: before the sentinel the stage is discarded whole;
    * after it, [[recoverStaged]] finishes the apply from the sentinel —
    * moved files have already left staging, so nothing lands twice, and
    * the stage id recorded in `_stats` makes the stats fold
    * exactly-once. (Single-writer maintenance, AtomicSwap's contract.) */
  def append(docs: DataFrame, path: String, batchId: Long = -1L): Unit = {
    val spark = docs.sparkSession
    readStats(spark, path) // completes interrupted swaps first
    recoverStaged(spark, path)
    val st = readStats(spark, path) // recovery may have advanced the stats
    val watermark = lastBatchOf(st)
    if (batchId >= 0 && batchId <= watermark) return // replayed batch
    val nBuckets = st.getAs[Int]("n_buckets")
    val stage =
      if (batchId >= 0) s"b$batchId"
      else "adhoc-" + java.util.UUID.randomUUID().toString.take(8)
    val stageDir = s"${stagingRoot(path)}/$stage"
    // match the RESIDENT layout: appending positional postings into a
    // v1 index would fork the file schema mid-directory
    val raw = postingsOf(docs, nBuckets)
    val postings = graft.operators.Materialize.pin(
      if (formatOf(st) >= 2) raw else raw.drop("pos"))
    try {
      // same bucket-clustered write as build: batch appends otherwise
      // accrete (writer tasks × buckets) files per batch
      postings.repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(stageDir)
      val (n, nt, tot) = statsOf(docs, postings)
      val d = StageDelta(stage, batchId, n, nt, tot)
      writeDelta(spark, stageDir, d)
      failpoint("staged")
      applyStage(spark, path, stageDir, d)
    } finally postings.unpersist()
  }

  /** Collapse append small files per bucket behind the crash-recovering
    * two-rename swap (single-writer — AtomicSwap's contract). Returns
    * (files before, after). */
  def compact(spark: SparkSession, path: String): (Long, Long) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Long = {
      val it = fs.listFiles(hPath, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next().getPath.toString
        if (f.endsWith(".parquet") && !f.contains("_stats")) n += 1
      }
      n
    }
    // recovery first: dataFiles() itself lists the live path, and a
    // crashed append's staged batch must be applied (or discarded)
    // before the rewrite snapshots the live postings — compacting OVER
    // a half-moved stage would otherwise strand its unmoved files
    val nBuckets = readStats(spark, path).getAs[Int]("n_buckets")
    recoverStaged(spark, path)
    val before = dataFiles()
    graft.sources.AtomicSwap.rewrite(fs, path) { tmp =>
      spark.read.parquet(path).repartition(nBuckets, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
      SidecarCache.read(spark, s"$path/_stats").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/_stats")
    }
    (before, dataFiles())
  }

  /** The shared probe prefix: read `_stats`, hash the query terms to
    * their buckets (via the engine's own xxhash64 — never a
    * re-implementation that could drift from the build-side hash), and
    * return the partition-pruned, term-filtered postings slice plus the
    * corpus scalars every BM25 variant scores with. */
  private def probe(spark: SparkSession, path: String,
      terms: Seq[String]): (DataFrame, Double, Double, Int) = {
    val st = readStats(spark, path)
    val nDocs = st.getAs[Double]("n_docs")
    val nTokDocs =
      if (st.schema.fieldNames.contains("n_tok_docs"))
        st.getAs[Double]("n_tok_docs")
      else nDocs // pre-n_tok_docs index: no null-text docs existed
    val avgdl = st.getAs[Double]("total_tokens") / nTokDocs
    val nBuckets = st.getAs[Int]("n_buckets")
    val uniq = terms.distinct
    // the engine's own hash, evaluated driver-side: XxHash64 is the
    // exact expression class the xxhash64() SQL function plans to, so
    // build-side and probe-side can never drift — and hashing a
    // handful of literals must not cost a one-row Spark job per probe
    val buckets = uniq.map { w =>
      val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal(w)))
        .eval(null).asInstanceOf[Long] // aux ctor = the SQL fn's seed 42
      ((h % nBuckets) + nBuckets) % nBuckets // pmod
    }.distinct
    val postings = spark.read.parquet(path)
      .filter(col("bucket").isin(buckets: _*)) // partition-pruned listing
      .filter(col("w").isin(uniq: _*)) // pushed into the parquet scan
    (postings, nDocs, avgdl, formatOf(st))
  }

  /** BM25 (k1=1.2, b=0.75) top-k over the index for `terms` — scoring
    * and ranking delegate to [[graft.queries.TextQueries.bm25Rank]], the
    * single definition q77 also ranks through. The projection drops the
    * positional column so a bag-of-words probe never reads the position
    * pages a v2 index stores. */
  def search(spark: SparkSession, path: String, terms: Seq[String],
      k: Int = 20): DataFrame = {
    val (postings, nDocs, avgdl, _) = probe(spark, path, terms)
    graft.queries.TextQueries.bm25Rank(
      postings.select("doc_id", "dl", "w", "tf"), nDocs, avgdl, k)
  }

  /** Conjunctive (AND) BM25: only documents containing EVERY query term
    * are scored — [[graft.queries.TextQueries.bm25AndRank]], the same
    * definition the scan path (q88) ranks through. Works on any index
    * format (no positions needed). */
  def searchConjunctive(spark: SparkSession, path: String,
      terms: Seq[String], k: Int = 20): DataFrame = {
    val (postings, nDocs, avgdl, _) = probe(spark, path, terms)
    graft.queries.TextQueries.bm25AndRank(
      postings.select("doc_id", "dl", "w", "tf"),
      terms.distinct.size, nDocs, avgdl, k)
  }

  /** Phrase BM25: the exact in-order adjacent occurrence count of
    * `terms` becomes the virtual term's tf —
    * [[graft.queries.TextQueries.bm25PhraseRank]], shared with the scan
    * twin. Requires a positional (format ≥ 2) index. */
  def searchPhrase(spark: SparkSession, path: String,
      terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.size >= 2, s"a phrase needs >= 2 terms, got $terms")
    val (postings, nDocs, avgdl, fmt) = probe(spark, path, terms)
    require(fmt >= 2,
      s"phrase search needs a positional index (format >= 2, found " +
        s"$fmt): rebuild with InvertedIndex.build")
    graft.queries.TextQueries.bm25PhraseRank(postings, terms, nDocs,
      avgdl, k)
  }
}
