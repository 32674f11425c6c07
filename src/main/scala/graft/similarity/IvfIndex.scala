package graft.similarity

import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.{dot, nearestCell, normalized}
import graft.sources.SidecarCache
// (VectorFunctions also supplies quantizeI8 / dotDequantI8 for the SQ8 path)
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index — the scale path for similarity
  * search (north-star; q34 is the ad-hoc variant). Build once, probe many:
  *
  *  - BUILD: L2-normalize, assign every vector to its nearest coarse
  *    centroid, write the assignment table `partitionBy(cell)` — one
  *    directory per cell.
  *  - SEARCH: score the (tiny) codebook driver-side, take the nProbe best
  *    cells, and read ONLY those partitions (`cell IN (...)` prunes at the
  *    file listing, verified by spec) — at 100 TB a probe touches
  *    nProbe/nCells of the data instead of all of it.
  *
  * The codebook is always driver-small (nCells rows), so cell assignment is
  * a MAP-SIDE argmax over a collected codebook
  * ([[VectorFunctions.NearestCentroid]], a codegen projection): the corpus
  * streams through exactly once with zero joins and zero shuffles. (Round-1
  * shape — crossJoin(broadcast) ×nCells then groupBy/max_by — inflated and
  * re-shuffled the full corpus per build/train pass.)
  *
  * The codebook is deterministic for the fixture (vectors with
  * vec_id < nCells); `kmeansIters > 0` trains real centroids — every other
  * part is unchanged.
  */
object IvfIndex {

  private def codebook(emb: DataFrame, nCells: Int): DataFrame =
    emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"), col("nemb").as("cent"))

  /** Driver-side codebook: (cent_id, centroid) sorted by cent_id so the
    * NearestCentroid tie-break (lowest ordinal) is also lowest cent_id. */
  private def collectCodebook(cb: DataFrame): Seq[(Long, Seq[Double])] =
    cb.collect()
      .map(r => r.getAs[Long]("cent_id") ->
        r.getAs[scala.collection.Seq[Double]]("cent").toSeq)
      .sortBy(_._1).toSeq

  private def toCodebookDf(s: SparkSession,
      book: Seq[(Long, Seq[Double])]): DataFrame = {
    import s.implicits._
    book.toDF("cent_id", "cent")
  }

  /** Map-side cell assignment: one codegen'd projection, no shuffle. */
  private def withCell(n: DataFrame, book: Seq[(Long, Seq[Double])]): DataFrame =
    n.withColumn("cell",
      element_at(typedlit(book.map(_._1)),
        nearestCell(col("nemb"), book.map(_._2)) + 1))

  /** Lloyd's k-means over the normalized vectors (cosine ≈ spherical
    * k-means): deterministic init from the first nCells ids, `iters`
    * assign→mean rounds, centroids re-normalized each round. Assignment is
    * map-side; elementwise means via posexplode+groupBy — partial (map-side)
    * aggregation means the only shuffle per iteration carries
    * nCells×dim×partitions partial sums, not the corpus. */
  def trainCentroids(emb: DataFrame, nCells: Int, iters: Int): DataFrame = {
    var book = collectCodebook(codebook(emb, nCells))
    for (_ <- 0 until iters) {
      val means = withCell(emb, book)
        .select(col("cell"), posexplode(col("nemb")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("cent_id"),
          normalized(transform(col("pm"), p => p.getField("m"))).as("cent"))
      book = collectCodebook(means)
    }
    toCodebookDf(emb.sparkSession, book)
  }

  /** emb: (vec_id long, embedding array<float|double>). kmeansIters = 0
    * uses the deterministic first-k codebook; > 0 trains real centroids.
    * sq8 = true stores int8-quantized vectors (scale + codes — 8× smaller
    * than float64 at 100 TB, the FAISS IVF-SQ8 layout); search scores the
    * codes directly with the fused dequantizing-dot kernel. */
  def build(emb: DataFrame, path: String, nCells: Int,
      kmeansIters: Int = 0, sq8: Boolean = false,
      metaCols: Seq[String] = Nil): Unit = {
    // filterable METADATA rides the index rows (the vector-DB design:
    // a filtered probe must prune inside the index scan, not join back
    // to the source table after top-k already cut the candidates)
    val n0 = emb.select(col("vec_id") +:
      normalized(col("embedding").cast("array<double>")).as("nemb") +:
      metaCols.map(col): _*)
    // pin only when training re-scans the corpus per iteration; the
    // plain build streams it exactly once
    val n =
      if (kmeansIters > 0) graft.operators.Materialize.pin(n0) else n0
    val book =
      if (kmeansIters > 0)
        collectCodebook(trainCentroids(n, nCells, kmeansIters))
      else collectCodebook(codebook(n, nCells))
    val assigned = withCell(n, book)
    storedForm(assigned, sq8).write.mode("overwrite")
      .partitionBy("cell").parquet(path)
    // the sidecar carries the layout flag so append never has to
    // file-list the whole index just to learn the storage form
    toCodebookDf(emb.sparkSession, book).withColumn("sq8", lit(sq8))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
    if (kmeansIters > 0) n.unpersist()
  }

  /** IVF-PQ build (the FAISS layout for embeddings at storage scale):
    * coarse assignment as [[build]], then each vector's RESIDUAL from its
    * cell centroid is product-quantized — m subspace codes of log2(ksub)
    * bits each, m bytes/vector here vs 8·dim for float64 (32× smaller at
    * dim=64 with the default m=16). Codebooks are trained driver-side on a deterministic
    * residual sample (`orderBy(vec_id).limit(sampleN)` — PQ training on a
    * bounded sample is standard FAISS practice; the sample is the only
    * data that ever reaches the driver). Encoding is one map-side codegen
    * projection ([[VectorFunctions.PqEncode]]) — the corpus streams
    * through once, zero joins, zero shuffles, like the float build.
    *
    * Search scores codes in place by asymmetric distance: per query the
    * driver precomputes dot(q, cell_centroid) per probed cell and the
    * m·ksub subspace LUT, and dot(q, vec) ≈ dot(q, cent) + Σ_j
    * lut[j][code_j] ([[VectorFunctions.PqAdcDot]]) — no vector is ever
    * reconstructed. Same partition-pruned probe as the other layouts. */
  def buildPq(emb: DataFrame, path: String, nCells: Int,
      m: Int = 16, ksub: Int = 256, sampleN: Int = 2048,
      pqIters: Int = 5, kmeansIters: Int = 0): Unit = {
    // codes are stored as single bytes and PqAdcDot indexes its LUT with
    // `code & 0xFF`: ksub past 256 would silently wrap every encoding
    require(ksub >= 1 && ksub <= 256,
      s"IVF-PQ stores byte codes: ksub must be in [1, 256], got $ksub")
    val spark = emb.sparkSession
    val n0 = emb.select(col("vec_id"),
      normalized(col("embedding").cast("array<double>")).as("nemb"))
    // pinned: feeds the (optional) k-means passes, the PQ training
    // sample, and the encode pass
    val n = graft.operators.Materialize.pin(n0)
    val book =
      if (kmeansIters > 0)
        collectCodebook(trainCentroids(n, nCells, kmeansIters))
      else collectCodebook(codebook(n, nCells))
    val cents = book.map(_._2)
    def assigned(df: DataFrame): DataFrame = df
      .withColumn("_ord", nearestCell(col("nemb"), cents))
      .withColumn("cell",
        element_at(typedlit(book.map(_._1)), col("_ord") + 1))
      .withColumn("_cent", element_at(typedlit(cents), col("_ord") + 1))
    val withOrd = assigned(n)
    // sample selection runs on the NARROW frame (TakeOrdered over
    // vec_id); the O(nCells·dim) argmax runs on the sampleN survivors
    // only — assigning the whole corpus here would be a second full
    // assignment pass just to discard all but the sample
    val sample = assigned(n.orderBy("vec_id").limit(sampleN))
      .select(col("nemb"), col("_cent")).collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Double]](0)
        val c = r.getAs[scala.collection.Seq[Double]](1)
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
    val cb = trainPqCodebooks(sample, m, ksub, pqIters)
    withOrd.select(col("vec_id"),
        VectorFunctions.pqEncode(col("nemb"), col("_cent"), cb, m, ksub)
          .as("codes"),
        col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    toCodebookDf(spark, book).withColumn("sq8", lit(false))
      .withColumn("layout", lit("pq"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_centroids")
    import spark.implicits._
    // flat [m][ksub][dsub] codebook + shape, driver-small like _centroids
    Seq((cb.toSeq, m, ksub)).toDF("cb", "m", "ksub")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_pq")
    n.unpersist()
  }

  /** Driver-side per-subspace Lloyd's k-means over the residual sample:
    * deterministic init (first ksub sample rows), L2 assignment with
    * ties → lowest code, empty clusters keep their previous centroid.
    * Returns the flat [m][ksub][dsub] codebook. */
  private[similarity] def trainPqCodebooks(sample: Array[Array[Double]],
      m: Int, ksub: Int, iters: Int): Array[Double] = {
    require(sample.nonEmpty, "PQ training needs a non-empty sample")
    val dim = sample.head.length
    val dsub = dim / m
    require(dsub * m == dim, s"dim $dim not divisible by m=$m")
    val cb = new Array[Double](m * ksub * dsub)
    for (j <- 0 until m) {
      def subOf(r: Array[Double]): Array[Double] =
        java.util.Arrays.copyOfRange(r, j * dsub, (j + 1) * dsub)
      var cents = Array.tabulate(ksub)(c =>
        subOf(sample(c % sample.length)))
      for (_ <- 0 until iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val cnts = new Array[Long](ksub)
        sample.foreach { r =>
          val x = subOf(r)
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < ksub) {
            var acc = 0.0
            var d = 0
            while (d < dsub) {
              val diff = x(d) - cents(c)(d); acc += diff * diff; d += 1
            }
            if (acc < bestD) { bestD = acc; best = c }
            c += 1
          }
          var d = 0
          while (d < dsub) { sums(best)(d) += x(d); d += 1 }
          cnts(best) += 1
        }
        cents = Array.tabulate(ksub)(c =>
          if (cnts(c) == 0) cents(c)
          else sums(c).map(_ / cnts(c)))
      }
      for (c <- 0 until ksub; d <- 0 until dsub)
        cb((j * ksub + c) * dsub + d) = cents(c)(d)
    }
    cb
  }

  private def storedForm(assigned: DataFrame, sq8: Boolean): DataFrame =
    if (sq8) {
      val extras = assigned.columns.toSeq
        .filterNot(Set("vec_id", "nemb", "cell"))
      assigned
        .withColumn("_z", VectorFunctions.quantizeI8(col("nemb")))
        .select(Seq(col("vec_id"), col("_z.scale").as("scale"),
          col("_z.q").as("q")) ++ extras.map(col) :+ col("cell"): _*)
    } else assigned

  /** Incremental ADD: assign a new batch against the EXISTING codebook
    * and append it to the cell partitions — no rebuild, and the resident
    * data is never rewritten or reshuffled (the production maintenance
    * path: an ANN index grows per ingest batch; re-clustering is a rare
    * offline event, after which drift is absorbed by a full [[build]]).
    * The batch streams through the same map-side codegen assignment as
    * build, and the dynamic-partition append touches only the cell
    * directories the batch lands in. The stored layout (float vs SQ8) is
    * sniffed from the index so mixed layouts cannot be created. */
  def append(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    recoverIndex(spark, path)
    val cdf = SidecarCache.read(spark, s"$path/_centroids")
    val book = collectCodebook(cdf.select(col("cent_id"), col("cent")))
    // layout from the driver-small sidecar; the root-listing sniff is
    // only a fallback for indexes built before the flag existed
    val pq = cdf.columns.contains("layout") &&
      cdf.select("layout").head.getString(0) == "pq"
    val sq8 = !pq && {
      if (cdf.columns.contains("sq8")) cdf.select("sq8").head.getBoolean(0)
      else spark.read.parquet(path).columns.contains("q")
    }
    // carry whatever metadata columns the resident index holds — an
    // append that silently dropped them would leave filtered probes
    // blind to the new rows (schema read is driver-side, no scan)
    val extras = spark.read.parquet(path).columns.toSeq
      .filterNot(Set("vec_id", "cell", "nemb", "q", "scale", "codes"))
    val missing = extras.filterNot(emb.columns.contains)
    require(missing.isEmpty, s"index at $path stores metadata column(s) " +
      s"${missing.mkString(", ")} the batch does not carry")
    val n = emb.select(col("vec_id") +:
      normalized(col("embedding").cast("array<double>")).as("nemb") +:
      extras.map(col): _*)
    // a tombstoned id is FENCED until the next compact clears it — a
    // re-append now would be hidden at serve and then physically
    // dropped by the compaction's anti-join, a silent data loss no
    // ingest path may have; loud, with the recipe
    tombstones(spark, path).foreach { t =>
      val clash = n.join(t, Seq("vec_id"), "left_semi")
        .limit(1).collect()
      require(clash.isEmpty, s"append: vec_id ${clash.head.get(0)} " +
        "is tombstoned (forgotten, not yet compacted) — compact the " +
        "index first, then re-append under the same id")
    }
    if (pq) {
      // encode the batch against the EXISTING codebooks (coarse + PQ) —
      // append never retrains, mirroring the float/SQ8 contract
      val (cb, m, ksub) = readPqSidecar(spark, path)
      val cents = book.map(_._2)
      n.withColumn("_ord", nearestCell(col("nemb"), cents))
        .withColumn("cell",
          element_at(typedlit(book.map(_._1)), col("_ord") + 1))
        .withColumn("_cent", element_at(typedlit(cents), col("_ord") + 1))
        .select(Seq(col("vec_id"),
          VectorFunctions.pqEncode(col("nemb"), col("_cent"), cb, m, ksub)
            .as("codes")) ++ extras.map(col) :+ col("cell"): _*)
        .write.mode("append").partitionBy("cell").parquet(path)
    } else
      storedForm(withCell(n, book), sq8).write.mode("append")
        .partitionBy("cell").parquet(path)
  }

  // ---- right-to-be-forgotten (r20) ----------------------------------

  /** RIGHT-TO-BE-FORGOTTEN for the ANN index: LOGICAL delete,
    * immediately effective at serve time, physically removed at the
    * next [[compact]] — the production vector-store deletion model
    * (an id-keyed delete cannot prune by `cell`, the only partition
    * key, so an eager physical delete would scan the whole index per
    * request; a fence costs one id-append now and rides the
    * compaction rewrite the index already schedules for small-file
    * collapse). The ids land in an `_tombstones` sidecar (underscore
    * = invisible to the data scan); [[search]] anti-joins it BEFORE
    * the top-k cut, so a forgotten vector never surfaces AND the
    * probe still returns k rows — usually broadcast (the set only
    * holds deletes since the last compaction; Catalyst picks the
    * strategy from its stats, so a bulk purge degrades to a shuffled
    * anti-join rather than a forced-broadcast OOM). Keys are a
    * DataFrame
    * so a person-sized request and a ten-million-row purge ride the
    * same path; null ids are skipped. Returns the number of distinct
    * ids recorded (recording an id that was never indexed is a
    * harmless no-op at serve). Single writer, like every sidecar
    * mutation here. */
  def forget(spark: SparkSession, path: String,
      ids: DataFrame): Long = {
    recoverIndex(spark, path)
    require(ids.columns.length == 1, "forget: ids must be one column")
    val key = ids.columns.head
    // a deletion API must never mis-target: a string/double id column
    // would cast to null (recorded but fencing nothing — "success"
    // with zero effect) or TRUNCATE to a different id (the wrong
    // vector physically dropped at the next compact) — loud instead
    val dt = ids.schema.fields.head.dataType
    require(Seq(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.ByteType).contains(dt),
      s"forget: id column '$key' must be an integral type " +
        s"(vec_id is long), got $dt")
    val fresh = ids.filter(col(key).isNotNull)
      .select(col(key).cast("long").as("vec_id")).distinct()
      .localCheckpoint(true)
    val n = fresh.count()
    // DSAR-sized requests collapse to one tidy file; a bulk purge
    // (ten-million-row right-to-be-forgotten) stays task-parallel —
    // coalesce(1) there funnels the whole set through one straggler
    // task. The `_tombstones` read distinct()s across files, so the
    // file count never changes semantics.
    if (n > 0) {
      val out = if (n <= 100000L) fresh.coalesce(1) else fresh
      out.write.mode("append").parquet(s"$path/_tombstones")
    }
    n
  }

  /** The pending-delete fence, if any — ids forgotten since the last
    * compaction. Deduplicated on read: [[forget]] appends, so a
    * twice-forgotten id is stored twice but fences once. The schema
    * is DECLARED, never inferred: a forget() crashed before its
    * single part file committed leaves a data-less `_tombstones` dir,
    * which must read as an EMPTY fence (a harmless no-op the re-run
    * completes) — schema inference would throw on every subsequent
    * probe, wedging the index behind an un-compactable error. */
  private def tombstones(spark: SparkSession,
      path: String): Option[DataFrame] = {
    val files = SidecarCache.parts(spark, s"$path/_tombstones")
    if (files.isEmpty) None
    else Some(spark.read.schema("vec_id LONG").parquet(files: _*)
      .distinct())
  }

  private def readPqSidecar(spark: SparkSession,
      path: String): (Array[Double], Int, Int) =
    // driver-small codebook behind the fingerprint-validated memo —
    // rebuilds rewrite the sidecar and naturally invalidate it
    SidecarCache.cached(spark, s"$path/_pq") {
      val r = SidecarCache.read(spark, s"$path/_pq").head
      (r.getAs[scala.collection.Seq[Double]]("cb").toArray,
        r.getAs[Int]("m"), r.getAs[Int]("ksub"))
    }

  /** Compact the cell partitions after many [[append]] batches — every
    * append adds task-count files per landed cell, and at 100 TB the
    * accumulated small files dominate probe latency (file-listing and
    * open costs, not bytes). Rewrites each cell into task-bounded files
    * behind [[graft.sources.AtomicSwap]] (crash-recovering two-rename
    * swap; single-writer — see its concurrency contract). Also the
    * PHYSICAL half of [[forget]]: pending tombstones drop from the
    * rewrite and the fence clears atomically with the swap. The cell
    * count comes from the driver-small `_centroids` sidecar, never a
    * distinct-scan of the index. Returns (files before, after). */
  /** Complete any interrupted compaction swap before reading — the
    * recovery inside AtomicSwap.rewrite is unreachable for a reader
    * that throws on the missing live path first. */
  private def recoverIndex(spark: SparkSession, path: String): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    graft.sources.AtomicSwap.recover(
      hPath.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  def compact(spark: SparkSession, path: String): (Long, Long) = {
    recoverIndex(spark, path)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: org.apache.hadoop.fs.Path): Long = {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next().getPath
        // data files only — sidecars (_centroids/_pq/_tombstones) are
        // not the small-file population compaction manages
        if (f.getName.endsWith(".parquet") &&
          !f.getParent.getName.startsWith("_")) n += 1
      }
      n
    }
    val before = dataFiles(hPath)
    val nCells = math.max(
      SidecarCache.read(spark, s"$path/_centroids").count().toInt, 1)
    val tomb = tombstones(spark, path)
    graft.sources.AtomicSwap.rewrite(fs, path) { tmp =>
      // compaction is also the PHYSICAL half of [[forget]]: pending
      // tombstones anti-join out of the rewrite, and the new
      // generation simply omits the `_tombstones` sidecar — the fence
      // clears ATOMICALLY with the swap that makes the filtered data
      // live (a crash serves either old data + fence or new data +
      // no fence, never forgotten rows without their fence)
      val data0 = spark.read.parquet(path)
      val data = tomb.fold(data0)(t =>
        data0.join(t, Seq("vec_id"), "left_anti"))
      data.repartition(nCells, col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(tmp)
      SidecarCache.read(spark, s"$path/_centroids").coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/_centroids")
      // PQ indexes carry a second sidecar; dropping it on compaction
      // would orphan the codes
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/_pq")))
        SidecarCache.read(spark, s"$path/_pq").coalesce(1)
          .write.mode("overwrite").parquet(s"$tmp/_pq")
    }
    (before, dataFiles(hPath))
  }

  /** Top-k by cosine for `query`, probing the nProbe best cells only. */
  def search(spark: SparkSession, path: String, query: Array[Double],
      nProbe: Int, k: Int,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    recoverIndex(spark, path)
    // nCells-row codebook behind the fingerprint-validated memo: a
    // probe's driver-side cell scoring must not pay a Spark job to
    // re-collect an unchanged sidecar (build/compact rewrite it and
    // invalidate the memo)
    val cents = SidecarCache.cached(
      spark, s"$path/_centroids") {
      SidecarCache.read(spark, s"$path/_centroids").collect()
    }
    def dotLocal(a: Seq[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qn = {
      val nrm = math.sqrt(query.map(x => x * x).sum)
      if (nrm == 0) query else query.map(_ / nrm)
    }
    val probes = cents
      .map(r => r.getAs[Long]("cent_id") ->
        dotLocal(r.getAs[scala.collection.Seq[Double]]("cent").toSeq, qn))
      .sortBy { case (id, sim) => (-sim, id) }
      .take(nProbe).map(_._1)
    // metadata predicate INSIDE the pruned scan: Catalyst pushes it to
    // the parquet reader next to the cell pruning, so a filtered probe
    // reads only matching row groups — filtering after top-k would
    // return fewer than k rows (the classic filtered-ANN bug)
    val idx0 = filter.foldLeft(
      spark.read.parquet(path)
        .filter(col("cell").isin(probes: _*)))( // partition-pruned scan
      (df, f) => df.filter(f))
    // the forget fence applies BEFORE the top-k cut (after would
    // return fewer than k rows — the filtered-ANN bug, again): an
    // anti-join on vec_id riding the same pruned scan. UNHINTED:
    // Catalyst broadcasts the usual small fence from its file stats
    // (plan-asserted in the spec), and a bulk purge past the
    // broadcast threshold correctly falls back to a shuffled
    // anti-join instead of OOMing the driver on a forced hint
    val idx = tombstones(spark, path).fold(idx0)(t =>
      idx0.join(t, Seq("vec_id"), "left_anti"))
    val score =
      if (idx.columns.contains("codes")) { // PQ: asymmetric-distance scan
        val (cb, m, ksub) = readPqSidecar(spark, path)
        val dsub = cb.length / (m * ksub)
        // per-query driver precompute: the m·ksub subspace LUT and the
        // per-cell centroid dot — scoring is then m lookups per row
        val lut = Array.tabulate(m * ksub) { i =>
          val j = i / ksub; val c = i % ksub
          var acc = 0.0
          var d = 0
          while (d < dsub) {
            acc += qn(j * dsub + d) * cb((j * ksub + c) * dsub + d); d += 1
          }
          acc
        }
        val cellDot = cents.map(r => r.getAs[Long]("cent_id") ->
          dotLocal(r.getAs[scala.collection.Seq[Double]]("cent").toSeq, qn))
          .toMap
        VectorFunctions.pqAdcDot(col("codes"),
          element_at(typedlit(cellDot), col("cell")), lut, ksub)
      } else if (idx.columns.contains("q")) // SQ8: score codes in place
        VectorFunctions.dotDequantI8(col("q"), col("scale"), qn)
      else dot(col("nemb"), typedlit(qn.toSeq))
    idx.select(col("vec_id"), round(score, 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }
}
