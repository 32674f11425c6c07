package graft.similarity

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.sources.SidecarCache
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {

  test("build + probe: pruned search finds true neighbors of a stored vec") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    IvfIndex.build(emb, path, nCells = 16)

    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val got = IvfIndex.search(spark, path, query, nProbe = 4, k = 5)
    val rows = got.collect()
    assert(rows.length === 5)
    // the query vector itself is in the index → must be its own top hit
    assert(rows.head.getAs[Long]("vec_id") === 1L)
    assert(math.abs(rows.head.getAs[Double]("sim") - 1.0) < 1e-3)
    // sims are sorted descending
    val sims = rows.map(_.getAs[Double]("sim")).toSeq
    assert(sims === sims.sorted.reverse)

    // recall vs brute force over the probed fraction: every probed-cell
    // result the exact scan also ranks in its top-5 must match by id
    val exact = emb
      .select(col("vec_id"), VectorFunctions.normalized(
        col("embedding").cast("array<double>")).as("nemb"))
      .select(col("vec_id"),
        round(VectorFunctions.dot(col("nemb"),
          typedlit({
            val n = math.sqrt(query.map(x => x * x).sum)
            query.map(_ / n).toSeq
          })), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val gotIds = rows.map(_.getAs[Long]("vec_id")).toSet
    assert(gotIds.intersect(exact).nonEmpty)

    // the probe is partition-pruned: the scan reads nProbe cell dirs, not all
    val probed = IvfIndex.search(spark, path, query, nProbe = 4, k = 5)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning in:\n$plan")
  }

  test("filtered probe: metadata rides the index, the predicate applies " +
    "before the top-k cut, appends must carry the columns") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivff").toString
    IvfIndex.build(emb.filter(col("vec_id") < 400), path, nCells = 16,
      metaCols = Seq("label"))
    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    // append the tail WITH the metadata column — and refuse it without
    IvfIndex.append(emb.filter(col("vec_id") >= 400), path)
    val e = intercept[IllegalArgumentException](
      IvfIndex.append(emb.filter(col("vec_id") >= 400)
        .drop("label"), path))
    assert(e.getMessage.contains("label"))

    val got = IvfIndex.search(spark, path, query, nProbe = 4, k = 5,
      filter = Some(col("label") === 3))
    val rows = got.collect()
    assert(rows.length === 5)
    // every hit satisfies the predicate (it applied pre-cut: 5 rows
    // came back even though the unfiltered top-5 is mostly label<>3)
    val labels = spark.read.parquet(path)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r =>
      assert(labels(r.getAs[Long]("vec_id")) === 3, r.toString))
    // equals the independently recomputed filtered top-k over exactly
    // the probed cells (probe selection replicated from the sidecar),
    // so the equivalence pins the whole probe path
    val qn = { val n = math.sqrt(query.map(x => x * x).sum)
      query.map(_ / n).toSeq }
    val probes = SidecarCache.read(spark, s"$path/_centroids").collect()
      .map(r => r.getAs[Long]("cent_id") ->
        r.getAs[scala.collection.Seq[Double]]("cent")
          .lazyZip(qn).map(_ * _).sum)
      .sortBy { case (id, sim) => (-sim, id) }
      .take(4).map(_._1).toSet
    val want = spark.read.parquet(path)
      .filter(col("cell").isin(probes.toSeq: _*) && col("label") === 3)
      .select(col("vec_id"),
        round(VectorFunctions.dot(col("nemb"), typedlit(qn)), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows.map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Double]("sim"))).toSeq === want)
    // self-check that the filter actually changed the answer
    val unfiltered = IvfIndex.search(spark, path, query, 4, 5).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(rows.map(_.getAs[Long]("vec_id")).toSet !== unfiltered)
  }

  test("NearestCentroid matches a driver-side brute-force argmax") {
    import spark.implicits._
    val vecs = Seq(
      1L -> Seq(1.0, 0.0, 0.0),
      2L -> Seq(0.0, 1.0, 0.0),
      3L -> Seq(0.6, 0.8, 0.0),
      4L -> Seq(-1.0, 0.0, 0.0))
    val cells = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0))
    val got = vecs.toDF("vec_id", "v")
      .select(col("vec_id"),
        VectorFunctions.nearestCell(col("v"), cells).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 4L=(-1,0,0): dot cell0 = -1 < dot cell1 = 0 → cell1
    assert(got(1L) === 0 && got(2L) === 1 && got(3L) === 1 && got(4L) === 1)
    // tie (equidistant) → lowest ordinal
    val tie = Seq(Seq(1.0, 1.0, 0.0)).toDF("v")
      .select(VectorFunctions.nearestCell(col("v"), cells).as("c"))
      .head().getInt(0)
    assert(tie === 0)
  }

  test("NearestCentroid matches brute-force argmax on randomized inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cells = Seq.fill(9)(Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    val vecs = (1L to 200L).map(i =>
      i -> Seq.fill(16)(rnd.nextDouble() * 2 - 1))
    val got = vecs.toDF("id", "v")
      .select(col("id"), VectorFunctions.nearestCell(col("v"), cells).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    vecs.foreach { case (id, v) =>
      // same sequential multiply-add order as the kernel → identical FP
      val dots = cells.map(c => c.lazyZip(v).map(_ * _).sum)
      assert(got(id) === dots.indexOf(dots.max), s"vec $id")
    }
  }

  test("SQ8 index: 8x-smaller storage, same probe path, recall parity") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft_sq8").toString
    IvfIndex.build(emb, s"$base/f64", nCells = 16)
    IvfIndex.build(emb, s"$base/sq8", nCells = 16, sq8 = true)

    def dataBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(p)) -
        walk(new java.io.File(s"$p/_centroids"))
    }
    assert(dataBytes(s"$base/sq8") < dataBytes(s"$base/f64") / 2,
      s"sq8=${dataBytes(s"$base/sq8")} f64=${dataBytes(s"$base/f64")}")

    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val f64Ids = IvfIndex.search(spark, s"$base/f64", query, nProbe = 4, k = 5)
      .collect().map(_.getAs[Long]("vec_id"))
    val sq8Rows = IvfIndex.search(spark, s"$base/sq8", query, nProbe = 4, k = 5)
      .collect()
    val sq8Ids = sq8Rows.map(_.getAs[Long]("vec_id"))
    // the stored query vector is still its own top hit after quantization
    assert(sq8Ids.head === 1L)
    assert(math.abs(sq8Rows.head.getAs[Double]("sim") - 1.0) < 0.02)
    // quantization keeps the neighbor set (allow one rank swap)
    assert(f64Ids.toSet.intersect(sq8Ids.toSet).size >= 4,
      s"f64=${f64Ids.toSeq} sq8=${sq8Ids.toSeq}")
  }

  test("IVF-PQ index: order-of-magnitude smaller storage, ADC probe " +
    "keeps the neighbor set") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft_pq").toString
    IvfIndex.build(emb, s"$base/f64", nCells = 16)
    IvfIndex.buildPq(emb, s"$base/pq", nCells = 16)

    def dataBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(p)) -
        walk(new java.io.File(s"$p/_centroids")) -
        walk(new java.io.File(s"$p/_pq"))
    }
    // 16 code bytes vs 512 float64 bytes per vector (parquet framing
    // keeps the on-disk ratio below 32x, but it must still be drastic)
    assert(dataBytes(s"$base/pq") < dataBytes(s"$base/f64") / 4,
      s"pq=${dataBytes(s"$base/pq")} f64=${dataBytes(s"$base/f64")}")

    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val f64Ids = IvfIndex.search(spark, s"$base/f64", query, nProbe = 4, k = 5)
      .collect().map(_.getAs[Long]("vec_id"))
    val pqRows = IvfIndex.search(spark, s"$base/pq", query, nProbe = 4, k = 5)
      .collect()
    val pqIds = pqRows.map(_.getAs[Long]("vec_id"))
    // the stored query vector survives residual quantization as its own
    // top hit, with its score near 1
    assert(pqIds.head === 1L, s"pq=${pqIds.toSeq}")
    assert(math.abs(pqRows.head.getAs[Double]("sim") - 1.0) < 0.1)
    // ADC keeps most of the exact neighbor set
    assert(f64Ids.toSet.intersect(pqIds.toSet).size >= 3,
      s"f64=${f64Ids.toSeq} pq=${pqIds.toSeq}")
  }

  test("IVF-PQ append encodes against stored codebooks; compaction " +
    "preserves the _pq sidecar") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_pq_a").toString
    IvfIndex.buildPq(emb.filter(col("vec_id") < 300), path,
      nCells = 16, m = 8, ksub = 16)
    IvfIndex.append(emb.filter(col("vec_id") >= 300), path)
    val query = emb.filter(col("vec_id") === 450)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def hits() = IvfIndex.search(spark, path, query, 4, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = hits()
    // the appended vector finds itself through the ADC probe
    assert(before.head._1 === 450L, s"got $before")
    val (nBefore, nAfter) = IvfIndex.compact(spark, path)
    assert(nAfter <= nBefore)
    assert(hits() === before)
    assert(SidecarCache.read(spark, s"$path/_pq").count() === 1L)
  }

  test("k-means-trained index still finds the stored query vector") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_km").toString
    IvfIndex.build(emb, path, nCells = 8, kmeansIters = 2)
    val query = emb.filter(col("vec_id") === 5)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val rows = IvfIndex.search(spark, path, query, nProbe = 2, k = 3).collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("vec_id") === 5L)
    // trained centroids are normalized and nCells-bounded
    val cents = SidecarCache.read(spark, s"$path/_centroids").collect()
    assert(cents.length <= 8 && cents.nonEmpty)
  }

  test("incremental append equals a full rebuild over the same codebook") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    // base holds the codebook ids (vec_id < nCells), so the rebuilt
    // index derives the identical deterministic codebook
    val base = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300)
    val incr = java.nio.file.Files.createTempDirectory("graft_ivf_i").toString
    val full = java.nio.file.Files.createTempDirectory("graft_ivf_f").toString
    IvfIndex.build(base, incr, nCells = 16)
    IvfIndex.append(batch, incr)
    IvfIndex.build(emb, full, nCells = 16)

    // identical storage: every vector in the same cell in both indexes
    def cells(p: String) = spark.read.parquet(p)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("cell").longValue()).toMap
    assert(cells(incr) === cells(full))
    // identical probes: search results match row-for-row, including for
    // a query vector that arrived via append
    val query = emb.filter(col("vec_id") === 450)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def hits(p: String) = IvfIndex.search(spark, p, query, 4, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(incr) === hits(full))
    assert(hits(incr).head._1 === 450L)
  }

  test("compaction collapses append small files; probes are unchanged") {
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_c").toString
    IvfIndex.build(emb.filter(col("vec_id") < 200), path, nCells = 16)
    Seq((200, 300), (300, 400), (400, 500)).foreach { case (lo, hi) =>
      IvfIndex.append(
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi), path)
    }
    val query = emb.filter(col("vec_id") === 450)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def hits() = IvfIndex.search(spark, path, query, 4, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def rows() = spark.read.parquet(path).select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val (hitsBefore, rowsBefore) = (hits(), rows())
    val (nBefore, nAfter) = IvfIndex.compact(spark, path)
    assert(nAfter < nBefore, s"$nBefore -> $nAfter files")
    assert(hits() === hitsBefore)
    assert(rows() === rowsBefore)
  }

  test("streaming ingest: per-batch append converges to the full index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_s").toString
    IvfIndex.build(emb.filter(col("vec_id") < 100), path, nCells = 16)

    val rest = emb.filter(col("vec_id") >= 100)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .as[(Long, Seq[Double])].collect().toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Double])]
    val q = input.toDS().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IvfIndex.append(batch, path)
      }.start()
    try {
      rest.grouped(150).foreach { g =>
        input.addData(g); q.processAllAvailable()
      }
    } finally q.stop()

    val full = java.nio.file.Files.createTempDirectory("graft_ivf_sf").toString
    IvfIndex.build(emb, full, nCells = 16)
    val query = emb.filter(col("vec_id") === 450)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def hits(p: String) = IvfIndex.search(spark, p, query, 4, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(path) === hits(full))
  }

  test("forget fences at serve time without touching data files; " +
    "compact removes the rows physically and clears the fence " +
    "atomically; a tombstoned id cannot re-append until then") {
    import spark.implicits._
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_rtbf")
      .toString
    IvfIndex.build(emb, path, nCells = 16)
    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def ids(k: Int) = IvfIndex.search(spark, path, query, 4, k)
      .collect().map(_.getLong(0)).toSeq
    val before = ids(5)
    // forget the 2nd..3rd hits (real neighbors, so the fence is doing
    // work) — the probe must exclude them AND still return k rows
    val doomed = before.slice(1, 3)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def dataMTimes: Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(path), true)
      val m = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet") &&
          !f.getPath.getParent.getName.startsWith("_"))
          m(f.getPath.toString) = f.getModificationTime
      }
      m.toMap
    }
    val filesBefore = dataMTimes
    assert(IvfIndex.forget(spark, path,
      (doomed ++ Seq(doomed.head)).toDF("vec_id")) === 2L) // dedup'd
    val fenced = ids(5)
    assert(fenced.length === 5, "the fence must apply before the cut")
    assert(doomed.forall(!fenced.contains(_)))
    assert(fenced.head === before.head)
    // the fence rides the pruned scan as a BROADCAST anti-join (the
    // tombstone set is bounded by deletes-since-last-compaction) —
    // a shuffled anti-join would re-exchange the whole probed slice
    val fencedPlan = IvfIndex.search(spark, path, query, 4, 5)
    fencedPlan.collect()
    val plan = fencedPlan.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"),
      s"tombstone fence is not a broadcast anti-join:\n$plan")
    assert(dataMTimes === filesBefore,
      "forget must not rewrite any data file")
    // a fenced id cannot silently re-enter
    val err = intercept[IllegalArgumentException] {
      IvfIndex.append(
        emb.filter(col("vec_id") === doomed.head), path)
    }
    assert(err.getMessage.contains("tombstoned"))
    // compact: physical removal + fence cleared, answers unchanged
    IvfIndex.compact(spark, path)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/_tombstones")))
    assert(ids(5) === fenced)
    val resident = spark.read.parquet(path)
      .filter(col("vec_id").isin(doomed: _*)).count()
    assert(resident === 0L, "compact must drop tombstoned rows")
    // after the fence clears, the id may re-enter (re-admission) —
    // it reclaims its old rank; the still-forgotten id stays gone
    IvfIndex.append(emb.filter(col("vec_id") === doomed.head), path)
    val readmitted = ids(5)
    assert(readmitted.contains(doomed.head))
    assert(!readmitted.contains(doomed(1)))
    assert(readmitted.take(2) === before.take(2))
  }

  test("a data-less _tombstones dir (forget crashed before its part " +
    "file committed) reads as an EMPTY fence, never a wedged index; " +
    "a non-integral id column is loud, not a mis-targeted delete") {
    import spark.implicits._
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_tw")
      .toString
    IvfIndex.build(emb.filter(col("vec_id") < 200), path, nCells = 16)
    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val before = IvfIndex.search(spark, path, query, 4, 5).collect()
      .map(_.getLong(0)).toSeq
    // simulate the crash window: the dir exists, no data file in it
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_tombstones"))
    assert(IvfIndex.search(spark, path, query, 4, 5).collect()
      .map(_.getLong(0)).toSeq === before)
    IvfIndex.append(emb.filter(col("vec_id") === 300), path) // not wedged
    assert(IvfIndex.compact(spark, path)._2 > 0L) // nor compaction
    // and the forget re-run completes the interrupted delete normally
    assert(IvfIndex.forget(spark, path,
      Seq(before(1)).toDF("vec_id")) === 1L)
    assert(!IvfIndex.search(spark, path, query, 4, 5).collect()
      .map(_.getLong(0)).contains(before(1)))
    // wrong-typed ids: a string column would cast to null (a no-op
    // delete reported as success) and a double would TRUNCATE onto a
    // different vector — both refuse loudly
    val err = intercept[IllegalArgumentException] {
      IvfIndex.forget(spark, path, Seq("7").toDF("vec_id"))
    }
    assert(err.getMessage.contains("integral"))
    intercept[IllegalArgumentException] {
      IvfIndex.forget(spark, path, Seq(5.7).toDF("vec_id"))
    }
    // a BULK purge writes task-bounded files (no coalesce(1) straggler
    // funnel above the DSAR-size threshold) and still fences at serve;
    // ids never indexed are harmless no-ops by contract
    val bulk = spark.range(1000000L, 1200000L).toDF("vec_id")
    assert(IvfIndex.forget(spark, path, bulk) === 200000L)
    val parts = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$path/_tombstones"))
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(parts > 1, s"bulk purge landed in $parts file(s) — " +
      "expected a task-parallel write")
    assert(!IvfIndex.search(spark, path, query, 4, 5).collect()
      .map(_.getLong(0)).contains(before(1)))
  }

  test("crash inside the compact swap: recovery serves either the old " +
    "generation WITH its fence or the new one without it — forgotten " +
    "rows never surface") {
    import spark.implicits._
    val emb = graft.Tables.load(spark, sf("sf0.001"), "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_cw")
      .toString
    IvfIndex.build(emb, path, nCells = 16)
    val query = emb.filter(col("vec_id") === 1)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    def ids = IvfIndex.search(spark, path, query, 4, 5)
      .collect().map(_.getLong(0)).toSeq
    val doomed = ids(1)
    IvfIndex.forget(spark, path, Seq(doomed).toDF("vec_id"))
    val fenced = ids
    // simulate the crash window: the live dir (data + _tombstones)
    // was moved aside and the writer died before promoting
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "_precompact")))
    // the next probe recovers the OLD generation — its fence rode
    // along inside the directory, so the forgotten id stays hidden
    assert(ids === fenced)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/_tombstones")))
  }
}
