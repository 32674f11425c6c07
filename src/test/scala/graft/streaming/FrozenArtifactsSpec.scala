package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The frozen-artifact LIFECYCLE the streaming ensemble needs across
  * restarts: freeze → persist → (process death) → reload → the
  * restarted scorer serves IDENTICAL verdicts from the reloaded
  * artifacts. "Process death" is modeled the only way a unit test can:
  * nothing from the original freeze survives except the store
  * directory — the reloaded maps are rebuilt purely from disk. */
class FrozenArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private def storePath(tag: String): String = scratch(s"frozen_$tag")

  test("write → read round-trips the frozen LM, fences, and version " +
    "byte-for-byte") {
    val dir = sf("sf0.001")
    val lm = CorpusStreams.freezeLm(spark, dir, maxBigrams = 500)
    val fences = CorpusStreams.freezeFences(spark, dir)
    val path = storePath("rt")
    FrozenArtifacts.write(spark, path, lm, fences, version = 1L)
    val (lm2, fences2, v2) = FrozenArtifacts.read(spark, path)
    assert(lm2 === lm)
    assert(fences2 === fences)
    assert(v2 === 1L)
  }

  test("a rewrite replaces the store atomically: version 2 fully " +
    "supersedes version 1 and reads back exactly") {
    val dir = sf("sf0.001")
    val lm1 = CorpusStreams.freezeLm(spark, dir, maxBigrams = 10)
    val lm2 = CorpusStreams.freezeLm(spark, dir, maxBigrams = 40)
    val fences = CorpusStreams.freezeFences(spark, dir)
    val path = storePath("v2")
    FrozenArtifacts.write(spark, path, lm1, fences, version = 1L)
    FrozenArtifacts.write(spark, path, lm2, fences, version = 2L)
    val (got, _, v) = FrozenArtifacts.read(spark, path)
    assert(v === 2L)
    assert(got === lm2)
    assert(got.cbg.size === 40) // no v1 leftovers merged in
  }

  test("freeze → kill → reload → the restarted stream serves " +
    "IDENTICAL verdicts (the serving-restart contract)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = sf("sf0.001")
    val path = storePath("serve")
    // freeze epoch: train, persist, serve a first stream
    val lm = CorpusStreams.freezeLm(spark, dir, maxBigrams = 2000)
    val fences = CorpusStreams.freezeFences(spark, dir)
    FrozenArtifacts.write(spark, path, lm, fences, version = 7L)
    val clfKeep = graft.queries.SimilarityQueries
      .q94ClassifierScore(spark, dir)
      .select(col("vec_id").as("doc_id"), col("keep"))
      .localCheckpoint(true)
    val rows = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "lang", "n_chars", "text")
      .limit(60).collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getLong(2), Option(r.getString(3))))
      .toSeq

    def serve(name: String, servedLm: CorpusStreams.FrozenLm,
        servedFences: Map[String, (Double, Double)]): Map[Long, String] = {
      val input = MemoryStream[(Long, Option[String], Long, Option[String])]
      val q = CorpusStreams.verdictStream(
          input.toDS().toDF("doc_id", "lang", "n_chars", "text"),
          servedFences, servedLm, clfKeep)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(rows)
        q.processAllAvailable()
        spark.table(name).select("doc_id", "verdict", "first_fail")
          .collect()
          .map(r => r.getLong(0) ->
            (r.getString(1) + "|" + r.getString(2))).toMap
      } finally q.stop()
    }

    val before = serve("frozen_before", lm, fences)
    // restart epoch: the ONLY surviving state is the store directory
    val (lmR, fencesR, version) = FrozenArtifacts.read(spark, path)
    assert(version === 7L)
    val after = serve("frozen_after", lmR, fencesR)
    assert(after === before)
  }
}
