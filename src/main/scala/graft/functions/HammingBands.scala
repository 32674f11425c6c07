package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Banded hamming-distance pairing — ONE definition of the pigeonhole
  * shape used by text SimHash (32-bit) and image dHash (64-bit)
  * near-dup detection: split each hash into `nBands` contiguous
  * `bandBits`-bit bands; any two hashes within hamming distance
  * `maxDist < nBands` must agree on at least one band (pigeonhole —
  * LOSSLESS, not approximate), so candidates meet on an equi-join of
  * the (band index, band value) key and the exact popcount filters.
  * No cross join at any scale; fan-out is nBands x rows, and the join
  * shuffles on a short band key.
  *
  * Bits above `nBands * bandBits` (when the bands don't cover the full
  * width) never make band keys DISAGREE for a within-distance pair, so
  * losslessness holds; they still count in the exact distance. */
object HammingBands {

  /** The band-key array for one hash: `nBands` structs of (band index,
    * band value) — ONE definition shared by the all-pairs join and the
    * incremental store probe, so the two can never band differently. */
  def bandKeys(hash: org.apache.spark.sql.Column, nBands: Int,
      bandBits: Int): org.apache.spark.sql.Column = {
    require(nBands * bandBits <= 64, "bands exceed 64 bits")
    array((0 until nBands).map(b0 =>
      struct(lit(b0).as("b"), band(hash, b0, bandBits).as("v"))): _*)
  }

  /** Band `i`'s `bandBits`-bit value of `hash`. */
  private def band(hash: org.apache.spark.sql.Column, i: Int,
      bandBits: Int): org.apache.spark.sql.Column =
    shiftright(hash, i * bandBits).bitwiseAND(
      lit(if (bandBits == 64) -1L else (1L << bandBits) - 1))

  /** Top-k nearest hashes to `query` by exact hamming distance —
    * SIMILARITY SEARCH over the same hash space the dedup pairs use
    * (dHash/SimHash/audio fingerprints): one codegen scan computing
    * bit_count(xor), then a k-bounded TakeOrdered (a per-task heap of
    * k rows — the right plan when k is small and fixed, unlike the
    * corpus-sized cuts rankBoundary exists for). Ties break on id for
    * a deterministic, oracle-comparable order. */
  def knn(hashed: DataFrame, idCol: String, hashCol: String,
      query: Long, k: Int): DataFrame =
    hashed.filter(col(hashCol).isNotNull)
      .select(col(idCol),
        bit_count(col(hashCol).bitwiseXOR(lit(query))).cast("long").as("d"))
      .orderBy(col("d"), col(idCol))
      .limit(k)

  /** (a, b, d): all LEFT × RIGHT pairs within `maxDist` — the
    * TWO-SIDED banding for matches across distinct collections sharing
    * one hash space (cross-modal soundtrack↔video, probe-vs-corpus).
    * The side is carried STRUCTURALLY (a is always a left id, b always
    * a right id), so callers never encode it in key naming conventions;
    * unlike [[pairs]] there is no a<b cut — left and right are
    * different populations, not halves of one. Same banded equi-join,
    * no cross join; null hashes dropped on both sides. */
  def crossPairs(left: DataFrame, right: DataFrame, idCol: String,
      hashCol: String, nBands: Int, bandBits: Int,
      maxDist: Int): DataFrame = {
    require(nBands > maxDist,
      s"pigeonhole needs nBands ($nBands) > maxDist ($maxDist)")
    def banded(df: DataFrame, as: String, has: String) =
      df.filter(col(hashCol).isNotNull)
        .withColumn("band", explode(bandKeys(col(hashCol), nBands, bandBits)))
        .select(col(idCol).as(as), col(hashCol).as(has), col("band"))
    banded(left, "a", "ha").join(banded(right, "b", "hb"), Seq("band"))
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("d"))
      .filter(col("d") <= maxDist)
      .distinct()
  }

  /** (a, b, d): unordered id pairs (a < b) within `maxDist`, with the
    * exact hamming distance. `hashed` must carry `idCol` and a LongType
    * `hashCol`; null hashes are dropped. The closing `distinct()` also
    * collapses pairs that repeated input rows produce; over unique ids
    * [[candidatePairs]] is already duplicate-free without its exchange. */
  def pairs(hashed: DataFrame, idCol: String, hashCol: String,
      nBands: Int, bandBits: Int, maxDist: Int): DataFrame =
    candidatePairs(hashed, idCol, hashCol, nBands, bandBits, maxDist)
      .distinct()

  /** [[pairs]] without the closing `distinct()` exchange: two rows
    * meet on every band they agree on, and only the meeting on the
    * LOWEST agreeing band is kept, so each pair of input rows is
    * emitted once. What a consumer that is indifferent to repeated
    * input rows (union-find) reads.
    *
    * Both join sides are one banded frame under two aliases, joined
    * through a shuffle (a `shuffle_hash` hint): the two exchanges are
    * then the same plan, which AQE runs once and reuses, so `hashed` is
    * scanned and hashed once. A broadcast join would compute it once per
    * side; a sort-merge join would also sort both sides of every band
    * key, where the hash join builds one partition's band rows. Null
    * hashes are dropped by their null band values, above the hash's
    * projection; a filter on the hash column itself would be pushed
    * below it and evaluate the hash a second time. */
  def candidatePairs(hashed: DataFrame, idCol: String, hashCol: String,
      nBands: Int, bandBits: Int, maxDist: Int): DataFrame = {
    require(nBands > maxDist,
      s"pigeonhole needs nBands ($nBands) > maxDist ($maxDist)")
    val banded = hashed.select(col(idCol).as("id"), col(hashCol).as("h"),
        explode(bandKeys(col(hashCol), nBands, bandBits)).as("band"))
      .filter(col("band.v").isNotNull)
    val xor = col("x.h").bitwiseXOR(col("y.h"))
    val lowestAgreeing = (0 until nBands).foldRight(lit(null).cast("int")) {
      (i, later) => when(band(xor, i, bandBits) === 0L, lit(i))
        .otherwise(later)
    }
    banded.as("x").join(banded.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band"))
      .filter(col("x.id") < col("y.id") && col("x.band.b") === lowestAgreeing)
      .select(col("x.id").as("a"), col("y.id").as("b"),
        bit_count(xor).cast("long").as("d"))
      .filter(col("d") <= maxDist)
  }
}
