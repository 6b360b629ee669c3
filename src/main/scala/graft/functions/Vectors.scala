package graft.functions

import org.apache.spark.sql.graft.{CentroidDistById, CentroidRanks, ColumnBridge, CosineSimilarity, DotProduct, FeatureHashEmbed, HammingPacked, HammingSign, JaccardSorted, L2Distance => L2DistanceExpr, L2Norm, NearestCentroid, Normalize, Phash64, SignPack, SqReconstruct}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Vector math Column API, backed by native Catalyst expressions
  * (graft.functions.expressions) that code-generate tight primitive
  * loops — the whole scan → distance → rank pipeline stays inside one
  * WholeStageCodegen span, unlike `zip_with`+`aggregate` higher-order
  * functions whose lambdas are interpreted per row.
  *
  * Semantics mirror /root/reference (Qdrant `Distance.EUCLID` in
  * insert.py:72; cosine as the standard alternative; nearest-centroid
  * argmin over euclidean in app.py:142-168). All fold in index order —
  * bit-compatible with the DuckDB oracle's list_* functions.
  */
object Vectors {

  private def c(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ColumnBridge.column(e)
  private def e(col: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    ColumnBridge.expression(col)

  /** Σ aᵢ·bᵢ */
  def dot(a: Column, b: Column): Column = c(DotProduct(e(a), e(b)))

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column = c(L2Norm(e(a)))

  /** Euclidean distance — the reference collection's metric. */
  def l2Distance(a: Column, b: Column): Column = c(L2DistanceExpr(e(a), e(b)))

  /** Manhattan distance — Qdrant's fourth metric (`Distance.Manhattan`). */
  def l1Distance(a: Column, b: Column): Column =
    c(org.apache.spark.sql.graft.L1Distance(e(a), e(b)))

  /** A query vector as one `array<double>` literal with non-null
    * elements — the literal `typedLit` builds, without its per-call
    * Scala reflection (749 µs a call against 17.5 µs on a 4-core VM,
    * C1 only).
    */
  def queryVector(v: Seq[Double]): Column =
    c(Literal(new GenericArrayData(v.toArray), ArrayType(DoubleType, containsNull = false)))

  /** Cosine similarity (dot / (‖a‖·‖b‖)), one fused pass. */
  def cosineSim(a: Column, b: Column): Column = c(CosineSimilarity(e(a), e(b)))

  /** a / ‖a‖ — unit-normalize, so cosine reduces to dot at query time.
    * Precomputing this on the corpus once removes the norm from every
    * query-point distance evaluation (O(d) per pair saved at 100 TB).
    */
  def normalize(a: Column): Column = c(Normalize(e(a)))

  /** Argmin-centroid id (squared-euclidean, ties → lowest id) against a
    * plan-time centroid set — a single codegen'd double[][] loop; the
    * scale-correct k-means-assignment / classification kernel (no join,
    * no window, no per-row allocation).
    */
  def nearestCentroidId(v: Column, cents: Seq[(Long, Seq[Double])]): Column =
    c(NearestCentroid(e(v), cents))

  /** #dims whose sign bit differs — binary-quantization hamming distance
    * over float vectors (integer, engine-exact), one codegen'd loop.
    */
  /** Ranked (d, cid) structs vs a fixed centroid set — identical to
    * array_sort over per-centroid (l2Distance, cid) literal structs,
    * without the nlist×dim literal expression tree (codegen carries the
    * matrix as one reference object).
    */
  def centroidRanks(v: Column, cents: Seq[(Long, Seq[Double])]): Column =
    c(CentroidRanks(e(v), cents))

  /** l2 distance from a vector to the centroid named by `cid` —
    * the assigned-centroid residual kernel (NaN for unknown ids).
    */
  def centroidDistById(v: Column, cid: Column, cents: Seq[(Long, Seq[Double])]): Column =
    c(CentroidDistById(e(v), e(cid), cents))

  def hammingSign(a: Column, b: Column): Column = c(HammingSign(e(a), e(b)))

  /** Pack a float vector's sign bits into ⌈dim/64⌉ longs — the stored
    * BQ artifact (dim/8 bytes per vector, 64× smaller than floats).
    */
  def signPack(a: Column): Column = c(SignPack(e(a)))

  /** Hamming distance over two packed sign bitmaps: Σ bitCount(xor),
    * one branchless popcount per 64 dims; ≡ [[hammingSign]] on the
    * unpacked vectors for equal-length inputs.
    */
  def hammingPacked(a: Column, b: Column): Column = c(HammingPacked(e(a), e(b)))

  /** Jaccard of two sorted distinct ARRAY<LONG> columns (merge walk,
    * one codegen'd pass) — the candidate-verify kernel for dedup.
    */
  def jaccardSorted(a: Column, b: Column): Column = c(JaccardSorted(e(a), e(b)))

  /** The deterministic feature-hash text embedding as ONE fused
    * map-side kernel (split → murmur3 → signed bucket sums →
    * normalize) — no explode, no exchange; bit-identical to the
    * declarative explode+agg pipeline.
    */
  def featureHashEmbed(text: Column, dim: Int): Column =
    c(FeatureHashEmbed(e(text), dim))

  /** int8 SQ quantize-then-reconstruct in one fused codegen pass, with
    * the per-dim (lo, range) quantizer state as plan-time arrays.
    */
  def sqReconstruct(a: Column, lo: Array[Double], rng: Array[Double]): Column =
    c(SqReconstruct(e(a), lo, rng))

  /** 64-bit stub perceptual hash (sampled-byte popcount parities) of an
    * ASCII payload — the banded-hamming near-dup fingerprint.
    */
  def phash64(text: Column): Column = c(Phash64(e(text)))

  /** Cast an ARRAY<FLOAT> column to ARRAY<DOUBLE>. */
  def toDouble(a: Column): Column = transform(a, _.cast("double"))
}
