package graft.operators

import graft.Tables
import graft.functions.Vectors._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines: exact, MinHash+LSH,
  * n-gram Jaccard similarity join, SimHash, embedding-cosine near-dup.
  *
  * Scale design:
  *  - Everything is shingle/signature-level joins — the full text never
  *    shuffles; only (key, doc_id) pairs do.
  *  - MinHash banding is tuned for recall ≈ 1 at the 0.8 threshold
  *    (32 bands × 4 rows ⇒ P(miss | j=0.8) ≈ 5e-8), then candidates are
  *    verified with EXACT Jaccard, so output = the exact all-pairs
  *    answer at a fraction of the O(n²) cost.
  *  - The n-gram similarity join carries a length prefilter
  *    (|A|·t ≤ |B| ≤ |A|/t) that prunes candidate pairs before the
  *    intersection count.
  */
object Dedup {

  /** doc_id → distinct word-w-gram shingle array. */
  /** doc_id → one row per word-w-gram shingle: arrays_zip of the w
    * shifted slices of the word array, exploded, concat_ws'd. Every
    * expression here is a plain codegen'd builtin (slice/arrays_zip have
    * no lambda), so the whole shingling stays in one WholeStageCodegen
    * span with the parquet scan — measured ~2.5× faster than a
    * window/lead formulation (which shuffles + sorts per doc) and ~3×
    * faster than a transform(sequence...) one (interpreted lambda per
    * position). Map-side only: no shuffle until the consumer's.
    */
  def shingleRows(docs: DataFrame, w: Int = 5, distinct: Boolean = true): DataFrame = {
    val raw = shinglePosRows(docs, w).select("doc_id", "shingle")
    // set-semantics consumers (Jaccard counts) need the dedup shuffle;
    // dedup-insensitive aggregates (min, collect_set) skip it
    if (distinct) raw.dropDuplicates("doc_id", "shingle") else raw
  }

  /** The positional (doc_id, pos, shingle) form — ONE shared w-gram
    * construction (split → sliding arrays_zip → concat_ws) for every
    * shingle consumer, so a tokenization change can never fork gram
    * semantics between the dedup family and positional consumers like
    * winnowing ([[TextAnalysis.winnowingOf]] needs gram ORDER for its
    * sliding-minimum window); [[shingleRows]] is its order-free
    * projection.
    */
  private[operators] def shinglePosRows(docs: DataFrame, w: Int): DataFrame = {
    val ws = split(col("text"), " ")
    val len = greatest(size(ws) - w + 1, lit(0)) // docs shorter than w yield no shingles
    val parts = (0 until w).map(j => slice(ws, lit(j + 1), len).as(s"w$j"))
    docs
      .select(col("doc_id"), posexplode(arrays_zip(parts: _*)).as(Seq("pos", "z")))
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (0 until w).map(j => col(s"z.w$j")): _*).as("shingle"))
  }

  /** Exact dedup: normalize → hash-groupBy; keeps min doc_id per group.
    * (On 100 TB: group key is a 128-bit hash of the normalized text, so
    * the shuffle carries 16-byte keys, not documents.)
    */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(lower(trim(col("text")))).as("k"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")
      .orderBy("keep_id")

  /** Shared candidate/count scaffold for the exact n-gram similarity
    * joins: docs reduce to 64-bit shingle-hash rows at the scan (set
    * semantics on xxhash64 values ≡ set semantics on shingles up to
    * ~n²/2⁶⁴ collisions per pair — same reduction [[minhashPairs]]'
    * verify tier runs on), candidates come from the co-shingle
    * self-join, and each candidate pair's EXACT intersection size is
    * the cold-join pair count plus a shared-hot-gram correction.
    * Returns (ia, ib, c = |A∩B|, na = |A|, nb = |B|).
    *
    * HOT-SHINGLE GUARD (the 100-TB blowup this exists for): a shingle
    * shared by m docs explodes into m(m−1)/2 candidate rows BEFORE any
    * per-pair reduction, so one boilerplate gram with df = 10⁶ alone
    * yields ~5·10¹¹ join rows. Shingles with document frequency >
    * `dfCap` are therefore dropped from CANDIDATE GENERATION ONLY
    * (standard practice — Lee et al. 2022 / RefinedWeb drop
    * high-frequency grams from match seeds): verification still runs
    * on the full uncapped shingle sets, so every emitted pair's score
    * is exact. The only pairs that can be missed are those whose EVERY
    * shared shingle has df > dfCap — such docs sit inside a
    * ≥dfCap-sized boilerplate clique whose m² pair list is precisely
    * the answer one must refuse to materialize at scale ([[minhashLsh]]
    * and the clustered tiers are the documented route there). Testdata
    * max df = 4 at sf0.1, so the default cap is invisible to the
    * oracle gate and [[dedupRecallEval]]'s exact-truth role.
    */
  /** Memo for the exact-shingle pair-count scaffold: [[ngramJaccard]]
    * and [[containment]] are two thresholds over the SAME
    * (ia, ib, c, na, nb) relation, and in any real pipeline the two
    * gates share one materialized artifact — without the memo each
    * query re-ran the whole scaffold (and the heavy cold self-join ran
    * TWICE per fill, feeding both the hot-correction join and the
    * final join). Same discipline as [[minhashPairs]]' pairMemo.
    */
  private val gramMemo =
    new SessionMemo[(Int, Int), DataFrame]("dedup_grams_warm", _.unpersist())

  /** Session memo of the RAW (doc_id, xxhash64(shingle)) stream at
    * width `w` — the shared tokenize+explode+hash base that the minhash
    * fill, the exact-gram scaffold, AND every band-tuning execution
    * each re-derived from the documents scan (one full corpus pass per
    * consumer; 4+ per session at the default w). CACHED, not
    * checkpointed: under storage pressure the blocks evict and lineage
    * recomputes — nothing pins corpus-scale state irrevocably; onEvict
    * unpersists on snapshot invalidation. Materialized in its own fill,
    * so the corpus pass is charged to this artifact whichever consumer
    * asks first.
    */
  private val shingleHashMemo =
    new SessionMemo[Int, DataFrame]("dedup_pairs_warm", _.unpersist())

  private[operators] def hashedShingleRows(s: SparkSession, d: String,
                                           w: Int): DataFrame =
    shingleHashMemo.getOrElseUpdate(s, d, w) {
      val r = shingleRows(Tables.documents(s, d), w, distinct = false)
        .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
        .cache()
      r.count() // eager: the memo hands out a materialized artifact
      r
    }

  private def candidatePairCounts(s: SparkSession, d: String, w: Int,
                                  dfCap: Int): DataFrame =
    gramMemo.getOrElseUpdate(s, d, (w, dfCap))(
      candidatePairCountsUncached(s, d, w, dfCap, eager = true))

  /** Pair-count scaffold builder. `eager = true` (the memo path)
    * materializes the shared intermediates — the hashed shingle rows
    * (4 consumers) and the cold-join pair counts (2 consumers) — and
    * hands back a cached result; `eager = false` builds the pure
    * uncached plan (the plan-invariants spec reads THIS form — a cache
    * would hide the join shapes behind InMemoryTableScan).
    */
  private[graft] def candidatePairCountsUncached(
      s: SparkSession, d: String, w: Int, dfCap: Int,
      eager: Boolean = false): DataFrame = {
    def mat(df: DataFrame): DataFrame = if (eager) df.cache() else df
    // hash BEFORE the set-semantics dedup: the distinct exchange then
    // carries 8-byte hashes instead of w-word strings (same set
    // semantics under the documented 64-bit reduction). The memo path
    // reads the shared hashed-shingle stream (one corpus pass per
    // snapshot across the dedup family); eager = false keeps the pure
    // uncached plan the plan-invariants spec inspects.
    val baseRows =
      if (eager) hashedShingleRows(s, d, w)
      else shingleRows(Tables.documents(s, d), w, distinct = false)
        .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    // ONE exchange keyed on h feeds the whole scaffold (guide §2.3 —
    // partition once, reuse everywhere): hash-clustering by h ALSO
    // satisfies the (doc_id, h) dedup's clustering requirement (all
    // copies of a key share its h partition), and then the df
    // aggregate (groupBy h), the hot anti/semi joins (on h) and the
    // cold self-join (on h) all consume the cached relation's
    // partitioning with NO further exchange of the corpus-scale
    // shingle stream. Before, the dedup exchanged on (doc_id, h) and
    // every h-keyed consumer re-shuffled the full relation.
    val ex = mat(baseRows.repartition(col("h")).dropDuplicates("doc_id", "h"))
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // hot grams are df > dfCap — bounded by shingle-volume/dfCap (Σ df
    // over grams = corpus shingle volume, so at most volume/dfCap grams
    // qualify). That bound is tiny at test SF but ~10⁹⁻¹⁰ rows at
    // 100 TB — far past broadcastable — so NO forced broadcast hint
    // here: a hint overrides Spark's size check (driver OOM), while
    // the unhinted equi-join on the 8-byte hash lets the engine
    // broadcast when the measured size is small (AQE, at runtime) and
    // degrade gracefully to a shuffle join when it is not.
    // hot is consumed by BOTH `cold` join sides AND hotPerDoc — uncached
    // (in the eager path) the df aggregate over the full hashed-shingle
    // relation ran three times; the result is ≤ volume/dfCap rows
    val hot = mat(ex.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("h"))
    val cold = ex.join(hot, Seq("h"), "left_anti")
    // per-pair COLD intersection count straight off the join — the pair
    // groupBy partial-aggregates, so no candidate row list or per-doc
    // array is ever materialized (measured 4-5× cheaper than building
    // sorted hash arrays per candidate doc and merge-walking them)
    val cCold = mat(cold.as("a").join(cold.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .agg(count(lit(1)).as("c_cold")))
    // exact correction: add back the HOT grams each candidate pair
    // shares. hotPerDoc is (docs × their hot grams) — bounded by the
    // boilerplate footprint per doc, and only CANDIDATE pairs (already
    // ≥1 cold gram in common) enter the correction join, so the m²
    // clique blowup stays dead while every emitted score is exact.
    // (unhinted for the same reason as `cold` above)
    val hotPerDoc = ex.join(hot, Seq("h"), "left_semi")
    val cHot = cCold.select("ia", "ib")
      .join(hotPerDoc.select(col("doc_id").as("ia"), col("h")), "ia")
      .join(hotPerDoc.select(col("doc_id").as("ib"), col("h")), Seq("ib", "h"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("c_hot"))
    val out = mat(cCold.join(cHot, Seq("ia", "ib"), "left")
      .withColumn("c", col("c_cold") + coalesce(col("c_hot"), lit(0L)))
      .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
      .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
      .select(col("ia"), col("ib"), col("c"), col("na"), col("nb")))
    if (eager) {
      out.count() // the memo hands out a materialized artifact
      ex.unpersist(); hot.unpersist(); cCold.unpersist()
    }
    out
  }

  /** Exact n-gram Jaccard similarity self-join at threshold `t`:
    * df-capped co-shingle candidates → exact per-pair |A∩B| /
    * (|A|+|B|−|A∩B|) ≥ t from the counted intersections (exact per
    * emitted pair; see [[candidatePairCounts]] for the hot-shingle cap
    * contract). LSH below is the sub-quadratic route to the same pairs.
    */
  def ngramJaccard(s: SparkSession, d: String, t: Double = 0.7, w: Int = 5,
                   dfCap: Int = 1024): DataFrame =
    candidatePairCounts(s, d, w, dfCap)
      // length prefilter — cheap prune before the division
      .filter(col("nb") >= col("na") * t && col("na") >= col("nb") * t)
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= t)
      .select(col("ia"), col("ib"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("ia", "ib")

  /** N-gram CONTAINMENT similarity join: |A∩B| / min(|A|, |B|) ≥ t —
    * catches SUBSET duplicates Jaccard misses (a short doc quoted whole
    * inside a long one has Jaccard ≈ |A|/|B| but containment 1; LLM
    * training corpora are full of these). Same df-capped
    * candidate/exact-verify shape as [[ngramJaccard]] but deliberately
    * WITHOUT the length prefilter: containment is length-asymmetric by
    * design.
    */
  def containment(s: SparkSession, d: String, t: Double = 0.9, w: Int = 5,
                  dfCap: Int = 1024): DataFrame =
    candidatePairCounts(s, d, w, dfCap)
      .withColumn("containment",
        col("c").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= t)
      .select(col("ia"), col("ib"), round(col("containment"), 4).as("containment"))
      .orderBy("ia", "ib")

  /** MinHash permutation parameters: h_k(x) = (a_k·x + b_k) mod p, over
    * murmur3 shingle hashes. Fixed seed → fully deterministic.
    */
  private val P = 2147483647L // 2^31 - 1 (Mersenne prime)
  private def perms(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)((1 + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** docs → (doc_id, sig[nPerm]) with sig_k = min over shingles of
    * h_k(xxhash64(shingle)).
    *
    * Computed as explode(shingle) → nPerm `min((a·h+b) mod p)` aggregate
    * columns → groupBy(doc_id). Each permutation is a plain codegen'd
    * long expression and the mins partial-aggregate map-side, so the
    * shuffle carries one nPerm-wide row per doc — unlike a
    * transform/array_min higher-order formulation whose lambdas are
    * interpreted per (doc × perm × shingle). min is duplicate-
    * insensitive, so the raw (non-distinct) shingle stream feeds it —
    * no corpus-wide dedup shuffle anywhere in the signature path.
    */
  def minhashSignatures(docs: DataFrame, w: Int = 5, nPerm: Int = 128): DataFrame =
    minhashFromHashedRows(
      shingleRows(docs, w, distinct = false)
        .select(col("doc_id"), pmod(xxhash64(col("shingle")), lit(P)).as("h")),
      nPerm)

  /** (doc_id, h) hashed-shingle rows → (doc_id, sig[nPerm]).
    *
    * One [[org.apache.spark.sql.graft.MinHashAgg]] typed aggregate, not
    * nPerm declarative `min(pmod(a·h+b, p))` columns: 128 aggregate
    * fields exceed spark.sql.codegen.maxFields, silently dropping the
    * aggregation out of whole-stage codegen into interpreted+boxed
    * evaluation (~10⁹ allocations at sf0.1 — GC dominated the whole
    * dedup family). The typed buffer is one field, update is a
    * primitive loop, and partial aggregation still applies
    * (ObjectHashAggregate), so the shuffle still carries one row per
    * (doc × partition). Signatures are bit-identical to the declarative
    * form — EquivalenceSpec proves it on random inputs.
    */
  def minhashFromHashedRows(hashed: DataFrame, nPerm: Int): DataFrame = {
    val ps = perms(nPerm)
    val agg = org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.MinHashAgg(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("h")),
        ps.map(_._1).toArray, ps.map(_._2).toArray, P)
        .toAggregateExpression())
    hashed.groupBy("doc_id").agg(agg.as("sig"))
  }

  /** (doc_id, sig) → exploded LSH band buckets (doc_id, band, bkey):
    * band b's key is the hash of signature rows [b·rows, (b+1)·rows) —
    * only these tiny (long, int, long) rows ever shuffle for the
    * candidate join.
    */
  private[graft] def bandBuckets(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          hash((b * rows until (b + 1) * rows).map(k => col("sig")(k)): _*)): _*)))
      .toDF("doc_id", "band", "bkey")

  /** Per-doc near-dup state in ONE aggregation pass: the minhash
    * signature (candidate generation) AND the sorted distinct
    * shingle-hash array (exact-Jaccard verification) — the row a
    * STREAMING near-dup gate persists per surviving doc
    * ([[graft.streaming.EventStreams.nearDupGateStream]]).
    */
  private[graft] def signatureState(docs: DataFrame, w: Int, nPerm: Int): DataFrame = {
    val hashed = shingleRows(docs, w, distinct = false)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val ps = perms(nPerm)
    val sigAgg = org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.graft.MinHashAgg(
        org.apache.spark.sql.graft.ColumnBridge.expression(pmod(col("h"), lit(P))),
        ps.map(_._1).toArray, ps.map(_._2).toArray, P)
        .toAggregateExpression())
    hashed.groupBy("doc_id")
      .agg(sigAgg.as("sig"), array_sort(collect_set(col("h"))).as("hs"))
  }

  /** The nPerm-column declarative formulation — kept as the equivalence
    * oracle for [[minhashFromHashedRows]] (same permutations, same
    * output, but falls out of codegen past ~100 fields).
    */
  private[graft] def minhashFromHashedRowsDeclarative(hashed: DataFrame, nPerm: Int): DataFrame = {
    val permCols = perms(nPerm).zipWithIndex.map { case ((a, b), k) =>
      min(pmod(lit(a) * col("h") + lit(b), lit(P))).as(s"m$k")
    }
    hashed.groupBy("doc_id")
      .agg(permCols.head, permCols.tail: _*)
      .select(col("doc_id"), array((0 until nPerm).map(k => col(s"m$k")): _*).as("sig"))
  }

  /** MinHash + LSH banding + exact-Jaccard verification at threshold
    * `t` = 0.8. Bands: 32 × 4 rows. Output ≡ exact all-pairs Jaccard ≥ t
    * (up to ~5e-8 miss probability), at candidate-join cost.
    */
  def minhashLsh(s: SparkSession, d: String, t: Double = 0.8,
                 w: Int = 5, bands: Int = 32, rows: Int = 4): DataFrame =
    minhashPairs(s, d, t, w, bands, rows)
      .select(col("ia"), col("ib"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("ia", "ib")

  /** Session-scoped memo of verified pair lists: the pair list is the
    * shared upstream of [[minhashLsh]] / [[dupClusters]] / [[keepBest]]
    * / CuratePipeline, and a real pipeline computes it ONCE per corpus
    * snapshot, not once per consumer. The artifact is tiny (near-dup
    * pairs only) and held as a CACHED DataFrame, not a localCheckpoint:
    * cache keeps the lineage, so if an outer harness evicts all storage
    * between queries the next consumer transparently recomputes instead
    * of failing on a truncated-lineage checkpoint block.
    */
  private val pairMemo = new SessionMemo[(Double, Int, Int, Int), DataFrame](
    "dedup_pairs_warm", _.unpersist())

  /** Verified near-dup pairs (ia, ib, jaccard) — memoized, eagerly
    * materialized.
    */
  private[graft] def minhashPairs(s: SparkSession, d: String, t: Double = 0.8,
                                  w: Int = 5, bands: Int = 32, rows: Int = 4): DataFrame =
    pairMemo.getOrElseUpdate(s, d, (t, w, bands, rows))(
      minhashPairsUncached(s, d, t, w, bands, rows))

  private def minhashPairsUncached(s: SparkSession, d: String, t: Double,
                                   w: Int, bands: Int, rows: Int): DataFrame = {
    // shingles are reduced to 64-bit hashes IMMEDIATELY — every shuffle
    // downstream (signature agg, verify dedup, intersection join)
    // carries (long, long) rows, never shingle strings. The VERIFY path
    // keeps the full xxhash64 value (set semantics on hashes ≡ set
    // semantics on shingles up to ~n²/2⁶⁴ collisions per doc pair);
    // only the minhash permutation input is reduced mod P = 2³¹−1
    // (the permutation family needs a prime field — a collision there
    // only perturbs the CANDIDATE signature, never the verified result).
    val ex = hashedShingleRows(s, d, w)
    val sigs = minhashFromHashedRows(
      ex.select(col("doc_id"), pmod(col("h"), lit(P)).as("h")), bands * rows)
    // CACHE before the band self-join: both join sides evaluate the
    // bucket subtree, so an uncached formulation runs the 128-perm
    // signature aggregation over the full shingle stream TWICE — the
    // single most expensive subtree of the fill (guide §5 caching:
    // reused AND expensive to recompute). One row per (doc × band).
    val buckets = bandBuckets(sigs, bands, rows).cache()
    // the candidate set is pair-list-sized but its LINEAGE carries the
    // whole 128-perm signature pipeline; it feeds the verify path
    // TWICE (candDocs' broadcast side + the verified join) and the
    // band self-join already evaluates the signature subtree on both
    // sides — without materialization the signature aggregate runs
    // ~3×. Cache + eager count here (tiny rows, corpus-sized lineage):
    // measured ~40% off the whole fill at sf0.1.
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .distinct()
      .cache()
    cand.count()
    // exact verification on candidates only: prune the shingle stream to
    // docs in any candidate pair (broadcast semi-join — candidates ≪
    // corpus), reduce each to ONE sorted distinct-hash array, then score
    // each pair with the native merge-walk kernel (graft_jaccard) — one
    // codegen'd O(|A|+|B|) pass per pair instead of a per-shingle join +
    // groupBy count. Array size is bounded by doc length; the row-join
    // verify shape remains the fallback for pathological megadocs.
    val candDocs = cand.select(col("ia").as("doc_id"))
      .union(cand.select(col("ib").as("doc_id"))).distinct()
    val docArrs = ex.join(broadcast(candDocs), "doc_id")
      .groupBy("doc_id").agg(array_sort(collect_set(col("h"))).as("hs"))
    val verified = cand
      .join(docArrs.select(col("doc_id").as("ia"), col("hs").as("ha")), "ia")
      .join(docArrs.select(col("doc_id").as("ib"), col("hs").as("hb")), "ib")
      .withColumn("jaccard", jaccardSorted(col("ha"), col("hb")))
      .filter(col("jaccard") >= t)
      .select(col("ia"), col("ib"), col("jaccard"))
      .cache()
    verified.count() // eager: the memo hands out a materialized artifact
    buckets.unpersist()
    cand.unpersist() // ex stays pinned — it is the shared shingle memo
    verified
  }

  /** 64-bit SimHash over word hashes; candidate pairs by 8×8-bit block
    * banding (pigeonhole: hamming ≤ 7 ⇒ ≥ 1 identical block, recall 1),
    * verified by exact hamming ≤ 7. Short documents flip several
    * near-tied vote bits per edited word, so the radius is wider than
    * the classic 64-bit/hamming-3 web setting; at billion-doc scale the
    * block width trades candidate volume against radius explicitly.
    * Hash-dependent → rows-only check.
    *
    * SKEW DISCIPLINE (the [[candidatePairCounts]] cap, on the simhash
    * axis): the block join runs over DISTINCT SIGNATURES, not docs —
    * the realistic skew (thousands of near-identical docs collapsing
    * onto few signatures) costs ONE signature row per cluster in the
    * join, and the cluster's true pairs re-expand only in the output
    * (inherent to the pair contract). What remains is the low-entropy-
    * block hazard (many DISTINCT signatures sharing one byte value —
    * e.g. a corpus whose vote bits rarely set in one block): buckets
    * whose distinct-signature df exceeds `dfCap` are dropped from
    * candidate generation, bounding candidates at 8·256·C(dfCap,2)
    * sig-pairs absolutely. RECALL CONTRACT: a pair whose ONLY shared
    * blocks are all capped is missed — recall stays 1 while every
    * bucket is under the cap (parity-spec'd; the cap is 0 rows at the
    * gate SFs), and the knob prices the trade explicitly past that.
    */
  def simhash(s: SparkSession, d: String, dfCap: Int = 4096): DataFrame =
    simhashPairsOf(simhashSigs(s, d), dfCap)

  /** Session-scoped memo of the (doc_id, simhash) SIGNATURE relation —
    * the [[minhashPairs]] pairMemo discipline on the simhash axis: the
    * shingle-explode + 64-column vote aggregate is per-corpus-snapshot
    * state consumed by [[simhash]] AND [[dedupRecallEval]]'s simhash
    * arm (which used to pay the whole reshape inside the eval line —
    * the one r6→r7 serving regression). Tiny (one long per doc),
    * pinned by an EAGER localCheckpoint — the lineage TRUNCATION
    * matters, not just the caching: the four sig-level consumers that
    * follow (distinct sigs, two expansion joins, the same-sig join)
    * would otherwise each carry the shingle-explode + 64-column vote
    * aggregate in their plans (the PlanAudit shuffle budget catches
    * exactly that). No onEvict: checkpointed RDD blocks are released
    * by the ContextCleaner when the entry drops (DataFrame.unpersist
    * cannot reach them).
    */
  private val simhashSigMemo = new SessionMemo[Unit, DataFrame]("dedup_simhash_warm")

  private[graft] def simhashSigs(s: SparkSession, d: String): DataFrame =
    simhashSigMemo.getOrElseUpdate(s, d, ()) {
      // explode → per-bit vote aggregation (partial-agg'd 64-column
      // sum), then reassemble the 64-bit signature from the vote signs.
      // Features are distinct word BIGRAMS: the synthetic corpus has a
      // ~20-word vocabulary, so unigram feature sets collide across
      // unrelated docs and the block join degenerates to ~all-pairs;
      // bigrams give a feature space that separates documents.
      // hash bigrams to 64-bit BEFORE the distinct: the set-semantics
      // shuffle carries (long, long) rows, not bigram strings
      val hashed = shingleRows(Tables.documents(s, d), w = 2, distinct = false)
        .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
        .dropDuplicates("doc_id", "h")
      val voteCols = (0 until 64).map(j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j"))
      val votes = hashed.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      votes.select(col("doc_id"),
        (0 until 64).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
        .localCheckpoint(true) // eager: the memo hands out pinned rows
    }

  /** Sig-level banding candidates over any (doc_id, simhash) relation:
    * distinct signatures explode into 8 (blk, bval) buckets; buckets
    * with distinct-signature df > dfCap are dropped (the bucket
    * universe is ≤ 8·256 rows, so the hot set is a broadcast
    * anti-join, never a shuffle). The spec surface for the candidate
    * volume bound.
    */
  private[graft] def simhashSigCandidates(sim: DataFrame, dfCap: Int): DataFrame = {
    val blocks = sim.select(col("simhash")).distinct()
      .select(col("simhash"),
        posexplode(array((0 until 8).map(b =>
          shiftright(col("simhash"), b * 8).bitwiseAND(0xFFL)): _*)))
      .toDF("simhash", "blk", "bval")
    val hot = blocks.groupBy("blk", "bval").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
    val kept = blocks.join(broadcast(hot.select("blk", "bval")),
      Seq("blk", "bval"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
  }

  /** Full pair expansion: verified cross-signature pairs (bit_count on
    * the sig pair — computed ONCE per signature pair, not per doc pair)
    * plus within-signature pairs (hamming 0 by construction, never
    * subject to the cap). Only signature pairs and (doc, sig) rows
    * shuffle; doc pairs materialize solely in the output.
    */
  private[graft] def simhashPairsOf(sim: DataFrame, dfCap: Int): DataFrame = {
    val sigPairs = simhashSigCandidates(sim, dfCap)
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= 7)
    val cross = sigPairs
      .join(sim.select(col("doc_id").as("da"), col("simhash").as("sa")), "sa")
      .join(sim.select(col("doc_id").as("db"), col("simhash").as("sb")), "sb")
      .select(least(col("da"), col("db")).as("ia"),
        greatest(col("da"), col("db")).as("ib"), col("hamming"))
    val same = sim.as("a").join(sim.as("b"),
        col("a.simhash") === col("b.simhash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        lit(0).as("hamming"))
    cross.unionByName(same).orderBy("ia", "ib")
  }

  /** Connected components over the near-dup pair graph → canonical
    * cluster id (min doc_id in the component) per clustered doc — the
    * step after pair finding in a real dedup pipeline (keep one doc per
    * cluster). Min-label propagation with POINTER DOUBLING: each round
    * takes the min over neighbor labels, then jumps label := label(label)
    * — halving the remaining path length, so convergence is O(log
    * diameter) rounds instead of O(diameter). Every intermediate is
    * `localCheckpoint`ed eagerly: without that the loop's lineage grows
    * round over round and the driver re-optimizes an ever-larger plan
    * (measured 35 s → ~3 s at sf0.1 from the two fixes together). Only
    * (node, label) pairs shuffle; the edge list is materialized once.
    */
  def dupClusters(s: SparkSession, d: String, t: Double = 0.8): DataFrame =
    // the memoized pair list is already materialized, so its double
    // appearance in the symmetrizing union inside costs nothing extra
    clustersOfPairs(s, minhashPairs(s, d, t).select(col("ia"), col("ib")))

  /** Connected components over ANY (ia, ib) near-dup pair list —
    * (doc_id, cluster_id) with the component-min id as the canonical
    * label. Shared by the text clustering ([[dupClusters]]) and the
    * media pHash clustering (`Multimodal.phashClusters`).
    *
    * HYBRID: the near-dup pair graph is normally ≪ the corpus (it holds
    * only docs with a ≥t twin). When the edge list fits one task, a
    * single-pass executor-side union-find replaces an O(log d)-round
    * distributed loop — one job instead of ~2 per round. The iterative
    * pointer-doubling path remains the route for pathological
    * pair graphs (e.g. crawl corpora that are 50% boilerplate dups).
    */
  private[graft] def clustersOfPairs(s: SparkSession, pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("ia", "ib")
    val edges = p.union(p.select(col("ib"), col("ia")))
      .toDF("src", "dst").localCheckpoint(true)
    val nEdges = edges.count()
    if (nEdges <= 10000000L) unionFindLocal(s, edges)
    else labelPropagation(s, edges)
  }

  /** Scale path: distributed pointer-doubling min-label propagation over
    * a (src, dst) edge list (must be symmetric). Equivalent to
    * [[unionFindLocal]] — EquivalenceSpec checks both against a
    * reference on random graphs.
    */
  private[graft] def labelPropagation(s: SparkSession, edges: DataFrame,
                                      maxRounds: Int = 20): DataFrame = {
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val viaEdges = edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .select(col("src").as("id"), col("label"))
      // materialized before the self-join below: gives the join two
      // clean leaf plans (the union+agg lineage self-joined trips
      // Catalyst's Union constraint rewrite) and computes prop once
      val prop = labels.union(viaEdges)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint(true)
      // pointer jump: a label is itself a node id, so follow one hop of
      // the label function — label := label(label). Not checkpointed:
      // its only input (prop) is, so the plan stays two joins deep; the
      // convergence count below is the one job that materializes it.
      val jumped = prop.as("a")
        .join(prop.select(col("id").as("label"), col("label").as("ll")).as("b"),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("ll"), col("label")).as("label"))
      val changed = jumped.join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).count()
      labels = jumped
      converged = changed == 0
      rounds += 1
    }
    // maxRounds (default 20) of propagate+pointer-jump converge any
    // component of diameter ≲ 2^maxRounds; past that, returning the
    // current labels would hand downstream keep/split policies a
    // component carrying SEVERAL cluster ids with no signal anything
    // went wrong — fail loudly instead (the readN discipline: never
    // serve an uncertified answer). The cap is a PARAMETER so the
    // remediation the message names is actually available to callers
    // (ADVICE r8: a hardcoded cap made a long-chain component
    // unrecoverable without a code change).
    require(converged,
      s"labelPropagation did not converge in $maxRounds rounds — a " +
        "component's diameter exceeds the pointer-jump horizon; retry " +
        "with a higher maxRounds or pre-coalesce chains before labeling")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Small-graph path: weighted-by-min union-find with path compression
    * over the coalesced edge list — one executor task, one job. Roots
    * are always the component-min id (union attaches the larger root
    * under the smaller), so find(x) = canonical cluster id directly.
    */
  private[graft] def unionFindLocal(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    edges.select(col("src"), col("dst")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          parent(x) = r
          r
        }
        it.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        // find() writes parent(x) for every endpoint it sees (roots map
        // to themselves), so the key set is exactly the node set
        parent.keysIterator.map(id => (id, find(id)))
      }
      .toDF("doc_id", "cluster_id")
      .orderBy("doc_id")
  }

  /** Train→eval DECONTAMINATION: per eval-split document, how much of it
    * appears verbatim (word-8-gram granularity) in the train split — the
    * standard benchmark-leakage check run before training. Output: every
    * eval doc with its distinct-8-gram count, how many of those 8-grams
    * occur in ANY train doc, how many distinct train docs share one, and
    * the hit ratio (the number a pipeline thresholds on, e.g. ≥ 0.5 ⇒
    * drop from eval / flag train doc).
    *
    * Scale shape: both sides reduce to (doc_id, xxhash64(8-gram)) rows
    * before any shuffle; the overlap join keys on the 8-byte hash. The
    * train side at 100 TB stays fully distributed — no per-doc state, no
    * driver collection; skewed grams (boilerplate) are AQE-split.
    */
  def decontaminate(s: SparkSession, d: String, w: Int = 8,
                    evalSources: Seq[String] = Seq("src0", "src1", "src2", "src3")): DataFrame = {
    val docs = Tables.documents(s, d)
    def grams(part: DataFrame) =
      shingleRows(part, w, distinct = false)
        .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val ev = grams(docs.filter(col("source").isin(evalSources: _*)))
      .dropDuplicates("doc_id", "h")
    val tr = grams(docs.filter(!col("source").isin(evalSources: _*)))
      .select(col("h"), col("doc_id").as("train_id"))
    val sizes = ev.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
    val hits = ev.join(tr, "h")
      .groupBy("doc_id")
      .agg(countDistinct("h").as("n_hit"), countDistinct("train_id").as("n_train_docs"))
    sizes.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_ngrams"), 4).as("hit_ratio"))
      .orderBy("doc_id")
  }

  /** CONTAMINATION ATTRIBUTION by train source — [[decontaminate]]
    * answers "which EVAL docs leak"; this answers the operational
    * follow-up: "which TRAIN FEED carries the leaked copies" (the feed
    * to scrub or cut). Pairs an eval doc with a train doc when they
    * share ≥ `minShared` distinct 8-grams whose train-side document
    * frequency is ≤ `dfCap` (the candidatePairCounts lesson: one
    * boilerplate gram would otherwise pair every eval doc with every
    * train doc — capped grams are excluded from BOTH candidate
    * generation and the shared count, so the metric is exactly
    * "shared non-boilerplate grams", identical in both engines), then
    * rolls up per train source: implicated train docs, touched eval
    * docs, pair count. Scale shape: both sides reduce to 8-byte gram
    * hashes, the pair relation is contamination-sized, the rollup is
    * \|sources\| rows.
    */
  def contaminationBySource(s: SparkSession, d: String, w: Int = 8,
                            minShared: Int = 3, dfCap: Int = 1024,
                            evalSources: Seq[String] = Seq("src0", "src1", "src2", "src3")): DataFrame = {
    val docs = Tables.documents(s, d)
    def grams(part: DataFrame) =
      shingleRows(part, w, distinct = false)
        .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
        .dropDuplicates("doc_id", "h")
    val ev = grams(docs.filter(col("source").isin(evalSources: _*)))
      .select(col("h"), col("doc_id").as("eval_id"))
    val tr = grams(docs.filter(!col("source").isin(evalSources: _*)))
      .select(col("h"), col("doc_id").as("train_id"))
    val hot = tr.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("h")
    val pairs = ev.join(tr.join(hot, Seq("h"), "left_anti"), "h")
      .groupBy("eval_id", "train_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(docs.select(col("doc_id").as("train_id"), col("source")), "train_id")
      .groupBy("source")
      .agg(countDistinct("train_id").as("n_train_docs"),
        countDistinct("eval_id").as("n_eval_docs"),
        count(lit(1)).as("n_pairs"),
        max("shared").as("max_shared"))
      .orderBy("source")
  }

  /** Corpus-wide duplicate-n-gram audit (RefinedWeb/CCNet-style): per
    * document, the fraction of its DISTINCT w-grams that also occur in
    * at least one OTHER document. [[decontaminate]] against the corpus
    * itself — the boilerplate/template-contamination gate.
    *
    * Scale shape: documents reduce to (doc_id, xxhash64(w-gram)) rows
    * before any exchange; the occurrence count per gram is a partial-
    * agg'd groupBy on the 8-byte hash; the join back to docs moves only
    * (hash, n_docs≥2) pairs. Text never shuffles.
    */
  def dupNgramFraction(s: SparkSession, d: String, w: Int = 5): DataFrame = {
    val grams = shingleRows(Tables.documents(s, d), w, distinct = false)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .dropDuplicates("doc_id", "h")
    val shared = grams.groupBy("h")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("h")
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
    val hits = grams.join(shared, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    sizes.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_ngrams"), 4)
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** KEEP-BEST dedup policy: within each near-dup cluster, keep the
    * highest-quality member (longest in words, ties to lowest doc_id) —
    * what production pipelines actually retain, vs the canonical-min-id
    * convenience of [[dupClusters]]. One window rank over the
    * cluster-assignment output joined to a words-count projection.
    */
  def keepBest(s: SparkSession, d: String, t: Double = 0.8): DataFrame = {
    val clusters = dupClusters(s, d, t)
    val quality = Tables.documents(s, d)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_words"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("n_words").desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"), col("n_words"))
      .orderBy("cluster_id")
  }

  /** The near-dup evaluation corpus: the embeddings table plus a
    * deterministic perturbed copy of the first 50 vectors (first
    * component +0.01, id +100000) so near-dup positives exist in the
    * synthetic data.
    */
  private def nearDupCorpus(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val perturbed = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"),
        concat(array(col("vec")(0) + 0.01), slice(col("vec"), 2, 10000)).as("vec"))
    emb.unionByName(perturbed)
  }

  /** Coarse quantizers of the embedding near-dup tier, keyed (nlist,
    * iters) — one memo per corpus: [[nearDupCorpus]] (shared by
    * [[embeddingNearDupIvf]] and [[semanticDedup]]: the same corpus,
    * nlist and iters train the same centroids, so one fit serves both)
    * and the raw embeddings a [[graft.api.CuratePipeline]] dedups.
    */
  private val nearDupQuantizers =
    new SessionMemo[(Int, Int), Seq[(Long, Seq[Double])]]("dedup_quantizer_warm")
  private[graft] val rawEmbeddingQuantizers =
    new SessionMemo[(Int, Int), Seq[(Long, Seq[Double])]]("curate_quantizer_warm")

  /** Embedding-cosine near-duplicates ≥ 0.99, exact blocked all-pairs —
    * the oracle-checkable baseline, NOT the scale route: the compare is
    * O(n²) by construction. `maxRows` guards the foot-gun — beyond it
    * the call fails fast with a pointer to the sub-quadratic twins
    * ([[embeddingNearDupLsh]], [[embeddingNearDupIvf]],
    * [[semanticDedup]]) instead of launching a quadratic job that looks
    * fine at test SF and never finishes on a real corpus. The default
    * (1M vectors ⇒ ~5·10¹¹ pairs) is already past what a sane exact
    * audit spends; pass a larger cap explicitly to override.
    */
  def embeddingNearDup(s: SparkSession, d: String, t: Double = 0.99,
                       maxRows: Long = 1000000L): DataFrame = {
    val all = nearDupCorpus(s, d)
    val n = all.count()
    require(n <= maxRows,
      s"embeddingNearDup is exact all-pairs (O(n²)): corpus has $n vectors " +
        s"(cap $maxRows). Use embeddingNearDupLsh / embeddingNearDupIvf / " +
        "semanticDedup at scale, or raise maxRows explicitly.")
    all.as("a").join(all.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        cosineSim(col("a.vec"), col("b.vec")).as("cs"))
      .filter(col("cs") >= t)
      .select(col("ia"), col("ib"), round(col("cs"), 4).as("cosine"))
      .orderBy("ia", "ib")
  }

  /** SUB-QUADRATIC embedding near-dup: random-hyperplane LSH bucketing
    * with hamming-1 multiprobe → candidate pairs → exact-cosine verify.
    * Two vectors at cosine ≥ 0.99 disagree on a sign bit only when a
    * hyperplane nearly grazes both (P ≈ acos(0.99)/π ≈ 4.5% per bit),
    * so own-bucket + one-bit-flip probing catches essentially all true
    * pairs while candidate volume scales with bucket occupancy, not n².
    * The corpus shuffles only (bucket, id) pairs; exact verification
    * touches candidates only — the same prune-then-verify shape as
    * [[minhashLsh]]. Approximate → recall spec, not a DuckDB oracle.
    */
  /** IVF-BUCKETED embedding near-dup (SURVEY §7.1's round-2 item): the
    * k-means coarse quantizer as the candidate blocker. Every vector
    * posts to its 2 nearest centroids (2-probe handles twins straddling
    * a Voronoi boundary); same-list pairs are verified with exact
    * cosine. vs [[embeddingNearDupLsh]]: data-adaptive blocks — on
    * clustered real corpora the candidate volume tracks cluster
    * occupancy, and the SAME centroids/layout already exist when an
    * AnnIndex was built, so near-dup verification rides the index build
    * for free. Emitted pairs ⊂ exact set; recall spec vs the planted
    * twins, not a DuckDB oracle.
    */
  def embeddingNearDupIvf(s: SparkSession, d: String, t: Double = 0.99,
                          nlist: Int = 16, iters: Int = 3): DataFrame = {
    val all = nearDupCorpus(s, d).cache()
    val cents = nearDupQuantizers.getOrElseUpdate(s, d, (nlist, iters))(
      Ann.kmeansCentroids(all, nlist, iters))
    val posts = all.select(col("vec_id"),
      explode(slice(Ann.rankedCentroids(col("vec"), cents), 1, 2)
        .getField("cid")).as("cid"))
    val cand = posts.as("a").join(posts.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
      .distinct()
    cand
      .join(all.select(col("vec_id").as("ia"), col("vec").as("va")), "ia")
      .join(all.select(col("vec_id").as("ib"), col("vec").as("vb")), "ib")
      .select(col("ia"), col("ib"), cosineSim(col("va"), col("vb")).as("cs"))
      .filter(col("cs") >= t)
      .select(col("ia"), col("ib"), round(col("cs"), 4).as("cosine"))
      .orderBy("ia", "ib")
  }

  /** Duplicate-SPAN structure audit (the span-level view behind
    * substring-dedup à la Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better"): per document, the maximal RUNS of
    * consecutive 5-grams that also appear in another document — where
    * [[dupNgramFraction]] reports how MUCH of a doc is duplicated,
    * this reports the span structure (how many contiguous runs, how
    * long) that an excision pass would actually cut. Runs shorter than
    * `minRun` grams are noise (single shared phrases) and are dropped.
    *
    * Shape: positioned grams reduce to (doc, pos, xxhash64) rows; the
    * cross-doc duplicate set is a partial-agg'd distinct-doc count on
    * the 8-byte hash; runs fall out of ONE per-doc window pass via the
    * gaps-and-islands trick (pos − row_number is constant exactly on a
    * consecutive run). Nothing wider than (doc, pos) ever shuffles.
    */
  // the REPORT memoizes (doc-count rows, localCheckpointed — no
  // onEvict, the simhashSigMemo note): the previous per-call
  // grams.cache() was never released, which leaked corpus-scale blocks
  // for the session AND doubled as an accidental plan-matched memo —
  // this is the explicit, released form of the same reuse
  private val dupSpanMemo = new SessionMemo[String, DataFrame]("dup_spans_warm")

  def dupSpans(s: SparkSession, d: String, w: Int = 5, minRun: Int = 3): DataFrame =
    dupSpanMemo.getOrElseUpdate(s, d, s"$w:$minRun")(
      dupSpansUncached(s, d, w, minRun))

  private def dupSpansUncached(s: SparkSession, d: String, w: Int,
                               minRun: Int): DataFrame = {
    // positional grams from the ONE shared shingle definition
    val grams = shinglePosRows(Tables.documents(s, d), w)
      .select(col("doc_id"), col("pos"), xxhash64(col("shingle")).as("h"))
      .cache()
    try {
      val dupSet = grams.groupBy("h")
        .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2).select("h")
      val wdoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val runs = grams.join(dupSet, "h")
        .select(col("doc_id"), col("pos"))
        .withColumn("grp", col("pos") - row_number().over(wdoc))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
        .filter(col("run") >= minRun)
      val agg = runs.groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_runs"), max("run").as("max_run"),
          sum("run").as("dup_grams"))
      grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_dup_runs"), lit(0L)).as("n_dup_runs"),
          coalesce(col("max_run"), lit(0L)).as("max_run"),
          round(coalesce(col("dup_grams"), lit(0L)).cast("double") / col("n_grams"), 4)
            .as("dup_run_ratio"))
        .orderBy("doc_id")
        // eager few-rows materialization so the corpus-sized positional
        // gram cache releases NOW instead of leaking for the session
        // (the recallEval try/finally discipline)
        .localCheckpoint()
    } finally grams.unpersist()
  }

  /** Substring-dedup EXCISION (the removal half of Lee et al. 2022 —
    * [[dupSpans]] is the audit): cut every token covered by a maximal
    * run of ≥ `minRun` consecutive cross-doc-duplicated w-grams out of
    * the document and reassemble the remaining text. A run of R grams
    * starting at gram position p covers tokens [p, p+R+w−2]; runs can
    * overlap, so coverage dedupes to distinct (doc, token) positions
    * before the cut. Emits per doc the original token count, tokens
    * removed, and md5/length of the cleaned text (the text itself stays
    * out of the verification row — hashes compare engine-portably).
    *
    * Scale shape: identical to the audit up to the run list (8-byte
    * gram hashes, (doc, pos) windows); coverage explodes each run to
    * its ≤ run+w−1 positions (bounded by the doc's own length, linear
    * overall); the rebuild exchanges (doc, pos, token) rows ONCE for
    * the per-doc ordered reassembly. Deterministic and SQL-expressible
    * end to end → full DuckDB oracle.
    */
  def exciseDupSpans(s: SparkSession, d: String, w: Int = 5, minRun: Int = 3): DataFrame = {
    val ws = split(col("text"), " ")
    val len = greatest(size(ws) - w + 1, lit(0))
    val parts = (0 until w).map(j => slice(ws, lit(j + 1), len).as(s"w$j"))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val grams = docs
      .select(col("doc_id"), posexplode(arrays_zip(parts: _*)).as(Seq("pos", "z")))
      .select(col("doc_id"), col("pos"),
        xxhash64(concat_ws(" ", (0 until w).map(j => col(s"z.w$j")): _*)).as("h"))
    val dupSet = grams.groupBy("h")
      .agg(countDistinct("doc_id").as("nd")).filter(col("nd") >= 2).select("h")
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val runs = grams.join(dupSet, "h")
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(wdoc))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("p0"), count(lit(1)).as("run"))
      .filter(col("run") >= minRun)
    val covered = runs
      .select(col("doc_id"),
        explode(sequence(col("p0"), col("p0") + col("run") + lit(w - 2))).as("tpos"))
      .distinct()
    val kept = docs.select(col("doc_id"), posexplode(ws).as(Seq("tpos", "tok")))
      .join(covered, Seq("doc_id", "tpos"), "left_anti")
    val clean = kept.groupBy("doc_id").agg(
      array_join(transform(
        array_sort(collect_list(struct(col("tpos"), col("tok")))),
        x => x.getField("tok")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    docs.select(col("doc_id"), size(ws).cast("long").as("n_tokens"))
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"),
        length(coalesce(col("clean_text"), lit(""))).cast("long").as("clean_len"))
      .orderBy("doc_id")
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023): k-means
    * the embedding space, then WITHIN each cluster greedily prune
    * vectors that have a near-duplicate (cosine ≥ t) of higher
    * priority, where priority = closer to the cluster centroid (the
    * kept member of every near-dup group is its most "prototypical"
    * example; 6dp-rounded distances, id tiebreak → deterministic).
    * Emits every vector with its cluster and keep verdict — the
    * retention-policy twin of [[embeddingNearDupIvf]]'s pair listing.
    *
    * RETENTION SEMANTICS (deliberate, stricter than greedy SemDeDup):
    * a vector is dropped if ANY higher-priority cluster-mate is a
    * near-dup — whether or not that mate itself survives. Greedy-
    * against-kept (the paper's sequential scan) would re-keep the
    * third member of an a~b, b~c chain once b is gone; resolving that
    * needs a per-cluster sequential fixpoint that doesn't batch. The
    * one-pass transitive drop is deterministic, order-free, and keeps
    * the guarantee that matters for dedup (NO two kept members are
    * near-dups) at the cost of pruning chains slightly harder — the
    * conservative side for training-data curation.
    *
    * Scale shape: clustering is the same driver-sized seeded k-means
    * the IVF index build uses (assignment = one codegen'd map pass);
    * the quadratic compare is confined per cluster (n²/k vs n² —
    * SemDeDup's actual trick), and the compare self-join runs on the
    * 3-column (id, cluster, cdist) projection — no vector crosses its
    * exchange (plan-guarded); vectors re-attach to the surviving
    * candidate PAIRS by two id-keyed joins, so the vector relation
    * shuffles n rows once, not once per pair. k-means +
    * hash-partitioned clusters → no DuckDB oracle; rows-only +
    * DedupSpec (drops are exactly the lower-priority members of exact
    * near-dup pairs within a cluster).
    */
  def semanticDedup(s: SparkSession, d: String, t: Double = 0.99,
                    nlist: Int = 16, iters: Int = 3): DataFrame =
    semanticDedupOver(s, d, nearDupCorpus(s, d), nearDupQuantizers, t, nlist, iters)

  /** [[semanticDedup]]'s core over an EXPLICIT corpus. The inventory
    * row runs it over [[nearDupCorpus]] (the twin-planted eval corpus,
    * so near-dup positives exist in synthetic data); a PIPELINE caller
    * must pass the real embeddings table instead —
    * [[graft.api.CuratePipeline]] consuming the eval-corpus drop set
    * would delete a real document whose only "near-dup" is a planted
    * phantom that exists in no documents table (a unique doc silently
    * lost, the one thing a dedup gate must never do).
    */
  private[graft] def semanticDedupOver(s: SparkSession, d: String,
      corpus: DataFrame,
      quantizers: SessionMemo[(Int, Int), Seq[(Long, Seq[Double])]],
      t: Double = 0.99,
      nlist: Int = 16, iters: Int = 3): DataFrame = {
    val all = corpus.cache()
    val cents = quantizers.getOrElseUpdate(s, d, (nlist, iters))(
      Ann.kmeansCentroids(all, nlist, iters))
    val assigned = all
      .select(col("vec_id"), col("vec"),
        Ann.rankedCentroids(col("vec"), cents)(0).as("nc"))
      .select(col("vec_id"), col("vec"), col("nc").getField("cid").as("cluster"),
        round(col("nc").getField("d"), 6).as("cdist"))
    val keys = assigned.select(col("vec_id"), col("cluster"), col("cdist"))
    val candPairs = keys.as("a").join(keys.as("b"),
        col("a.cluster") === col("b.cluster") &&
          (col("a.cdist") < col("b.cdist") ||
            (col("a.cdist") === col("b.cdist") && col("a.vec_id") < col("b.vec_id"))))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
    val vecs = all.select(col("vec_id"), col("vec"))
    val dropped = candPairs
      .join(vecs.select(col("vec_id").as("ia"), col("vec").as("va")), "ia")
      .join(vecs.select(col("vec_id").as("ib"), col("vec").as("vb")), "ib")
      .filter(cosineSim(col("va"), col("vb")) >= t)
      .select(col("ib").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dropped"), lit(false)).as(("dropped")))
      .withColumn("kept", !col("dropped")).drop("dropped")
      .orderBy("vec_id")
  }

  def embeddingNearDupLsh(s: SparkSession, d: String, t: Double = 0.99,
                          nBits: Int = 12, dim: Int = 64): DataFrame = {
    val all = nearDupCorpus(s, d).cache()
    val rnd = new scala.util.Random(11)
    val planes = Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
    def sig(v: Column): Column =
      planes.zipWithIndex.map { case (p, i) =>
        when(dot(v, array(p.map(lit): _*)) >= 0, shiftleft(lit(1), i)).otherwise(0)
      }.reduce(_ + _)
    // multiprobe: each vector posts to its own bucket and every
    // hamming-1 neighbor — colliding posts ⇒ candidate pair
    val posts = all.select(col("vec_id"), sig(col("vec")).as("b0"))
      .select(col("vec_id"), explode(array(col("b0") +:
        (0 until nBits).map(i => col("b0").bitwiseXOR(lit(1 << i))): _*)).as("bucket"))
    val cand = posts.as("a").join(posts.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
      .distinct()
    cand
      .join(all.select(col("vec_id").as("ia"), col("vec").as("va")), "ia")
      .join(all.select(col("vec_id").as("ib"), col("vec").as("vb")), "ib")
      .select(col("ia"), col("ib"), cosineSim(col("va"), col("vb")).as("cs"))
      .filter(col("cs") >= t)
      .select(col("ia"), col("ib"), round(col("cs"), 4).as("cosine"))
      .orderBy("ia", "ib")
  }

  /** INCREMENTAL dedup gate: admit a NEW batch of documents against an
    * already-ingested index corpus — the day-2 shape of every corpus
    * build (full-corpus self-dedup runs once; every later crawl drop is
    * batch-vs-index). Two tiers, same verdict row per batch doc:
    * exact (128-bit content-hash anti-join) and near (fraction of the
    * doc's distinct w-grams already present in the index vocabulary —
    * [[decontaminate]]'s containment, aimed at ingest). `keep` is the
    * admission verdict: no exact twin AND gram containment < `t`.
    *
    * Scale shape: the index side reduces to DISTINCT 16-byte text
    * hashes and DISTINCT 8-byte gram hashes — both join keys, never
    * text; the batch (normally ≪ index) partial-aggs per doc before
    * the verdict join. At 100 TB the index gram vocabulary is itself a
    * persisted bucketed relation (build once per corpus version), so an
    * ingest batch costs one broadcast-or-bucketed hash join, no index
    * rescan. The streaming twin is `EventStreams`' near-dup gate; this
    * is the batch-mode contract.
    */
  def incrementalDedup(s: SparkSession, d: String, w: Int = 8,
                       t: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val index = docs.filter(col("doc_id") % 10 =!= 0)
    val idxKeys = index.select(md5(lower(trim(col("text")))).as("k")).distinct()
    val ig = shingleRows(index, w).select(xxhash64(col("shingle")).as("h")).distinct()
    incrementalVerdict(batch, idxKeys, ig, w, t)
  }

  /** Persist the index side's DISTINCT w-gram hash vocabulary as a
    * hash-bucketed (and sorted) table keyed on the gram hash — the
    * "persisted bucketable relation" [[incrementalDedup]]'s scale
    * contract names: built ONCE per corpus version, after which every
    * ingest batch's gram-containment join reads the layout directly —
    * ZERO exchange on the index side, the batch alone shuffles to the
    * bucket grid (PlanInvariantsSpec proves the plan).
    */
  def writeGramVocabulary(index: DataFrame, table: String, w: Int = 8,
                          nBuckets: Int = 32): Unit =
    graft.sources.Sources.writeBucketed(
      shingleRows(index, w).select(xxhash64(col("shingle")).as("h")).distinct(),
      table, "h", nBuckets)

  /** [[incrementalDedup]] serving against the PERSISTED bucketed gram
    * vocabulary ([[writeGramVocabulary]]) instead of re-deriving it from
    * index text — the day-2 ingest path at 100 TB: the vocabulary
    * relation (multi-GB) is read in place, bucket-aligned to the join.
    * Same verdict contract; DedupSpec proves row equality with the
    * inline variant.
    */
  def incrementalDedupBucketed(s: SparkSession, d: String, vocabTable: String,
                               w: Int = 8, t: Double = 0.5): DataFrame = {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val index = docs.filter(col("doc_id") % 10 =!= 0)
    val idxKeys = index.select(md5(lower(trim(col("text")))).as("k")).distinct()
    incrementalVerdict(batch, idxKeys, s.table(vocabTable), w, t)
  }

  /** Shared verdict assembly for the incremental gate: exact tier
    * (16-byte content-hash left join), near tier (gram containment vs
    * the index vocabulary `ig`), admission verdict per batch doc.
    */
  private def incrementalVerdict(batch: DataFrame, idxKeys: DataFrame,
                                 ig: DataFrame, w: Int, t: Double): DataFrame = {
    val exact = batch.select(col("doc_id"), md5(lower(trim(col("text")))).as("k"))
      .join(idxKeys.select(col("k"), lit(1L).as("hit")), Seq("k"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(0L)).as("exact_dup"))
    val bg = shingleRows(batch, w).select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val sizes = bg.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = bg.join(ig, "h").groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    exact
      .join(sizes, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        when(col("n_grams") > 0,
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams"), 4))
          .otherwise(0.0).as("containment"),
        (col("exact_dup") === 0 &&
          when(col("n_grams") > 0,
            coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams"))
            .otherwise(0.0) < t).cast("long").as("keep"))
      .orderBy("doc_id")
  }

  /** BLOOM-FILTER ingest gate — the CONSTANT-STATE twin of
    * [[incrementalDedup]]'s near tier. The index's 8-gram vocabulary
    * collapses into ONE mergeable bloom filter (a ~MB binary, built by
    * the engine's own BloomFilterAggregate — see
    * [[org.apache.spark.sql.graft.BloomBridge]]); an ingest batch then
    * estimates each doc's gram containment with a codegen'd map-side
    * membership probe. No join against the gram vocabulary at all: at
    * 100 TB the exact tier's vocabulary relation is a bucketed
    * multi-GB table, while this gate's whole index state rides in a
    * plan literal — the shape a streaming admission filter or a
    * front-line "probably new?" router needs.
    *
    * Error is ONE-SIDED: the filter has no false negatives, so the
    * bloom containment estimate is ≥ the exact containment — a doc this
    * gate admits (`keep = 1`) is admitted by the exact gate too; a few
    * clean docs may be over-rejected at the false-positive rate (sized
    * by `estimatedItems`). DedupSpec pins both properties.
    */
  def bloomGate(s: SparkSession, d: String, w: Int = 8, t: Double = 0.5,
                estimatedItems: Long = 1L << 20): DataFrame = {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val index = docs.filter(col("doc_id") % 10 =!= 0)
    // bounded model state: the filter binary (not the gram set) comes to
    // the driver — same discipline as centroid/quantizer artifacts
    val bf: Array[Byte] = shingleRows(index, w)
      .select(xxhash64(col("shingle")).as("h"))
      .agg(org.apache.spark.sql.graft.BloomBridge
        .bloomAgg(col("h"), estimatedItems).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val hits = shingleRows(batch, w)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(org.apache.spark.sql.graft.BloomBridge.mightContain(bf, col("h"))
          .cast("long")).as("n_hit"))
    // EVERY batch doc gets a verdict row: a doc shorter than w words
    // yields zero shingles and would otherwise vanish from the report —
    // an admission gate that silently loses documents (and diverges
    // from incrementalDedup, whose exact tier keeps them with keep=1).
    // Zero grams ⇒ nothing can collide ⇒ containment 0, admitted.
    batch.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") / col("n_grams"), 4))
          .as("containment_est"),
        when(col("n_grams") === 0, lit(1L))
          .otherwise((col("n_hit").cast("double") / col("n_grams") < t).cast("long"))
          .as("keep"))
      .orderBy("doc_id")
  }

  /** ATTRITION FUNNEL — the one-row answer to "how much of the corpus
    * survives the dedup chain?": input docs/tokens, exact-unique count
    * (distinct normalized content hashes), and the survivor docs/tokens
    * after near-dup clustering under the keep-cluster-min policy.
    * Byte-identical twins have Jaccard 1, so their clusters subsume
    * them — but the tiers' normalizations DIVERGE on case/whitespace:
    * the exact tier hashes lower(trim(text)) while the near tier's
    * shingles are case-sensitive (the [[dupRateBySource]] note), so a
    * case-variant pair collapses in the exact count yet can survive
    * clustering — the stages are NOT guaranteed monotone on mixed-case
    * corpora, and no consumer may assume n_near_survivors <=
    * n_exact_unique. All
    * outputs are exact BIGINTs (no rounding surface at all). Scale
    * shape: content hashes and (id, cluster) labels are the only
    * shuffled relations; the token sums partial-aggregate.
    */
  def attritionFunnel(s: SparkSession, d: String, t: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        md5(lower(trim(col("text")))).as("k"))
    val losers = dupClusters(s, d, t)
      .withColumn("m", min("doc_id").over(Window.partitionBy("cluster_id")))
      .filter(col("doc_id") =!= col("m")).select("doc_id")
    val kept = docs.join(losers, Seq("doc_id"), "left_anti")
    docs.agg(count(lit(1)).as("n_input"), sum("n_words").as("n_tokens_in"))
      .crossJoin(broadcast(docs.agg(countDistinct("k").as("n_exact_unique"))))
      .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_near_survivors"),
        sum("n_words").as("n_tokens_kept"))))
      .select(col("n_input"), col("n_exact_unique"), col("n_near_survivors"),
        col("n_tokens_in"), col("n_tokens_kept"))
      .orderBy("n_input")
  }

  /** DEDUP-TIER EVALUATION harness as data — the dedup twin of
    * `Ann.recallEval`: each approximate/alternative pair finder scored
    * against the exact n-gram-Jaccard ≥ t ground truth → (method,
    * n_true, n_found, n_hit, recall, precision) rows. This is the
    * report a pipeline regenerates per corpus snapshot before trusting
    * a cheaper tier: minhash-LSH should hold recall 1.0 (banding tuned
    * for it, then exact-verified); simhash and containment hunt
    * DIFFERENT similarity notions, so their recall/precision against
    * Jaccard truth is exactly the drift being measured. Scale shape:
    * every relation here is a pair list (tiny vs the corpus); hit
    * counting is an (ia, ib)-keyed join.
    */
  def dedupRecallEval(s: SparkSession, d: String, t: Double = 0.8): DataFrame = {
    // ONE job: tag each method's pair list, outer-join the tagged union
    // against the truth list once, aggregate per method. (The previous
    // per-method found/hit/count loop fired ~10 driver actions and
    // re-ran the shared candidate scaffold per action — 10 s of the
    // sf0.1 bench; this shape is 2 actions regardless of method count.)
    val truth = ngramJaccard(s, d, t).select("ia", "ib")
      .withColumn("in_truth", lit(1L)).cache()
    val nTrue = truth.count()
    val tagged = Seq(
      "minhash_lsh" -> minhashLsh(s, d, t),
      "simhash" -> simhash(s, d),
      "containment" -> containment(s, d))
      .map { case (name, res) =>
        res.select(col("ia"), col("ib")).distinct()
          .withColumn("method", lit(name))
      }
      .reduce(_ unionByName _)
    import s.implicits._
    val names = Seq("minhash_lsh", "simhash", "containment").toDF("method")
    tagged
      .join(truth, Seq("ia", "ib"), "left")
      .groupBy("method")
      .agg(count(lit(1)).as("n_found"),
        coalesce(sum("in_truth"), lit(0L)).as("n_hit"))
      // a method with zero found pairs still reports a (0, 0) row
      .join(broadcast(names), Seq("method"), "right")
      .select(col("method"), lit(nTrue).as("n_true"),
        coalesce(col("n_found"), lit(0L)).as("nf"),
        coalesce(col("n_hit"), lit(0L)).as("nh"))
      .select(col("method"), col("n_true"),
        col("nf").as("n_found"), col("nh").as("n_hit"),
        // bround (HALF_EVEN) deliberately: eval metrics are compared
        // across rounds, and the earlier math.rint implementation was
        // HALF_EVEN — HALF_UP `round` would silently shift exact 5e-5
        // ties between reports with no oracle gate to catch it
        when(lit(nTrue > 0),
          bround(col("nh").cast("double") / nTrue, 4)).otherwise(1.0).as("recall"),
        when(col("nf") > 0,
          bround(col("nh").cast("double") / col("nf"), 4)).otherwise(1.0)
          .as("precision"))
      .orderBy("method")
  }

  /** LSH BAND-TUNING curve ([[dedupRecallEval]]'s parameter-choice
    * sibling, the `ann_recall_eval` of the dedup family): candidate
    * recall/precision of the band-bucket stage at several (bands,
    * rows-per-band) splits of the SAME 128-permutation signature —
    * the s-curve a deployment walks when trading candidate volume
    * against missed near-dups (more, narrower bands ⇒ higher candidate
    * recall and more false candidates; Leskovec et al.'s (1/b)^(1/r)
    * threshold rule made empirical on this corpus). ONE signature
    * aggregate serves every config (b·r = 128 throughout — band keys
    * are just different groupings of the same signature), the truth
    * list is the exact-Jaccard pair relation, and every join is
    * pair-list-sized.
    */
  def minhashBandTuning(s: SparkSession, d: String, t: Double = 0.8,
                        w: Int = 5): DataFrame = {
    import s.implicits._
    val configs = Seq((8, 16), (16, 8), (32, 4), (64, 2))
    val ex = hashedShingleRows(s, d, w)
      .select(col("doc_id"), pmod(col("h"), lit(P)).as("h"))
    val sigs = minhashFromHashedRows(ex, 128).cache()
    // truth MUST use the same shingle width the signatures hash —
    // a w-gram candidate stage scored against default-width Jaccard
    // truth would make the whole curve silently meaningless
    val truth = ngramJaccard(s, d, t, w).select("ia", "ib")
      .withColumn("in_truth", lit(1L)).cache()
    try {
      val nTrue = truth.count()
      // each (b, r) config's candidate join + stats row is independent
      // of the others (the groupBy below only ever aggregated a
      // config's own rows) — materialize the four arms concurrently
      // (Ann.materializeConcurrently; one 1-row checkpoint per config)
      Ann.materializeConcurrently(configs.map { case (b, r) => () =>
        val buckets = bandBuckets(sigs, b, r)
        buckets.as("a").join(buckets.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
          .distinct()
          .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            col("ia"), col("ib"))
          .join(truth, Seq("ia", "ib"), "left")
          .groupBy("bands", "rows_per_band")
          .agg(count(lit(1)).as("n_candidates"),
            coalesce(sum("in_truth"), lit(0L)).as("n_hit"))
          .select(col("bands").cast("long"), col("rows_per_band").cast("long"),
            col("n_candidates"), col("n_hit"),
            when(lit(nTrue > 0), bround(col("n_hit").cast("double") / nTrue, 4))
              .otherwise(1.0).as("recall"),
            when(col("n_candidates") > 0,
              bround(col("n_hit").cast("double") / col("n_candidates"), 4))
              .otherwise(1.0).as("precision"))
      }).reduce(_ unionByName _)
        .orderBy("bands")
        // eager |configs|-row materialization so the signature/truth
        // caches release NOW instead of accumulating per tuning call
        .localCheckpoint()
    } finally { sigs.unpersist(); truth.unpersist() }
  }

  /** Near-dup CLUSTER-SIZE profile: the count-of-counts histogram over
    * [[dupClusters]] — (cluster size → how many clusters), plus the doc
    * and removal totals each size bucket contributes under a
    * keep-one-per-cluster policy. This is the attrition report read
    * before committing a dedup pass at corpus scale ("how much of the
    * 100 TB disappears, and is it a few giant boilerplate clusters or a
    * long pair tail?"). Scale shape: the cluster assignment reduces to
    * (cluster, size) rows, then to |distinct sizes| rows — both
    * exchanges carry aggregate counts, never documents.
    */
  def dupClusterStats(s: SparkSession, d: String, t: Double = 0.8): DataFrame =
    dupClusters(s, d, t)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"),
        ((col("size") - 1) * col("n_clusters")).as("n_removed"))
      .orderBy("size")

  /** Per-SOURCE duplication attribution: which ingest feeds carry the
    * duplication? For each `source`, the docs that would be REMOVED
    * under the keep-min policy at two tiers — exact (normalized-hash
    * group, not the min doc_id) and near (party to a ≥ `t` Jaccard pair
    * with a smaller doc_id; the [[ngramJaccard]] relation, so the
    * shared [[candidatePairCounts]] scaffold is reused, not rebuilt).
    * The report a pipeline owner reads before cutting a feed: a source
    * with dup_rate 0.4 is re-crawling another's pages. Scale shape:
    * both dup sets reduce to doc_id lists before the source join, the
    * exact tier shuffles 16-byte hashes, and the near tier rides the
    * memoized pair relation — the per-source rollup is |sources| rows.
    * Note the tiers are genuinely different signals: exact-dup twins
    * differ only by case/whitespace (which the case-SENSITIVE shingle
    * tier may miss), near-dup pairs differ by edits (which the
    * exact hash always misses).
    */
  def dupRateBySource(s: SparkSession, d: String, t: Double = 0.7): DataFrame = {
    val docs = Tables.documents(s, d)
    // keep-min per hash group via aggregate + join-back, never a
    // per-group id list: a boilerplate group with 10⁶ identical docs
    // would otherwise materialize 10⁶ ids in ONE aggregation buffer
    val hashed = docs.select(col("doc_id"), md5(lower(trim(col("text")))).as("k"))
    val exactDups = hashed
      .join(hashed.groupBy("k").agg(min("doc_id").as("keep_id")), "k")
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    val nearDups = ngramJaccard(s, d, t)
      .select(col("ib").as("doc_id")).distinct()
    val dupSet = exactDups.withColumn("is_exact", lit(1))
      .join(nearDups.withColumn("is_near", lit(1)), Seq("doc_id"), "full_outer")
    docs.select("doc_id", "source")
      .join(dupSet, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("is_exact"), lit(0L)).as("n_exact_dup"),
        coalesce(sum("is_near"), lit(0L)).as("n_near_dup"),
        coalesce(sum(when(col("is_exact").isNotNull || col("is_near").isNotNull, 1L)),
          lit(0L)).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_exact_dup"), col("n_near_dup"),
        round(col("n_dup").cast("double") / col("n_docs"), 4).as("dup_rate"))
      .orderBy("source")
  }

  /** TRAIN/VAL SPLIT with a NEAR-DUP LEAKAGE AUDIT — the assignment a
    * training pipeline actually needs: a deterministic content-hash
    * split (md5(text) bucket, the [[graft.operators.TextAnalysis
    * .sampleHash]] convention — exact duplicates land on the SAME side
    * by construction, the first leakage class gone for free), plus the
    * measurement of the class a hash split canNOT fix: NEAR-duplicate
    * pairs (≥ `t` Jaccard, the memoized [[ngramJaccard]] relation)
    * whose members straddle the split — a val doc with a train twin
    * inflates eval scores exactly like true contamination. Per split:
    * doc count, docs party to a cross-split pair, leak rate. The
    * decision artifact: a high leak_rate says dedup (or split by
    * CLUSTER, not by doc) before trusting the benchmark. Scale shape:
    * the split is a map pass; the audit joins the already-reduced pair
    * relation to 9-byte (doc_id, split) rows; the rollup is 2 rows.
    */
  def trainValSplit(s: SparkSession, d: String, valRate: Double = 0.1,
                    t: Double = 0.7): DataFrame = {
    val cut = (valRate * 65536).toLong
    val split = Tables.documents(s, d).select(col("doc_id"),
      when(conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long") < cut, "val")
        .otherwise("train").as("split"))
    val pairs = ngramJaccard(s, d, t).select("ia", "ib")
    val cross = pairs
      .join(split.select(col("doc_id").as("ia"), col("split").as("sa")), "ia")
      .join(split.select(col("doc_id").as("ib"), col("split").as("sb")), "ib")
      .filter(col("sa") =!= col("sb"))
    val leaky = cross.select(col("ia").as("doc_id"))
      .unionByName(cross.select(col("ib").as("doc_id"))).distinct()
    split.join(leaky.withColumn("leak", lit(1)), Seq("doc_id"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), coalesce(sum("leak"), lit(0L)).as("n_leak_docs"))
      .select(col("split"), col("n_docs"), col("n_leak_docs"),
        round(col("n_leak_docs").cast("double") / col("n_docs"), 4).as("leak_rate"))
      .orderBy("split")
  }

  /** CANDIDATE-GENERATION COST REPORT — the number that justifies
    * [[candidatePairCounts]]' dfCap, as data: a shingle shared by df
    * docs explodes into df·(df−1)/2 candidate pairs BEFORE any
    * per-pair reduction, so the join cost is Σ over grams of that
    * quadratic — this report gives the sum per log₂-df bucket plus
    * each bucket's share of the total, making "one df=10⁶ boilerplate
    * gram costs more than the rest of the corpus combined" a row a
    * capacity planner reads instead of an incident. Buckets are exact
    * integer log₂ (the power-of-two floor via df's bit length — no
    * float boundary), pair counts are exact DECIMAL sums. Scale shape:
    * grams reduce to (hash, df) counts — one exchange — then a
    * ≤64-row rollup.
    */
  def candidateCostReport(s: SparkSession, d: String, w: Int = 5): DataFrame = {
    val df = shingleRows(Tables.documents(s, d), w)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    // floor(log2(df)) as bit length − 1: exact integer arithmetic
    val bucket = (length(bin(col("df"))) - 1).cast("long")
    // df(df−1)/2 entirely in DECIMAL: a raw long product overflows past
    // df ~3e9 (plausible boilerplate df at 100 TB), and a `/ 2` would
    // return double — the even product × DECIMAL(1,1) 0.5 stays exact
    val pairs = (col("df").cast("decimal(19,0)") *
      (col("df") - 1).cast("decimal(19,0)")) * lit(0.5).cast("decimal(1,1)")
    val tw = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    df.select(bucket.as("log2_df"), pairs.as("pr"))
      .groupBy("log2_df")
      .agg(count(lit(1)).as("n_grams"), sum(col("pr")).as("pairs_dec"))
      .withColumn("n_candidate_pairs", col("pairs_dec").cast("long"))
      .withColumn("pair_share",
        round(col("pairs_dec").cast("double") /
          sum(col("pairs_dec")).over(tw).cast("double"), 4))
      .select("log2_df", "n_grams", "n_candidate_pairs", "pair_share")
      .orderBy("log2_df")
  }

  /** CROSS-SOURCE near-dup matrix — the pair-level view behind
    * [[dupRateBySource]]'s rates: for each ingest-feed pair (sa ≤ sb),
    * how many ≥ `t` Jaccard pairs connect them, with the strongest
    * example pair as evidence. An off-diagonal heavy cell is one feed
    * re-crawling another; a heavy diagonal is internal boilerplate.
    * Rides the memoized pair relation joined to 2-column (doc_id,
    * source) rows; rollup is ≤ |sources|² rows.
    */
  def sourceOverlap(s: SparkSession, d: String, t: Double = 0.7): DataFrame = {
    val src = Tables.documents(s, d).select("doc_id", "source")
    ngramJaccard(s, d, t)
      .join(src.select(col("doc_id").as("ia"), col("source").as("sa0")), "ia")
      .join(src.select(col("doc_id").as("ib"), col("source").as("sb0")), "ib")
      .select(least(col("sa0"), col("sb0")).as("sa"),
        greatest(col("sa0"), col("sb0")).as("sb"),
        col("jaccard"), col("ia"), col("ib"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_pairs"),
        max(struct(col("jaccard"), col("ia"), col("ib"))).as("best"))
      .select(col("sa"), col("sb"), col("n_pairs"),
        col("best.jaccard").as("max_jaccard"),
        col("best.ia").as("example_ia"), col("best.ib").as("example_ib"))
      .orderBy("sa", "sb")
  }

  /** SPLIT BY CLUSTER — the fix [[trainValSplit]]'s audit recommends
    * when leak_rate is high: assign whole near-dup CLUSTERS to a side
    * (hash of the component-min label, singletons labeled by their own
    * id), so no ≥ `t` pair can straddle the split BY CONSTRUCTION. The
    * output carries the proof as data: the same cross-split audit that
    * scores the per-doc split reports n_leak_docs = 0 here. Per split:
    * docs, clusters, leak docs. Scale shape: cluster labels come from
    * the pointer-doubling components over the memoized pair relation
    * (O(log diameter) rounds on (doc_id, label) pairs); everything else
    * is the [[trainValSplit]] map/join/rollup shape.
    */
  def splitByCluster(s: SparkSession, d: String, valRate: Double = 0.1,
                     t: Double = 0.7): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id")
    val pairs = ngramJaccard(s, d, t).select("ia", "ib")
    val labeled = docs.join(clustersOfPairs(s, pairs), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val cut = (valRate * 65536).toLong
    val split = labeled.withColumn("split",
      when(conv(substring(md5(col("cluster_id").cast("string")), 1, 4), 16, 10)
        .cast("long") < cut, "val").otherwise("train"))
    val cross = pairs
      .join(split.select(col("doc_id").as("ia"), col("split").as("sa")), "ia")
      .join(split.select(col("doc_id").as("ib"), col("split").as("sb")), "ib")
      .filter(col("sa") =!= col("sb"))
    val leaky = cross.select(col("ia").as("doc_id"))
      .unionByName(cross.select(col("ib").as("doc_id"))).distinct()
    split.join(leaky.withColumn("leak", lit(1)), Seq("doc_id"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("cluster_id").as("n_clusters"),
        coalesce(sum("leak"), lit(0L)).as("n_leak_docs"))
      .orderBy("split")
  }
}
