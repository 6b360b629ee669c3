package graft.operators

import graft.Tables
import graft.functions.Vectors._
import graft.plans.TopK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding column — the
  * scale path of the reference's `client.search` (search.py:43-49).
  *
  *  - Brute-force cosine top-k: the exact baseline; queries broadcast,
  *    corpus map-side scored, only k rows per query survive the rank.
  *  - IVF: Lloyd's k-means coarse quantizer (deterministic init, fixed
  *    iterations, pure DataFrame ops), corpus partitioned by nearest
  *    centroid, probes only `nprobe` inverted lists — at 1000 executors
  *    the probe touches nprobe/nlist of the data.
  *  - LSH: random-hyperplane signs → bucket; multiprobe by flipping one
  *    bit. Hyperplanes derive from a seeded generator — deterministic.
  *
  * Tuning note: the synthetic embeddings are near-orthogonal, the
  * hardest regime for ANN — recall ≈ fraction of corpus probed
  * (nprobe/nlist for IVF, bucket mass for LSH). On real clustered
  * corpora the same defaults probe the same fraction but recall is far
  * higher; both knobs trade probe fraction for recall explicitly.
  */
object Ann {

  private def corpusAndQueries(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val corpus = emb.filter(col("vec_id") >= 10)
    (corpus, queries)
  }

  /** The cosine order of a query's candidates: cs descending, vec_id. */
  private val bestCosine: Seq[Column] = Seq(col("cs").desc, col("vec_id").asc)

  /** Each query's best `k` of its scored `(query_id, vec_id, cs)`
    * candidates, as `(query_id, rank, vec_id, cosine)` in rank order.
    */
  private def rankPerQuery(scored: DataFrame, k: Int): DataFrame =
    TopK.perKey(scored, Seq(col("query_id")), bestCosine, k)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("cs"), 4).as("cosine"))
      .orderBy("query_id", "rank")

  /** Exact brute-force cosine top-k for a batch of query vectors. */
  def bruteTopK(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val (corpus, queries) = corpusAndQueries(s, d)
    rankPerQuery(corpus.join(broadcast(queries))
      .withColumn("cs", cosineSim(col("vec"), col("qvec"))), k)
  }

  /** Ranked (dist, cid) structs vs the centroid set — (dist asc, cid
    * asc), the probe-selection order. The previous literal formulation
    * (array_sort over nlist structs of l2Distance against nlist×dim
    * LITERAL arrays) made the optimizer fold and Janino compile a
    * multi-thousand-node constant tree per stage — measured seconds per
    * job at nlist = √n; [[graft.functions.Vectors.centroidRanks]] is
    * the same output from one data-driven kernel (element-identical,
    * EquivalenceSpec-proved).
    */
  private[graft] def rankedCentroids(v: org.apache.spark.sql.Column,
                                     cents: Seq[(Long, Seq[Double])]) =
    graft.functions.Vectors.centroidRanks(v, cents)

  /** The literal-expression formulation — kept as the equivalence
    * oracle for [[rankedCentroids]] (same (d, cid) structs in the same
    * order, but an nlist×dim literal tree the codegen path can't
    * afford on corpus-side projections).
    */
  private[graft] def centroidStructs(v: org.apache.spark.sql.Column,
                                         cents: Seq[(Long, Seq[Double])]) =
    array(cents.map { case (cid, cv) =>
      struct(l2Distance(v, array(cv.map(lit): _*)).as("d"), lit(cid).as("cid"))
    }: _*)

  /** Driver-side memos of trained coarse quantizers, keyed (nlist,
    * iters): centroids are MODEL STATE (trained once per corpus
    * snapshot, applied by every consumer — probe, assignment, near-dup
    * blocking), and retraining per query re-runs iters×(assign+update)
    * jobs for an identical result. One memo per corpus view (the IVF
    * serving corpus here, the full relation of the knn/graph family,
    * [[Dedup]]'s near-dup corpora). Values are plain driver Seqs — no
    * Spark storage to evict.
    */
  private[operators] val ivfQuantizers =
    new SessionMemo[(Int, Int), Seq[(Long, Seq[Double])]]("ivfpq_codebook_warm")
  private val knnQuantizers =
    new SessionMemo[(Int, Int), Seq[(Long, Seq[Double])]]("ann_graph_build")

  /** Deterministic Lloyd's k-means over the vector column: init = the
    * `nlist` lowest vec_ids, `iters` refinement rounds. Centroids are
    * tiny (nlist × dim ≤ a few KB) — they live on the driver between
    * rounds (as MLlib's KMeans does) and enter each round as literals in
    * a codegen'd argmin expression, so assignment is a pure map pass
    * over the corpus (no join, no window sort, no shuffle). The centroid
    * update is an explode + groupBy mean: one shuffle of partial
    * (cluster, dim, sum) triples per iteration.
    */
  def kmeansCentroids(corpus: DataFrame, nlist: Int, iters: Int): Seq[(Long, Seq[Double])] = {
    var cents: Seq[(Long, Seq[Double])] = corpus.orderBy("vec_id").limit(nlist)
      .select(col("vec")).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Double](0)) }
    for (_ <- 1 to iters) {
      val means = corpus
        .select(nearestCentroidId(col("vec"), cents).as("cid"),
          posexplode(col("vec")).as(Seq("dim", "v")))
        .groupBy("cid", "dim").agg(avg("v").as("m"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cents
  }

  /** Train the `m` PQ subspace quantizers JOINTLY: ONE assignment +
    * update job per Lloyd's iteration covering every subspace, instead
    * of m independent [[kmeansCentroids]] loops = m×(iters+1) corpus
    * passes (guide §1.2/§2.4 — the pass count, not the per-pass work,
    * is what scales with corpus size). Per-subspace math is IDENTICAL
    * to `kmeansCentroids(corpus.select(slice(vec, j·sub+1, sub)), k,
    * iters)`: same first-k-rows-by-vec_id init (slicing commutes with
    * row selection), same nearest-centroid assignment kernel over the
    * slice, same per-(cid, dim) means with empty-cluster carry-over —
    * EquivalenceSpec proves codebook equality against the sequential
    * formulation.
    */
  def kmeansSubspaces(corpus: DataFrame, m: Int, sub: Int, k: Int,
                      iters: Int): Seq[(Int, Seq[(Long, Seq[Double])])] = {
    val init = corpus.orderBy("vec_id").limit(k)
      .select(col("vec")).collect().map(_.getSeq[Double](0))
    var cents: Seq[Seq[(Long, Seq[Double])]] = (0 until m).map(j =>
      init.toSeq.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.slice(j * sub, (j + 1) * sub))
      })
    for (_ <- 1 to iters) {
      // one row per (row × subspace): (j, assigned cid, subvector)
      val subStructs = (0 until m).map { j =>
        val sv = slice(col("vec"), j * sub + 1, sub)
        struct(lit(j).as("j"),
          nearestCentroidId(sv, cents(j)).as("cid"), sv.as("sv"))
      }
      val means = corpus
        .select(explode(array(subStructs: _*)).as("e"))
        .select(col("e.j").as("j"), col("e.cid").as("cid"),
          posexplode(col("e.sv")).as(Seq("dim", "v")))
        .groupBy("j", "cid", "dim").agg(avg("v").as("m"))
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getInt(2), r.getDouble(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      cents = (0 until m).map(j => cents(j).map { case (cid, old) =>
        (cid, means.getOrElse((j, cid), old))
      })
    }
    (0 until m).map(j => j -> cents(j))
  }

  /** IVF top-k: assign corpus to nearest of `nlist` centroids, probe the
    * `nprobe` closest lists per query. Assignment and probe selection
    * are both driver-literal argmin/arg-sort expressions (map-side);
    * the only shuffles are the k-means update and the final per-query
    * top-k rank. Approximate — validated by a recall-vs-brute spec, not
    * a DuckDB oracle.
    */
  def ivfTopK(s: SparkSession, d: String, k: Int = 10, nlist: Int = 16,
              nprobe: Int = 8, iters: Int = 3): DataFrame = {
    val (corpus0, queries) = corpusAndQueries(s, d)
    // cached: k-means runs iters+1 actions over the corpus, then the
    // probe scan reads it once more — cache instead of re-scanning
    val corpus = corpus0.cache()
    val cents = ivfQuantizers.getOrElseUpdate(s, d, (nlist, iters))(
      kmeansCentroids(corpus, nlist, iters))
    val assigned = corpus.select(col("vec_id"), col("vec"),
      nearestCentroidId(col("vec"), cents).as("cid"))
    // nprobe closest lists per query: sort the centroid structs, slice,
    // explode — still a pure projection over the (tiny) query side
    val probes = queries.select(col("query_id"), col("qvec"),
        explode(slice(rankedCentroids(col("qvec"), cents), 1, nprobe)
          .getField("cid")).as("cid"))
    rankPerQuery(assigned.join(broadcast(probes), "cid")
      .withColumn("cs", cosineSim(col("vec"), col("qvec"))), k)
  }

  /** Session-scoped memo of the PERSISTED [[graft.api.AnnIndex]] with
    * payload axes — built once per corpus snapshot (the KMeans fit +
    * one partitioned rewrite), then served by every filtered ANN
    * query. The evict hook reclaims the temp artifact through the
    * session's filesystem settings (the payloadIdxMemo discipline).
    */
  private val annIdxMemo = new SessionMemo[Unit, (graft.api.AnnIndex, () => Unit)](
    "ann_pfilter_index_warm", _._2())

  private[graft] def annPayloadIndex(s: SparkSession, d: String): graft.api.AnnIndex =
    annIdxMemo.getOrElseUpdate(s, d, ()) {
      val root = java.nio.file.Files
        .createTempDirectory("graft-ann-pfilter-").toString
      // payload rides the layout: `tag` (vec_id mod 4, string) and
      // `rare` (hot every 128th id — the ~0.8%-selective axis the
      // adaptive probe plan must SEE to widen on) are the KEYWORD
      // AXES — a partition directory per value beside `list` — and
      // `label` stays a filterable data column
      val corpus = Tables.embeddings(s, d).filter(col("vec_id") >= 10)
        .select(col("vec_id"), toDouble(col("embedding")).as("vec"),
          concat(lit("t"), (col("vec_id") % 4).cast("string")).as("tag"),
          when(col("vec_id") % 128 === 0, lit("hot")).otherwise(lit("cold"))
            .as("rare"),
          col("label").cast("long").as("label"))
      val idx = graft.api.AnnIndex.build(corpus, s"$root/ivf", nlist = 8,
        keyword = Seq("tag", "rare"))
      (idx, () => {
        try {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        } catch { case _: java.io.IOException => () }
      })
    }._1

  /** The FULL Qdrant filter object through the persisted [[graft.api
    * .AnnIndex]] (VERDICT r10 #5 — the uniform `filter:` reaching the
    * ANN artifact): a composed tree (keyword-axis equality + open
    * integer bound + `must_not` range) gates candidates inside the
    * probed scan — the keyword arm prunes its partition DIRECTORY,
    * composing multiplicatively with the probes' list pruning, and the
    * rest rides as pushed/residual predicates. Probing ALL lists
    * (nprobe = nlist) makes the route EXACT — the ANN mechanics with a
    * DuckDB-checkable answer (the [[bruteTopK]] oracle discipline);
    * production serving drops nprobe and trades recall for I/O
    * explicitly.
    */
  def annPfilterTopK(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    import graft.api.Filters._
    val idx = annPayloadIndex(s, d)
    val q = Embeddings.queryVec(s, d, 0L)
    val res = idx.searchFilter(q, PFilter(
        must = Seq(MatchValue("tag", "t1"),
          IntBounds("vec_id", gte = Some(100L))),
        mustNot = Seq(RangeInt("label", 0, 1))),
      k, nprobe = 8)
    rankedCosine(res, k)
  }

  /** Rank an ANN search's (vec_id, cosine) rows by cosine, then id, and
    * serve the cosine rounded to 4 places.
    */
  private def rankedCosine(res: DataFrame, k: Int): DataFrame =
    TopK.ranked(res, Seq(col("cosine").desc, col("vec_id").asc), 0, k)
      .select(col("rank"), col("vec_id"), round(col("cosine"), 4).as("cosine"))

  /** The ADAPTIVE filtered search (VERDICT r11 #1 — Qdrant's
    * selectivity fallback) as an ORACLE-CHECKABLE row: the `rare`
    * keyword arm is ~0.8% selective, so at base nprobe = 1 the
    * estimated candidate mass in the probed list (probed rows ×
    * keyword-axis share) starves k·C and [[graft.api.AnnIndex
    * .planProbes]] widens to nlist — the EXACT pruned scan, which is
    * what makes this row DuckDB-checkable while exercising the
    * production switch end-to-end (the spec suite holds the
    * midway-selectivity recall floors; this row proves the engaged
    * switch returns the exact filtered answer).
    */
  def annPfilterAdaptive(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    import graft.api.Filters._
    val idx = annPayloadIndex(s, d)
    val q = Embeddings.queryVec(s, d, 0L)
    val f = PFilter(must = Seq(MatchValue("rare", "hot")))
    // threshold scaled to the CORPUS (ADVICE r12): the rare slice is
    // ~nRows/128, so nRows/64 sits at 2× its mass and the full-scan
    // switch engages at ANY SF — a fixed 4096 stopped engaging (and
    // the require below threw) past ~524k rows
    val threshold = math.max(1L, idx.statsRows / 64L)
    // the switch must ENGAGE here — widened all the way to the exact
    // scan (nlist) — or this row's oracle claim is vacuous
    require(idx.planProbes(q, f, k, nprobe = 1,
        fullScanThreshold = threshold) == idx.centroids.length,
      "adaptive plan did not widen to the exact scan on the selective tree")
    val res = idx.searchFilterAdaptive(q, f, k, nprobe = 1,
      fullScanThreshold = threshold)
    rankedCosine(res, k)
  }

  /** The memoized [[graft.api.AnnIndex!.deleteTo]] rotation of the
    * payload ANN artifact — deterministic over the fixed corpus, and
    * an unmemoized rotation would write (and leak) a full index copy
    * into a fresh temp dir per call (the deletedIdxMemo discipline).
    */
  private val annDeleteMemo = new SessionMemo[Unit, (graft.api.AnnIndex, () => Unit)](
    "ann_pfilter_index_warm", _._2())

  private[graft] def annDeletedIndex(s: SparkSession, d: String): graft.api.AnnIndex =
    annDeleteMemo.getOrElseUpdate(s, d, ()) {
      import graft.api.Filters._
      val idx = annPayloadIndex(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("graft-ann-delete-").toString
      val rotated = idx.deleteTo(s"$root/ivf", PFilter(must = Seq(
        MatchValue("tag", "t1"), IntBounds("vec_id", gte = Some(300L)))))
      (rotated, () => {
        try {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        } catch { case _: java.io.IOException => () }
      })
    }._1

  /** IVF PREDICATE DELETE audit row (VERDICT r12 #2): rotate the
    * payload ANN artifact past a composed delete filter (keyword arm ∧
    * open integer bound — the reference's /remove_by_user shape against
    * an IVF-served collection) and report surviving per-tag counts and
    * id bounds FROM THE ROTATED LAYOUT. DuckDB re-derives the same
    * numbers from the corpus rule alone — counts are
    * quantizer-independent, which is what makes the hash-seeded IVF
    * rotation (directory split, survivor rewrite, byte-copied
    * complement) oracle-checkable end-to-end; the search-parity and
    * byte-copy invariants live in AnnIndexSpec.
    */
  def annDeleteRotate(s: SparkSession, d: String): DataFrame =
    annDeletedIndex(s, d).points
      .groupBy("tag")
      .agg(count(lit(1)).as("n_points"), min("vec_id").as("min_id"),
        max("vec_id").as("max_id"))
      .orderBy("tag")

  /** FILTERED-ANN RECALL EVALUATION (VERDICT r11 #1): recall@k of the
    * artifact's filtered search across nprobe × filter selectivity vs
    * the BRUTE FILTERED truth — the measurement the unfiltered
    * [[recallEval]] cannot see (a selective filter empties probed
    * lists; unfiltered recall stays green while filtered recall
    * collapses). Selectivity arms are the artifact's own keyword axes
    * (tag ≈ 25%, rare ≈ 0.8%, plus the unfiltered baseline), so the
    * adaptive rows reflect what the estimator actually sees in
    * production. Scale shape (the [[ivfProbeTuning]] discipline): the
    * corpus is scored ONCE at max nprobe with probe ranks attached and
    * each (nprobe, filter) cell is a FILTER over that relation — one
    * corpus read for the whole matrix; the `adaptive` rows report the
    * effective nprobe the plan chose at base nprobe = 1. Hash-seeded
    * quantizer ⇒ rows-only + AnnSpec floors, no DuckDB oracle.
    */
  def annFilteredRecallEval(s: SparkSession, d: String, k: Int = 10,
                            nQueries: Int = 8): DataFrame = {
    import graft.api.Filters._
    val idx = annPayloadIndex(s, d)
    val nlist = idx.centroids.length
    val emb = Tables.embeddings(s, d)
    val qs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), toDouble(col("embedding")).as("qvec"))
    // the artifact corpus with its payload axes, scored once per query
    // with the PROBE RANK of its list (1 = nearest centroid)
    val corpus = idx.points
    val cents = idx.centroids.map { case (cid, c) => (cid.toLong, c.toSeq) }.toSeq
    val probeRanks = qs.select(col("query_id"), col("qvec"),
        posexplode(slice(rankedCentroids(col("qvec"), cents), 1, nlist))
          .as(Seq("pr0", "pc")))
      .select(col("query_id"), col("qvec"), (col("pr0") + 1).as("probe_rank"),
        col("pc").getField("cid").as("list"))
    val scored = corpus.join(broadcast(probeRanks), "list")
      .withColumn("cs", cosineSim(col("vec"), col("qvec")))
      .select("query_id", "vec_id", "cs", "probe_rank", "tag", "rare")
      .cache()
    // a RANGE-selective arm (VERDICT r12 #3): the top ~1/128 of the id
    // span — the zone histogram on `vec_id` bounds it (the keyword
    // stats cannot see it), so the adaptive row below measures the
    // estimator's NEW axis; sized in span (not count) so the zone
    // estimate (≈ one 1/64-wide zone) keeps the full-scan switch
    // engaged at every SF
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val tailLo = maxId - (maxId - 10L) / 128L
    val filters: Seq[(String, Option[graft.api.Filters.PFilter],
        org.apache.spark.sql.Column)] = Seq(
      ("all", None, lit(true)),
      ("tag_25pct", Some(PFilter(must = Seq(MatchValue("tag", "t1")))),
        col("tag") === "t1"),
      ("rare_sub1pct", Some(PFilter(must = Seq(MatchValue("rare", "hot")))),
        col("rare") === "hot"),
      ("range_tail", Some(PFilter(must = Seq(IntBounds("vec_id",
          gte = Some(tailLo))))),
        col("vec_id") >= tailLo))
    val qvecs = qs.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1))).toSeq
    val truthCaches = scala.collection.mutable.ListBuffer.empty[
      org.apache.spark.sql.DataFrame]
    try {
      // the four filter arms are independent (each owns its truth cache
      // and its five probe cells) — materialize them concurrently
      // (materializeConcurrently), one 5-row checkpoint per arm
      val cells = materializeConcurrently(filters.map {
          case (label, pf, pred) => () =>
        // brute filtered truth ONCE per filter, shared by all five
        // probe cells (the cells differ only in the candidate cut)
        val slice = scored.filter(pred)
        val truth = TopK.perKey(slice, Seq(col("query_id")), bestCosine, k)
          .select("query_id", "vec_id").cache()
        truthCaches.synchronized { truthCaches += truth }
        val nTrue = truth.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        Seq[(String, (Long, Seq[Double]) => Int)](
          ("1", (_, _) => 1), ("2", (_, _) => 2), ("4", (_, _) => 4),
          (s"$nlist", (_, _) => nlist),
          // gate-SF-sized knobs so BOTH adaptive tiers show in the
          // matrix: the rare arm trips the full-scan switch, the tag
          // arm stays in the widening regime
          ("adaptive", (_, qv) => pf.fold(1)(f =>
            idx.planProbes(qv, f, k, nprobe = 1, candidateFactor = 4.0,
              fullScanThreshold = 64L)))
        ).map { case (npLabel, npOf) =>
          // per-query effective probe count (adaptive plans per query)
          val npByQ = qvecs.map { case (qid, qv) => (qid, npOf(qid, qv)) }
          val npCol = npByQ.foldLeft(lit(nlist)) { case (acc, (qid, np)) =>
            when(col("query_id") === qid, np).otherwise(acc) }
          val res = TopK.perKey(slice.filter(col("probe_rank") <= npCol),
              Seq(col("query_id")), bestCosine, k)
            .select("query_id", "vec_id")
          val hits = truth.join(res, Seq("query_id", "vec_id"))
            .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
          nTrue.join(hits, Seq("query_id"), "left")
            .agg(count(lit(1)).as("n_queries"),
              round(avg(coalesce(col("n_hit"), lit(0L)).cast("double")
                / col("n_true")), 4).as("mean_recall"))
            .select(lit(label).as("filter"), lit(npLabel).as("nprobe"),
              lit(npByQ.map(_._2).max.toLong).as("max_effective_nprobe"),
              col("n_queries"), col("mean_recall"))
        }.reduce(_ unionByName _) // this arm's five probe cells
      })
      cells.reduce(_ unionByName _).orderBy("filter", "nprobe")
        .localCheckpoint() // eager 20-row materialization; release the caches
    } finally { scored.unpersist(); truthCaches.foreach(_.unpersist()) }
  }

  /** IVF LIST-BALANCE AUDIT — the maintenance trigger behind
    * [[graft.api.AnnIndex]]'s "quantizer fixed until the imbalance
    * audit says rebuild" contract, as data: per-list member counts from
    * the SAME memoized quantizer the serving path probes, plus the
    * skew statistics an operator alarms on (max/mean imbalance factor,
    * largest-list share). An imbalanced quantizer makes nprobe recall
    * collapse (hot lists swallow the corpus, probes miss it) and
    * makes one task the straggler of every probe scan — this report is
    * how a deployment notices BEFORE recall does. One corpus map pass
    * (argmin against broadcast centroids) + an nlist-row aggregate.
    */
  def ivfBalance(s: SparkSession, d: String, nlist: Int = 16,
                 iters: Int = 3): DataFrame = {
    val (corpus, _) = corpusAndQueries(s, d)
    // a COLD quantizer memo re-scans the corpus iters+1 times during
    // training — cache for the fit like ivfTopK, released as soon as
    // the driver-side centroids exist (warm calls never evaluate the
    // by-name corpus, so the cache round-trip is a no-op there)
    val fitCorpus = corpus.cache()
    val cents =
      try ivfQuantizers.getOrElseUpdate(s, d, (nlist, iters))(
        kmeansCentroids(fitCorpus, nlist, iters))
      finally fitCorpus.unpersist()
    val sizes = corpus
      .select(nearestCentroidId(col("vec"), cents).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("n_vectors"))
    val total = sizes.agg(sum("n_vectors").as("total"),
      count(lit(1)).as("n_lists"), max("n_vectors").as("mx"))
    sizes.crossJoin(broadcast(total))
      .select(col("cid"), col("n_vectors"),
        bround(col("n_vectors") * col("n_lists") / col("total").cast("double"), 4)
          .as("imbalance"),
        bround(col("mx") / col("total").cast("double"), 4).as("max_list_share"))
      .orderBy(col("n_vectors").desc, col("cid"))
  }

  /** IVF RESIDUAL-ENERGY AUDIT — the quality half beside
    * [[ivfBalance]]'s size half: per list, the mean squared distance
    * of members to their centroid. A list can be size-balanced yet
    * sprawling (high residual = the centroid represents its members
    * poorly → PQ-on-residual codes degrade and probe recall drops for
    * queries landing there) — THIS is the list the next quantizer
    * rebuild should split, which a count audit cannot see. One corpus
    * map pass (argmin + squared distance against the same memoized
    * broadcast centroids the serving path probes), one nlist-row
    * aggregate; residual sums stay in DECIMAL so the report is
    * run-deterministic.
    */
  def ivfResiduals(s: SparkSession, d: String, nlist: Int = 16,
                   iters: Int = 3): DataFrame = {
    val (corpus, _) = corpusAndQueries(s, d)
    // cold-fit cache round-trip — see ivfBalance
    val fitCorpus = corpus.cache()
    val cents =
      try ivfQuantizers.getOrElseUpdate(s, d, (nlist, iters))(
        kmeansCentroids(fitCorpus, nlist, iters))
      finally fitCorpus.unpersist()
    val withDist = corpus.select(
      nearestCentroidId(col("vec"), cents).as("cid"), col("vec"))
    // squared distance to the ASSIGNED centroid: recompute against the
    // literal centroid matrix via a per-cid case (nlist is small)
    val d2 = cents.sortBy(_._1).map { case (cid, cv) =>
      (cid, graft.functions.Vectors.l2Distance(col("vec"),
        array(cv.map(lit).toIndexedSeq: _*)))
    }.foldLeft(lit(Double.NaN)) { case (acc, (cid, dist)) =>
      when(col("cid") === cid, dist * dist).otherwise(acc)
    }
    val per = withDist
      .select(col("cid"), round(d2, 6).cast("decimal(18,6)").as("r2"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"), sum("r2").as("sr"))
    val tot = per.agg(sum("sr").as("tot_sr"), sum("n_vectors").as("n"))
    per.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vectors"),
        (col("sr").cast("double") / col("n_vectors")).as("mean_residual"),
        (col("sr").cast("double") / col("tot_sr").cast("double")).as("energy_share"))
      .orderBy(col("mean_residual").desc, col("cid"))
  }

  /** `nBits` seeded pseudo-random hyperplanes (unit-free — sign only). */
  private def hyperplanes(dim: Int, nBits: Int, seed: Long = 7L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane LSH top-k with hamming-1 multiprobe: signature =
    * sign bits of hyperplane dot products; candidates share the exact
    * bucket or differ in one query bit. Bucket keys shuffle; vectors
    * stay columnar.
    */
  def lshTopK(s: SparkSession, d: String, k: Int = 10, nBits: Int = 4, dim: Int = 64): DataFrame = {
    val (corpus, queries) = corpusAndQueries(s, d)
    val planes = hyperplanes(dim, nBits)
    def sig(v: org.apache.spark.sql.Column) =
      planes.zipWithIndex.map { case (p, i) =>
        // native dot kernel — same index-order fold as the
        // zip_with+aggregate formulation it replaces, inside codegen
        val dp = dot(v, array(p.map(lit): _*))
        when(dp >= 0, shiftleft(lit(1), i)).otherwise(0)
      }.reduce(_ + _)
    val ctab = corpus.withColumn("bucket", sig(col("vec")))
    // query probes: own bucket + each hamming-1 neighbor
    val qtab = queries.withColumn("bucket0", sig(col("qvec")))
      .select(col("query_id"), col("qvec"),
        explode(array(col("bucket0") +:
          (0 until nBits).map(i => col("bucket0").bitwiseXOR(lit(1 << i))): _*)).as("bucket"))
    rankPerQuery(ctab.join(broadcast(qtab), "bucket")
      .withColumn("cs", cosineSim(col("vec"), col("qvec"))), k)
  }

  /** NN-DESCENT approximate k-NN GRAPH construction (Dong et al. 2011)
    * — the batch primitive that graph-based ANN indexes (HNSW /
    * DiskANN / NSG builders) consume: every vector's k nearest
    * neighbors, refined by the "neighbors of neighbors are likely
    * neighbors" iteration. Init seeds each node's list from its IVF
    * co-bucket peers (the same seeded k-means blocker the index build
    * uses); each round then joins the CURRENT k-regular edge list to
    * itself (undirected — forward ∪ reverse edges, as the paper
    * prescribes), rescores the expanded candidates with exact cosine,
    * and truncates back to k via the TopKPerKey physical operator (≤ k
    * rows per node cross each round's exchange).
    *
    * Scale shape: state between rounds is the edge list — n·k rows, not
    * n² — and a round's candidate expansion is ≤ n·(2k)² rows, LINEAR
    * in n for fixed k; each round localCheckpoints so lineage stays
    * flat over any round count. Convergence is data-adaptive (hub-y
    * real corpora converge in 2-3 rounds; the near-orthogonal synthetic
    * embeddings are the worst case, which the recall spec tracks as
    * monotone improvement over init). Approximate + hash-seeded →
    * rows-only + AnnSpec recall/shape checks, no DuckDB oracle.
    */
  def nnDescentGraph(s: SparkSession, d: String, k: Int = 10, rounds: Int = 2,
                     nlist: Int = 0, iters: Int = 3, sampleCap: Int = 0): DataFrame =
    knnMemo.getOrElseUpdate(s, d, s"$k:$rounds:$nlist:$iters:$sampleCap")(
      buildKnnGraph(s, d, k, rounds, nlist, iters, sampleCap).localCheckpoint())

  /** The memo store for [[nnDescentGraph]]: the scored k-NN edge list is
    * INDEX STATE (n·k rows, built once per corpus snapshot, consumed by
    * every downstream audit/build) — same discipline as the centroid
    * and search-graph memos, so benchmarks can time BUILD and SERVE
    * separately.
    */
  // no onEvict: the stored value is localCheckpoint()ed, and
  // Dataset.unpersist only releases CacheManager-tracked plans — it
  // cannot reach checkpoint RDD blocks (the simhashSigMemo discipline);
  // the ContextCleaner frees them when the entry drops
  private val knnMemo = new SessionMemo[String, DataFrame]("ann_knn_build")

  private def buildKnnGraph(s: SparkSession, d: String, k: Int, rounds: Int,
                            nlist: Int, iters: Int, sampleCap: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("vec")).cache()
    // Unsampled init cost would be Σ|bucket|² ≈ n²/nlist — n^1.5 pairs
    // at the √n-list default, and unbounded on ONE skewed bucket. So
    // init samples: each node pairs with its `cap` ring-successors in a
    // hash-shuffled ordering of its bucket (+ the reverse edges) — a
    // deterministic random sample of co-bucket peers, ≤ 2·cap init
    // candidates per (node × probe) whatever the bucket size. This is
    // exactly the paper's sample-K init, expressed as a window + a
    // band-limited self-join instead of a per-bucket loop. Small
    // buckets (|bucket| ≤ cap+1) degenerate to the full cross join.
    // nlist=0 (default) = pick √n lists, floor 16; sampleCap=0 = 4k
    // (the paper's sample-rate-1 init: K candidates per direction per
    // probe; 2k left recall ~0.1 short of the unsampled init at test SF).
    val lists = if (nlist > 0) nlist
      else math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val cap = if (sampleCap > 0) sampleCap else 4 * k
    // one coarse quantizer per (corpus, lists, iters) — shared with the
    // search-graph build (both bucket the full embeddings relation;
    // training twice for an identical result was ~3 s of the build line)
    val cents = knnQuantizers.getOrElseUpdate(s, d, (lists, iters))(
      kmeansCentroids(emb, lists, iters))
    descendEdges(emb, cents, k, rounds, cap)
      .select(col("src").as("vec_id"), col("rank").as("rk"), col("dst").as("neighbor_id"),
        round(col("cs"), 4).as("cosine"))
      .orderBy("vec_id", "rk")
  }

  /** NN-descent core: scored k-NN edge list (rank, src, dst, cs), each
    * edge ranked within its src, over any (vec_id, vec) relation —
    * shared by [[nnDescentGraph]] (the audit view) and [[graphTopK]]
    * (the search index build).
    */
  private[graft] def descendEdges(emb: DataFrame, cents: Seq[(Long, Seq[Double])],
                           k: Int, rounds: Int, cap: Int): DataFrame = {
    val posts = emb.select(col("vec_id"),
      explode(slice(rankedCentroids(col("vec"), cents), 1, 2)
        .getField("cid")).as("cid"))
    // exact-rescore candidates, keep each node's k best (heap operator:
    // only <= k rows per (node x partition) reach the exchange)
    def topK(cand: DataFrame): DataFrame =
      TopK.perKey(
        cand
          .join(emb.select(col("vec_id").as("src"), col("vec").as("sv")), "src")
          .join(emb.select(col("vec_id").as("dst"), col("vec").as("dv")), "dst")
          .select(col("src"), col("dst"),
            round(cosineSim(col("sv"), col("dv")), 6).as("cs")),
        Seq(col("src")), Seq(col("cs").desc, col("dst").asc), k)
    var knn = topK(ringInitPairs(posts, cap)).localCheckpoint()
    for (_ <- 1 to rounds) {
      val und = knn.select("src", "dst")
        .union(knn.select(col("dst").as("src"), col("src").as("dst")))
      val expanded = und.as("e1").join(und.as("e2"),
          col("e1.dst") === col("e2.src") && col("e1.src") =!= col("e2.dst"))
        .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
      knn = topK(und.union(expanded).distinct()).localCheckpoint()
    }
    knn
  }

  /** Bounded NN-descent init: pair every bucket member with its `cap`
    * successors on a hash-shuffled ring of the bucket (both directions
    * emitted). Pairs per bucket ≤ 2·cap·|bucket| — LINEAR in bucket
    * size, vs |bucket|² for the full co-bucket cross join (which one
    * skewed bucket turns into the whole job). The ring offset is part
    * of the JOIN KEY — each left row explodes its ≤ cap target
    * positions and the join matches (cid, rn) exactly — so the join
    * itself enumerates only the ≤ cap·|bucket| matched pairs; a
    * cid-only equi-join with the ring band as a post-join filter would
    * still stream |bucket|² candidate pairs through a skewed bucket
    * before filtering. xxhash64 ordering makes the sample deterministic
    * AND uniform-ish regardless of id layout.
    */
  private[graft] def ringInitPairs(posts: DataFrame, cap: Int): DataFrame = {
    // ONE exchange (the bucket groupBy); the ring pairing then runs
    // entirely map-side over each bucket's member array — no window, no
    // second join, no m² intermediate anywhere. Ring order is the
    // (xxhash64, id) sort of the members (deterministic shuffle of the
    // bucket); each index i pairs with its min(cap, sz−1) cyclic
    // successors, so pairs per bucket stay ≤ 2·cap·sz whatever the
    // skew. A pathological mega-bucket materializes one long array in
    // its task (8 B/member — 10⁷ members ≈ 80 MB, within task memory
    // at any plausible skew; the quantizer's balance audit is the
    // backstop before that). SINGLE-STAGE ASSUMPTION: the `ids` array
    // survives as a row column between the two generates below, which
    // is free only while both run in one projection pipeline (true
    // today — same WholeStageCodegen span); if an engine change ever
    // splits the generates across a stage boundary (codegen fallback,
    // an AQE-inserted exchange), every intermediate (src, i) row would
    // carry its own array copy — re-audit here before trusting a new
    // Spark major version with mega-buckets.
    val mem = array_sort(collect_list(
      struct(xxhash64(col("vec_id")).as("hk"), col("vec_id").as("id"))))
    val buckets = posts.groupBy("cid")
      .agg(transform(mem, m => m.getField("id")).as("ids"))
    val sz = size(col("ids"))
    val fwd = buckets
      .select(col("ids"), sz.as("sz"),
        explode(transform(sequence(lit(0), sz - 1), i => struct(
          element_at(col("ids"), i + 1).as("src"), i.as("i")))).as("p"))
      .select(col("p.src"),
        explode(when(col("sz") > 1,
          transform(sequence(lit(1), least(lit(cap), col("sz") - 1)),
            o => element_at(col("ids"), pmod(col("p.i") + o, col("sz")) + 1)))
          .otherwise(array())).as("dst"))
    // BOTH directions from the one pipeline: `fwd ∪ reverse(fwd)` put
    // the whole bucket-collect + double-explode subtree on each union
    // branch (no ReuseExchange across differing projections — the plan
    // evaluated it twice, measured ~40% of the init execution); one
    // more map-side Generate emits the reverse rows instead. Same
    // distinct edge set — the trailing distinct is unchanged.
    fwd.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
  }

  /** Driver-side memo of built k-NN graphs (localCheckpointed edge
    * lists): like centroids, the graph is INDEX STATE — built once per
    * corpus snapshot, consumed by every search — and n·k rows, safe to
    * pin. Keyed by session identity so a fresh session rebuilds.
    */
  // no onEvict — localCheckpoint()ed value, see the knnMemo note
  private val graphMemo = new SessionMemo[String, DataFrame]("ann_graph_build")

  /** GRAPH-ANN top-k search (the HNSW/DiskANN serving tier, batched):
    * best-first beam traversal over the NN-descent k-NN graph. Per
    * query: score a small deterministic ENTRY set, then each hop (1)
    * expands the current top-`beam` frontier through the undirected
    * edge list, (2) drops already-visited nodes (anti join on the
    * per-query visited set), (3) exact-scores only the new candidates.
    * After `hops` rounds the answer is the best k of everything scored.
    *
    * This is the batch formulation of Qdrant's HNSW serving path
    * (/root/reference/search.py:31-49): graph quality (from the build)
    * buys recall-at-candidate-budget that flat IVF probing can't reach
    * on clustered corpora. Scale shape: the corpus NEVER shuffles —
    * candidates (Q·beam·k rows/hop) broadcast to the corpus scan for
    * vector attach, the edge list joins broadcast frontiers, and every
    * per-query cut is the TopKPerKey heap operator. State between hops
    * is (query, node, score) rows — Q·budget, not Q·n. Hash-seeded
    * build + approximate ⇒ rows-only + AnnSpec recall vs equal-budget
    * IVF; deterministic end-to-end (seeded k-means, xxhash ring,
    * integer tie-breaks), so the driver's rows-only check is stable.
    */
  def graphTopK(s: SparkSession, d: String, k: Int = 10, beam: Int = 10,
                hops: Int = 2, graphK: Int = 10, entries: Int = 0): DataFrame =
    graphTopKWithBudget(s, d, k, beam, hops, graphK, entries)._1

  /** [[graphTopK]] plus a LAZY thunk for the AVERAGE per-query candidate
    * budget actually scored (|visited| / |queries|) — the number the
    * recall-per-budget comparison against IVF's nprobe/nlist probe
    * fraction needs. Lazy so the serving path ([[graphTopK]] discards
    * it) never pays the two extra count jobs.
    *
    * `entries = 0` (default) = centroid-routed auto set: one
    * representative per coarse k-means cluster PLUS a 32-node hash
    * sample (nlist + 32 total) — the set scales with the quantizer
    * (∝ √n) so every coarse region has a door, and the hash tail keeps
    * the random-position diversity that reaches cluster fringes a
    * centroid-core-only set can under-serve. The set is INDEX STATE
    * (memoized with the graph, derived from the same centroids), so
    * serving pays no extra jobs.
    */
  private[graft] def graphTopKWithBudget(s: SparkSession, d: String, k: Int = 10,
                                         beam: Int = 10, hops: Int = 2,
                                         graphK: Int = 10,
                                         entries: Int = 0): (DataFrame, () => Double) = {
    val (corpus, queries) = corpusAndQueries(s, d)
    val emb = corpus.cache()
    val entrySet = entryMemo.getOrElseUpdate(s, d, s"$graphK:$entries") {
        val cents = sharedQuantizer(s, d)
        val n = if (entries > 0) entries else cents.size + 32
        centroidEntries(emb, cents, n).localCheckpoint()
      }
    beamSearch(emb, graphEdges(s, d, graphK, emb), entrySet,
      queries, k, beam, hops)
  }

  /** Memoized entry sets — INDEX STATE alongside [[graphMemo]]: derived
    * once per corpus snapshot from the build's own centroids, reused by
    * every search (same discipline as centroids/edges, so the serving
    * path pays zero entry-derivation jobs).
    */
  // no onEvict — localCheckpoint()ed value, see the knnMemo note
  private val entryMemo = new SessionMemo[String, DataFrame]("ann_graph_build")

  /** The ONE coarse quantizer of the knn/graph index family, trained on
    * the full embeddings relation (a superset of the search corpus — a
    * routing quantizer trained on a superset buckets the corpus just as
    * well, and sharing it across the NN-descent audit view, the
    * search-graph build, and the entry derivation saves two identical
    * trainings per corpus snapshot).
    */
  private def sharedQuantizer(s: SparkSession, d: String): Seq[(Long, Seq[Double])] = {
    // cache for the fill's duration: a cold quantizer runs iters+1
    // actions over this relation (init collect + per-iteration
    // assign/update), and uncached each re-ran the parquet scan +
    // float→double conversion (guide §5: reused AND recompute-
    // expensive; profiled 1.75/0.76/0.63 s per iteration uncached).
    // Released in finally — nothing outlives the training.
    val full = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("vec")).cache()
    try {
      val lists = math.max(16, math.ceil(math.sqrt(full.count().toDouble)).toInt)
      knnQuantizers.getOrElseUpdate(s, d, (lists, 3))(kmeansCentroids(full, lists, 3))
    } finally full.unpersist()
  }

  private def graphEdges(s: SparkSession, d: String, graphK: Int,
                         emb: DataFrame): DataFrame =
    graphMemo.getOrElseUpdate(s, d, s"$graphK") {
      val cents = sharedQuantizer(s, d)
      val g = descendEdges(emb, cents, graphK, rounds = 2, cap = 4 * graphK)
        .select("src", "dst")
      g.union(g.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        .localCheckpoint()
    }

  /** `n` corpus nodes in xxhash64 order — a deterministic pseudo-random
    * ENTRY sample (id-order would bias toward whatever the id layout
    * clusters together). This is the coarse routing HNSW's upper layers
    * perform, collapsed to one sample: no layer hierarchy needed in
    * batch, the hops do the descent. TakeOrdered — O(n) rows.
    */
  private[graft] def entrySample(emb: DataFrame, n: Int): DataFrame =
    emb.select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(n)

  /** CENTROID-ROUTED entry set: for each coarse k-means cluster, the
    * member nearest its centroid — HNSW's upper-layer routing collapsed
    * to a build-time set. A flat hash sample of fixed size covers only
    * ~n·(1-1/e) distinct regions by luck (a query whose cluster drew no
    * entry must tunnel in through inter-cluster edges, which a
    * well-separated corpus barely has); one representative per centroid
    * guarantees every coarse region a door, and the set size scales
    * with the quantizer (nlist ∝ √n) instead of a constant. `n` above
    * the cluster count tops up with the hash sample over the remaining
    * nodes; below it keeps the lowest cluster ids. Integer tie-breaks
    * throughout — the set is deterministic, so a reopened index routes
    * identically. Assumes [[kmeansCentroids]]' contract of consecutive
    * cluster ids 0..k-1 (element_at routes cid → centroid literal).
    */
  private[graft] def centroidEntries(emb: DataFrame, cents: Seq[(Long, Seq[Double])],
                                     n: Int): DataFrame = {
    val sorted = cents.sortBy(_._1)
    val centArr = array(sorted.map { case (_, cv) => array(cv.map(lit): _*) }: _*)
    val assigned = emb
      .select(col("vec_id"), col("vec"), nearestCentroidId(col("vec"), cents).as("cid"))
      .select(col("vec_id"), col("cid"),
        l2Distance(col("vec"), element_at(centArr, (col("cid") + 1).cast("int"))).as("d"))
    val reps = TopK.perKey(assigned,
        Seq(col("cid")), Seq(col("d").asc, col("vec_id").asc), 1)
    if (n <= sorted.size) reps.filter(col("cid") < n).select("vec_id")
    else {
      val base = reps.select("vec_id")
      base.union(entrySample(emb.join(base, Seq("vec_id"), "left_anti"), n - sorted.size))
    }
  }

  /** The batched best-first traversal shared by [[graphTopK]] and the
    * persistent `graft.api.GraphIndex`: score the entry set, then each
    * hop expand the top-`beam` frontier through the undirected edge
    * list (visited anti-join; only NEW candidates exact-scored), answer
    * = best k of everything scored. Returns the ranked result plus a
    * LAZY thunk for the average per-query candidate budget actually
    * scored — eval harnesses force it; serving callers discard it
    * without running the count jobs.
    */
  private[graft] def beamSearch(emb: DataFrame, edges: DataFrame,
                                entrySet: DataFrame, queries: DataFrame,
                                k: Int, beam: Int, hops: Int): (DataFrame, () => Double) = {
    // exact-score a (query_id, vec_id) candidate set; candidates are
    // Q·budget rows — ALWAYS the broadcast side; the corpus scan stays
    // in place (no corpus shuffle anywhere in the search)
    def score(cand: DataFrame): DataFrame =
      emb.join(broadcast(cand), "vec_id")
        .join(broadcast(queries), "query_id")
        .select(col("query_id"), col("vec_id"),
          round(cosineSim(col("vec"), col("qvec")), 6).as("cs"))
    val entry = entrySet
      .crossJoin(queries.select(col("query_id")))
      .select(col("query_id"), col("vec_id"))
    var scored = score(entry).localCheckpoint()
    var frontier = TopK.perKey(scored, Seq(col("query_id")), bestCosine, beam)
    for (_ <- 1 to hops) {
      // the visited set IS scored's key projection (every scored batch
      // enters exactly once, pre-filtered by this anti-join), and the
      // running union is a union of ALREADY-CHECKPOINTED hop leaves —
      // so the loop materializes ONE relation per hop (the new
      // scores), not three (r14; was ns + scored-union + visited-union
      // checkpoints = 3 jobs/hop for identical rows)
      val visited = scored.select("query_id", "vec_id")
      // frontier (Q·beam rows) broadcasts into the edge list — the
      // only n·k-sized relation here — so expansion is map-side too
      val cand = edges.join(
          broadcast(frontier.select(col("query_id"), col("vec_id").as("src"))), "src")
        .select(col("query_id"), col("dst").as("vec_id")).distinct()
        .join(visited, Seq("query_id", "vec_id"), "left_anti")
      val ns = score(cand).localCheckpoint()
      scored = scored.union(ns)
      frontier = TopK.perKey(ns, Seq(col("query_id")), bestCosine, beam)
    }
    val result = rankPerQuery(scored, k)
    val finalVisited = scored.select("query_id", "vec_id")
    (result, () => finalVisited.count().toDouble / math.max(queries.count(), 1L))
  }

  /** Materialize independent report arms CONCURRENTLY from a small
    * driver pool (guide §2.6 — actions are only sequential because the
    * driver calls them sequentially): each thunk localCheckpoints its
    * own few-row result, so the per-arm plans optimize/codegen/execute
    * in parallel and later arms back-fill executor capacity freed by
    * earlier arms' stragglers. Values are untouched — every arm runs
    * the exact logical plan the sequential union ran; only the
    * schedule changes. Exceptions rethrow unwrapped.
    */
  private[operators] def materializeConcurrently(
      arms: Seq[() => DataFrame], parallelism: Int = 4): Seq[DataFrame] =
    concurrently(arms.map(f => () => f().localCheckpoint()), parallelism)

  /** Run independent driver thunks from a small fixed pool ([[
    * materializeConcurrently]]'s engine, reusable for non-DataFrame
    * model fits) — delegates to [[graft.plans.Par.run]].
    */
  private[operators] def concurrently[T](thunks: Seq[() => T],
                                         parallelism: Int = 4): Seq[T] =
    graft.plans.Par.run(thunks, parallelism)

  /** RECALL@k EVALUATION harness: run EVERY serving tier — the batch
    * methods (graph / IVF / LSH) on the shared query batch AND the
    * quantized single-query tiers (SQ / BQ / MRL / PQ / IVF-PQ) on a
    * sampled query-id set — against exact ground truth in the tier's
    * own metric, and report mean recall per method: ONE report ranks
    * every serving tier per corpus snapshot (the Qdrant-tuning loop;
    * the spec suite checks recall FLOORS; this op is the measurement
    * itself, as data).
    *
    * Scale shape: ground truth on a SAMPLED query batch is the standard
    * practice (exact top-k per query is one broadcast-scored scan — the
    * corpus never shuffles, so truth costs Q/n of nothing extra); each
    * method's hit-rate is a (query, id)-keyed join of two ≤ Q·k-row
    * relations. Methods are approximate/hash-seeded ⇒ rows-only +
    * AnnSpec floors, no DuckDB oracle.
    */
  def recallEval(s: SparkSession, d: String, k: Int = 10,
                 quantQueryIds: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L)): DataFrame = {
    def evalVs(truthDf: DataFrame, nTrueDf: DataFrame)(
        name: String, res: DataFrame): DataFrame = {
      val hits = truthDf.join(res.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      nTrueDf.join(hits, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          round(avg(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_true")), 4)
            .as("mean_recall"))
        .select(lit(name).as("method"), col("n_queries"), col("mean_recall"))
    }
    val caches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pinned(df: DataFrame): DataFrame = { val c = df.cache(); caches += c; c }
    val truth = pinned(bruteTopK(s, d, k).select("query_id", "vec_id"))
    val nTrue = truth.groupBy("query_id").agg(count(lit(1)).as("n_true"))
    val eval = evalVs(truth, nTrue) _
    // QUANTIZED serving tiers (VERDICT r4 #7): the single-query
    // sq/bq/mrl/pq/ivfpq calls union under a query_id literal — one
    // evaluation job over all tiers and queries; quantizer state
    // (k-means books, SQ bounds, BQ code table) is the same memoized
    // per-snapshot model every call shares. Ground truth per METRIC:
    // sq/bq/mrl rank by cosine, pq/ivfpq by L2 — each is one
    // broadcast-scored batch pass over the same corpus slice the tiers
    // search (all vectors minus the query point).
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), toDouble(col("embedding")).as("vec"))
    val qs = emb.filter(col("vec_id").isin(quantQueryIds.map(Long.box): _*))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    def truthBatch(l2: Boolean): (DataFrame, DataFrame) = {
      val sc = if (l2) l2Distance(col("vec"), col("qvec"))
               else cosineSim(col("vec"), col("qvec"))
      val ord = if (l2) col("sc").asc else col("sc").desc
      val t = pinned(TopK.perKey(
          emb.join(broadcast(qs), col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id"), sc.as("sc")),
          Seq(col("query_id")), Seq(ord, col("vec_id").asc), k)
        .select("query_id", "vec_id"))
      (t, t.groupBy("query_id").agg(count(lit(1)).as("n_true")))
    }
    try {
      val (cosT, cosN) = truthBatch(l2 = false)
      val (l2T, l2N) = truthBatch(l2 = true)
      def batched(fn: Long => DataFrame): DataFrame = quantQueryIds
        .map(q => fn(q).select(lit(q).as("query_id"), col("vec_id")))
        .reduce(_ unionByName _)
      // each tier materializes its own 1-row report concurrently
      // (materializeConcurrently — same per-tier plans, parallel
      // schedule instead of one monolithic 9-arm union job)
      materializeConcurrently(Seq(
          () => eval("brute", bruteTopK(s, d, k)),
          () => eval("graph", graphTopK(s, d, k)),
          () => eval("ivf", ivfTopK(s, d, k)),
          () => eval("lsh", lshTopK(s, d, k)),
          () => evalVs(cosT, cosN)("sq", batched(q => Embeddings.sqRerankSearch(s, d, q, k))),
          () => evalVs(cosT, cosN)("bq", batched(q => Embeddings.bqRerankSearch(s, d, q, k))),
          () => evalVs(cosT, cosN)("mrl", batched(q => Embeddings.mrlSearch(s, d, q, k))),
          () => evalVs(l2T, l2N)("pq", batched(q => Embeddings.pqSearch(s, d, q, k))),
          () => evalVs(l2T, l2N)("ivfpq", batched(q => Embeddings.ivfPqSearch(s, d, q, k)))),
        // one wave: 9 arms, each a few small jobs — at parallelism 6
        // the 3 leftovers waited out the first wave's slowest arm
        parallelism = 9)
        .reduce(_ unionByName _).orderBy("method")
        // eager 9-row materialization so the truth caches release NOW
        // (the tuning-operator discipline — repeated evals no longer
        // accumulate executor storage)
        .localCheckpoint()
    } finally caches.foreach(_.unpersist())
  }

  /** IVF NPROBE-TUNING CURVE — the [[graft.operators.Dedup
    * .minhashBandTuning]] discipline applied to the IVF knob: empirical
    * recall@k vs nprobe over ONE shared quantizer and ONE scored
    * candidate set (candidates are scored once at max-nprobe with
    * their probe rank attached; each curve point is a FILTER over that
    * relation, not a re-scan — the corpus is read once for the whole
    * curve). The exact endpoint anchors the curve: nprobe = nlist scans
    * every list, so its recall is 1.0 BY CONSTRUCTION (spec'd), and the
    * operator reports the cost axis (share of lists scanned) beside
    * the quality axis. This is the report that turns "pick nprobe" from
    * folklore into a lookup.
    */
  def ivfProbeTuning(s: SparkSession, d: String, k: Int = 10, nlist: Int = 16,
                     nprobes: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    val (corpus0, queries) = corpusAndQueries(s, d)
    val corpus = corpus0.cache()
    val cents = ivfQuantizers.getOrElseUpdate(s, d, (nlist, 3))(
      kmeansCentroids(corpus, nlist, 3))
    val assigned = corpus.select(col("vec_id"), col("vec"),
      nearestCentroidId(col("vec"), cents).as("cid"))
    val maxP = math.min(nprobes.max, nlist)
    val probes = queries.select(col("query_id"), col("qvec"),
        posexplode(slice(rankedCentroids(col("qvec"), cents), 1, maxP))
          .as(Seq("pr0", "pc")))
      .select(col("query_id"), col("qvec"), (col("pr0") + 1).as("probe_rank"),
        col("pc").getField("cid").as("cid"))
    val scored = assigned.join(broadcast(probes), "cid")
      .withColumn("cs", cosineSim(col("vec"), col("qvec")))
      .select("query_id", "vec_id", "cs", "probe_rank").cache()
    val truth = bruteTopK(s, d, k).select("query_id", "vec_id").cache()
    try {
      val nTrue = truth.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      // each curve point is an independent filter over the shared
      // scored/truth caches — materialize the five arms concurrently
      // (materializeConcurrently; 1-row checkpoints, values unchanged)
      materializeConcurrently(nprobes.map { np => () =>
        val res = TopK.perKey(scored.filter(col("probe_rank") <= np),
          Seq(col("query_id")), bestCosine, k)
        val hits = truth.join(res.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
        nTrue.join(hits, Seq("query_id"), "left")
          .agg(count(lit(1)).as("n_queries"),
            round(avg(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_true")), 4)
              .as("mean_recall"))
          .select(lit(np.toLong).as("nprobe"), col("n_queries"), col("mean_recall"),
            round(lit(math.min(np, nlist).toDouble / nlist), 4).as("lists_share"))
      }).reduce(_ unionByName _).orderBy("nprobe")
        // eager |nprobes|-row materialization so the intermediates can
        // be released NOW — without this, repeated tuning calls
        // accumulate executor storage for the session lifetime
        .localCheckpoint()
    } finally { scored.unpersist(); truth.unpersist(); corpus.unpersist() }
  }
}
