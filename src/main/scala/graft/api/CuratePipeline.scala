package graft.api

import graft.Tables
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the composed pipeline a user of
  * this library runs nightly over raw ingested documents —
  *
  *   PII scrub (optional) → quality gate (+ optional Gopher rule
  *   battery) → exact dedup → near-dup clustering (keep one doc per
  *   cluster) → winnowing gate (optional, MOSS local-overlap chains) →
  *   SEMANTIC dedup (optional, SemDeDup over the embedding space —
  *   paraphrase-level redundancy no surface tier sees) →
  *   boilerplate gate (optional, corpus-wide duplicate-n-gram
  *   fraction) → benchmark-decontamination gate → DSIR importance
  *   resampling (optional, re-weights the mix toward the target
  *   distribution) → deterministic sample →
  *   lang-partitioned curated parquet + a per-stage attrition report.
  *
  * Every stage is one of the library's verified operators; the pipeline
  * only wires them. Scale shape: stages communicate by doc_id sets
  * (broadcast semi-/anti-joins — the full text crosses no shuffle after
  * the ingest scan until the final write), and each gate is cheap
  * relative to the signature work it reuses. The work that reads only
  * the raw corpus — the near-dup clusters, the contaminated eval-doc
  * set and, when that gate is on, the boilerplate drop set — fills
  * concurrently with the quality → exact-dedup chain
  * ([[graft.plans.Par.run]]), so its few-task corpus stages share the
  * cores instead of queueing. Each gate is then evaluated once: an
  * enabled gate caches its survivors and counts them in one job, the
  * next gate and the final write read that cache, and a disabled gate
  * passes its input's count through. Every cache a call pins is
  * released when it returns or throws.
  */
object CuratePipeline {

  case class Report(nInput: Long, nAfterQuality: Long, nAfterExactDedup: Long,
                    nAfterNearDedup: Long, nAfterWinnow: Long,
                    nAfterBoilerplate: Long,
                    nAfterDecontam: Long, nSampled: Long,
                    tokenBudget: Option[Long] = None,
                    splitTrainVal: Option[(Long, Long)] = None,
                    splitLeakPairs: Option[Long] = None,
                    nAfterSemantic: Option[Long] = None,
                    nAfterDsir: Option[Long] = None)

  def curate(s: SparkSession, d: String, outPath: String,
             minWords: Int = 5, minUniqRatio: Double = 0.1,
             nearDupThreshold: Double = 0.8, contamRatio: Double = 0.5,
             sampleRate: Double = 1.0,
             piiPattern: Option[String] = None, piiMask: String = "<MASK>",
             maxDupNgramRatio: Double = 1.0,
             gopherGate: Boolean = false,
             winnowMinShared: Int = 0,
             tokenizer: Option[Tokenizer] = None,
             splitValRate: Double = 0.0,
             semanticTau: Option[Double] = None,
             dsirResample: Boolean = false): Report = withPins { pin =>
    val raw = Tables.documents(s, d)
    // 0. PII scrub — a map-side TRANSFORM (rows pass through, text is
    // masked) applied before anything downstream of `docs` touches the
    // text: the exact-dedup key, the quality gate, the winnowing gate
    // (via winnowMatchesOf over the scrubbed relation), the sample
    // bucket, and the curated output all see the scrubbed form. The
    // near-dup-cluster and boilerplate gates are the exception: they
    // reuse the standalone operators' memoized RAW-corpus signatures
    // (masked spans shift gram hashes only inside the mask, so the
    // doc_id pair/cluster structure those gates consume is unchanged
    // except where a match lay INSIDE redacted text).
    val docs = pin(piiPattern
      .map(p => raw.withColumn("text", regexp_replace(col("text"), p, piiMask)))
      .getOrElse(raw))
    // materialized BEFORE the fan-out below: unscrubbed, `docs` is the
    // raw scan every raw-corpus gate set reads, so they all plan against
    // the filled cache (a plan made over an unfilled one picks other
    // joins, and a curation's job count would depend on thread timing)
    val nInput = docs.count()

    // 1. quality gate — columnar metrics, map-side only; the optional
    // Gopher rule battery composes as one more filter column on the
    // same scan (no join, no extra pass)
    val words = split(col("text"), " ")
    val quality0 = docs.filter(size(words) >= minWords &&
      size(array_distinct(words)).cast("double") / size(words) >= minUniqRatio)
    val quality =
      if (gopherGate) quality0.filter(TextAnalysis.gopherPassExpr(minWords = 1))
      else quality0

    // 2. exact dedup — keep the min-doc_id row of each normalized-text
    // group via a window rank: one hash shuffle on the text key, no join
    // and no broadcast (a keep-set broadcast would be corpus-sized —
    // nearly every doc is its own group — far past any driver/broadcast
    // limit at 100 TB)
    val byKey = Window.partitionBy(md5(lower(trim(col("text"))))).orderBy(col("doc_id"))
    val afterExact = pin(quality
      .withColumn("__rk", row_number().over(byKey))
      .filter(col("__rk") === 1).drop("__rk"))

    // The gate sets that depend only on the raw corpus — the near-dup
    // clusters (3), the contaminated eval docs (5) and, when its gate
    // is on, the boilerplate drop set (4) — fill CONCURRENTLY with the
    // scrubbed-corpus chain (1-2): none reads another, and the
    // corpus-to-shingles stages run few tasks each, so one job alone
    // leaves most cores idle. Each set is materialized once here and
    // read from cache by its gate below.
    val contaminated = pin(Dedup.decontaminate(s, d)
      .filter(col("hit_ratio") >= contamRatio).select("doc_id"))
    val boilerDrops = Option.when(maxDupNgramRatio < 1.0)(
      pin(Dedup.dupNgramFraction(s, d)
        .filter(col("dup_ratio") > maxDupNgramRatio).select("doc_id")))
    val fills = Seq[() => Any](
      () => (quality.count(), afterExact.count()),
      // the minhash-pair memo fill inside is eager
      () => Dedup.dupClusters(s, d, nearDupThreshold),
      () => contaminated.count()) ++
      boilerDrops.map(b => () => b.count())
    val Seq(countsAny, clustersAny, _*) = graft.plans.Par.run(fills)
    val (nQuality, nExact) = countsAny.asInstanceOf[(Long, Long)]
    val clusters = clustersAny.asInstanceOf[DataFrame]

    // 3. near-dup clustering — keep one SURVIVING doc per cluster.
    // Clusters come from the raw corpus, so the raw canonical (min-id)
    // member may already be gone (quality/exact gates); choosing the
    // representative among survivors guarantees every cluster with any
    // surviving member keeps exactly one. Cluster membership ≪ corpus
    // (only near-dup docs appear), so both joins broadcast.
    val survivingMembers = afterExact.select("doc_id").join(broadcast(clusters), "doc_id")
    val byCluster = Window.partitionBy("cluster_id").orderBy("doc_id")
    val dropNear = survivingMembers
      .withColumn("__rk", row_number().over(byCluster))
      .filter(col("__rk") > 1).select("doc_id")
    val afterNear = pin(afterExact.join(broadcast(dropNear), Seq("doc_id"), "left_anti"))
    val nNear = afterNear.count()

    // Each enabled gate below caches its survivors and counts them
    // once; the next stage reads that cache, and a disabled gate passes
    // its input and count through without another job.

    // 3b. winnowing gate (optional, winnowMinShared > 0) — LOCAL-overlap
    // matches the whole-set Jaccard tier misses (a long doc embedding
    // another's ≥8-word run scores low Jaccard but is still a lift);
    // match pairs collapse through the shared component dispatch so a
    // copy CHAIN keeps exactly one surviving representative
    val (afterWinnow, nWinnow) =
      if (winnowMinShared <= 0) (afterNear, nNear)
      else {
        val wc = Dedup.clustersOfPairs(s,
          TextAnalysis.winnowMatchesOf(
            TextAnalysis.winnowingOf(docs), minShared = winnowMinShared)
            .select("ia", "ib"))
        val surviving = afterNear.select("doc_id").join(broadcast(wc), "doc_id")
        val byWc = Window.partitionBy("cluster_id").orderBy("doc_id")
        val drop = surviving.withColumn("__rk", row_number().over(byWc))
          .filter(col("__rk") > 1).select("doc_id")
        val kept = pin(afterNear.join(broadcast(drop), Seq("doc_id"), "left_anti"))
        (kept, kept.count())
      }

    // 3c. SEMANTIC dedup tier (optional, semanticTau set) — SemDeDup
    // (Abbas et al. 2023) over the EMBEDDING space: drops docs whose
    // vector has a ≥ τ cosine near-dup of higher priority within its
    // k-means cluster — paraphrase-level redundancy the surface-token
    // tiers cannot see. The drop set comes from the standalone
    // verified operator (same memoized quantizer); it is bounded by
    // docs WITH a near-dup mate (≪ corpus at any honest τ), so the
    // anti-join broadcasts like the other gate sets. Docs without an
    // embedding row pass through untouched.
    val (afterSemantic, nSemantic) = semanticTau match {
      case None => (afterWinnow, None)
      case Some(tau) =>
        // over the RAW embeddings, not the twin-planted eval corpus the
        // benchmark row uses — an eval-corpus drop set can name a real
        // doc whose only "near-dup" is a planted phantom
        val rawEmb = Tables.embeddings(s, d)
          .select(col("vec_id"),
            graft.functions.Vectors.toDouble(col("embedding")).as("vec"))
        val dropped = Dedup.semanticDedupOver(s, d, rawEmb,
          Dedup.rawEmbeddingQuantizers, t = tau)
          .filter(!col("kept")).select(col("vec_id").as("doc_id"))
        val kept = pin(afterWinnow.join(broadcast(dropped), Seq("doc_id"), "left_anti"))
        (kept, Some(kept.count()))
    }

    // 4. boilerplate gate — drop docs dominated by corpus-wide repeated
    // n-grams (templates/navigation chrome that near-dup clustering
    // misses because no single pair is similar enough)
    val (afterBoiler, nBoiler) = boilerDrops match {
      case None => (afterSemantic, nSemantic.getOrElse(nWinnow))
      case Some(boiler) =>
        val kept = pin(afterSemantic.join(broadcast(boiler), Seq("doc_id"), "left_anti"))
        (kept, kept.count())
    }

    // 5. decontamination gate — drop eval-split docs that leak from train
    val afterDecontam = pin(afterBoiler.join(broadcast(contaminated), Seq("doc_id"), "left_anti"))
    val nDecontam = afterDecontam.count()

    // 5b. DSIR importance resampling (optional) — re-weight the mix
    // toward the target distribution (Xie et al. 2023) by the
    // standalone operator's per-doc acceptance relation (ONE definition
    // of the rule; `docs_dsir_sample` reports the same decision rolled
    // up per source). The keep relation is corpus-sized, so the join is
    // UNHINTED — AQE picks the strategy (a broadcast hint here would be
    // the 100-TB OOM the df-cap joins removed).
    val (afterDsir, nDsir) =
      if (!dsirResample) (afterDecontam, None)
      else {
        val kept = pin(afterDecontam.join(
          TextAnalysis.dsirKeepDocs(s, d).filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi"))
        (kept, Some(kept.count()))
      }

    // 6. deterministic hash sample + curated write, partitioned by lang
    val (sampled, nSampled) =
      if (sampleRate >= 1.0) (afterDsir, nDsir.getOrElse(nDecontam))
      else {
        val kept = pin(afterDsir
          .withColumn("bucket", conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long"))
          .filter(col("bucket") < lit((sampleRate * 65536).toLong)).drop("bucket"))
        (kept, kept.count())
      }

    // 6b. train/val split (optional, splitValRate > 0) — the curated
    // output gains a deterministic content-hash `split` column (the
    // sampleHash convention) and the report carries the LEAKAGE PROOF
    // as data: because stage 3 kept at most one member of every near-dup
    // cluster, no ≥ threshold pair can straddle the split among
    // survivors — the audit recomputes that count from the same pair
    // relation and must read 0 (were the near-dedup stage ever bypassed,
    // this is the number that would catch it; the standalone
    // cluster-keyed splitter for un-deduped corpora is
    // [[graft.operators.Dedup.splitByCluster]]).
    val (output, splitInfo, leakInfo) =
      if (splitValRate <= 0) (sampled, None, None)
      else {
        val cut = (splitValRate * 65536).toLong
        // INDEPENDENT hash bits from the stage-6 sample filter (which
        // consumes md5 chars 1-4): reusing them would make the split
        // correlate with the sample cut — at sampleRate 0.1 /
        // splitValRate 0.2 every surviving doc would land in 'val'
        val withSplit = pin(sampled.withColumn("split",
          when(conv(substring(md5(col("text")), 5, 4), 16, 10).cast("long") < cut,
            "val").otherwise("train")))
        val nVal = withSplit.filter(col("split") === "val").count()
        // UNHINTED joins: the split relation is corpus-sized (a
        // broadcast hint would be the 100-TB OOM the df-cap joins
        // removed); the pair side is near-dup-bounded and AQE picks
        // the strategy
        val sp = withSplit.select("doc_id", "split")
        val leaks = Dedup.minhashPairs(s, d, nearDupThreshold)
          .join(sp.select(col("doc_id").as("ia"), col("split").as("sa")), "ia")
          .join(sp.select(col("doc_id").as("ib"), col("split").as("sb")), "ib")
          .filter(col("sa") =!= col("sb")).count()
        (withSplit, Some((nSampled - nVal, nVal)), Some(leaks))
      }
    output.repartition(col("lang"))
      .write.partitionBy("lang").mode("overwrite").parquet(outPath)

    // 7. token budget (optional) — the number the training run actually
    // plans around: total subword tokens of the CURATED output under a
    // persisted [[Tokenizer]] artifact (so two pipelines sharing the
    // artifact report comparable budgets). Encoding runs over the
    // curated slice's distinct-word vocabulary — one extra
    // vocabulary-sized pass, not a corpus re-read.
    val tokenBudget = tokenizer.map { t =>
      t.encode(sampled.select("doc_id", "text"))
        .agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
    }
    Report(nInput, nQuality, nExact, nNear, nWinnow, nBoiler, nDecontam,
      nSampled, tokenBudget, splitInfo, leakInfo, nSemantic, nDsir)
  }

  /** Runs `body` with a `pin` that caches a relation for this call only:
    * every pinned relation is released when `body` returns or throws.
    * The fan-out waits for all its jobs before it rethrows, so none is
    * still filling a cache when the release runs.
    */
  private def withPins[T](body: (DataFrame => DataFrame) => T): T = {
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try body { df => pinned += df; df.cache() }
    finally pinned.foreach(_.unpersist())
  }

  /** The full switch-over flow: curate a raw corpus, CHUNK the curated
    * documents into overlapping windows, embed every chunk with the
    * deterministic feature-hash embedder, and return a searchable
    * [[VectorIndex]] over the chunks — raw documents in, the reference
    * service's collection out, entirely as one Spark job graph.
    *
    * Point ids are doc_id·2¹⁶ + chunk_id (stable, collision-free for
    * corpora under 2⁴⁷ docs with <65536 chunks each); the tenant key
    * carries through from doc_id like Tables.points. Scale shape: the
    * chunker is a map-side flatMap, the embedder is the single-exchange
    * two-level aggregation, and the index build adds nothing on top —
    * curated text shuffles exactly once (on doc_id for the embed).
    */
  def curateToIndex(s: SparkSession, d: String, curatedPath: String,
                    chunkWords: Int = 50, stride: Int = 40,
                    minWords: Int = 5): VectorIndex = {
    curate(s, d, curatedPath, minWords = minWords)
    val curated = s.read.parquet(curatedPath)
    val ws = split(col("text"), " ")
    val chunk = slice(col("ws"), col("k").cast("int") * stride + 1, lit(chunkWords))
    val chunks = curated
      .select(col("doc_id"), col("lang"), col("source"), ws.as("ws"),
        size(ws).cast("long").as("n"))
      .select(col("doc_id"), col("lang"), col("source"),
        explode(sequence(lit(0L), expr(s"(n - 1) div $stride"))).as("k"), col("ws"))
      .select((col("doc_id") * 65536 + col("k")).as("id"),
        concat_ws(" ", chunk).as("text"),
        (col("doc_id") % 20).as("user_id"),
        col("source").as("site"), col("lang"),
        (col("doc_id") * 65536 + col("k")).as("seq"))
    val embedded = graft.operators.VectorStore
      .embedDocs(chunks.select(col("id").as("doc_id"), col("text")))
      .select(col("doc_id").as("id"), col("embedding").as("vector"))
    VectorIndex(chunks.join(embedded, "id"))
  }
}
