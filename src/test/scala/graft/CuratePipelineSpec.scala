package graft

import graft.api.CuratePipeline
import graft.api.CuratePipeline.Report
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

class CuratePipelineSpec extends SparkSpecBase {

  test("splitValRate emits a train/val column with zero near-dup leakage, proven in-report") {
    val out = java.nio.file.Files.createTempDirectory("graft-curate-split-").toString
    val r = CuratePipeline.curate(spark, sf, out, splitValRate = 0.2)
    val Some((nTrain, nVal)) = r.splitTrainVal
    assert(nTrain + nVal === r.nSampled)
    assert(nVal > 0, "0.2 val rate should land some docs at this SF")
    assert(r.splitLeakPairs === Some(0L),
      s"near-dedup output must be leak-free: ${r.splitLeakPairs}")
    // the written corpus carries the column with matching counts
    val written = spark.read.parquet(out)
    assert(written.filter(org.apache.spark.sql.functions.col("split") === "val").count() === nVal)
    assert(written.count() === r.nSampled)
  }

  test("split stays independent of the sample cut (both sides populated under sampling)") {
    // the sample filter consumes md5 chars 1-4; a split reusing them
    // would make sampleRate=0.5/splitValRate=0.2 yield ~40% val (or, at
    // tighter rates, an empty train side)
    val out = java.nio.file.Files.createTempDirectory("graft-curate-split2-").toString
    val r = CuratePipeline.curate(spark, sf, out, sampleRate = 0.5, splitValRate = 0.2)
    val Some((nTrain, nVal)) = r.splitTrainVal
    assert(nTrain > 0 && nVal > 0, s"degenerate split under sampling: $nTrain/$nVal")
    val valShare = nVal.toDouble / (nTrain + nVal)
    assert(valShare > 0.05 && valShare < 0.45, s"val share $valShare far from 0.2")
  }

  test("curation attrition is monotone and the curated corpus round-trips") {
    val out = java.nio.file.Files.createTempDirectory("curated").toString + "/corpus"
    val r = CuratePipeline.curate(spark, sf, out)
    assert(r.nInput > 0)
    assert(r.nInput >= r.nAfterQuality)
    assert(r.nAfterQuality >= r.nAfterExactDedup)
    assert(r.nAfterExactDedup >= r.nAfterNearDedup)
    assert(r.nAfterNearDedup >= r.nAfterWinnow)
    assert(r.nAfterWinnow >= r.nAfterBoilerplate)
    assert(r.nAfterBoilerplate >= r.nAfterDecontam)
    assert(r.nAfterDecontam === r.nSampled) // sampleRate = 1.0
    val back = spark.read.parquet(out)
    assert(back.count() === r.nSampled)
    // curated output keeps the canonical schema and lang partitioning
    assert(back.columns.toSet === Set("doc_id", "text", "lang", "source", "n_chars"))
    // near-dedup really dropped non-canonical cluster members
    val clusters = graft.operators.Dedup.dupClusters(spark, sf)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = back.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clusters.intersect(kept).isEmpty)
  }

  test("semantic tier drops exactly the standalone SemDeDup drop set, monotone and deterministic") {
    val out0 = java.nio.file.Files.createTempDirectory("cursem0").toString + "/c"
    val out1 = java.nio.file.Files.createTempDirectory("cursem1").toString + "/c"
    val base = CuratePipeline.curate(spark, sf, out0)
    val r = CuratePipeline.curate(spark, sf, out1, semanticTau = Some(0.99))
    // attrition: the stage slots between winnow and boilerplate, monotone
    assert(r.nAfterSemantic.isDefined && base.nAfterSemantic.isEmpty)
    val Some(nSem) = r.nAfterSemantic
    assert(r.nAfterWinnow >= nSem && nSem >= r.nAfterBoilerplate)
    // exactness: kept docs = winnow survivors minus the RAW-corpus
    // drop set (one definition of the verdict — over the real
    // embeddings, NOT the twin-planted eval corpus the benchmark row
    // uses: an eval-corpus drop can name a real doc whose only
    // "near-dup" is a planted phantom)
    val rawEmb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.Vectors.toDouble(col("embedding")).as("vec"))
    val droppedStandalone = graft.operators.Dedup
      .semanticDedupOver(spark, sf, rawEmb,
        graft.operators.Dedup.rawEmbeddingQuantizers, t = 0.99)
      .filter(!col("kept")).select("vec_id").collect().map(_.getLong(0)).toSet
    // and NO real document may be dropped on account of a planted
    // phantom: every drop must have a real higher-priority near-dup
    val realIds = rawEmb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(droppedStandalone.subsetOf(realIds))
    val kept = spark.read.parquet(out1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept.intersect(droppedStandalone).isEmpty,
      "a semantically-dropped doc survived the pipeline")
    val keptBase = spark.read.parquet(out0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptBase -- kept === keptBase.intersect(droppedStandalone),
      "semantic stage dropped something the standalone operator didn't")
    // determinism
    val out2 = java.nio.file.Files.createTempDirectory("cursem2").toString + "/c"
    assert(CuratePipeline.curate(spark, sf, out2, semanticTau = Some(0.99)) === r)
  }

  test("dsir resampling keeps exactly the standalone acceptance set with attrition accounted") {
    val out0 = java.nio.file.Files.createTempDirectory("curdsir0").toString + "/c"
    val out1 = java.nio.file.Files.createTempDirectory("curdsir1").toString + "/c"
    val base = CuratePipeline.curate(spark, sf, out0)
    val r = CuratePipeline.curate(spark, sf, out1, dsirResample = true)
    assert(r.nAfterDsir.isDefined && base.nAfterDsir.isEmpty)
    val Some(nDsir) = r.nAfterDsir
    assert(r.nAfterDecontam >= nDsir && nDsir === r.nSampled) // sampleRate 1.0
    assert(nDsir < r.nAfterDecontam,
      "importance resampling at this SF should reject some docs")
    // kept = decontam survivors ∩ the standalone keep relation
    val keepStandalone = graft.operators.TextAnalysis.dsirKeepDocs(spark, sf)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = spark.read.parquet(out1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val keptBase = spark.read.parquet(out0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === keptBase.intersect(keepStandalone))
    // the roll-up the operator reports agrees with the per-doc relation
    val reported = graft.operators.TextAnalysis.dsirSample(spark, sf)
      .agg(sum("n_kept")).head().getLong(0)
    assert(reported === keepStandalone.size.toLong)
    // both optional stages compose, attrition stays monotone end to end
    val out3 = java.nio.file.Files.createTempDirectory("curdsir3").toString + "/c"
    val both = CuratePipeline.curate(spark, sf, out3,
      semanticTau = Some(0.99), dsirResample = true)
    assert(both.nAfterWinnow >= both.nAfterSemantic.get)
    assert(both.nAfterSemantic.get >= both.nAfterBoilerplate)
    assert(both.nAfterDecontam >= both.nAfterDsir.get)
    assert(both.nAfterDsir.get === both.nSampled)
  }

  test("winnowing gate drops exactly the non-canonical members of match components") {
    val out0 = java.nio.file.Files.createTempDirectory("curw0").toString + "/c"
    val out1 = java.nio.file.Files.createTempDirectory("curw1").toString + "/c"
    val base = CuratePipeline.curate(spark, sf, out0)
    val gated = CuratePipeline.curate(spark, sf, out1, winnowMinShared = 2)
    // off by default: the winnow stage passes everything through
    assert(base.nAfterWinnow === base.nAfterNearDedup)
    // on: monotone, and every kept doc is its component's min survivor
    assert(gated.nAfterWinnow <= gated.nAfterNearDedup)
    val comps = graft.operators.Dedup.clustersOfPairs(spark,
      graft.operators.TextAnalysis.winnowMatches(spark, sf, minShared = 2)
        .select("ia", "ib"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = spark.read.parquet(out1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val keptByComp = kept.toSeq.flatMap(id => comps.get(id).map(_ -> id))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    keptByComp.foreach { case (c, ids) =>
      assert(ids.size === 1, s"component $c kept ${ids.size} members")
    }
  }

  test("gopher gate composes into the quality stage and matches the rule battery") {
    val out = java.nio.file.Files.createTempDirectory("curated").toString + "/corpus"
    val base = CuratePipeline.curate(spark, sf, out + "0")
    val gated = CuratePipeline.curate(spark, sf, out, gopherGate = true)
    assert(gated.nAfterQuality <= base.nAfterQuality)
    // gate keeps exactly the docs the audit query marks as passing
    // (rule battery run with the pipeline's relaxed word floor)
    val passing = graft.operators.TextAnalysis
      .gopherRules(spark, sf, minWords = 1)
      .filter(col("passes") === 1).count()
    // pipeline quality stage = base quality filter ∧ gopher pass
    assert(gated.nAfterQuality <= passing)
  }

  test("curateToIndex yields a searchable chunk index over the curated corpus") {
    val out = java.nio.file.Files.createTempDirectory("c2i").toString + "/corpus"
    val index = CuratePipeline.curateToIndex(spark, sf, out)
    val pts = index.points.cache()
    val nCurated = spark.read.parquet(out).count()
    // every curated doc contributes >= 1 chunk; ids encode (doc, chunk)
    assert(pts.count() >= nCurated)
    assert(pts.select(countDistinct(expr("id div 65536"))).head().getLong(0) === nCurated)
    // chunks carry unit-normalized vectors and the tenant key derivation
    val n0 = pts.select(graft.functions.Vectors.l2Norm(col("vector"))).head().getDouble(0)
    assert(math.abs(n0 - 1.0) < 1e-9)
    assert(pts.filter(col("user_id") =!= expr("(id div 65536) % 20")).count() === 0)
    // a chunk's own text must retrieve that chunk at rank 1, cosine ~1
    val probe = pts.orderBy("id").select("id", "text", "user_id").head()
    val hits = index.searchText(probe.getString(1), probe.getLong(2), k = 1)
      .collect()
    assert(hits.nonEmpty && hits.head.getLong(1) === probe.getLong(0),
      s"self-retrieval failed: ${hits.toSeq} vs ${probe.getLong(0)}")
    pts.unpersist()
    ()
  }

  test("pii scrub masks every match in the curated output") {
    val out = java.nio.file.Files.createTempDirectory("curpii").toString + "/c"
    CuratePipeline.curate(spark, sf, out, piiPattern = Some("\\b(key|hash)\\b"))
    val back = spark.read.parquet(out)
    assert(back.filter(col("text").rlike("\\b(key|hash)\\b")).count() === 0)
    assert(back.filter(col("text").contains("<MASK>")).count() > 0)
  }

  test("boilerplate gate drops exactly the high-dup-ngram docs") {
    val out = java.nio.file.Files.createTempDirectory("curboil").toString + "/c"
    val r = CuratePipeline.curate(spark, sf, out, maxDupNgramRatio = 0.5)
    val boiler = graft.operators.Dedup.dupNgramFraction(spark, sf)
      .filter(col("dup_ratio") > 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(boiler.nonEmpty, "gate is vacuous at this corpus — lower the threshold")
    val kept = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(boiler.intersect(kept).isEmpty)
    assert(r.nAfterBoilerplate < r.nAfterNearDedup)
  }

  test("curation is deterministic across runs with sampling") {
    val out1 = java.nio.file.Files.createTempDirectory("cur1").toString + "/c"
    val out2 = java.nio.file.Files.createTempDirectory("cur2").toString + "/c"
    val r1 = CuratePipeline.curate(spark, sf, out1, sampleRate = 0.5)
    val r2 = CuratePipeline.curate(spark, sf, out2, sampleRate = 0.5)
    assert(r1 === r2)
    val a = spark.read.parquet(out1).select("doc_id").collect().map(_.getLong(0)).sorted
    val b = spark.read.parquet(out2).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.toSeq === b.toSeq)
  }

  private def tmpOut(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/c"

  test("every option combination keeps its recorded report at sf0.01") {
    // the reports of the sequential pipeline that evaluated some gates
    // several times: the concurrent fills and the single evaluation
    // per gate must not move one count
    val d = "/root/testdata/sf0.01"
    val c = CuratePipeline
    val recorded: Seq[(String, String => Report, Report)] = Seq(
      ("default", c.curate(spark, d, _),
        Report(500, 500, 500, 476, 476, 476, 474, 474)),
      ("split", c.curate(spark, d, _, splitValRate = 0.2),
        Report(500, 500, 500, 476, 476, 476, 474, 474,
          splitTrainVal = Some((365, 109)), splitLeakPairs = Some(0))),
      ("sample_split", c.curate(spark, d, _, sampleRate = 0.5, splitValRate = 0.2),
        Report(500, 500, 500, 476, 476, 476, 474, 234,
          splitTrainVal = Some((181, 53)), splitLeakPairs = Some(0))),
      ("semantic", c.curate(spark, d, _, semanticTau = Some(0.99)),
        Report(500, 500, 500, 476, 476, 476, 474, 474, nAfterSemantic = Some(476))),
      ("dsir", c.curate(spark, d, _, dsirResample = true),
        Report(500, 500, 500, 476, 476, 476, 474, 282, nAfterDsir = Some(282))),
      ("semantic_dsir", c.curate(spark, d, _, semanticTau = Some(0.99), dsirResample = true),
        Report(500, 500, 500, 476, 476, 476, 474, 282,
          nAfterSemantic = Some(476), nAfterDsir = Some(282))),
      ("winnow", c.curate(spark, d, _, winnowMinShared = 2),
        Report(500, 500, 500, 476, 476, 476, 474, 474)),
      ("gopher", c.curate(spark, d, _, gopherGate = true),
        Report(500, 317, 317, 304, 304, 304, 303, 303)),
      ("pii", c.curate(spark, d, _, piiPattern = Some("\\b(key|hash)\\b")),
        Report(500, 500, 500, 476, 476, 476, 474, 474)),
      ("boilerplate", c.curate(spark, d, _, maxDupNgramRatio = 0.5),
        Report(500, 500, 500, 476, 476, 453, 453, 453)),
      ("sample", c.curate(spark, d, _, sampleRate = 0.5),
        Report(500, 500, 500, 476, 476, 476, 474, 234)))
    for ((name, run, want) <- recorded)
      assert(run(tmpOut("currec")) === want, name)
  }

  test("a cold default curation evaluates each gate once: SQL executions within budget") {
    // a new session starts with no memo entry, like a nightly run; 12
    // executions = the docs cache, the quality count, the exact-dedup
    // cache, the three minhash-pair memo fills, the cluster edge
    // checkpoint and its count, the contaminated set, the near-dup and
    // decontamination caches, and the write. Counting any gate a second
    // time goes over.
    val cold = spark.newSession()
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    cold.listenerManager.register(listener)
    val r = try CuratePipeline.curate(cold, sf, tmpOut("curbudget"))
    finally {
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      cold.listenerManager.unregister(listener)
    }
    assert(r.nSampled === r.nAfterDecontam)
    assert(executions.get() <= 12, s"${executions.get()} SQL executions")
  }

  test("a curation that fails inside its concurrent fills leaves no cache pinned") {
    val ok = CuratePipeline.curate(spark, sf, tmpOut("curok"))
    // doc_id stored as strings: the near-dup cluster fill fails in the
    // fan-out (its union-find reads long ids) after its memo fills,
    // while the other gate sets fill the caches the call pinned
    val bad = java.nio.file.Files.createTempDirectory("curbad").toString
    Tables.documents(spark, sf).withColumn("doc_id", col("doc_id").cast("string"))
      .write.parquet(s"$bad/documents.parquet")
    // the session keeps this corpus's minhash-pair memo entries: fill
    // them first, so the count below sees only what the call pins (a
    // leaked pin would also hide a second failing call's, which caches
    // the same plans)
    graft.operators.Dedup.minhashPairs(spark, bad)
    val entries = org.apache.spark.sql.graft.CacheEntries.count(spark)
    intercept[org.apache.spark.sql.AnalysisException](
      CuratePipeline.curate(spark, bad, tmpOut("curfail")))
    assert(org.apache.spark.sql.graft.CacheEntries.count(spark) === entries,
      "the failed curation left a cache it pinned")
    assert(CuratePipeline.curate(spark, sf, tmpOut("curagain")) === ok)
  }
}
