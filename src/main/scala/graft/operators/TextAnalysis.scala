package graft.operators

import graft.Tables
import graft.plans.TopK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: quality
  * scoring, language ID, token counting, document fingerprinting.
  * All fully columnar (built-in string/array/higher-order functions) —
  * each runs inside whole-stage codegen with no shuffle except the
  * final verification sort.
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

  /** Per-document quality metrics: length, word count, unique-token
    * ratio, mean word length, stopword ratio.
    */
  def quality(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(words).cast("long").as("n_words"),
        round(size(array_distinct(words)).cast("double") / size(words), 4).as("uniq_ratio"),
        round((length(col("text")) - size(words) + 1).cast("double") / size(words), 4)
          .as("avg_word_len"),
        round(size(array_intersect(words, array(stopwords.map(lit): _*))).cast("double")
          / size(array_distinct(words)), 4).as("stopword_hit_ratio"))
      .orderBy("doc_id")
  }

  /** Per-language STOPWORD tables — the top function words of each
    * language from the classic public stopword lists (the standard
    * dictionary-langid signal: function words are the highest-frequency,
    * most language-exclusive tokens). Replaces the synthetic-vocabulary
    * markers of rounds 1-3 with real tables; the scoring mechanism
    * (per-table hit count, argmax, alphabetical tie-break) is unchanged.
    * Overlaps between tables ("a" en/es, "de"/"la"/"que" es/fr, "in"
    * en/de) are real properties of the languages and resolve through
    * the argmax like any dictionary langid.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
      "he", "was", "for", "on", "are", "as", "with", "his", "they", "at"),
    "es" -> Seq("de", "la", "que", "el", "en", "y", "a", "los", "del", "se",
      "las", "por", "un", "para", "con", "no", "una", "su", "al", "lo"),
    "fr" -> Seq("de", "la", "le", "et", "les", "des", "en", "un", "du", "une",
      "que", "est", "pour", "qui", "dans", "par", "plus", "pas", "au", "sur"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich",
      "des", "auf", "ist", "im", "dem", "nicht", "ein", "eine", "als", "auch"))

  /** Language ID over real signals: per-language stopword hit counts
    * ([[langMarkers]]) for the latin-script languages plus a CJK
    * unicode-block character count for zh (script detection — the
    * signal real detectors use for han text, where whitespace token
    * tables don't apply). Argmax with deterministic alphabetical
    * tie-break; a doc with zero signal everywhere lands on the first
    * key ("de"), making the zero-signal class visible in the confusion
    * matrix rather than silently defaulting to the majority label.
    * On the synthetic corpus (same English-ish token stream under every
    * label) predictions concentrate on "en" — the honest output of a
    * real detector on text whose label carries no textual signal;
    * [[langConfusion]] reports exactly that.
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val withScores = langMarkers.toSeq.sortBy(_._1).foldLeft(
      Tables.documents(s, d).select(col("doc_id"), col("lang").as("label_lang"),
        words.as("ws"),
        // zh: count of CJK-unified-ideograph codepoints (script signal)
        length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", "")).as("s_zh"))) {
      case (df, (lg, ms)) =>
        df.withColumn(s"s_$lg", size(filter(col("ws"), x => x.isin(ms: _*))))
    }
    // argmax with deterministic alphabetical tie-break (de < en < es < fr < zh)
    val best = greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr"), col("s_zh"))
    withScores
      .select(col("doc_id"), col("label_lang"),
        when(col("s_de") === best, "de")
          .when(col("s_en") === best, "en")
          .when(col("s_es") === best, "es")
          .when(col("s_fr") === best, "fr")
          .otherwise("zh").as("pred_lang"),
        best.cast("long").as("score"))
      .orderBy("doc_id")
  }

  /** Token counts: whitespace tokens and BPE-ish regex tokens
    * (letter runs / digit runs / other single chars).
    */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).cast("long").as("n_re_tokens"),
        size(array_distinct(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))))
          .cast("long").as("n_uniq_tokens"))
      .orderBy("doc_id")

  /** Deterministic hash-bucket sampling — the reproducible alternative
    * to rand()-based sampling for training-data pipelines (same sample
    * on every run, every engine, any partitioning; sampling joins stay
    * consistent across tables). Bucket = first 4 hex chars of md5(text)
    * as an integer in [0, 65536); keep bucket < rate·65536.
    */
  def sampleHash(s: SparkSession, d: String, rate: Double = 0.1): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket", conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long"))
      .filter(col("bucket") < lit((rate * 65536).toLong))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  /** EXACT-SIZE stratified sample: the N deterministically-first docs
    * per language, ordered by md5(text) — reproducible like
    * [[sampleHash]] but with guaranteed per-stratum counts (what a
    * balanced eval-set build needs). One `TopK.perKey` over the few
    * languages: only ≤ N rows per (lang × partition) cross its exchange.
    */
  def sampleStratified(s: SparkSession, d: String, perLang: Int = 20): DataFrame =
    graft.plans.TopK.perKey(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), md5(col("text")).as("hk")),
        Seq(col("lang")), Seq(col("hk").asc, col("doc_id").asc), perLang)
      .select(col("doc_id"), col("lang"), col("rank").as("rk"))
      .orderBy("lang", "rk")

  /** Per-source corpus PROFILE: doc counts and mean quality metrics per
    * source — the corpus report card after every ingest. Double means
    * are exact DECIMAL sums over integer-derived metrics divided by
    * counts (order-independent, engine-exact).
    */
  def statsBySource(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.documents(s, d)
      .select(col("source"), size(words).cast("long").as("nw"),
        size(array_distinct(words)).cast("long").as("nu"), length(col("text")).cast("long").as("nc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("nw").cast("decimal(18,4)")).cast("double") / count(lit(1))).as("mean_words"),
        (sum(col("nc").cast("decimal(18,4)")).cast("double") / count(lit(1))).as("mean_chars"),
        (sum(col("nu").cast("decimal(18,4)")).cast("double") /
          sum(col("nw").cast("decimal(18,4)")).cast("double")).as("uniq_per_word"))
      .orderBy("source")
  }

  /** Corpus vocabulary with term and document frequencies, top-N by
    * term frequency (the tokenizer-training / BPE-prep pass). Total
    * order: (tf DESC, token ASC). Scale: explode → partial-agg'd
    * groupBy(token) — the shuffle carries (token, partial tf, partial
    * doc set) only; top-N plans as TakeOrderedAndProject (per-partition
    * heaps, N-row merge). Exact per-token distinct-doc counts require
    * the (token, doc_id) dedup; at 100 TB swap `countDistinct` for
    * `approx_count_distinct` (HLL) to keep df single-pass.
    */
  def vocabulary(s: SparkSession, d: String, topN: Int = 100): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(topN)

  /** BM25 keyword search (k1 = 1.2, b = 0.75, Lucene-style
    * idf = ln(1 + (N − df + ½)/(df + ½))): top-k docs for a bag of query
    * terms. Fully columnar and JOIN-FREE on the corpus: per-term tf is
    * `size(filter(words, = term))` (codegen'd, no explode/shuffle of
    * the corpus), corpus stats (N, avgdl, per-term df) reduce to ONE
    * scalar row cross-joined back (a broadcast). Per-doc score is a
    * fixed-order sum of per-term score expressions — deterministic
    * regardless of partitioning (the oracle evaluates the identical
    * expression tree). Top-k plans as TakeOrderedAndProject.
    */
  def bm25Search(s: SparkSession, d: String,
                 terms: Seq[String] = Seq("join", "hash", "scan", "merge"),
                 k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // Terms dedup + POSITIONAL aliases (tf_0/df_0 by term index) — same
    // hardening as HybridIndex.keywordSearch: duplicate query terms must
    // not collide as aliases and '.'/'`' in a term must not parse as a
    // nested-field reference when re-resolved.
    val qts = terms.distinct
    val words = split(col("text"), " ")
    val tfCols = qts.zipWithIndex.map { case (t, i) =>
      size(filter(words, x => x === t)).cast("double").as(s"tf_$i") }
    val base = Tables.documents(s, d)
      .select(col("doc_id") +: size(words).cast("double").as("dl") +: tfCols: _*)
    val aggCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      qts.indices.map(i => sum((col(s"tf_$i") > 0).cast("long")).cast("double").as(s"df_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val score = qts.indices.map { i =>
      val idf = log(lit(1.0) + (col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5))
      idf * (col(s"tf_$i") * (k1 + 1)) /
        (col(s"tf_$i") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col("doc_id"), round(score, 4).as("bm25"))
      .filter(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Top-k TF-IDF terms per document (idf = ln((N+1)/(df+1)), smoothed)
    * — the per-doc keyword/topic signal a curation pipeline attaches
    * before clustering or routing. Scale shape: per-(doc, token) tf and
    * per-token df are both partial-agg'd; the tf⋈df join keys on token
    * (dictionary-sized right side — broadcastable when the vocabulary
    * fits, shuffle join otherwise); corpus size N is a one-row aggregate
    * cross-joined back (broadcast). The per-doc top-k rank is
    * TopKPerKey-shaped. Ranking uses the ROUNDED score so rank order is
    * engine-portable (ulp differences in ln can't flip adjacent ranks).
    */
  def tfidfTop(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token").crossJoin(broadcast(stats))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("token"), col("tfidf"))
      .orderBy("doc_id", "rk")
  }

  /** Corpus-level n-gram frequency table (top-N word bigrams with doc
    * frequency) — phrase mining / collocation statistics over the
    * training corpus. Same partial-agg'd shape as [[vocabulary]], fed by
    * the codegen'd shingle expansion from Dedup.shingleRows.
    */
  def ngramCounts(s: SparkSession, d: String, w: Int = 2, topN: Int = 50): DataFrame =
    graft.operators.Dedup.shingleRows(Tables.documents(s, d), w, distinct = false)
      .groupBy(col("shingle").as("ngram"))
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      .orderBy(col("tf").desc, col("ngram"))
      .limit(topN)

  /** Adjacent-token PMI ASSOCIATE table — pointwise-mutual-information
    * collocation extraction (Church & Hanks 1990), the distributional-
    * association primitive: for every token, its strongest adjacent
    * co-occurrence partner by pmi ∝ n(t,u)/(c(t)·c(u)) (the log is
    * monotone and skipped — ranking is what's consumed). ONE
    * definition shared by the [[pmiCollocations]] report and
    * [[SemanticEval]]'s paraphrase-rewrite transform (the
    * countMinTable discipline: a drifting tokenization or tie-break in
    * a copy would silently fork the two consumers).
    *
    * Scale shape: adjacent pairs come from zipping each token array
    * with its own tail — map-side, no positional self-join; the
    * exchange carries (t, u) pairs (volume = token volume) and the
    * scored table is vocabulary²-bounded but co-occurrence-sparse.
    * Exactness: pmi is ONE double division of exact BIGINT products
    * (< 2^53) — deterministic IEEE, engine-portable unrounded; ties
    * break (pmi desc, u asc) on exact values.
    */
  private[graft] def pmiAssociates(docs: DataFrame): DataFrame = {
    val arr = split(lower(col("text")), " ")
    val adj = docs.select(explode(zip_with(
        slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
        slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        (x, y) => struct(x.as("t"), y.as("u")))).as("p"))
      .select(col("p.t").as("t"), col("p.u").as("u"))
    val co = adj.union(adj.select(col("u").as("t"), col("t").as("u")))
      .filter(col("t") =!= col("u"))
      .groupBy("t", "u").agg(count(lit(1)).as("n"))
    val uni = docs.select(explode(arr).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    co.join(broadcast(uni.select(col("tok").as("t"), col("c").as("ct"))), "t")
      .join(broadcast(uni.select(col("tok").as("u"), col("c").as("cu"))), "u")
      .select(col("t"), col("u"), col("n"), col("ct"), col("cu"),
        (col("n").cast("double") / (col("ct") * col("cu"))).as("pmi"))
  }

  /** Session memo of the MATERIALIZED associate table over the standard
    * documents snapshot: the substitution table is consumed by BOTH
    * `text_pmi_colloc` and `vs_semantic_recall_eval` (4 scoring arms),
    * and recomputing the pair aggregation per consumer re-ran the
    * corpus-wide exchange up to 4× per session — the
    * materialize-once-consume-many discipline of every shared artifact
    * here ([[graft.operators.Embeddings]]' bqCodeMemo pattern).
    */
  private val pmiMemo = new SessionMemo[Unit, DataFrame]("pmi_assoc_warm", _.unpersist())

  private[graft] def pmiAssociatesCached(s: SparkSession, d: String): DataFrame =
    pmiMemo.getOrElseUpdate(s, d, ()) {
      val a = pmiAssociates(Tables.documents(s, d)).cache()
      a.count() // eager: the memo hands out a materialized artifact
      a
    }

  /** The collocation REPORT over [[pmiAssociates]]: each token's best
    * adjacent associate with its co-count, unigram counts, and
    * unrounded pmi score — what a corpus linguist (or a tokenizer-
    * merge audit) reads; also exactly the substitution table
    * `vs_semantic_recall_eval`'s hardest transform rewrites through,
    * published as data.
    */
  def pmiCollocations(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("t").orderBy(col("pmi").desc, col("u").asc)
    pmiAssociatesCached(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("t").as("token"), col("u").as("associate"),
        col("n").as("n_cooccur"), col("ct").as("n_token"),
        col("cu").as("n_associate"), col("pmi"))
      .orderBy("token")
  }

  /** Repetition scoring (the Gopher/MassiveText "repeated n-gram
    * fraction" quality rule): per document, the most frequent bigram's
    * share of all bigram occurrences — high values flag boilerplate /
    * degenerate repetition for the quality gate. One partial-agg'd
    * groupBy over (doc, bigram) counts, then a per-doc max.
    */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val counts = graft.operators.Dedup
      .shingleRows(Tables.documents(s, d), w = 2, distinct = false)
      .groupBy("doc_id", "shingle").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(max("c").as("top_bigram_n"), sum("c").as("n_bigrams"))
      .select(col("doc_id"), col("top_bigram_n"), col("n_bigrams"),
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 4).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Overlapping-window CHUNKER (the RAG/embedding-prep step between a
    * document store and a vector index): split each document into
    * `size`-word chunks every `stride` words (size − stride words of
    * overlap so no semantic boundary is lost), emitting (doc, chunk_id,
    * n_words, md5-of-chunk). The reference embeds whole texts
    * (insert.py:60-75); real corpora must chunk first — this is the 1→N
    * flatMap that feeds VectorStore.embedDocs / VectorIndex.fromTexts.
    * Map-side only (sequence + posexplode + slice, all codegen'd
    * builtins); the md5 stands in for shipping chunk text so the
    * verification dump stays narrow.
    */
  def chunkOverlap(s: SparkSession, d: String, chunkWords: Int = 50,
                   stride: Int = 40): DataFrame = {
    val ws = split(col("text"), " ")
    val chunk = slice(col("ws"), col("k").cast("int") * stride + 1, lit(chunkWords))
    Tables.documents(s, d)
      .select(col("doc_id"), ws.as("ws"), size(ws).cast("long").as("n"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), expr(s"(n - 1) div $stride"))).as("k"), col("ws"))
      .select(col("doc_id"), col("k").as("chunk_id"),
        size(chunk).cast("long").as("n_words"),
        md5(concat_ws(" ", chunk)).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Corpus-bigram LANGUAGE-MODEL quality score (the KenLM-style
    * perplexity gate of LLM data pipelines, self-trained): train an MLE
    * bigram model on the corpus itself — p(w₂|w₁) = c(w₁w₂)/c(w₁·) —
    * and score each document by its average per-bigram negative log₂
    * probability. Low = stereotyped/templated text, high = unusual
    * token transitions; pipelines threshold both tails.
    *
    * Cross-engine determinism: each bigram's −log₂p is rounded to 6dp
    * and summed as DECIMAL (order-independent), so partial-aggregation
    * order can't move the result. Scale shape: the model IS two
    * count aggregates over the bigram stream (no driver state, any
    * corpus size); the score join keys on the bigram/context strings —
    * at 100 TB both reduce to 8-byte hashes first and the counts table
    * stays fully distributed (vocabulary² never materializes anywhere).
    */
  def lmScore(s: SparkSession, d: String): DataFrame =
    lmScoresCached(s, d).orderBy("doc_id")

  /** Session memo of the MATERIALIZED per-doc LM score table: the
    * trained-model-applied-to-corpus artifact consumed by BOTH
    * `text_lm_score` and `text_ccnet_buckets` (and any other
    * perplexity gate). Unmemoized, each consumer re-ran the whole
    * bigram-count + score pipeline — the one-time cost landed on
    * whichever ran first (detail ranges showed ~2.5× spreads on both
    * lines). The intermediate bigram cache is released once the score
    * table is materialized — holding both would double the pinned
    * footprint for no consumer.
    */
  private val lmScoreMemo = new SessionMemo[Unit, DataFrame]("lm_score_warm", _.unpersist())

  private[graft] def lmScoresCached(s: SparkSession, d: String): DataFrame =
    lmScoreMemo.getOrElseUpdate(s, d, ()) {
      val bigrams = graft.operators.Dedup
        .shingleRows(Tables.documents(s, d), w = 2, distinct = false)
        .select(col("doc_id"), col("shingle").as("bg"),
          split(col("shingle"), " ")(0).as("w1"))
        .cache()
      val c2 = bigrams.groupBy("bg").agg(count(lit(1)).as("c2"))
      val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
      val scores = bigrams
        .join(c2, "bg")
        .join(c1, "w1")
        .withColumn("nll",
          round(-log2(col("c2").cast("double") / col("c1")), 6).cast("decimal(18,6)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (sum("nll").cast("double") / count(lit(1))).as("avg_raw"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_raw"), 4).as("avg_nll"))
        .cache()
      scores.count() // eager: the memo hands out a materialized artifact
      bigrams.unpersist()
      scores
    }

  /** Language-ID CONFUSION MATRIX: predicted vs labeled language counts
    * over the corpus — the evaluation artifact a langid gate ships with.
    * Reduces the per-doc langId output to lang² cells.
    */
  def langConfusion(s: SparkSession, d: String): DataFrame =
    langId(s, d)
      .groupBy("label_lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("label_lang", "pred_lang")

  /** Winnowing-style document fingerprint: md5-derived 60-bit hashes of
    * word 4-grams, keep the 4 smallest = the fingerprint. md5 is
    * portable (identical in the DuckDB oracle), unlike murmur3.
    */
  def fingerprint(s: SparkSession, d: String, w: Int = 4, k: Int = 4): DataFrame = {
    // distinct w-gram rows (codegen'd window-lead construction), md5-hash
    // each (portable to the DuckDB oracle), keep the k smallest per doc
    val hashed = graft.operators.Dedup.shingleRows(Tables.documents(s, d), w, distinct = false)
      .withColumn("h", conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long"))
    hashed.groupBy("doc_id")
      .agg(slice(array_sort(collect_set(col("h"))), 1, k).as("fp"))
      // gate on DISTINCT gram count (size(fp) = min(distinct, k)), not
      // the raw shingle-row count: a repetitive doc can have >= k gram
      // rows but < k distinct hashes, and indexing fp(k-1) then throws
      // INVALID_ARRAY_INDEX under ANSI mode — while the oracle's
      // len(hs) >= k (distinct by construction) drops the doc. This
      // form matches the oracle exactly on every input.
      .filter(size(col("fp")) >= k)
      .select(col("doc_id"), col("fp")(0).as("fp0"), col("fp")(1).as("fp1"),
        col("fp")(2).as("fp2"), col("fp")(3).as("fp3"))
      .orderBy("doc_id")
  }

  /** WINNOWING fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD 2003;
    * the MOSS algorithm): hash every positional word `w`-gram, slide a
    * window of `win` consecutive gram hashes over the document, and
    * record the minimum hash of each full window. The distinct minima
    * are the document's fingerprint set, with the guarantee that any
    * shared substring of length ≥ w + win − 1 words produces at least
    * one shared fingerprint — the density/recall trade-off that makes
    * winnowing the standard local fingerprinting scheme for
    * plagiarism/near-dup detection (vs [[fingerprint]]'s global
    * k-smallest sketch, which has no locality guarantee).
    *
    * Scale shape: gram hashing is map-side codegen (the md5-60-bit
    * portable hash, same as [[fingerprint]]); the only exchange is the
    * doc-keyed window partition carrying (doc_id, pos, hash) triples —
    * text never shuffles — and the window frame is O(win) per row. The
    * fingerprint relation is the artifact a cross-corpus winnowing
    * join would consume (group by fp instead of doc to find matches).
    */
  def winnowing(s: SparkSession, d: String, w: Int = 4, win: Int = 5): DataFrame =
    winnowingOf(Tables.documents(s, d), w, win)

  /** [[winnowing]] over an arbitrary (doc_id, text) relation. */
  def winnowingOf(docs: DataFrame, w: Int = 4, win: Int = 5): DataFrame = {
    // grams come from the ONE shared shingle definition
    // (Dedup.shinglePosRows) — winnowing only adds the portable
    // md5-60-bit hash and the sliding-minimum window on top
    val grams = graft.operators.Dedup.shinglePosRows(docs, w)
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, win - 1)
    grams
      .withColumn("fp", min("h").over(frame))
      .withColumn("wn", count(lit(1)).over(frame))
      .filter(col("wn") === win) // full windows only (n − win + 1 of them)
      .select(col("doc_id"), col("fp")).distinct()
      .orderBy("doc_id", "fp")
  }

  /** Distributed BPE TRAINING (Sennrich et al. 2016) — the full merge
    * loop, completing the tokenizer-prep story that [[bpePairs]] (one
    * merge-step's pair counts) begins. Returns the learned merge table
    * as (step, left, right, pair_count) rows.
    *
    * Scale design: BPE trains on the WORD-FREQUENCY table, not the
    * token stream — one corpus-sized groupBy builds (word, freq), and
    * every merge iteration then runs over the VOCABULARY (millions of
    * rows at 100 TB, not billions): adjacent-pair counts weighted by
    * word frequency partial-aggregate, the argmax pair is one tiny
    * TakeOrdered collect (driver model state, like centroids), and the
    * merge applies map-side as a single left-to-right array fold. The
    * corpus is read exactly once regardless of nMerges.
    *
    * Determinism: ties on pair count break (left, right) lexicographic;
    * the left-to-right fold gives standard non-overlapping merge
    * semantics ([a,a,a] under (a,a) → [aa, a]).
    */
  /** Session memo of TRAINED tokenizer models over the standard
    * documents snapshot (BPE / byte-BPE merge tables, unigram piece
    * tables): a tokenizer is MODEL state — trained once per corpus
    * snapshot, applied by every encode — and each training loop is
    * nMerges×(argmax job + fold checkpoint) re-run identically per
    * caller without this (the train row, the encode row's retrain, ×
    * every bench sample). Values are driver-local few-row DataFrames —
    * nothing to evict. One memo per model family, keyed by its
    * training parameters.
    */
  private val bpeModelMemo = new SessionMemo[String, DataFrame]("bpe_model_warm")
  private val byteBpeModelMemo =
    new SessionMemo[String, DataFrame]("byte_bpe_model_warm")
  private val unigramModelMemo =
    new SessionMemo[String, DataFrame]("unigram_model_warm")

  def bpeTrain(s: SparkSession, d: String, nMerges: Int = 10,
               minPairCount: Long = 2): DataFrame =
    bpeModelMemo.getOrElseUpdate(s, d, s"$nMerges:$minPairCount")(
      bpeTrainOf(Tables.documents(s, d), nMerges, minPairCount))

  /** [[bpeTrain]] over an arbitrary (doc_id, text) relation — the
    * [[graft.api.Tokenizer]] training surface.
    */
  def bpeTrainOf(docs: DataFrame, nMerges: Int = 10,
                 minPairCount: Long = 2): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    var words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("toks"), col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var continue = true
    while (continue && merges.length < nMerges) {
      val top = words
        .select(col("freq"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) continue = false
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((merges.length + 1, l, r, n))
        words = words
          .select(mergeFold(col("toks"), l, r).as("toks"), col("freq"))
          .localCheckpoint()
      }
    }
    merges.toSeq.toDF("step", "left", "right", "pair_count")
      .select(col("step").cast("long").as("step"), col("left"), col("right"),
        col("pair_count"))
      .orderBy("step")
  }

  /** The GPT-2 pretokenization regex (Radford et al. 2019 — published
    * with the model; the pattern virtually every byte-level BPE
    * pipeline since has reused): contractions, optionally-space-
    * prefixed letter runs, digit runs, symbol runs, and trailing /
    * inner whitespace. Java regex syntax (\p{L}/\p{N} + lookahead)
    * runs unchanged in Spark's codegen'd regexp_extract_all.
    */
  private[graft] val byteBpePretokenRe: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  /** A pretoken's BYTE-symbol sequence: UTF-8 bytes as uppercase hex
    * pairs (`hex` then a zero-width \G split). Hex pairs ARE the
    * 256-symbol byte alphabet — GPT-2's bytes_to_unicode table maps
    * bytes to printable glyphs for the same purpose and differs only
    * cosmetically; hex keeps the whole decomposition inside
    * whole-stage codegen with no mapping table. Merged symbols are
    * concatenated hex strings, so any byte sequence (emoji halves,
    * split CJK code points) is representable mid-merge — the property
    * byte-level BPE exists for.
    */
  private[graft] def byteSymbols(w: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    // Spark's split keeps TRAILING EMPTY strings (limit = -1 semantics,
    // unlike Java's String.split default) and the zero-width \G pattern
    // matches at end-of-input — drop the trailing "" or it becomes a
    // phantom 257th symbol the merge loop happily learns pairs against
    array_remove(split(hex(encode(w, "UTF-8")), "(?<=\\G..)"), "")

  /** BYTE-LEVEL BPE TRAINING (VERDICT r10 #8 — the GPT-2/tiktoken
    * tokenizer family actual LLM pipelines run, beside [[bpeTrain]]'s
    * word-level form): pretokenize with [[byteBpePretokenRe]], decompose
    * each pretoken to UTF-8 byte symbols ([[byteSymbols]] — no OOV by
    * construction), and run the SAME distributed merge loop over the
    * pretoken-frequency table. Returns (step, left, right, pair_count)
    * with hex-pair symbol strings.
    *
    * Scale shape is [[bpeTrainOf]]'s: one corpus-sized groupBy builds
    * the pretoken-frequency relation; every merge iteration runs over
    * the DISTINCT-PRETOKEN vocabulary with a one-row TakeOrdered
    * argmax; merges never cross pretoken boundaries (the regex is the
    * boundary — GPT-2's rule). Determinism: ties break (left, right)
    * lexicographic on the hex strings, the fold is left-to-right
    * non-overlapping — parity-spec'd merge-for-merge against an
    * in-Scala reference on UTF-8 edge cases.
    */
  def byteBpeTrain(s: SparkSession, d: String, nMerges: Int = 10,
                   minPairCount: Long = 2): DataFrame =
    byteBpeModelMemo.getOrElseUpdate(s, d, s"$nMerges:$minPairCount")(
      byteBpeTrainOf(Tables.documents(s, d), nMerges, minPairCount))

  /** [[byteBpeTrain]] over an arbitrary (doc_id, text) relation — the
    * [[graft.api.Tokenizer]] training surface.
    */
  def byteBpeTrainOf(docs: DataFrame, nMerges: Int = 10,
                     minPairCount: Long = 2): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    var words = docs
      .select(explode(regexp_extract_all(col("text"),
        lit(byteBpePretokenRe), lit(0))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(byteSymbols(col("w")).as("toks"), col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var continue = true
    while (continue && merges.length < nMerges) {
      val top = words
        .select(col("freq"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty || top(0).getLong(2) < minPairCount) continue = false
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((merges.length + 1, l, r, n))
        words = words
          .select(mergeFold(col("toks"), l, r).as("toks"), col("freq"))
          .localCheckpoint()
      }
    }
    merges.toSeq.toDF("step", "left", "right", "pair_count")
      .select(col("step").cast("long").as("step"), col("left"), col("right"),
        col("pair_count"))
      .orderBy("step")
  }

  /** [[byteBpeEncodeOf]] with the merge table trained on the same
    * corpus — the driver-checked shape.
    */
  def byteBpeEncode(s: SparkSession, d: String, nMerges: Int = 10,
                    minPairCount: Long = 2): DataFrame = {
    val merges = byteBpeTrain(s, d, nMerges, minPairCount).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    byteBpeEncodeOf(Tables.documents(s, d), merges)
  }

  /** BYTE-LEVEL BPE ENCODING with a trained merge table — the apply
    * side of [[byteBpeTrainOf]] ([[bpeEncodeOf]]'s discipline: the
    * merge folds run over the DISTINCT-PRETOKEN vocabulary, never the
    * token stream; doc counts come from one corpus pass joined back on
    * the pretoken string). Per doc: pretoken count, BPE token count,
    * and UTF-8 BYTE count (the byte-level analogue of n_chars —
    * fertility is tokens/byte here).
    */
  def byteBpeEncodeOf(docs: DataFrame,
                      merges: Seq[(String, String)]): DataFrame = {
    val toks = merges.foldLeft(byteSymbols(col("w"))) {
      case (c, (l, r)) => mergeFold(c, l, r)
    }
    val pretokens = docs
      .select(col("doc_id"), explode(regexp_extract_all(col("text"),
        lit(byteBpePretokenRe), lit(0))).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = pretokens.select("w").distinct()
      .select(col("w"), size(toks).as("n_toks"))
    pretokens
      .join(vocab, "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum("n_toks").as("n_tokens"),
        sum(length(encode(col("w"), "UTF-8"))).as("n_chars"))
      .orderBy("doc_id")
  }

  /** One left-to-right non-overlapping merge pass of BPE pair (l, r)
    * over a token array — shared by [[bpeTrain]] (the training loop's
    * vocabulary update) and [[bpeEncode]] (the apply side), so
    * encode/train semantics agree by construction.
    */
  private def mergeFold(toks: org.apache.spark.sql.Column, l: String,
                        r: String): org.apache.spark.sql.Column =
    aggregate(toks, array().cast("array<string>"),
      // get() (0-based, null on out-of-bounds) keeps the last-element
      // probe total on the empty accumulator under ANSI mode
      (acc, t) => when(
        get(acc, size(acc) - 1) === l && t === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(t))))

  /** BPE ENCODING with the trained merge table — the apply side of
    * [[bpeTrain]], closing the tokenizer loop (train once, tokenize the
    * corpus forever): per-document word count, BPE token count, and
    * character count under the learned vocabulary — the numbers a
    * training-data pipeline budgets context windows and compute with
    * (tokens/doc drives packing; chars/token is the tokenizer-fertility
    * health metric).
    *
    * Scale design: the merge table is bounded driver model state
    * (nMerges rows — the centroid size class); encoding applies to the
    * DISTINCT-WORD vocabulary only (millions of rows at 100 TB, not the
    * billions-row token stream) as `nMerges` map-side array folds — no
    * shuffle, no iteration over the corpus. Doc-level counts then come
    * from ONE corpus pass joined to the encoded vocabulary on the word
    * string (equi-join; AQE broadcasts while the vocabulary is small
    * and degrades to a shuffle hash join at corpus scale — no forced
    * hint). Sequential fold order = merge-rank order, the standard BPE
    * apply discipline.
    */
  def bpeEncode(s: SparkSession, d: String, nMerges: Int = 10,
                minPairCount: Long = 2): DataFrame = {
    val merges = bpeTrain(s, d, nMerges, minPairCount).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncodeOf(Tables.documents(s, d), merges)
  }

  /** [[bpeEncode]] with an already-trained merge list over an arbitrary
    * (doc_id, text) relation — the [[graft.api.Tokenizer]] apply
    * surface (a persisted tokenizer encodes corpora it never trained
    * on).
    */
  def bpeEncodeOf(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val toks = merges.foldLeft(split(col("w"), ""): org.apache.spark.sql.Column) {
      case (c, (l, r)) => mergeFold(c, l, r)
    }
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .select(col("w"), size(toks).as("n_toks"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum("n_toks").as("n_tokens"),
        sum(length(col("w"))).as("n_chars"))
      .orderBy("doc_id")
  }

  /** Viterbi best segmentation of `w` under piece log-probs: DP over
    * end positions, `best(i) = max over pieces p ending at i of
    * best(i - |p|) + logp(p)`; ties prefer the LONGER last piece
    * (deterministic, documented). Single-char coverage is guaranteed by
    * the trainer, so every position is reachable.
    */
  private def viterbiSegment(w: String, maxLen: Int,
                             logp: collection.Map[String, Double]): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = math.min(maxLen, i)
      while (l >= 1) { // longer pieces first → ties keep the longer piece
        val j = i - l
        if (best(j) > Double.NegativeInfinity) {
          logp.get(w.substring(j, i)) match {
            case Some(lp) if best(j) + lp > best(i) =>
              best(i) = best(j) + lp; back(i) = j
            case _ => ()
          }
        }
        l -= 1
      }
      i += 1
    }
    // UNREACHABLE fallback: training guarantees single-char coverage of
    // its OWN corpus, but a persisted tokenizer may encode text whose
    // characters it never saw — such a word has no path and becomes one
    // <unk>-style whole-word token (the standard OOV convention)
    if (best(n) == Double.NegativeInfinity) return Seq(w)
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var k = n
    while (k > 0) { val j = back(k); out.prepend(w.substring(j, k)); k = j }
    out.toSeq
  }

  /** UNIGRAM-LM TOKENIZER TRAINING (Kudo 2018 — the SentencePiece
    * family, the OTHER major subword algorithm beside [[bpeTrain]]'s
    * BPE): seed the piece vocabulary with the corpus' frequent
    * substrings, then run EM — E-step Viterbi-segments every word
    * under the current piece probabilities and counts piece uses,
    * M-step renormalizes, prune keeps the top-probability pieces (all
    * single characters always survive, guaranteeing coverage).
    * Returns the learned (piece, n_uses, logprob) table.
    *
    * Simplifications vs full SentencePiece (documented, deliberate):
    * hard-EM (Viterbi counts, not lattice marginals) and a fixed
    * per-iteration vocab budget instead of gradual shrinking — the
    * structure (seed → EM over the vocabulary → prune) and the scale
    * shape are the real algorithm's.
    *
    * Scale design — the [[bpeTrain]] discipline: ONE corpus-sized
    * groupBy builds the word-frequency table; every EM iteration runs
    * over the DISTINCT-WORD vocabulary only (millions of rows at
    * 100 TB, never the token stream), with the piece table as
    * broadcast driver model state (≤ seedSize rows — the centroid
    * size class; counts collected per iteration are piece-table-sized,
    * not corpus-sized). Piece counts are freq-weighted INTEGER sums —
    * exact under any partitioning — so training is deterministic on
    * any cluster layout; ties prune lexicographically.
    */
  def unigramTrain(s: SparkSession, d: String, vocabSize: Int = 120,
                   maxPieceLen: Int = 4, nIter: Int = 3,
                   seedSize: Int = 400): DataFrame =
    unigramModelMemo.getOrElseUpdate(s, d,
      s"$vocabSize:$maxPieceLen:$nIter:$seedSize")(
      unigramTrainOf(Tables.documents(s, d), vocabSize, maxPieceLen, nIter,
        seedSize))

  /** [[unigramTrain]] over an arbitrary (doc_id, text) relation — the
    * [[graft.api.Tokenizer]] training surface.
    */
  def unigramTrainOf(docs: DataFrame, vocabSize: Int = 120,
                     maxPieceLen: Int = 4, nIter: Int = 3,
                     seedSize: Int = 400): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].localCheckpoint()
    // seed: frequent substrings (freq-weighted), all single chars kept.
    // The substring table is collected ONLY after two driver-bounded
    // cuts — the top-seedSize TakeOrdered and the alphabet-sized char
    // set — never whole (the full table is |vocab|·len·maxPieceLen
    // rows, a driver OOM at the 100 TB operating point)
    val seedAll = words.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(maxPieceLen, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.groupBy("_1").agg(sum("_2").as("n"))
    val charSet = seedAll.filter(length(col("_1")) === 1)
      .select("_1").as[String].collect().toSet
    val seedCounts = seedAll
      .orderBy(col("n").desc, col("_1"))
      .limit(seedSize).as[(String, Long)].collect()
    // coverage invariant: every single char survives every prune (count
    // 0 if the current Viterbi pass stopped using it); multi-char
    // pieces compete for the remaining budget by (count desc, piece)
    def budget(counts: Map[String, Long]): Map[String, Long] = {
      val chars = charSet.iterator.map(c => c -> counts.getOrElse(c, 0L)).toMap
      val multi = counts.filter(_._1.length > 1).toSeq
        .sortBy { case (p, n) => (-n, p) }
        .take(math.max(vocabSize - chars.size, 0))
      chars ++ multi
    }
    var pieces = budget(seedCounts.toMap) // already the top-seedSize cut
    for (_ <- 1 to nIter) {
      // smoothing floor: zero-count survivors (chars) score as count 1
      // so Viterbi can still route through them when needed
      val total = pieces.values.map(math.max(_, 1L)).sum.toDouble
      val logp = pieces.map { case (p, n) => p -> math.log(math.max(n, 1L) / total) }
      val bc = s.sparkContext.broadcast(logp)
      val maxLen = maxPieceLen
      val counts = words.flatMap { case (w, f) =>
        viterbiSegment(w, maxLen, bc.value).map(p => (p, f))
      }.groupBy("_1").agg(sum("_2").as("n")).as[(String, Long)].collect()
      pieces = budget(counts.toMap)
      bc.destroy()
    }
    val finalTotal = pieces.values.map(math.max(_, 1L)).sum.toDouble
    pieces.toSeq.sortBy { case (p, n) => (-n, p) }
      .map { case (p, n) =>
        (p, n, math.rint(math.log(math.max(n, 1L) / finalTotal) * 1e6) / 1e6)
      }
      .toDF("piece", "n_uses", "logprob")
  }

  /** UNIGRAM-LM ENCODING with the trained piece table — the apply side
    * of [[unigramTrain]] ([[bpeEncode]]'s discipline): Viterbi-segment
    * the DISTINCT-WORD vocabulary under the learned piece log-probs
    * (broadcast model state), then one corpus pass joins doc words to
    * their piece counts (unhinted equi-join — AQE broadcasts while the
    * vocabulary is small, shuffles at corpus scale). Per-doc word /
    * unigram-token / char counts.
    */
  def unigramEncode(s: SparkSession, d: String, vocabSize: Int = 120,
                    maxPieceLen: Int = 4, nIter: Int = 3,
                    seedSize: Int = 400): DataFrame = {
    val pieces = unigramTrain(s, d, vocabSize, maxPieceLen, nIter, seedSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    unigramEncodeOf(Tables.documents(s, d), pieces, maxPieceLen)
  }

  /** [[unigramEncode]] with an already-trained piece table over an
    * arbitrary (doc_id, text) relation — the [[graft.api.Tokenizer]]
    * apply surface.
    */
  def unigramEncodeOf(docs: DataFrame, pieces: Seq[(String, Long)],
                      maxPieceLen: Int = 4): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val rows = pieces.map { case (p, n) => p -> math.max(n, 1L) }
    // NORMALIZED log-probs, exactly as training scores them: candidate
    // segmentations differ in piece COUNT, so an unnormalized weight
    // table would shift paths by (count · log total) and change the
    // argmax — normalization is load-bearing here, not cosmetic
    val total = rows.map(_._2).sum.toDouble
    val logp = rows.map { case (p, n) => p -> math.log(n / total) }.toMap
    val bc = s.sparkContext.broadcast(logp)
    val maxLen = maxPieceLen
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .as[String]
      .map(w => (w, viterbiSegment(w, maxLen, bc.value).length.toLong))
      .toDF("w", "n_toks")
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum("n_toks").as("n_tokens"),
        sum(length(col("w"))).as("n_chars"))
      .orderBy("doc_id")
  }

  /** DOCUMENT PAGERANK over the near-duplicate similarity graph
    * (winnowing match pairs as undirected edges): the graph-centrality
    * view of corpus redundancy — a doc sharing fingerprints with many
    * well-connected docs is template/boilerplate-central, and
    * importance-weighted curation samples AGAINST high centrality
    * (the sibling signal to [[Dedup.dedupClusterStats]]' size
    * histogram). Classic damped PageRank with uniform teleport and
    * dangling-mass redistribution.
    *
    * Scale shape — the standard distributed PageRank: ranks live in a
    * (doc, pr) relation re-derived per iteration (localCheckpoint
    * truncates lineage, the [[bpeTrain]] discipline); each iteration
    * is one edges⋈ranks join whose messages PARTIAL-AGGREGATE map-side
    * before the doc-keyed exchange, plus one scalar dangling-mass
    * aggregate. Nothing driver-sized but the scalar; at 100 TB the
    * edge relation partitions by src like any fact table. Doubles are
    * deterministic here because every per-node message sum is over the
    * node's neighbor list ONLY (≤ degree terms; spec compares against
    * a driver reference at 1e-9).
    */
  def docsPagerank(s: SparkSession, d: String, damping: Double = 0.85,
                   nIter: Int = 10, minShared: Int = 2,
                   topN: Int = 50): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id")).localCheckpoint()
    val n = docs.count()
    // the match pair list is the memoized per-snapshot artifact shared
    // with [[winnowMatches]] — the scaffold no longer re-runs inside
    // this line (was 2.6 s of its 4.3 s at sf0.1)
    val pairs = winnowMatchPairs(s, d, minShared).select("ia", "ib")
    val edges = pairs.select(col("ia").as("src"), col("ib").as("dst"))
      .unionByName(pairs.select(col("ib").as("src"), col("ia").as("dst")))
      .localCheckpoint()
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // out-degree rides ON the edge row (one static join, before the
    // loop) so each iteration runs ONE pr⋈edges join, not two (§2.4 —
    // same message values, deg is a per-src constant)
    val edgesDeg = edges.join(outdeg, "src").localCheckpoint()
    // the dangling NODE SET is static — computed once; its per-
    // iteration mass rides as a lazy one-row broadcast inside the rank
    // update, so each iteration is ONE job (the localCheckpoint
    // materialization), not a job + a driver-scalar action
    val danglingNodes = docs
      .join(outdeg, col("doc_id") === col("src"), "left_anti")
      .select("doc_id").localCheckpoint()
    var pr = docs.select(col("doc_id"), lit(1.0 / n).as("pr")).localCheckpoint()
    for (_ <- 1 to nIter) {
      val msgs = pr
        .join(edgesDeg, col("doc_id") === col("src"))
        .select(col("dst").as("doc_id"), (col("pr") / col("deg")).as("m"))
        .groupBy("doc_id").agg(sum("m").as("in_m"))
      val danglingMass = pr
        .join(broadcast(danglingNodes), Seq("doc_id"), "left_semi")
        .agg(coalesce(sum("pr"), lit(0.0)).as("dm"))
      pr = docs
        .join(msgs, Seq("doc_id"), "left")
        .crossJoin(broadcast(danglingMass))
        .select(col("doc_id"),
          (lit((1 - damping) / n) + lit(damping) *
            (coalesce(col("in_m"), lit(0.0)) + col("dm") / n)).as("pr"))
      // one checkpoint per iteration, DELIBERATELY (r14, against the
      // span-2 suggestion): pr is consumed twice by the next iteration
      // (message join + dangling-mass aggregate), so a lazy iteration
      // re-executes its whole edge-join subtree once more — at 100 TB
      // that is a full extra pass over the edge relation per lazy hop,
      // traded for one saved scheduler round-trip that only matters at
      // toy SF. Materialized-leaf-per-iteration is the scale shape.
        .localCheckpoint()
    }
    TopK.ranked(pr, Seq(col("pr").desc, col("doc_id").asc), 0, topN)
      .select(col("rank"), col("doc_id"), round(col("pr") * 1e6, 4).as("ppm"))
  }

  /** TRAINING-SHARD EXPORT PLAN — the write-side of a 100 TB training
    * run: every document is assigned a deterministic pseudo-random shard
    * by content-independent hash (md5 of the stable doc_id, so the
    * assignment is reproducible across engines, runs, and
    * partitionings — NOT Spark's partition-layout-dependent shuffle),
    * and the report gives per-shard doc/word/char volumes. Training
    * jobs size their data-parallel readers off exactly this table, and
    * a skewed shard (hot shard = straggler epoch) shows up here before
    * the GPUs do. The companion sink
    * [[graft.sources.Sources.writeTrainingShards]] materializes the
    * layout with a deterministic within-shard order. Scale: one
    * partial-aggregated groupBy over `nShards` keys — no wide state,
    * no sort, the cheapest possible full-corpus pass.
    */
  def shardExport(s: SparkSession, d: String, nShards: Int = 8): DataFrame =
    Tables.documents(s, d)
      .withColumn("shard",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % nShards)
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_words"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .orderBy("shard")

  /** ZIPF-LAW FIT over the corpus vocabulary: least-squares slope of
    * ln(frequency) on ln(rank) for the top-`topN` terms — the
    * distributional health check of a training corpus (natural text
    * sits near slope −1; a synthetic or template-heavy corpus drifts
    * flat, a boilerplate-dominated one drifts steep). Exactness: the
    * transcendental ln outputs are rounded to 6dp and cast to exact
    * DECIMAL before the Σx/Σy/Σxy/Σx² moments (order-independent,
    * engine-portable — the lm_score discipline); the closed-form
    * slope/intercept then run in deterministic IEEE doubles. Scale:
    * term frequencies partial-aggregate; the top-N cut and its rank are
    * one `TopK.ranked`; the fit itself sees topN rows.
    */
  def zipfSlope(s: SparkSession, d: String, topN: Int = 200): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
    val xy = TopK.ranked(tf, Seq(col("tf").desc, col("token")), 0, topN)
      .select(
        round(log(col("rank").cast("double")), 6).cast("decimal(12,6)").as("x"),
        round(log(col("tf").cast("double")), 6).cast("decimal(12,6)").as("y"))
    xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n").cast("double").as("nd"),
        col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"),
        col("sxy").cast("double").as("sxyd"), col("sxx").cast("double").as("sxxd"),
        col("n"))
      .select(col("n").as("n_terms"),
        ((col("nd") * col("sxyd") - col("sxd") * col("syd")) /
          (col("nd") * col("sxxd") - col("sxd") * col("sxd"))).as("slope"),
        ((col("syd") -
          (col("nd") * col("sxyd") - col("sxd") * col("syd")) /
            (col("nd") * col("sxxd") - col("sxd") * col("sxd")) * col("sxd")) /
          col("nd")).as("intercept"))
  }

  /** Cross-document WINNOWING MATCH report — the consumer join of
    * [[winnowing]]: document pairs sharing ≥ `minShared` fingerprints,
    * with the shared count as the match strength. By the winnowing
    * guarantee, any pair sharing a ≥ (w + win − 1)-word run surfaces
    * here — the MOSS-style local-overlap detector, a different (and
    * cheaper) lens than whole-set Jaccard: fingerprints are ~1/win of
    * the grams, so the co-fingerprint join moves ~win² times fewer
    * rows than the co-shingle join at the same corpus size.
    *
    * Same hot-key discipline as the exact shingle joins: fingerprints
    * shared by > `dfCap` docs (corpus boilerplate) are dropped from the
    * match join — a boilerplate fingerprint's m² pair explosion is the
    * thing to refuse at scale, and the emitted counts simply don't
    * include capped fps (documented, mirrored exactly in the oracle).
    */
  /** Session memo of the winnow match pair list at (minShared, dfCap):
    * the pair relation is per-corpus-snapshot state consumed by BOTH
    * the match report ([[winnowMatches]]) and the centrality view
    * ([[docsPagerank]]'s edge list), and each consumer re-ran the
    * fingerprint + self-join scaffold identically (profiled at 2.6 s
    * of the pagerank line's 4.3 s at sf0.1 — the single biggest slice
    * of that line). The [[graft.operators.Dedup.minhashPairs]]
    * pairMemo discipline on the winnowing axis: tiny verified pair
    * rows, eager localCheckpoint so the corpus-sized fingerprint
    * lineage never re-enters a consumer plan.
    */
  private val winnowPairMemo =
    new SessionMemo[(Int, Int), DataFrame]("winnow_matches_warm")

  private[graft] def winnowMatchPairs(s: SparkSession, d: String,
                                      minShared: Int = 2,
                                      dfCap: Int = 64): DataFrame =
    winnowPairMemo.getOrElseUpdate(s, d, (minShared, dfCap))(
      winnowPairsOf(winnowing(s, d), minShared, dfCap).localCheckpoint(true))

  def winnowMatches(s: SparkSession, d: String, minShared: Int = 2,
                    dfCap: Int = 64): DataFrame =
    winnowMatchPairs(s, d, minShared, dfCap).orderBy("ia", "ib")

  /** [[winnowMatches]] over a precomputed (doc_id, fp) fingerprint
    * relation ([[winnowingOf]] output) — lets a pipeline fingerprint a
    * TRANSFORMED corpus (e.g. the PII-scrubbed form) instead of the raw
    * table.
    */
  def winnowMatchesOf(fps: DataFrame, minShared: Int = 2,
                      dfCap: Int = 64): DataFrame =
    winnowPairsOf(fps, minShared, dfCap).orderBy("ia", "ib")

  /** [[winnowMatchesOf]] without the presentation sort — the form the
    * pair memo stores (consumers order or aggregate as they need).
    */
  private def winnowPairsOf(fps: DataFrame, minShared: Int,
                            dfCap: Int): DataFrame = {
    // no forced broadcast: the hot-fp bound (fp-volume/dfCap) is far
    // past broadcastable at 100 TB — unhinted equi-anti-join on the
    // 8-byte fp lets AQE broadcast when small, shuffle when not (same
    // contract as Dedup.candidatePairCounts)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("fp")
    val cold = fps.join(hot, Seq("fp"), "left_anti")
    cold.as("a").join(cold.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** CONTENT-DEFINED CHUNKING (the Rabin-fingerprint boundary trick of
    * CDC dedup systems, applied at word granularity): a chunk boundary
    * falls after any word whose trailing `g`-gram hash ≡ 0 (mod
    * `mask`+1) — so boundaries are decided by LOCAL content, and an
    * insertion/deletion early in a document shifts chunk boundaries
    * only until the next content-defined cut instead of re-aligning
    * every fixed-width window downstream (the failure mode of
    * [[chunkOverlap]]-style fixed windows under edits). Emits one row
    * per chunk with its md5 digest and the digest's corpus-wide
    * occurrence count — duplicate chunks across documents surface
    * directly (n_copies > 1), which is the CDC dedup join.
    *
    * Scale shape: boundary detection is map-side codegen over
    * positional grams; the doc-keyed running-sum window carries
    * (doc_id, pos, flag) rows; chunk assembly slices the original word
    * array (text shuffles once, doc-keyed, for the bounds join); the
    * n_copies count is one digest-keyed exchange of 16-byte digests.
    * Expected chunk length = mask+1 words.
    */
  def cdcChunks(s: SparkSession, d: String, g: Int = 3, mask: Int = 15): DataFrame =
    cdcChunksOf(Tables.documents(s, d), g, mask)

  /** [[cdcChunks]] over an arbitrary (doc_id, text) relation. */
  def cdcChunksOf(docsIn: DataFrame, g: Int = 3, mask: Int = 15): DataFrame = {
    val wsCol = split(col("text"), " ")
    val docs = docsIn.select(col("doc_id"), wsCol.as("ws"))
    val toks = docs
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n"),
        posexplode(col("ws")).as(Seq("pos0", "word")))
      .withColumn("pos", col("pos0") + 1) // 1-based, mirrors the oracle
    // index clamp: positions < g never flag a boundary (gated below),
    // but under ANSI mode element_at(ws, 0) would throw if the And
    // short-circuit is ever reordered — clamp to 1 so the gram
    // expression is total (its value at pos < g is unused)
    val gram = concat_ws(" ",
      (g - 1 to 0 by -1).map(j =>
        element_at(col("ws"), greatest(col("pos") - j, lit(1)))): _*)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val flagged = toks
      .withColumn("bnd",
        (col("pos") >= g && col("pos") < col("n") &&
          conv(substring(md5(gram), 1, 15), 16, 10).cast("long") % (mask + 1) === 0)
          .cast("long"))
      .withColumn("chunk_idx", sum("bnd").over(wDoc) - col("bnd"))
    val bounds = flagged.groupBy(col("doc_id"), col("chunk_idx"))
      .agg(min("pos").as("p0"), max("pos").as("p1"), count(lit(1)).as("n_words"))
    val chunks = bounds.join(docs, "doc_id")
      .select(col("doc_id"), col("chunk_idx"), col("n_words"),
        md5(concat_ws(" ",
          slice(col("ws"), col("p0"), col("p1") - col("p0") + 1))).as("chunk_md5"))
    val wDigest = org.apache.spark.sql.expressions.Window.partitionBy("chunk_md5")
    chunks
      .withColumn("n_copies", count(lit(1)).over(wDigest))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * shards per language — the bin layout step before tokenize-and-
    * concat. A doc starts a new chunk when the running token total
    * (docs ordered by doc_id within lang) crosses the budget; exact
    * integer window arithmetic, so the layout is reproducible anywhere.
    *
    * Scale shape: ONE shuffle (partition by lang, sort by doc_id) and a
    * running-sum window; chunk stats partial-aggregate. At 100 TB the
    * per-lang window is the bound — shard further by a stable doc-id
    * range split per lang if one language dominates.
    */
  def packChunks(s: SparkSession, d: String, maxTokens: Long = 2048L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("chunk_id",
        floor((sum("n_tokens").over(w) - col("n_tokens")) / maxTokens))
      .groupBy("lang", "chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("chunk_tokens"))
      .orderBy("lang", "chunk_id")
  }

  /** Temperature-based source mixing: the multi-source rebalancing step
    * of training-corpus assembly (α = 0.5 "square-root" temperature —
    * upweights small sources, downweights dominant ones). Per-source
    * acceptance rate = budget · w_s / (Σw · n_s) with w_s = √n_s, capped
    * at 1; selection is a deterministic md5-bucket sample, so the mixed
    * corpus is reproducible across runs, partitionings, and engines.
    *
    * Exactness: √n is correctly-rounded IEEE (identical everywhere);
    * the weights are summed as DECIMAL(18,10) so the normalizer doesn't
    * depend on partial-aggregation order. Scale shape: one tiny
    * per-source aggregate broadcast back over the corpus scan — the
    * docs themselves never shuffle.
    */
  def mixSources(s: SparkSession, d: String, budget: Long = 200L): DataFrame = {
    val docs = Tables.documents(s, d)
    val wts = docs.groupBy("source").agg(count(lit(1)).as("n_in"))
      .withColumn("w", sqrt(col("n_in")).cast("decimal(18,10)"))
    val tot = wts.agg(sum("w").as("tw"))
    val rates = wts.crossJoin(broadcast(tot))
      .withColumn("rate", least(lit(1.0),
        lit(budget.toDouble) * col("w").cast("double") / col("tw").cast("double") /
          col("n_in")))
      .select("source", "n_in", "rate")
    val selected = docs
      .withColumn("bucket", conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long"))
      .join(broadcast(rates), "source")
      .filter(col("bucket") < col("rate") * lit(65536.0))
      .groupBy("source").agg(count(lit(1)).as("n_out"))
    rates.join(selected, Seq("source"), "left")
      .select(col("source"), col("n_in"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        round(col("rate"), 4).as("rate"))
      .orderBy("source")
  }

  /** Gopher-style rule-based quality FILTER (Rae et al. 2021 §A1.1
    * heuristics, adapted to the signals this corpus carries): per-doc
    * word count, mean word length, alphabetic-word fraction, and
    * stopword presence, plus the conjunctive pass/fail verdict a
    * pipeline gates on. Distinct from `quality` (which SCORES): this is
    * the boolean rule battery. Pure map-side codegen'd column work —
    * at 100 TB it rides the corpus scan with zero shuffle.
    */
  /** The four Gopher metric Columns over a `text` field — ONE
    * definition feeding both the audit query ([[gopherRules]]) and the
    * filter gate ([[gopherPassExpr]]), so a metric tweak (regex,
    * rounding, separator rule) can never land in one and silently
    * diverge the other — the countMinTable one-definition discipline.
    * chars-in-words / n_words: text has single-space separators, so
    * word chars = len(text) − (n_words − 1).
    */
  private def gopherMetrics: (Column, Column, Column, Column) = {
    val ws = split(col("text"), " ")
    val nWords = size(ws).cast("long")
    val meanLen =
      round((length(col("text")) - size(ws) + 1).cast("double") / size(ws), 4)
    val alpha =
      round(size(filter(ws, w => w.rlike("[a-z]"))).cast("double") / nWords, 4)
    val stops = size(array_intersect(ws, array(stopwords.map(lit): _*))).cast("long")
    (nWords, meanLen, alpha, stops)
  }

  private def gopherPass(nWords: Column, meanLen: Column, alpha: Column,
                         stops: Column, minWords: Long, maxWords: Long,
                         minMeanLen: Double, maxMeanLen: Double,
                         minAlpha: Double, minStopHits: Int): Column =
    nWords.between(minWords, maxWords) &&
      meanLen.between(minMeanLen, maxMeanLen) &&
      alpha >= minAlpha && stops >= minStopHits

  def gopherRules(s: SparkSession, d: String,
                  minWords: Long = 15, maxWords: Long = 100000,
                  minMeanLen: Double = 2.0, maxMeanLen: Double = 10.0,
                  minAlpha: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val (nWords, meanLen, alpha, stops) = gopherMetrics
    Tables.documents(s, d)
      .select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
        alpha.as("alpha_ratio"), stops.as("n_stop_hits"),
        gopherPass(nWords, meanLen, alpha, stops, minWords, maxWords,
          minMeanLen, maxMeanLen, minAlpha, minStopHits)
          .cast("long").as("passes"))
      .orderBy("doc_id")
  }

  /** The conjunctive [[gopherRules]] verdict as a reusable boolean
    * Column over a `text` field — the form a pipeline drops straight
    * into a `.filter` (no join, no extra pass; the gate rides whatever
    * scan already reads the text). Same thresholds and same rounded
    * metrics as the query, so gate and audit artifact agree exactly.
    */
  def gopherPassExpr(minWords: Long = 15, maxWords: Long = 100000,
                     minMeanLen: Double = 2.0, maxMeanLen: Double = 10.0,
                     minAlpha: Double = 0.8, minStopHits: Int = 2)
      : org.apache.spark.sql.Column = {
    val (nWords, meanLen, alpha, stops) = gopherMetrics
    gopherPass(nWords, meanLen, alpha, stops, minWords, maxWords,
      minMeanLen, maxMeanLen, minAlpha, minStopHits)
  }

  /** Per-document TOKEN ENTROPY — Shannon entropy of the within-doc
    * word distribution (degenerate/templated text scores low; a
    * standard quality signal next to `repetition`). H = log₂n −
    * Σc·log₂c / n over per-word counts c.
    *
    * Cross-engine determinism: each c·log₂c term is rounded to 6dp and
    * summed as DECIMAL (the [[lmScore]] trick) so partial-aggregation
    * order can't move the 4dp result. Scale shape: one (doc, word)
    * partial-agg'd exchange, then a doc-keyed reduce — no corpus-sized
    * state anywhere.
    */
  def tokenEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .withColumn("clc",
        round(col("c") * log2(col("c").cast("double")), 6).cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_uniq"),
        sum("clc").cast("double").as("sum_clc"))
      .select(col("doc_id"), col("n_tokens"), col("n_uniq"),
        round(log2(col("n_tokens").cast("double")) -
          col("sum_clc") / col("n_tokens"), 4).as("entropy"))
      .orderBy("doc_id")

  /** CCNet-style PERPLEXITY BUCKETING: split each language's corpus
    * into head/middle/tail terciles by LM score ([[lmScore]] is the
    * self-trained stand-in for the Wikipedia KenLM) and report each
    * bucket's size and score band — the artifact CCNet keeps (head ≈
    * cleanest third) and the quality-stratification step of corpus
    * assembly. Tercile cut = ntile(3) ordered by (rounded score,
    * doc_id): the tie order is total, so the assignment is
    * engine-exact.
    *
    * Scale: the naive `Window.partitionBy(lang)` ntile sorts each
    * language's ENTIRE corpus in one task (~10 langs at 100 TB =
    * corpus-scale single-task sorts), so the rank is DISTRIBUTED
    * instead: range-partition by the per-lang rank order, row_number
    * locally within (pid, lang), lift to the global per-lang rank with
    * driver-computed (pid, lang) exclusive-prefix counts (P×|langs|
    * longs — bounded model state), then the ntile bucket is pure
    * arithmetic on (rank, lang total) — SQL ntile semantics exactly:
    * the first (N mod 3) buckets hold floor(N/3)+1 rows. No task sorts
    * more than |docs|/P rows; PlanInvariantsSpec pins every window in
    * this plan to a pid-partitioned spec.
    */
  def ccnetBuckets(s: SparkSession, d: String): DataFrame = {
    val scored = lmScoresCached(s, d)
      .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
    // distributed per-lang global rank — the shared range-partition +
    // local-window + broadcast-offsets utility (equivalence-spec'd
    // against the single-task window formulation)
    graft.operators.DistributedRank.rowNumber(scored, Seq("lang"),
        Seq(col("avg_nll").asc, col("doc_id").asc), "rnk", "n_lang")
      .withColumn("q", expr("n_lang DIV 3"))
      .withColumn("rem", col("n_lang") % 3)
      .withColumn("nt", when(col("rnk") <= col("rem") * (col("q") + 1),
          expr("(rnk - 1) DIV (q + 1) + 1"))
        .otherwise(expr("rem + (rnk - rem * (q + 1) - 1) DIV q + 1")))
      .withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")), col("nt").cast("int")))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("avg_nll").as("min_nll"), max("avg_nll").as("max_nll"))
      .orderBy("lang", "bucket")
  }

  /** BPE MERGE-PAIR counts — the first iteration of byte-pair-encoding
    * tokenizer training: corpus-frequency-weighted counts of adjacent
    * symbol (char) pairs within words, top-N merge candidates. The
    * real-BPE scale trick is structural here: the corpus first reduces
    * to its (word, count) VOCABULARY (one partial-agg'd exchange over
    * token hashes), and the pair expansion runs over vocabulary rows —
    * 10⁵-ish entries — never over the 100 TB token stream.
    */
  def bpePairs(s: SparkSession, d: String, topN: Int = 50): DataFrame = {
    val wf = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    wf.filter(length(col("w")) >= 2)
      .select(col("c"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("c").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topN)
  }

  /** Per-source DISTRIBUTION DRIFT: Jensen-Shannon divergence of each
    * source's word distribution from the whole-corpus distribution —
    * the mixture-monitoring metric a multi-source training pipeline
    * tracks (a source whose JSD jumps got a bad crawl/extractor change).
    *
    * JSD(P‖Q) = ½ΣP·log₂(P/M) + ½ΣQ·log₂(Q/M), M=(P+Q)/2. The Q-side
    * sum over words ABSENT from the source reduces analytically to
    * (1 − Σ_{w∈s} Q(w)) — each missing word contributes exactly Q·log₂2
    * — so no source×vocabulary cross join ever materializes. Per-term
    * values round to 6dp and sum as DECIMAL (engine-exact); scale shape:
    * one (source, word) partial-agg'd exchange, a word-keyed join to the
    * corpus counts, and a per-source reduce.
    */
  def jsdDrift(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val srcTot = tok.groupBy("source").agg(sum("c").as("t_s"))
    val corpus = tok.groupBy("w").agg(sum("c").as("c_w"))
    val tot = corpus.agg(sum("c_w").as("t"))
    tok.join(broadcast(srcTot), "source").join(corpus, "w")
      .crossJoin(broadcast(tot))
      .withColumn("p", col("c").cast("double") / col("t_s"))
      .withColumn("q", col("c_w").cast("double") / col("t"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .withColumn("tp", round(col("p") * log2(col("p") / col("m")), 6).cast("decimal(18,6)"))
      .withColumn("tq", round(col("q") * log2(col("q") / col("m")), 6).cast("decimal(18,6)"))
      .withColumn("q6", round(col("q"), 6).cast("decimal(18,6)"))
      .groupBy("source")
      .agg(max("t_s").as("n_tokens"), count(lit(1)).as("n_terms"),
        sum("tp").as("sp6"), sum("tq").as("sq6"), sum("q6").as("cov6"))
      // the affine combination stays in EXACT decimal (×0.5 as a
      // DECIMAL(1,1) literal — exact scale-7 product); a 4dp round of
      // the double would sit on 5e-7-multiple .5 boundaries where
      // HALF_UP (Spark) and binary rounding (DuckDB) split
      .select(col("source"), col("n_tokens"), col("n_terms"),
        ((col("sp6") + col("sq6") + lit(new java.math.BigDecimal("1.0")) - col("cov6")) *
          lit(new java.math.BigDecimal("0.5"))).cast("double").as("jsd"))
      .orderBy("source")
  }

  /** PII-style scrubbing: global regex redaction with per-doc match
    * accounting (the mechanics of email/phone/ID masking — the pattern
    * is a parameter; the default targets tokens that exist in the
    * synthetic corpus so the check is non-degenerate). Pure map-side
    * codegen'd string work; output carries an md5 of the redacted text
    * so the full scrubbed corpus never moves through the verifier.
    */
  def piiRedact(s: SparkSession, d: String,
                pattern: String = "\\b(key|hash)\\b", mask: String = "<MASK>"): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0))).cast("long").as("n_masked"),
        md5(regexp_replace(col("text"), pattern, mask)).as("redacted_md5"),
        length(regexp_replace(col("text"), pattern, mask)).cast("long").as("redacted_len"))
      .orderBy("doc_id")

  /** DSIR-style IMPORTANCE WEIGHTS (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every raw document by
    * log p_target(doc) − log p_raw(doc) under hashed-token bag models —
    * the data-selection signal used to upsample target-domain-like text
    * when composing a pretraining mix. Features are md5-hash buckets
    * (portable across engines), both unigram models are add-one
    * smoothed, and the per-bucket log-ratio is 6dp-rounded DECIMAL so
    * the per-doc sum is order-independent and engine-exact.
    *
    * Scale shape: BOTH models are B-row aggregates (B=256 buckets —
    * constant however large the corpus) built by partial-agg'd counts;
    * scoring is per-doc bucket counts (partial-agg'd on the doc key)
    * joined to the BROADCAST ratio table — the corpus crosses the wire
    * once, reduced to (doc, bucket, n) rows.
    */
  def dsirWeights(s: SparkSession, d: String,
                  targetSources: Seq[String] = Seq("src0", "src1", "src2"),
                  buckets: Int = 256): DataFrame = {
    val docs = Tables.documents(s, d)
    def toks(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("b", conv(substring(md5(col("w")), 1, 4), 16, 10)
        .cast("long") % buckets)
    val all = toks(docs)
    val tgt = toks(docs.filter(col("source").isin(targetSources: _*)))
    def model(t: DataFrame): DataFrame = t.groupBy("b").agg(count(lit(1)).as("c"))
    val nAll = all.agg(count(lit(1)).as("n_all"))
    val nTgt = tgt.agg(count(lit(1)).as("n_tgt"))
    val ratio = model(all).withColumnRenamed("c", "c_all")
      .join(model(tgt).withColumnRenamed("c", "c_tgt"), Seq("b"), "left")
      .na.fill(0L, Seq("c_tgt"))
      .crossJoin(nAll).crossJoin(nTgt)
      .select(col("b"), round(
          log2((col("c_tgt") + lit(1)).cast("double") / (col("n_tgt") + lit(buckets))) -
          log2((col("c_all") + lit(1)).cast("double") / (col("n_all") + lit(buckets))), 6)
        .cast("decimal(18,6)").as("r"))
    all.groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
      .join(broadcast(ratio), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"),
        // the weight sum is an exact 6dp-decimal multiple — a 4dp round
        // would sit on .5 boundaries where Spark's HALF_UP and DuckDB's
        // HALF_EVEN split; the exact decimal→double cast compares
        // bit-identically instead
        sum((col("n") * col("r")).cast("decimal(18,6)")).cast("double")
          .as("dsir_weight"))
      .orderBy("doc_id")
  }

  /** DSIR RESAMPLING — the selection step that consumes [[dsirWeights]]
    * and actually composes the mix: deterministic importance-weighted
    * acceptance, where each doc's 16-bit md5 bucket (the same portable
    * uniform as [[sampleHash]]) is compared against its min-max-
    * normalized weight as an acceptance rate. Linear acceptance rather
    * than the exp/Gumbel form: the contract here is cross-engine
    * determinism, and transcendental last-ulp behavior differs between
    * engines — the exp-weighted variant is a one-line swap where that
    * contract can be relaxed. Reports the resulting mix per source
    * (doc and token attrition). Map-side except the weight join and the
    * |sources|-row rollup; bounds are a one-row broadcast.
    */
  /** The per-doc acceptance relation under the DSIR weights —
    * (doc_id, source, n_tokens, keep). The decision [[dsirSample]]
    * rolls up per source and [[graft.api.CuratePipeline]]'s resampling
    * stage applies per doc: ONE definition of the acceptance rule.
    */
  private[graft] def dsirKeepDocs(s: SparkSession, d: String): DataFrame = {
    val wts = dsirWeights(s, d)
    val bounds = wts.agg(min("dsir_weight").as("lo"), max("dsir_weight").as("hi"))
    Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      .join(wts, "doc_id")
      .crossJoin(broadcast(bounds))
      .withColumn("rate", (col("dsir_weight") - col("lo")) / (col("hi") - col("lo")))
      .withColumn("bucket", conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long"))
      .withColumn("keep", col("bucket").cast("double") < col("rate") * 65536)
      .select("doc_id", "source", "n_tokens", "keep")
  }

  def dsirSample(s: SparkSession, d: String): DataFrame = {
    dsirKeepDocs(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("n_tokens_kept"))
      .orderBy("source")
  }

  /** "MORE LIKE THIS" document retrieval: for each query doc, the top-k
    * most similar corpus docs by 3-gram Jaccard — the search face of the
    * dedup machinery (near-dup forensics, per-doc provenance, corpus
    * browse). Where the dedup family answers "which pairs exceed τ",
    * this answers "what are THIS doc's closest neighbors, ranked".
    *
    * Scale shape: both sides reduce to (doc, 8-byte gram hash) rows; the
    * intersection join keys on the hash with the (small) query side
    * broadcast; per-pair counts partial-aggregate; the k-cut and its
    * rank are one TopKPerKey heap operator, so only ≤ k rows per (query
    * × partition) cross its exchange. Corpus text never moves.
    */
  def docSimTopK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    // 3-grams, not the dedup family's 5: retrieval wants graded
    // similarity over the whole corpus, not just near-dup-tier overlap
    val grams = Dedup.shingleRows(Tables.documents(s, d), 3)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val qg = grams.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("query_id"), col("h"))
    val inter = qg.join(grams, "h")
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("c"))
    val scored = inter
      .join(sizes.select(col("doc_id").as("query_id"), col("n").as("nq")), "query_id")
      .join(sizes.select(col("doc_id"), col("n").as("nd")), "doc_id")
      .withColumn("jaccard",
        col("c").cast("double") / (col("nq") + col("nd") - col("c")))
    graft.plans.TopK.perKey(scored.select(col("query_id"), col("doc_id"), col("jaccard")),
        Seq(col("query_id")), Seq(col("jaccard").desc, col("doc_id").asc), k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("query_id", "rank")
  }

  /** ANNEALED MIXTURE SCHEDULE — the phase-dependent source-sampling
    * plan of a mid-training anneal: early phases sample sources
    * proportional to size (τ = 1), the middle phase flattens toward
    * balance (τ = ½ — sqrt weighting), and the final phase samples
    * sources EQUALLY (τ = 0) so small high-quality feeds dominate the
    * anneal. Weights are w_s = n_s^τ / Σ n_s^τ; per (phase, source)
    * the report gives the weight and the target doc count for a fixed
    * per-phase budget. The temperatures are deliberately {1, ½, 0}:
    * identity, SQRT (correctly-rounded IEEE in both engines), and
    * constant — no pow(x, 0.7)-class transcendental whose last-ulp
    * disagreement between engines could flip a rounded weight. Scale
    * shape: the corpus reduces to |sources| count rows; everything
    * after is arithmetic on that tiny relation.
    */
  def annealMixture(s: SparkSession, d: String,
                    budget: Long = 10000L): DataFrame = {
    val bySource = Tables.documents(s, d)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val phases = Seq((1L, "size"), (2L, "sqrt"), (3L, "equal"))
    phases.map { case (p, mode) =>
      // un-normalized weights enter DECIMAL before the window sum: a
      // double Σ over the partition would accumulate in row order
      // (nondeterministic past 2 terms); the sqrt itself is 6dp-rounded
      // first so the decimal is exact in both engines
      val raw = (mode match {
        case "size"  => col("n_docs").cast("decimal(18,6)")
        case "sqrt"  => round(sqrt(col("n_docs").cast("double")), 6)
          .cast("decimal(18,6)")
        case "equal" => lit(1.0).cast("decimal(18,6)")
      }).as("raw")
      val tw = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
      bySource
        .withColumn("raw", raw)
        .withColumn("w", col("raw").cast("double") /
          sum(col("raw")).over(tw).cast("double"))
        .select(lit(p).as("phase"), col("source"), col("n_docs"),
          round(col("w"), 4).as("weight"),
          round(col("w") * budget, 0).cast("long").as("target_docs"))
    }.reduce(_ unionByName _).orderBy("phase", "source")
  }

  /** CURRICULUM ORDER — the training-schedule artifact of
    * quality-curriculum learning: docs split into 3 global quality
    * phases (ntile over lexical-diversity score, cleanest first — the
    * "easy/clean → hard/noisy" schedule), each phase internally
    * shuffled by a DETERMINISTIC content hash (reproducible epochs, no
    * RNG state to persist) and ranked. The trainer consumes (phase,
    * phase_rank) as the read order. Scale shape: BOTH global ranks run
    * through [[graft.operators.DistributedRank]] (range-partition +
    * broadcast offsets — no single-task window over the corpus; the
    * per-phase shuffle rank range-partitions by (phase, hash) so each
    * task holds |corpus|/P rows regardless of phase count).
    */
  def curriculumOrder(s: SparkSession, d: String): DataFrame = {
    val words = split(col("text"), " ")
    val scored = Tables.documents(s, d).select(col("doc_id"),
      round(size(array_distinct(words)).cast("double") / size(words), 4)
        .as("uniq_ratio"),
      conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("shuf"))
    val ranked = graft.operators.DistributedRank.rowNumber(scored, Seq.empty,
        Seq(col("uniq_ratio").desc, col("doc_id").asc), "rnk", "n_total")
      .withColumn("q", expr("n_total DIV 3"))
      .withColumn("rem", col("n_total") % 3)
      // exact SQL NTILE(3): first `rem` buckets take ceil(n/3) rows
      .withColumn("phase", when(col("rnk") <= col("rem") * (col("q") + 1),
          expr("(rnk - 1) DIV (q + 1) + 1"))
        .otherwise(expr("rem + (rnk - rem * (q + 1) - 1) DIV q + 1")))
      .select("doc_id", "phase", "shuf")
    graft.operators.DistributedRank.rowNumber(ranked, Seq("phase"),
        Seq(col("shuf").asc, col("doc_id").asc), "phase_rank", "n_phase")
      .select(col("doc_id"), col("phase"), col("phase_rank"))
      .orderBy("phase", "phase_rank")
  }

  /** N-GRAM NOVELTY per document — the freshness/memorization-risk
    * signal of an ordered ingest: what fraction of each doc's distinct
    * word-5-grams appears HERE FIRST (no earlier doc_id carries the
    * gram)? A late doc with novelty ≈ 0 is recombinated boilerplate the
    * model has already seen (Lee et al. 2022's memorization argument at
    * the gram tier); a source whose novelty trend decays is exhausted.
    * Scale shape: grams reduce to 64-bit hashes at the scan (the
    * [[graft.operators.Dedup.candidatePairCounts]] reduction — set
    * semantics up to documented collisions), the first-seen owner is
    * ONE min-aggregate per gram, and the join-back keys on the 8-byte
    * hash — document text never shuffles.
    */
  def ngramNovelty(s: SparkSession, d: String, w: Int = 5): DataFrame = {
    val grams = Dedup.shingleRows(Tables.documents(s, d), w)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val first = grams.groupBy("h").agg(min("doc_id").as("first_doc"))
    grams.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** NOVELTY TREND per source — the feed-exhaustion signal composed
    * from [[ngramNovelty]]: each source's docs split by ingest order
    * (doc_id median within the source) into an early and a late half,
    * and the mean first-seen-gram fraction compared across halves. A
    * feed whose late half's novelty collapses is re-crawling itself or
    * its peers — cut it before it dilutes the mixture ("is this source
    * still giving us new text?" as one row per feed). Exactness: the
    * per-doc novelty ratios are exact integer fractions; their means
    * are computed as exact DECIMAL sums of the 4dp-rounded per-doc
    * values divided by counts. Scale shape: adds one |sources|-row
    * rollup over the novelty relation; the in-source median comes from
    * a count + per-source rank, not a sort of the corpus in one task.
    */
  def noveltyTrend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nov = ngramNovelty(s, d)
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
    val w = Window.partitionBy("source").orderBy("doc_id")
    val half = nov
      .withColumn("rk", row_number().over(w))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("late", (col("rk") * 2 > col("n_src")).cast("int"))
    val dec = "decimal(18,4)"
    half.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(when(col("late") === 0, col("novelty").cast(dec))).cast("double") /
          sum(when(col("late") === 0, 1L))).as("early_novelty"),
        (sum(when(col("late") === 1, col("novelty").cast(dec))).cast("double") /
          sum(when(col("late") === 1, 1L))).as("late_novelty"))
      // UNROUNDED quotients: a decimal-sum/count ratio can terminate at
      // the 4dp boundary digit + 5 (the round() HALF_UP/HALF_EVEN split
      // — the verify-skill gotcha); the raw doubles are identical IEEE
      // ops on identical exact decimals in both engines
      .withColumn("trend", col("late_novelty") - col("early_novelty"))
      .select("source", "n_docs", "early_novelty", "late_novelty", "trend")
      .orderBy("source")
  }

  /** Document-LENGTH histogram in whitespace tokens — the planning
    * artifact behind [[packChunks]]'s budget choice and a sequence-
    * length curriculum: bucket docs by tokens/10 (exact integer
    * division — no float log-bucket boundary ambiguity across
    * engines), and report per bucket the doc count, token volume, and
    * the CUMULATIVE doc/token shares ("what fraction of the corpus
    * fits a 2048-token context window?" is one row lookup). Scale
    * shape: docs reduce to a single int at the scan, the bucket rollup
    * is |buckets| rows (≤ max_len/10), and the cumulative window runs
    * over that tiny relation in one task — the 4dp shares are exact
    * integer ratios, engine-portable.
    */
  def tokenHistogram(s: SparkSession, d: String): DataFrame = {
    val nTok = size(split(col("text"), " "))
    val buckets = Tables.documents(s, d)
      .select((nTok.cast("long") / 10).cast("long").as("bucket"), nTok.cast("long").as("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(0)).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tw = Window.partitionBy(lit(0))
    buckets
      .withColumn("cum_docs", sum("n_docs").over(w))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("tot_docs", sum("n_docs").over(tw))
      .withColumn("tot_tokens", sum("n_tokens").over(tw))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        round(col("cum_docs").cast("double") / col("tot_docs"), 4).as("cum_doc_share"),
        round(col("cum_tokens").cast("double") / col("tot_tokens"), 4)
          .as("cum_token_share"))
      .orderBy("bucket")
  }
}
