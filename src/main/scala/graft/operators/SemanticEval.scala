package graft.operators

import graft.Tables
import graft.functions.Vectors.cosineSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SEMANTIC-RETRIEVAL QUALITY benchmark (VERDICT r5 #6): a labeled
  * relevance set built FROM the corpus itself, graded as recall@k and
  * MRR for each encoder behind the [[graft.api.Embedder]] seam — the
  * number that separates "mechanically correct search" from "good
  * search", measured rather than asserted.
  *
  * Relevance labels are free by construction: each query is a
  * deterministic PARAPHRASE of one source document, and the sole
  * relevant result is that source. Two paraphrase transforms of
  * increasing difficulty:
  *
  *  - `dropout` — keep alternate tokens (half the surface form). Any
  *    count-faithful encoder should re-find the source among its
  *    near-identical-vocabulary neighbors; this grades pure
  *    DISCRIMINATION power at k ≪ corpus.
  *  - `associate` — replace every token with its strongest
  *    distributional associate (argmax corpus PMI over adjacent-token
  *    co-occurrence, computed exactly from the corpus — no circular
  *    dependence on either encoder under test). The query keeps the
  *    source's topical profile while rewriting its surface; an encoder
  *    that captures distribution rather than identity degrades less.
  *
  * Encoders under test: the feature-hash default
  * ([[VectorStore.embedDocs]]) and the trained Word2Vec model
  * ([[VectorStore.w2vEmbedder]] — the memoized corpus fit). Same
  * whitespace tokenization on all paths (the compose contract).
  *
  * Scale shape: the associate table is vocabulary-sized (one
  * adjacent-pair groupBy whose exchange carries (t, u, n) triples —
  * pair volume = token volume); query construction explodes only the
  * `nQueries` query docs; scoring broadcasts the (nQueries × dim)
  * query matrix to a map-side corpus scan with a per-query top-k rank
  * — the corpus never shuffles, exactly the serving shape of
  * [[Ann.bruteTopK]]. Model-fitted (Word2Vec) ⇒ rows-only driver
  * check; quality floors are spec'd (SemanticEvalSpec).
  */
object SemanticEval {

  /** One report row per (embedder, transform): n_queries, recall@k,
    * MRR@k (1/rank of the source when found, else 0).
    */
  def semanticRecallEval(s: SparkSession, d: String, k: Int = 10,
                         nQueries: Int = 100): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), lower(col("text")).as("text"))

    // ---- associate table: strongest adjacent-token PMI partner —
    // the SHARED collocation definition, served from the session memo
    // ([[TextAnalysis.pmiAssociatesCached]] — same materialized table
    // `text_pmi_colloc` reports over; pmiAssociates lowercases
    // internally, so the canonical-table build is result-identical to
    // building over this method's pre-lowered projection) ----
    val wBest = Window.partitionBy("t").orderBy(col("pmi").desc, col("u").asc)
    val assoc = TextAnalysis.pmiAssociatesCached(s, d)
      .withColumn("r", row_number().over(wBest))
      .filter(col("r") === 1).select(col("t"), col("u").as("sub"))

    // ---- paraphrase queries (query-set-sized: ≤ nQueries docs) ----
    val arr = split(col("text"), " ")
    val qtoks = docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id"), posexplode(arr).as(Seq("pos", "tok")))
    def reassemble(toks: DataFrame): DataFrame =
      toks.groupBy("doc_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("ps"))
        .select(col("doc_id"),
          concat_ws(" ", transform(col("ps"), p => p.getField("tok"))).as("text"))
    val dropoutQ = reassemble(qtoks.filter(pmod(col("pos"), lit(2)) === 0))
    val associateQ = reassemble(qtoks
      .join(broadcast(assoc), col("tok") === col("t"), "left")
      .select(col("doc_id"), col("pos"), coalesce(col("sub"), col("tok")).as("tok")))

    // ---- encoders behind the seam: each encoder's CORPUS embedding is
    // SESSION-MEMOIZED ([[VectorStore.w2vCorpusEmbedding]] /
    // fhCorpusEmbedding over the lowered projection — shared with any
    // other semantic consumer and pinned to the bench's
    // `semantic_corpus_warm` line, VERDICT r9 #7: the per-call
    // cache/unpersist made the first semantic line of a session absorb
    // both corpus encodes, HashMap order deciding which) ----
    val w2v = VectorStore.w2vEmbedder(s, d)
    def fh(df: DataFrame): DataFrame = VectorStore.embedDocs(df)
    val corpusFh = VectorStore.fhCorpusEmbedding(s, d, lowered = true)
    val corpusW2v = VectorStore.w2vCorpusEmbedding(s, d, lowered = true)
    val arms = Seq(
      ("feature_hash", "dropout", corpusFh, fh(dropoutQ)),
      ("feature_hash", "associate", corpusFh, fh(associateQ)),
      ("word2vec", "dropout", corpusW2v, w2v.embed(dropoutQ)),
      ("word2vec", "associate", corpusW2v, w2v.embed(associateQ)))

    // ---- recall@k / MRR@k per arm ----
    // the four (embedder × transform) arms are independent filters over
    // the memoized corpus embeddings — materialize concurrently
    // (Ann.materializeConcurrently; values unchanged)
    Ann.materializeConcurrently(arms.map { case (emb, tr, corpusEmb, queryEmb) => () =>
      graft.plans.TopK.perKey(corpusEmb.join(broadcast(queryEmb
          .select(col("doc_id").as("query_id"), col("embedding").as("qvec"))))
          .withColumn("cs", cosineSim(col("embedding"), col("qvec"))),
          Seq(col("query_id")), Seq(col("cs").desc, col("doc_id").asc), k)
        .groupBy("query_id")
        .agg(max(when(col("doc_id") === col("query_id"), 1.0).otherwise(0.0)).as("hit"),
          coalesce(max(when(col("doc_id") === col("query_id"),
            lit(1.0) / col("rank"))), lit(0.0)).as("rr"))
        .agg(count(lit(1)).as("n_queries"),
          bround(avg("hit"), 4).as("recall_at_k"),
          bround(avg("rr"), 4).as("mrr_at_k"))
        .select(lit(emb).as("embedder"), lit(tr).as("transform"),
          col("n_queries"), col("recall_at_k"), col("mrr_at_k"))
    }).reduce(_ unionByName _).orderBy("embedder", "transform")
      // eager 4-row materialization (the tuning-operator discipline);
      // the memoized corpus embeddings stay for the next consumer
      .localCheckpoint()
  }
}
