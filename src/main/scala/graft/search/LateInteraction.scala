package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.embed.Embedder
import graft.functions.DriverEval
import graft.functions.GraftFunctions._

/** LATE-INTERACTION reranking — the ColBERT MaxSim family (Khattab &
  * Zaharia, SIGIR 2020): instead of one pooled vector per document, the
  * query and the document each keep PER-TOKEN embeddings, and the score
  * is the sum over query tokens of each one's best match in the doc:
  *
  *   MaxSim(q, d) = Σ_{qt ∈ q} max_{dt ∈ d} cos(qt, dt)
  *
  * Pooled single-vector retrieval loses which token matched what; the
  * max recovers term-level alignment while staying embarrassingly
  * parallel — the standard second-stage RERANKER over a cheap
  * first-stage candidate set (BM25 / ANN prefetch), which is exactly
  * how this module scopes it: token-level embeddings over the WHOLE
  * corpus would be |corpus|·|tokens|·dim floats, so only the k'-sized
  * candidate slice ever embeds.
  *
  * Scale shape of the batched form ([[LateInteraction.maxsimRerankAll]];
  * a single request's slice scores on the driver): candidates explode
  * to their DISTINCT tokens once; the (token → vector) vocabulary
  * embeds once per distinct token (vocab-sized, never positions-sized)
  * and the query's few token vectors broadcast; the (vocab ×
  * query-token) cosine table is vocab-sized;
  * per-doc scoring is two grouped aggregates with map-side combine
  * (max per (doc, query-token), then an exact integer sum). Cosines
  * micro-fix to ×10⁶ integers BEFORE the max/sum, so both engines
  * aggregate exact integers — no float accumulation order anywhere
  * past the per-pair cosine.
  */
object LateInteraction {

  /** Rerank `candidates` (idCol, tokensCol) by MaxSim against
    * `queryTerms`, returning the top `k` as (idCol, maxsim_u6) with
    * maxsim_u6 = Σ_qt max_dt round(cos·10⁶) — exact integers. Duplicate
    * doc tokens collapse (max is idempotent); duplicate query terms
    * collapse (a repeated term adds no information, only weight — the
    * published MaxSim dedupes neither, but deterministic weights beat
    * accidental ones; pass pre-weighted terms if repetition is meant).
    *
    * The candidate slice is request-scale (a serving prefetch), so it
    * is collected and scored on the driver: each distinct non-empty
    * token embeds once, and every (doc token, query token) pair takes
    * [[maxsimRerankAll]]'s `round(vec_cosine · 10⁶)` long, evaluated by
    * Spark's own expression in-process ([[graft.functions.DriverEval]])
    * — a null cosine is skipped by the max and the sum, as the
    * aggregates skip it. A repeated id pools its rows' tokens, as the
    * groupBy did; a doc with no non-empty token drops out. Returns a
    * local frame in (maxsim_u6 desc, id) order. */
  def maxsimRerank(candidates: DataFrame, queryTerms: Seq[String],
      embedder: Embedder, k: Int, idCol: String = "id",
      tokensCol: String = "tokens"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = queryTerms.distinct.filter(_.nonEmpty)
    require(terms.nonEmpty, "need at least one non-empty query term")
    val spark = candidates.sparkSession
    val slice = candidates.select(col(idCol), col(tokensCol)).collect()
    // an empty token (double-space splits) would embed to the zero
    // vector and make the cosine undefined — it carries no signal
    val docToks = slice.groupBy(_.get(0)).map { case (id, rs) =>
      id -> rs.toSeq.flatMap(r => Option(r.getSeq[String](1)).getOrElse(Nil))
        .filter(t => t != null && t.nonEmpty).distinct
    }.filter(_._2.nonEmpty)
    def embed(t: String): Array[Float] = embedder.embedBatch(Seq(t)).head
    val qvecs = terms.map(embed)
    val cosU6 = new DriverEval.VectorExpr(spark, Seq("dvec", "qvec"),
      round(vecCosine(col("dvec"), col("qvec")) * 1000000, 0).cast("long"))
    val pairU6 = docToks.values.flatten.toSeq.distinct
      .map(t => t -> { val dv = embed(t); qvecs.map(cosU6(dv, _)) }).toMap
    val scored = docToks.toSeq.map { case (id, toks) =>
      val best = qvecs.indices.map(qi => toks.map(pairU6(_)(qi)).reduce(DriverEval.max))
      id -> best.filter(_ != null).map(_.asInstanceOf[Long])
        .reduceOption(_ + _).map(Long.box).orNull
    }
    val top = scored.sortWith((a, b) => DriverEval.before(a._2, a._1, b._2, b._1))
      .take(k).map { case (id, s) => Row(id, s) }
    spark.createDataFrame(top.asJava, StructType(Seq(
      candidates.schema(idCol), StructField("maxsim_u6", LongType))))
  }

  /** BATCHED [[maxsimRerank]] — the serving-matrix rule applied to the
    * rerank tier: a whole query TABLE rescores its per-query candidate
    * sets in ONE plan. `candidates` carries (queryIdCol, idCol,
    * tokensCol) — each query's own prefetch rows; `queries` carries
    * (queryIdCol, termsCol: array<string>). The shared vocabulary of
    * ALL candidate slices embeds once per distinct token, every
    * (doc-token, query-token) cosine computes once (query tokens
    * broadcast — bounded by total query vocabulary), and the max/sum
    * aggregates key by (query_id, id) with map-side combine; per-query
    * top-k cuts through bounded heaps ([[graft.plans.TopK]]), so
    * nothing global sorts. Per-query rows equal [[maxsimRerank]] on
    * the same slice (LateInteractionSpec asserts it). Returns
    * (queryIdCol, idCol, maxsim_u6), ordered per query. */
  def maxsimRerankAll(candidates: DataFrame, queries: DataFrame,
      embedder: Embedder, k: Int, idCol: String = "id",
      tokensCol: String = "tokens", queryIdCol: String = "query_id",
      termsCol: String = "terms"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val emb = embedder
    val embUdf = udf((t: String) => emb.embedBatch(Seq(t)).head)
    val qToks = queries
      .select(col(queryIdCol), explode(col(termsCol)).as("qtok"))
      .filter(col("qtok") =!= "").distinct()
    val qVocab = qToks.select("qtok").distinct()
      .withColumn("qvec", embUdf(col("qtok")))
    val docToks = candidates.select(col(queryIdCol), col(idCol),
        explode(array_distinct(col(tokensCol))).as("dtok"))
      .filter(col("dtok") =!= "")
    val vocab = docToks.select("dtok").distinct()
      .withColumn("dvec", embUdf(col("dtok")))
    val pairCos = vocab.crossJoin(broadcast(qVocab))
      .select(col("dtok"), col("qtok"),
        round(vecCosine(col("dvec"), col("qvec")) * 1000000, 0)
          .cast("long").as("cos_u6"))
    // fan each doc token out to its query's OWN terms FIRST (broadcast
    // — per-query-vocabulary-sized), and only then attach the cosine:
    // joining pairCos before the restriction would form one row per
    // (candidate doc token × EVERY query token in the batch), which at
    // hundreds of concurrent queries multiplies the intermediate by
    // the batch's total vocabulary instead of each query's own
    val scored = docToks
      .join(broadcast(qToks), Seq(queryIdCol))
      .join(pairCos, Seq("dtok", "qtok"))
      .groupBy(col(queryIdCol), col(idCol), col("qtok"))
      .agg(max("cos_u6").as("best_u6"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum("best_u6").as("maxsim_u6"))
    graft.plans.TopK.perKey(scored, Seq(queryIdCol),
      Seq(("maxsim_u6", false), (idCol, true)), k)
  }
}
