package graft.search

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  * The candidate slice is request-scale (a serving prefetch, ≤ 256
  * queries' worth in a batch), so it is collected and scored on the
  * driver: each distinct non-empty token embeds once for the whole
  * batch, and every (doc token, query token) pair takes Spark's own
  * `round(vec_cosine · 10⁶)` long, evaluated in-process
  * ([[graft.functions.DriverEval]]). Cosines micro-fix to ×10⁶
  * integers BEFORE the max/sum, so the aggregation is exact integer
  * arithmetic — no float accumulation order anywhere past the
  * per-pair cosine.
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
    * A null cosine is skipped by the max and the sum, as Spark's
    * aggregates skip it. A repeated id pools its rows' tokens, as a
    * groupBy would; a doc with no non-empty token drops out. Returns a
    * local frame in (maxsim_u6 desc, id) order. */
  def maxsimRerank(candidates: DataFrame, queryTerms: Seq[String],
      embedder: Embedder, k: Int, idCol: String = "id",
      tokensCol: String = "tokens"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = queryTerms.distinct.filter(_.nonEmpty)
    require(terms.nonEmpty, "need at least one non-empty query term")
    val slice = candidates.select(col(idCol), col(tokensCol)).collect()
      .map(r => (0, r.get(0), tokensOf(r, 1)))
    val top = topByMaxSim(candidates.sparkSession, slice, Map(0 -> terms),
      embedder, k).flatMap(_._2).map { case (id, s) => Row(id, s) }
    candidates.sparkSession.createDataFrame(top.asJava, StructType(Seq(
      candidates.schema(idCol), StructField("maxsim_u6", LongType))))
  }

  /** BATCHED [[maxsimRerank]]: `candidates` carries (queryIdCol, idCol,
    * tokensCol) — each query's own prefetch rows; `queries` carries
    * (queryIdCol, termsCol: array<string>). Both are collected once and
    * every query scores with [[maxsimRerank]]'s kernel, the embeddings
    * and pair cosines shared across the batch. A query with no
    * non-empty term has no rows. Per-query rows equal [[maxsimRerank]]
    * on the same slice (LateInteractionSpec asserts it). Returns a
    * local (queryIdCol, idCol, maxsim_u6) frame, queries in ascending
    * id order, each in (maxsim_u6 desc, id) order. */
  def maxsimRerankAll(candidates: DataFrame, queries: DataFrame,
      embedder: Embedder, k: Int, idCol: String = "id",
      tokensCol: String = "tokens", queryIdCol: String = "query_id",
      termsCol: String = "terms"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = queries.select(col(queryIdCol), col(termsCol)).collect()
      .groupBy(_.get(0)).map { case (q, rs) => q -> rs.toSeq.flatMap(tokensOf(_, 1)).distinct }
    val slice = candidates.select(col(queryIdCol), col(idCol), col(tokensCol))
      .collect().map(r => (r.get(0), r.get(1), tokensOf(r, 2)))
    val top = topByMaxSim(candidates.sparkSession, slice, terms, embedder, k)
      .sortWith((a, b) => DriverEval.sqlCompare(a._1, b._1) < 0)
      .flatMap { case (q, hits) => hits.map { case (id, s) => Row(q, id, s) } }
    candidates.sparkSession.createDataFrame(top.asJava, StructType(Seq(
      candidates.schema(queryIdCol), candidates.schema(idCol),
      StructField("maxsim_u6", LongType))))
  }

  /** The non-empty tokens of an array<string> field — an empty token
    * (double-space splits) would embed to the zero vector and make the
    * cosine undefined; it carries no signal. */
  private def tokensOf(r: Row, i: Int): Seq[String] =
    Option(r.getSeq[String](i)).getOrElse(Nil).filter(t => t != null && t.nonEmpty)

  /** The MaxSim kernel over collected (query key, id, doc tokens) rows
    * and each query key's terms: each distinct token embeds once, each
    * (doc token, query term) pair's `round(vec_cosine · 10⁶)` long is
    * evaluated once, and per query each doc's score is the exact sum
    * over terms of the max over its tokens, nulls skipped. Returns each
    * query key with its top `k` (id, maxsim_u6) in (maxsim_u6 desc, id)
    * order. */
  private def topByMaxSim(spark: SparkSession, rows: Seq[(Any, Any, Seq[String])],
      terms: Map[Any, Seq[String]], embedder: Embedder,
      k: Int): Seq[(Any, Seq[(Any, Any)])] = {
    val vec = mutable.HashMap.empty[String, Array[Float]]
    def embed(t: String) = vec.getOrElseUpdate(t, embedder.embedBatch(Seq(t)).head)
    val cosU6 = new DriverEval.VectorExpr(spark, Seq("dvec", "qvec"),
      round(vecCosine(col("dvec"), col("qvec")) * 1000000, 0).cast("long"))
    val pair = mutable.HashMap.empty[(String, String), Any]
    def u6(d: String, q: String) = pair.getOrElseUpdate((d, q), cosU6(embed(d), embed(q)))
    rows.groupBy(_._1).toSeq.map { case (q, rs) =>
      val qt = terms.getOrElse(q, Nil)
      val scored = rs.groupBy(_._2).toSeq
        .map { case (id, ds) => id -> ds.flatMap(_._3).distinct }
        .filter(d => d._2.nonEmpty && qt.nonEmpty)
        .map { case (id, toks) =>
          val best = qt.map(t => toks.map(u6(_, t)).reduce(DriverEval.max))
          id -> best.filter(_ != null).map(_.asInstanceOf[Long])
            .reduceOption(_ + _).map(Long.box).orNull
        }
      q -> scored.sortWith((a, b) => DriverEval.before(a._2, a._1, b._2, b._1)).take(k)
    }
  }
}
