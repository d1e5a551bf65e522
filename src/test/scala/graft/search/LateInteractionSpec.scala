package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.embed.HashingEmbedder
import graft.functions.GraftFunctions.vecCosine

class LateInteractionSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val emb = new HashingEmbedder(64)

  test("maxsimRerank: exact token matches score 10^6 each, the doc " +
      "holding both query terms wins, duplicates and empties are inert") {
    val docs = Seq(
      // both query terms verbatim (one duplicated — max is idempotent)
      ("d1", Seq("court", "appeal", "court", "motion")),
      // one exact match + an empty token (must not poison the cosine)
      ("d2", Seq("court", "grain", "", "shipment")),
      ("d3", Seq("patent", "semiconductor", "lithography")))
      .toDF("id", "tokens")
    val got = LateInteraction.maxsimRerank(docs, Seq("court", "appeal"),
        emb, k = 3)
      .as[(String, Long)].collect()
    assert(got.map(_._1).toSeq == Seq("d1", "d2", "d3"),
      s"order must follow term alignment: ${got.toSeq}")
    val byId = got.toMap
    // an exact token match is cos = 1.0 → 10^6; d1 has two of them and
    // its per-term max cannot exceed 10^6
    assert(byId("d1") == 2000000L, s"two exact matches: ${byId("d1")}")
    // d2: one exact match + appeal's best cosine among d2's tokens,
    // re-derived here with the same accumulation order (random hashed
    // cosines may round to <= 0 — the score must be EXACT, not "bigger")
    def cosU6(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)) * 1000000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    def vec(t: String): Array[Float] = emb.embedBatch(Seq(t)).head
    val appealBest = Seq("court", "grain", "shipment")
      .map(t => cosU6(vec("appeal"), vec(t))).max
    assert(byId("d2") == 1000000L + appealBest,
      s"d2 must be exact-match + best appeal cosine: ${byId("d2")}")
    assert(byId("d3") < byId("d2"))
    // duplicate query terms collapse: same scores, not doubled
    val dup = LateInteraction.maxsimRerank(docs,
        Seq("court", "appeal", "court"), emb, k = 3)
      .as[(String, Long)].collect().toMap
    assert(dup == byId, "a repeated query term must not double-count")
  }

  test("maxsimRerankAll == per-query maxsimRerank loop, one plan") {
    val docs = Seq(
      ("d1", Seq("court", "appeal", "motion")),
      ("d2", Seq("court", "grain", "shipment")),
      ("d3", Seq("patent", "semiconductor", "lithography")),
      ("d4", Seq("grain", "contract", "delivery")))
      .toDF("id", "tokens")
    // query 3 repeats query 0's terms; query 4 has no non-empty term
    val qsets = Seq(0L -> Seq("court", "appeal"),
      1L -> Seq("grain", "delivery"), 2L -> Seq("patent"),
      3L -> Seq("court", "appeal"), 4L -> Seq(""))
    // per-query candidate slices (different subsets per query)
    val cands = Seq(
      (0L, Seq("d1", "d2", "d3")),
      (1L, Seq("d2", "d4")),
      (2L, Seq("d1", "d3", "d4")),
      (3L, Seq("d1", "d2", "d3")),
      (4L, Seq("d1", "d2")))
      .toDF("query_id", "ids")
      .select($"query_id", explode($"ids").as("id"))
      .join(docs, Seq("id"))
    def rows(df: DataFrame) = df.select("query_id", "id", "maxsim_u6")
      .as[(Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // the whole batch, and a batch of its first query alone
    for (qs <- Seq(qsets, qsets.take(1))) {
      val qdf = qs.toDF("query_id", "terms")
      val slices = cands.join(qdf.select("query_id"), "query_id")
      val batched = rows(LateInteraction.maxsimRerankAll(slices, qdf, emb, k = 2))
      val loop = qs.filter(_._2.exists(_.nonEmpty)).flatMap { case (qid, terms) =>
        val slice = cands.filter($"query_id" === qid).select("id", "tokens")
        LateInteraction.maxsimRerank(slice, terms, emb, k = 2)
          .as[(String, Long)].collect().map(r => (qid, r._1, r._2))
      }.sortBy(r => (r._1, r._2))
      assert(batched == loop, s"batched: $batched\nloop: $loop")
      assert(batched == rows(sparkMaxsimAll(slices, qdf, k = 2)),
        s"batched: $batched != the Spark reference")
    }
  }

  /** [[LateInteraction.maxsimRerankAll]] as one Spark plan: candidate
    * tokens explode once, the vocabulary embeds through a UDF, each doc
    * token fans out to its own query's terms and meets the (doc token,
    * query token) cosine table; max per query token, sum per doc,
    * bounded per-query heaps. The reference the driver form must
    * equal. */
  private def sparkMaxsimAll(candidates: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val e = emb
    val embUdf = udf((t: String) => e.embedBatch(Seq(t)).head)
    val qToks = queries
      .select(col("query_id"), explode(col("terms")).as("qtok"))
      .filter(col("qtok") =!= "").distinct()
    val qVocab = qToks.select("qtok").distinct()
      .withColumn("qvec", embUdf(col("qtok")))
    val docToks = candidates.select(col("query_id"), col("id"),
        explode(array_distinct(col("tokens"))).as("dtok"))
      .filter(col("dtok") =!= "")
    val vocab = docToks.select("dtok").distinct()
      .withColumn("dvec", embUdf(col("dtok")))
    val pairCos = vocab.crossJoin(broadcast(qVocab))
      .select(col("dtok"), col("qtok"),
        round(vecCosine(col("dvec"), col("qvec")) * 1000000, 0)
          .cast("long").as("cos_u6"))
    val scored = docToks
      .join(broadcast(qToks), Seq("query_id"))
      .join(pairCos, Seq("dtok", "qtok"))
      .groupBy(col("query_id"), col("id"), col("qtok"))
      .agg(max("cos_u6").as("best_u6"))
      .groupBy(col("query_id"), col("id"))
      .agg(sum("best_u6").as("maxsim_u6"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(("maxsim_u6", false), ("id", true)), k)
  }

  test("maxsimRerank: the vocabulary embeds once per DISTINCT token — " +
      "the plan's embedding input is vocab-sized, not positions-sized") {
    val docs = (1 to 50).map(i => (s"d$i", Seq("alpha", "beta", s"tok$i")))
      .toDF("id", "tokens")
    // 50 docs × 3 tokens = 150 positions but only 52 distinct tokens;
    // count the embed UDF's input by reproducing the vocab frame
    val vocab = docs
      .select(explode(col("tokens")).as("dtok"))
      .distinct().count()
    assert(vocab == 52)
    val got = LateInteraction.maxsimRerank(docs, Seq("alpha"), emb, k = 5)
      .as[(String, Long)].collect()
    assert(got.length == 5 && got.forall(_._2 == 1000000L),
      s"every doc holds the exact term: ${got.toSeq}")
  }
}
