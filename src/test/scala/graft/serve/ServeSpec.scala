package graft.serve

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.functions.GraftFunctions

class ServeSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val index = {
    val docs = Seq(
      ("d1", "habeas corpus petition filed by the detainee habeas corpus review"),
      ("d2", "contract dispute over grain shipment delivery terms and payment"),
      ("d3", "patent infringement claim regarding semiconductor lithography"))
      .toDF("id", "chunk_text")
    docs.withColumn("dense_vec", GraftFunctions.embedText($"chunk_text"))
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
  }
  private lazy val stats = graft.index.IndexWriter.docFrequencies(index)
  private lazy val avgLen = index.select(avg(size($"tokens"))).head().getDouble(0)

  test("POST /query envelope: results ranked, timed, question echoed") {
    val resp = Serve.query(index, stats, 3, avgLen, "habeas corpus", k = 2)
    assert(resp.question == "habeas corpus")
    assert(resp.results.nonEmpty && resp.results.head.id == "d1")
    assert(resp.processingTimeSec > 0)
  }

  test("query hydrates payload columns when the index carries them") {
    val rich = index
      .withColumn("case_name", concat(lit("Case "), $"id"))
      .withColumn("court", lit("scotus"))
      .withColumn("date_filed", lit("2020-01-01"))
      .withColumn("judges", lit("Stone"))
    val resp = Serve.query(rich, stats, 3, avgLen, "habeas corpus", k = 1)
    val r = resp.results.head
    assert(r.caseName == "Case d1")
    assert(r.court == "SCOTUS") // F14 upper-cased
    assert(r.dateFiled == "2020-01-01" && r.judges == "Stone")
  }

  test("maxsim rerank, single and batch alike: a question with tokens " +
      "whose candidates carry no token returns no hits; a tokenless " +
      "question keeps its hybrid top-k") {
    // every candidate's tokens are empty strings: MaxSim scores none
    val blank = index.withColumn("tokens", array(lit("")))
    def single(q: String) = Serve.queryReranked(blank, stats, 3, avgLen, q, k = 2)
      .results.map(r => (r.id, r.score))
    val qs = Seq("habeas corpus", "?!")
    val batch = Serve.queryBatchReranked(blank, stats, 3, avgLen, qs, k = 2)
      .map(_.results.map(r => (r.id, r.score)))
    assert(batch == qs.map(single))
    assert(batch.head.isEmpty, s"no candidate has a token: ${batch.head}")
    assert(batch(1).map(_._1) == Serve.query(blank, stats, 3, avgLen, "?!", k = 2)
      .results.map(_.id))
    assert(batch(1).nonEmpty)
  }

  test("F15 context block: numbered documents in rank order") {
    val hits = index.limit(2)
      .withColumn("rrf_score", when($"id" === "d1", 0.03).otherwise(0.01))
    val ctx = Serve.formatContext(hits)
    assert(ctx.startsWith("Document 1"))
    assert(ctx.contains("Document 2"))
    assert(ctx.indexOf("habeas") < ctx.indexOf("Document 2"), "d1 ranked first")
  }

  test("P9 sources projection applies defaults, uppercases court, truncates snippet") {
    val hits = Seq(("x", 0.5, null: String, "scotus", null: String, null: String, "t" * 300))
      .toDF("id", "rrf_score", "case_name", "court", "date_filed", "judges", "chunk_text")
    val row = Serve.sourcesProjection(hits).head()
    assert(row.getAs[String]("caseName") == "Unknown Case")
    assert(row.getAs[String]("court") == "SCOTUS")
    assert(row.getAs[String]("snippet").length == 203)
  }

  test("health degrades gracefully on a missing index (L3 analog)") {
    val h = Serve.health(spark, "/tmp/definitely_missing_index_path")
    assert(h.status == "degraded" && !h.collectionExists && h.pointsCount == 0)
  }

  test("unavailable summarizer returns the fallback string") {
    val s = new Serve.UnavailableSummarizer
    assert(s.summarize("ctx", 150).contains("unavailable"))
  }

  test("ST4 SSE envelope: frames, terminal [DONE], mid-stream [ERROR]") {
    val ok = Serve.Sse.stream(Iterator("Hello", " world")).toSeq
    assert(ok == Seq("data: Hello\n\n", "data:  world\n\n", "data: [DONE]\n\n"))

    val failing = Iterator("a") ++ new Iterator[String] {
      def hasNext = true
      def next(): String = sys.error("provider timeout")
    }
    val out = Serve.Sse.stream(failing).toSeq
    assert(out.head == "data: a\n\n")
    assert(out.last == "data: [ERROR] provider timeout\n\n")
    assert(!out.contains(Serve.Sse.done), "no [DONE] after an error")

    // default summarizer streaming form re-chunks the batch summary
    val s = new Serve.UnavailableSummarizer
    val streamed = Serve.Sse.stream(s.summarizeStream("ctx", 150)).toSeq
    assert(streamed.last == Serve.Sse.done)
    val text = streamed.dropRight(1).map(_.stripPrefix("data: ").stripSuffix("\n\n")).mkString
    assert(text == s.summarize("ctx", 150))
  }
}
