package graft.serve

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.HybridSearch

/** §2.14 — the serving layer: request/response envelopes mirroring the
  * reference's Flask API (`/root/reference/chatbot/app.py`), with the
  * engine doing all retrieval work and the LLM calls stubbed behind a
  * trait (L1-L3 are out-of-engine by design; the reference itself
  * degrades gracefully without an API key, `app.py:70-80`).
  *
  * This is intentionally thin: envelopes are case classes, the "routes"
  * are functions. Any HTTP framework can wrap them; none ships here.
  */
object Serve {

  // ---- envelopes (mirroring app.py:452-458, 510-516, 384-405) ---------

  final case class SearchResult(
      id: String, score: Double, caseName: String, court: String,
      dateFiled: String, judges: String, snippet: String)

  final case class QueryResponse(
      question: String, results: Seq[SearchResult], processingTimeSec: Double)

  final case class HealthResponse(
      status: String, collectionExists: Boolean, pointsCount: Long,
      summarizerAvailable: Boolean)

  final case class CollectionInfo(pointsCount: Long, vectorsCount: Long, status: String)

  /** L1/L2 boundary — graceful degradation default (L3). */
  trait Summarizer extends Serializable {
    def summarize(context: String, maxWords: Int): String
    /** Streaming form: token/chunk iterator. Default chunks the batch
      * summary word-by-word; a real LLM impl yields provider deltas. */
    def summarizeStream(context: String, maxWords: Int): Iterator[String] =
      summarize(context, maxWords).split("(?<= )").iterator
  }
  final class UnavailableSummarizer extends Summarizer {
    def summarize(context: String, maxWords: Int): String =
      "Summary unavailable: no LLM configured. Showing retrieved sources only."
  }

  /** ST4 — the server-sent-events envelope for the streaming summarize
    * endpoint (reference `app.py:679-713`): each content chunk framed as
    * `data: <chunk>\n\n`, a terminal `data: [DONE]\n\n`, and mid-stream
    * failures surfaced as `data: [ERROR] <msg>\n\n` — plus the response
    * headers the reference sets. Transport-agnostic: any HTTP layer can
    * drain the iterator into a chunked `text/event-stream` response. */
  object Sse {
    val contentType: String = "text/event-stream"
    val headers: Map[String, String] =
      Map("Cache-Control" -> "no-cache", "X-Accel-Buffering" -> "no")

    def frame(chunk: String): String = s"data: $chunk\n\n"
    val done: String = "data: [DONE]\n\n"
    def error(msg: String): String = s"data: [ERROR] $msg\n\n"

    /** Wrap a (lazy, possibly failing) token iterator in the envelope:
      * frames, then [DONE]; an exception ends the stream with [ERROR]
      * instead of propagating (the reference's generator does the same). */
    def stream(tokens: Iterator[String]): Iterator[String] = new Iterator[String] {
      private var finished = false
      def hasNext: Boolean = !finished
      def next(): String = {
        if (finished) throw new NoSuchElementException("SSE stream drained")
        try {
          if (tokens.hasNext) frame(tokens.next())
          else { finished = true; done }
        } catch {
          case scala.util.control.NonFatal(e) =>
            finished = true
            error(Option(e.getMessage).getOrElse(e.toString))
        }
      }
    }
  }

  /** P9 — project raw hit rows to the 8-field API shape with defaults
    * for missing payload keys (reference `app.py:345-358`). */
  def sourcesProjection(hits: DataFrame, scoreCol: String = "rrf_score"): DataFrame =
    hits.select(
      col("id"),
      round(col(scoreCol), 6).as("score"),
      coalesce(col("case_name"), lit("Unknown Case")).as("caseName"),
      upper(coalesce(col("court"), lit(""))).as("court"),           // F14
      coalesce(col("date_filed"), lit("")).as("dateFiled"),
      coalesce(col("judges"), lit("")).as("judges"),
      when(length(col("chunk_text")) > 200,
        concat(substring(col("chunk_text"), 1, 200), lit("...")))   // T6
        .otherwise(col("chunk_text")).as("snippet"))

  /** F15 — render top-k hits into the numbered context block fed to the
    * summarizer (reference `app.py:193-229`: "Document i" sections with
    * 500-char previews). */
  def formatContext(hits: DataFrame, scoreCol: String = "rrf_score"): String = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(desc(scoreCol), col("id"))
    val blocks = hits
      .withColumn("rank", row_number().over(w))                      // W1
      .withColumn("preview",
        when(length(col("chunk_text")) > 500,
          concat(substring(col("chunk_text"), 1, 500), lit("...")))
          .otherwise(col("chunk_text")))
      .select(format_string("Document %d (score %.4f):%n%s",
        col("rank"), round(col(scoreCol), 6), col("preview")).as("block"),
        col("rank"))
      .orderBy("rank")
      .select("block")
    blocks.collect().map(_.getString(0)).mkString("\n\n")
  }

  /** POST /query | /search — the reference's two identical endpoints
    * (quirk Q6) collapse to one function. Payload columns present on the
    * index (`case_name`, `court`, `date_filed`, `judges` — e.g. from the
    * IngestMain pipeline) hydrate the response; absent ones take the
    * reference's defaults (`app.py:345-358`). `dense` picks the dense
    * prefetch's tier ([[HybridSearch.Dense]]: exact scan, IVF, int8 or
    * HNSW); the response shape is the same for all of them. */
  def query(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, question: String, k: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None,
      dense: HybridSearch.Dense = HybridSearch.Dense.Exact): QueryResponse = {
    val t0 = System.nanoTime()
    val hits = HybridSearch.search(index, docStats, corpusSize, avgDocLen,
      question, HybridSearch.Config(k = k,
        rrfScoreThreshold = rrfScoreThreshold, postings = postings, termBounds = termBounds,
        blockBounds = blockBounds), dense = dense)
    collectResponse(hits, question, t0)                                 // F13
  }

  private val payloadCols = Seq("case_name", "court", "date_filed", "judges")

  /** Payload hydration shared by every response path: collects the
    * hits' `lead` columns, id, RRF score, text, `extra` columns and
    * whichever payload columns the index carries, plus the column set
    * [[toResult]] defaults against — ONE projection, so the response
    * shape cannot drift between search modes. */
  private def hydrate(hits: DataFrame, lead: Seq[String] = Nil,
      extra: Seq[String] = Nil): (Array[Row], Set[String]) = {
    val present = hits.columns.toSet
    val cols = lead ++ Seq("id", "rrf_score", "chunk_text") ++ extra ++
      payloadCols.filter(present)
    (hits.select(cols.map(col): _*).collect(), present)
  }

  /** Shared top-k → [[QueryResponse]] epilogue (payload hydration,
    * result mapping, F13 timing). */
  private def collectResponse(hits: DataFrame, question: String,
      t0: Long): QueryResponse = {
    val (rows, present) = hydrate(hits)
    QueryResponse(question, rows.toSeq.map(toResult(_, present)),
      (System.nanoTime() - t0) / 1e9)
  }

  /** [[query]] over [[HybridSearch.Dense.Ivf]] — the per-request path
    * that scans nProbe cells instead of the corpus. */
  def queryAnn(index: DataFrame, ivf: graft.ops.Similarity.IvfIndex,
      docStats: DataFrame, corpusSize: Long, avgDocLen: Double,
      question: String, k: Int = 3, nProbe: Int = 4,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None): QueryResponse =
    query(index, docStats, corpusSize, avgDocLen, question, k,
      rrfScoreThreshold, postings, termBounds, blockBounds,
      HybridSearch.Dense.Ivf(ivf, nProbe))

  /** [[query]] over [[HybridSearch.Dense.Hnsw]] — the graph member of
    * the ANN serving tier next to [[queryAnn]]'s IVF. */
  def queryHnsw(index: DataFrame, hs: HybridSearch.HnswServing,
      docStats: DataFrame, corpusSize: Long, avgDocLen: Double,
      question: String, k: Int = 3, ef: Int = 16, hops: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None): QueryResponse =
    query(index, docStats, corpusSize, avgDocLen, question, k,
      rrfScoreThreshold, postings, termBounds, blockBounds,
      HybridSearch.Dense.Hnsw(hs, ef, hops))

  /** [[query]] over [[HybridSearch.Dense.Int8]] — the compression tier
    * of the serving matrix. `rerankN` is the q374 recall/bandwidth
    * dial: how many integer-dot survivors get their exact float cosine
    * back before fusion. */
  def queryAnnQuantized(index: DataFrame, ivf: graft.ops.Similarity.IvfIndex,
      docStats: DataFrame, corpusSize: Long, avgDocLen: Double,
      question: String, k: Int = 3, nProbe: Int = 4, rerankN: Int = 50,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None): QueryResponse =
    query(index, docStats, corpusSize, avgDocLen, question, k,
      rrfScoreThreshold, postings, termBounds, blockBounds,
      HybridSearch.Dense.Int8(ivf, nProbe, rerankN))

  /** [[query]] with a ColBERT-style MaxSim RERANK epilogue
    * ([[graft.search.LateInteraction.maxsimRerank]]): the hybrid
    * search prefetches `candMultiplier · k` candidates (the cheap
    * first stage), then ONLY that slice rescores by per-token
    * late interaction and the top k by MaxSim are returned. Like the
    * MMR path, result rows keep their ORIGINAL RRF score — only the
    * order and membership change (the rerank is an ordering contract,
    * not a new score scale for the API). The candidate slice is
    * request-scale, so the token-level embedding work never touches
    * the corpus. */
  def queryReranked(index: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, question: String, k: Int = 3,
      candMultiplier: Int = 3, rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None,
      embedder: graft.embed.Embedder =
        graft.embed.HashingEmbedder.default): QueryResponse = {
    val t0 = System.nanoTime()
    val hits = HybridSearch.search(index, docStats, corpusSize, avgDocLen,
      question, HybridSearch.Config(k = k * candMultiplier,
        rrfScoreThreshold = rrfScoreThreshold, postings = postings,
        termBounds = termBounds, blockBounds = blockBounds))
    val terms = rerankTerms(question)
    val order = if (terms.isEmpty) Nil
      else graft.search.LateInteraction.maxsimRerank(hits, terms, embedder, k)
        .select("id").collect().map(_.getString(0)).toSeq
    val (rows, present) = hydrate(hits)
    QueryResponse(question, reranked(rows.toSeq, terms, order, k)
      .map(toResult(_, present)), (System.nanoTime() - t0) / 1e9)
  }

  /** A question's distinct non-empty tokens, the MaxSim query terms. */
  private def rerankTerms(question: String): Seq[String] =
    graft.text.Bm25.tokenize(question).distinct.filter(_.nonEmpty)

  /** The rerank epilogue of [[queryReranked]] and [[queryBatchReranked]]:
    * a question with no `terms` keeps its hybrid top-k; any other takes
    * its candidate `rows` in MaxSim `order`, each keeping its RRF
    * score. */
  private def reranked(rows: Seq[Row], terms: Seq[String],
      order: Seq[String], k: Int): Seq[Row] =
    if (terms.isEmpty) rows.take(k)
    else order.map(rows.map(r => r.getAs[String]("id") -> r).toMap)

  /** PHRASE search served from the positional inverted index
    * ([[HybridSearch.phraseMatches]]) — consecutive-token matching as
    * position intersection, never a text rescan. Documents rank by
    * OCCURRENCE COUNT (ties → id); the API `score` field carries that
    * count. `posPostings` is either an in-memory positional table or,
    * when `store` is supplied, the bucket-pruned per-request read
    * ([[graft.index.IndexWriter.readPositionsForTerms]]) — the q375
    * discipline: the phrase's terms map to their term buckets and the
    * scan touches only those directories. */
  def queryPhrase(index: DataFrame, docStats: DataFrame, phrase: String,
      k: Int = 3, posPostings: Option[DataFrame] = None,
      store: Option[String] = None): QueryResponse = {
    require(posPostings.nonEmpty || store.nonEmpty,
      "queryPhrase needs a positional postings frame or a store path")
    val t0 = System.nanoTime()
    val terms = graft.text.Bm25.tokenize(phrase).filter(_.nonEmpty)
    positionalResponse(index, terms, k, posPostings, store, phrase, t0)(
      HybridSearch.phraseMatches(_, docStats, terms))
  }

  /** ORDERED-PROXIMITY search served from the positional index
    * ([[HybridSearch.proximityMatches]]) — [[queryPhrase]]'s sibling
    * for "these terms, in order, within `maxSpan` tokens". Documents
    * rank by matching-span count (ties → id); same in-memory-frame or
    * bucket-pruned-store read discipline. */
  def queryProximity(index: DataFrame, docStats: DataFrame,
      terms: Seq[String], maxSpan: Int, k: Int = 3,
      posPostings: Option[DataFrame] = None,
      store: Option[String] = None): QueryResponse = {
    require(posPostings.nonEmpty || store.nonEmpty,
      "queryProximity needs a positional postings frame or a store path")
    val t0 = System.nanoTime()
    positionalResponse(index, terms, k, posPostings, store,
      terms.mkString(" "), t0)(
      HybridSearch.proximityMatches(_, docStats, terms, maxSpan))
  }

  /** The positional-index request body shared by [[queryPhrase]] and
    * [[queryProximity]]: read the positional postings (the in-memory
    * frame, or the store's buckets for `terms` only), rank documents by
    * the count of `matches` rows (ties → id), collect the top-k, and
    * hydrate them like [[HybridSearch.search]] does. */
  private def positionalResponse(index: DataFrame, terms: Seq[String],
      k: Int, posPostings: Option[DataFrame], store: Option[String],
      question: String, t0: Long)(
      matches: DataFrame => DataFrame): QueryResponse = {
    val pp = store match {
      case Some(path) => graft.index.IndexWriter
        .readPositionsForTerms(index.sparkSession, path, terms)
      case None => posPostings.get
    }
    val ranked = matches(pp)
      .groupBy("id").agg(count(lit(1)).cast("double").as("rrf_score"))
      .orderBy(desc("rrf_score"), col("id"))
      .limit(k)
    collectResponse(HybridSearch.hydrateTopK(index, ranked.collect(),
      ranked.schema), question, t0)
  }

  /** [[query]] with an MMR diversification pass (no reference analog —
    * q164's operator at the serving layer): the hybrid search fetches
    * `candMultiplier · k` candidates, then the shared greedy loop
    * ([[graft.ops.Similarity.mmrSelect]]) picks k of them maximizing
    * λ·rel − (1−λ)·max-cosine-to-selected over their dense vectors.
    * RRF scores are max-normalized into (0, 1] first so λ blends
    * comparable scales (raw RRF tops out at 2/(rrfK+1) ≈ 0.03 — unscaled
    * it would be drowned by the cosine penalty at any λ). Result rows
    * keep their ORIGINAL RRF score; only the order and membership
    * change. */
  def queryDiversified(index: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, question: String, k: Int = 3,
      lambda: Double = 0.7, candMultiplier: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None): QueryResponse = {
    val t0 = System.nanoTime()
    val hits = HybridSearch.search(index, docStats, corpusSize, avgDocLen,
      question, HybridSearch.Config(k = k * candMultiplier,
        rrfScoreThreshold = rrfScoreThreshold, postings = postings, termBounds = termBounds,
        blockBounds = blockBounds))
    val (rows, present) = hydrate(hits, extra = Seq("dense_vec"))
    if (rows.isEmpty)
      return QueryResponse(question, Seq.empty, (System.nanoTime() - t0) / 1e9)
    val maxRrf = rows.map(_.getAs[Double]("rrf_score")).max
    val cands = rows.toSeq.map { r =>
      (r.getAs[String]("id"), r.getAs[Double]("rrf_score") / maxRrf,
        Option(r.getAs[scala.collection.Seq[Float]]("dense_vec"))
          .map(_.toArray).getOrElse(Array.empty[Float]))
    }
    val byId = rows.map(r => r.getAs[String]("id") -> r).toMap
    val results = graft.ops.Similarity.mmrSelect(cands, k, lambda)
      .map { case (id, _, _, _) => toResult(byId(id), present) }
    QueryResponse(question, results, (System.nanoTime() - t0) / 1e9)
  }

  /** Row → API result with payload defaults (reference `app.py:345-358`);
    * shared by the single and batched query paths so the two endpoints
    * can never drift in hydration semantics. */
  private def toResult(r: Row, present: Set[String]): SearchResult = {
    def opt(c: String, default: String): String =
      if (present(c)) Option(r.getAs[String](c)).getOrElse(default) else default
    val text = Option(r.getAs[String]("chunk_text")).getOrElse("")
    SearchResult(
      id = r.getAs[String]("id"),
      score = r.getAs[Double]("rrf_score"),
      caseName = opt("case_name", "Unknown Case"),
      court = opt("court", "").toUpperCase(java.util.Locale.ROOT),     // F14
      dateFiled = opt("date_filed", ""),
      judges = opt("judges", ""),
      snippet = if (text.length > 200) text.take(200) + "..." else text)
  }

  /** The batched epilogue: hydrate a (query_id, …) hit frame in one
    * collect and answer each question `i` with the rows `pick(i, rows of
    * i)` selects, in encounter order. Every response carries the SHARED
    * wall-clock (the batch ran as one request; attributing slices per
    * question would be fiction). */
  private def batchResponses(hits: DataFrame, questions: Seq[String],
      t0: Long)(pick: (Long, Seq[Row]) => Seq[Row]): Seq[QueryResponse] = {
    val (rows, present) = hydrate(hits, lead = Seq("query_id"))
    // groupBy on the collected rows preserves encounter order per group
    val byQuery = rows.toSeq.groupBy(_.getAs[Long]("query_id"))
    val sec = (System.nanoTime() - t0) / 1e9                           // F13
    questions.zipWithIndex.map { case (q, i) =>
      val mine = byQuery.getOrElse(i.toLong, Seq.empty)
      QueryResponse(q, pick(i.toLong, mine).map(toResult(_, present)), sec)
    }
  }

  /** POST /search/batch — N questions through [[HybridSearch.searchAll]]
    * (the q154-verified shape) instead of N sequential [[query]] calls.
    * The corpus is scanned and scored once for the whole batch (queries
    * broadcast into the prefetch plans), fusion runs per question on
    * the driver, and one read hydrates every question's hits, so the
    * number of Spark jobs does not grow with the batch. Per-question
    * hydration is [[toResult]], identical to the single-query
    * endpoint. */
  def queryBatch(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, questions: Seq[String], k: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None): Seq[QueryResponse] = {
    if (questions.isEmpty) return Nil
    val t0 = System.nanoTime()
    val hits = HybridSearch.searchAll(index, docStats, corpusSize, avgDocLen,
      questionTable(index, questions), HybridSearch.Config(k = k,
        rrfScoreThreshold = rrfScoreThreshold, postings = postings,
        termBounds = termBounds, blockBounds = blockBounds))
    // searchAll orders (query_id, rrf_score desc, id)
    batchResponses(hits, questions, t0)((_, mine) => mine)
  }

  /** (query_id, query): question `i` keyed by `i`. */
  private def questionTable(index: DataFrame, questions: Seq[String]): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    questions.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("query_id", "query")
  }

  /** BATCHED [[queryPhrase]] — N phrases through one positional plan
    * ([[HybridSearch.phraseMatchesAll]], the q375 slot-count shape):
    * the positional store is read once for the union of all phrases'
    * vocabularies (bucket-pruned when `store` is supplied), every
    * occurrence keys by (query_id, id, start), and per-phrase doc
    * rankings cut through bounded heaps; the ranked rows are collected
    * and hydrated by one `id IN (…)` read, as [[queryPhrase]] does.
    * Per-phrase results equal [[queryPhrase]] (HttpApiSpec asserts the
    * round-trip). */
  def queryPhraseBatch(index: DataFrame, phrases: Seq[String], k: Int = 3,
      posPostings: Option[DataFrame] = None,
      store: Option[String] = None): Seq[QueryResponse] = {
    require(posPostings.nonEmpty || store.nonEmpty,
      "queryPhraseBatch needs a positional postings frame or a store path")
    if (phrases.isEmpty) return Nil
    val t0 = System.nanoTime()
    val spark = index.sparkSession
    import spark.implicits._
    val slots = phrases.zipWithIndex.flatMap { case (p, qi) =>
      graft.text.Bm25.tokenize(p).filter(_.nonEmpty).zipWithIndex
        .map { case (t, s) => (qi.toLong, s, t) }
    }
    if (slots.isEmpty)
      return phrases.map(p =>
        QueryResponse(p, Seq.empty, (System.nanoTime() - t0) / 1e9))
    val qSlots = slots.toDF("query_id", "slot", "term")
    val pp = store match {
      case Some(path) => graft.index.IndexWriter.readPositionsForTerms(
        spark, path, slots.map(_._3).distinct)
      case None => posPostings.get
    }
    val ranked = graft.plans.TopK.perKey(
      HybridSearch.phraseMatchesAll(pp, qSlots)
        .groupBy("query_id", "id")
        .agg(count(lit(1)).cast("double").as("rrf_score")),
      Seq("query_id"), Seq(("rrf_score", false), ("id", true)), k)
      .select("id", "query_id", "rrf_score")
    val hits = HybridSearch.hydrateTopK(index, ranked.collect(), ranked.schema)
    batchResponses(hits, phrases, t0)((_, mine) => mine
      .sortBy(r => (-r.getAs[Double]("rrf_score"), r.getAs[String]("id"))))
  }

  /** BATCHED [[queryReranked]] — the whole batch's hybrid prefetch
    * through [[HybridSearch.searchAll]] and the whole batch's MaxSim
    * rescoring through [[graft.search.LateInteraction.maxsimRerankAll]]
    * (one driver pass, embeddings shared across the batch), then
    * [[queryReranked]]'s epilogue per question: result rows keep their
    * ORIGINAL RRF scores, and a question whose text yields no tokens
    * keeps its hybrid top-k. */
  def queryBatchReranked(index: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, questions: Seq[String],
      k: Int = 3, candMultiplier: Int = 3, rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None,
      embedder: graft.embed.Embedder =
        graft.embed.HashingEmbedder.default): Seq[QueryResponse] = {
    if (questions.isEmpty) return Nil
    val t0 = System.nanoTime()
    val spark = index.sparkSession
    import spark.implicits._
    val hits = HybridSearch.searchAll(index, docStats, corpusSize,
      avgDocLen, questionTable(index, questions), HybridSearch.Config(
        k = k * candMultiplier, rrfScoreThreshold = rrfScoreThreshold,
        postings = postings, termBounds = termBounds,
        blockBounds = blockBounds), embedder = embedder)
    val terms = questions.map(rerankTerms)
    val order = graft.search.LateInteraction.maxsimRerankAll(hits,
        terms.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("query_id", "terms"), embedder, k)
      .select("query_id", "id")
      .as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    batchResponses(hits, questions, t0)((i, mine) =>
      reranked(mine, terms(i.toInt), order.getOrElse(i, Nil), k))
  }

  /** O(1) health from a count cached at engine build (round-6 review:
    * re-reading the index parquet footer per probe makes health O(index
    * files) under probe storms; the serving engine already counted the
    * corpus once when it loaded). `indexAlive` is a CHEAP liveness
    * probe — a single filesystem-existence RPC, not a footer read — so
    * the endpoint still degrades when the index vanishes out from under
    * a running server (a hardcoded "healthy" would keep a dead instance
    * in rotation). The path-probing [[health]] below stays for
    * standalone/missing-index diagnosis. */
  def healthCached(points: Long, indexAlive: => Boolean,
      summarizer: Summarizer = new UnavailableSummarizer): HealthResponse = {
    val alive = try indexAlive catch { case _: Exception => false }
    if (alive)
      HealthResponse("healthy", collectionExists = true, points,
        summarizerAvailable = !summarizer.isInstanceOf[UnavailableSummarizer])
    else HealthResponse("degraded", collectionExists = false, 0L,
      summarizerAvailable = false)
  }

  /** GET /health + /collection/info — A6 collection stats. */
  def health(spark: SparkSession, indexPath: String,
      summarizer: Summarizer = new UnavailableSummarizer): HealthResponse =
    try {
      val n = spark.read.parquet(indexPath).count()
      HealthResponse("healthy", collectionExists = true, n,
        summarizerAvailable = !summarizer.isInstanceOf[UnavailableSummarizer])
    } catch {
      case _: Exception =>
        HealthResponse("degraded", collectionExists = false, 0L,
          summarizerAvailable = false)
    }

  def collectionInfo(index: DataFrame): CollectionInfo = {
    val n = index.count()
    CollectionInfo(n, n, "green")
  }
}
