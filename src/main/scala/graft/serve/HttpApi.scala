package graft.serve

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.search.HybridSearch
import graft.sources.PdfText

/** §2.14 — the LIVE serving surface: the reference's Flask routes
  * (`/root/reference/chatbot/app.py:378-719`) stood up on the JDK's
  * built-in `com.sun.net.httpserver.HttpServer` — zero dependencies
  * beyond the Spark classpath (jackson ships with Spark). The route
  * logic itself lives in [[Serve]]; this layer is transport only:
  * JSON envelopes, status codes, and chunked `text/event-stream` for
  * the summarize stream.
  *
  * Routes (method-checked, 405 on mismatch, 404 otherwise):
  *  - `GET  /health`                 → app.py:384-405
  *  - `POST /query`                  → app.py:408-464
  *  - `POST /search`                 → app.py:467-522 (same engine call
  *                                     — the reference's quirk Q6)
  *  - `GET  /collection/info`        → app.py:525-543
  *  - `POST /case/fetch`             → app.py:546-613 (PDF via the
  *                                     injected byte fetcher + PdfText)
  *  - `POST /case/summarize-stream`  → app.py:616-719 (SSE)
  */
object HttpApi {

  /** Everything a request needs, prepared once at startup: the index
    * frame and BM25 stats (per-request work is then only the top-k
    * scan — the q54 "prebuilt" latency regime), plus the two
    * out-of-engine boundaries (summarizer, byte fetcher) as injectable
    * slots with honest defaults. */
  final case class Engine(
      spark: SparkSession,
      index: DataFrame,
      docStats: DataFrame,
      corpusSize: Long,
      avgDocLen: Double,
      indexPath: String,
      summarizer: Serve.Summarizer = new Serve.UnavailableSummarizer,
      fetchBytes: String => Array[Byte] = HttpApi.liveFetchBytes,
      defaultK: Int = 3,
      // optional prebuilt ANN indexes over the chunk index's dense_vec:
      // when present, requests may opt into an ANN-served dense branch
      // with "ann": true | "ivf" ("n_probe" tunes the recall/cost
      // dial) or "ann": "hnsw" ("ef"/"hops" are the graph-walk dials)
      ivf: Option[graft.ops.Similarity.IvfIndex] = None,
      hnsw: Option[graft.search.HybridSearch.HnswServing] = None,
      // optional prebuilt inverted index (IndexWriter.postings): when
      // present every sparse branch is a term-keyed postings lookup
      // instead of a corpus token scan (identical scores)
      postings: Option[org.apache.spark.sql.DataFrame] = None,
      // optional MaxScore bound stats (IndexWriter.termBounds): with
      // postings present, candidate generation prunes to essential
      // terms (identical scores — the Turtle & Flood serving posture)
      termBounds: Option[org.apache.spark.sql.DataFrame] = None,
      // optional block-max bound stats (IndexWriter.blockBounds):
      // with postings present, candidate generation skips whole
      // hash blocks (identical scores)
      blockBounds: Option[org.apache.spark.sql.DataFrame] = None,
      // optional positional inverted index
      // (IndexWriter.positionalPostings): when present, /search serves
      // a "phrase": "..." request mode — consecutive-token matching by
      // position intersection, never a text rescan
      posPostings: Option[org.apache.spark.sql.DataFrame] = None,
      // alternative to posPostings: the root of a streamed postings
      // store (IndexWriter.streamPostings with positional = true) —
      // each phrase request then reads ONLY its terms' buckets
      // (IndexWriter.readPositionsForTerms, the q375 pruned-read
      // discipline)
      posStore: Option[String] = None)

  /** Default `/case/fetch` byte fetcher: a real GET (the reference
    * downloads arbitrary slip-opinion URLs, `app.py:580-583`). With no
    * egress this raises, which the route surfaces as the reference's
    * `Failed to fetch PDF` 500 — inject a stub to test offline. */
  def liveFetchBytes: String => Array[Byte] = { url =>
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(30))
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL).build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(60)).GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(s"HTTP ${resp.statusCode()} for $url")
    resp.body()
  }

  final class Server private[HttpApi] (http: HttpServer) {
    /** The actually-bound port (useful with port=0 ephemeral binds). */
    def port: Int = http.getAddress.getPort
    def stop(): Unit = http.stop(0)
  }

  private val mapper = new ObjectMapper()

  /** Bind and start. `port = 0` picks an ephemeral free port. */
  def start(engine: Engine, port: Int = 0): Server = {
    val http = HttpServer.create(new InetSocketAddress(port), 0)
    http.createContext("/health", handler("GET") { (_, _) =>
      val h = Serve.healthCached(engine.corpusSize, {
        // one existence RPC against whatever filesystem backs the
        // index path — O(1), unlike the footer read this replaced
        val p = new org.apache.hadoop.fs.Path(engine.indexPath)
        p.getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
          .exists(p)
      }, engine.summarizer)
      (200, obj(
        "status" -> h.status,
        "collection_exists" -> h.collectionExists,
        "points_count" -> h.pointsCount,
        "summarizer_available" -> h.summarizerAvailable))
    })
    http.createContext("/query", handler("POST") { (body, _) =>
      searchEndpoint(engine, body, queryField = "question")
    })
    http.createContext("/search", handler("POST") { (body, _) =>
      searchEndpoint(engine, body, queryField = "query")
    })
    http.createContext("/search/batch", handler("POST") { (body, _) =>
      batchEndpoint(engine, body)
    })
    http.createContext("/collection/info", handler("GET") { (_, _) =>
      val info = Serve.collectionInfo(engine.index)
      (200, obj(
        "points_count" -> info.pointsCount,
        "vectors_count" -> info.vectorsCount,
        "status" -> info.status))
    })
    http.createContext("/case/fetch", handler("POST") { (body, _) =>
      field(body, "download_url") match {
        case None => (400, err("Missing 'download_url' field in request body"))
        case Some(url) =>
          try {
            val fullText = PdfText.pages(engine.fetchBytes(url)).mkString("\n") + "\n"
            (200, obj(
              "case_name" -> field(body, "case_name").getOrElse("Unknown Case"),
              "full_text" -> fullText,
              "chunk_text" -> field(body, "chunk_text").getOrElse(""),
              "success" -> true,
              "text_length" -> fullText.length))
          } catch {
            case NonFatal(e) => (500, obj(
              "error" -> s"Failed to fetch PDF: ${Option(e.getMessage).getOrElse(e.toString)}",
              "success" -> false))
          }
      }
    })
    http.createContext("/case/summarize-stream", sseHandler(engine))
    http.createContext("/", handler("GET") { (_, _) => (404, err("not found")) })
    // daemon threads: the server must never pin the JVM open
    http.setExecutor(Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })
    http.start()
    new Server(http)
  }

  // ---- /query + /search (identical engine call — reference quirk Q6) --

  /** The per-hit JSON objects of a [[Serve.QueryResponse]]. */
  private def resultsJson(resp: Serve.QueryResponse): Seq[String] =
    resp.results.map(r => obj(
      "id" -> r.id, "score" -> r.score, "case_name" -> r.caseName,
      "court" -> r.court, "date_filed" -> r.dateFiled,
      "judges" -> r.judges, "snippet" -> r.snippet))

  /** The response envelope every single-search mode shares. */
  private def searchJson(resp: Serve.QueryResponse,
      searchType: String): (Int, String) =
    (200, s"""{"query":${str(resp.question)},"results":[${resultsJson(resp).mkString(",")}],""" +
      s""""search_type":"$searchType","processing_time":${resp.processingTimeSec},""" +
      s""""documents_found":${resp.results.size}}""")

  /** A positional mode refused by an engine built without one. */
  private def noPositionalIndex(mode: String): (Int, String) =
    (400, err("this engine was built without a positional " +
      s"index; start it with posPostings or posStore to serve \"$mode\""))

  private def searchEndpoint(engine: Engine, body: Option[JsonNode],
      queryField: String): (Int, String) = {
    // "phrase" mode on /search: positional-index phrase matching — a
    // lexical contract ("these tokens, consecutively"), not a ranked
    // hybrid query, so it short-circuits the hybrid option surface
    field(body, "phrase") match {
      case Some(p) if queryField == "query" =>
        val k = intField(body, "limit").getOrElse(engine.defaultK)
        return (
          if (engine.posPostings.isEmpty && engine.posStore.isEmpty)
            noPositionalIndex("phrase")
          else searchJson(Serve.queryPhrase(engine.index, engine.docStats,
            p, k, engine.posPostings, engine.posStore), "phrase"))
      case _ => ()
    }
    // "near" mode: ordered proximity over the positional index —
    // terms in order within "max_span" tokens (default: just-fits)
    stringArrayField(body, "near") match {
      case Some(terms) if queryField == "query" =>
        val k = intField(body, "limit").getOrElse(engine.defaultK)
        val span = intField(body, "max_span")
          .getOrElse(math.max(terms.length - 1, 0))
        return (
          if (engine.posPostings.isEmpty && engine.posStore.isEmpty)
            noPositionalIndex("near")
          else if (terms.isEmpty)
            (400, err("'near' must be a non-empty array of terms"))
          else if (span < terms.length - 1)
            (400, err(s"max_span $span cannot fit ${terms.length} " +
              "ordered terms"))
          else searchJson(Serve.queryProximity(engine.index,
            engine.docStats, terms, span, k, engine.posPostings,
            engine.posStore), "proximity"))
      case _ => ()
    }
    field(body, queryField) match {
      case None => (400, err(s"Missing '$queryField' field in request body"))
      case Some(q) =>
        val k = intField(body, if (queryField == "question") "max_results" else "limit")
          .getOrElse(engine.defaultK)
        val threshold = doubleField(body, "score_threshold").getOrElse(0.0)
        val ceiling = 2.0 / (HybridSearch.Config().rrfK + 1)
        if (threshold > ceiling)
          // deliberate deviation from the reference (which forwards the
          // store-native default 0.4): against RRF scores that value
          // silently empties every result set, so reject it loudly
          (400, err(s"score_threshold $threshold exceeds the maximum RRF " +
            f"score $ceiling%.6f; RRF thresholds are in (0, 2/(rrfK+1)]"))
        else {
          // "diversify": true runs q164's MMR pass over the hybrid
          // candidates ("mmr_lambda" tunes the relevance/diversity mix)
          val diversify = boolField(body, "diversify").getOrElse(false)
          val lambda = doubleField(body, "mmr_lambda").getOrElse(0.7)
          // "ann": true | "ivf" serves the dense branch from the
          // engine's prebuilt IVF index (q203's path; "n_probe" is the
          // dial); "ann": "hnsw" walks the prebuilt HNSW graph (q215's
          // path; "ef"/"hops" are the dials)
          val annMode: Either[String, Option[String]] =
            body.flatMap(b => Option(b.get("ann"))).filter(!_.isNull) match {
              case None => Right(None)
              case Some(n) if n.isBoolean =>
                Right(if (n.asBoolean()) Some("ivf") else None)
              case Some(n) if n.isTextual && (n.asText() == "ivf" ||
                  n.asText() == "hnsw") => Right(Some(n.asText()))
              case Some(n) if n.isTextual =>
                Left(s"unknown ann mode '${n.asText()}' " +
                  "(use true, \"ivf\" or \"hnsw\")")
              case Some(_) =>
                Left("'ann' must be a boolean or \"ivf\"/\"hnsw\"")
            }
          val nProbe = intField(body, "n_probe").getOrElse(4)
          val ef = intField(body, "ef").getOrElse(16)
          val hops = intField(body, "hops").getOrElse(3)
          // "rerank": "maxsim" reranks the hybrid prefetch by ColBERT-
          // style late interaction (q364's path); "rerank": "int8"
          // serves the IVF dense branch from quantized codes (q370's
          // path — requires "ann": "ivf"; "rerank_n" is the q374 dial)
          val rerankMode: Either[String, Option[String]] =
            body.flatMap(b => Option(b.get("rerank"))).filter(!_.isNull) match {
              case None => Right(None)
              case Some(n) if n.isTextual && (n.asText() == "maxsim" ||
                  n.asText() == "int8") => Right(Some(n.asText()))
              case Some(n) if n.isTextual =>
                Left(s"unknown rerank mode '${n.asText()}' " +
                  "(use \"maxsim\" or \"int8\")")
              case Some(_) => Left("'rerank' must be \"maxsim\" or \"int8\"")
            }
          val rerankN = intField(body, "rerank_n").getOrElse(50)
          if (lambda < 0.0 || lambda > 1.0)
            (400, err(s"mmr_lambda $lambda out of range [0, 1]"))
          else (annMode, rerankMode) match {
            case (Left(msg), _) => (400, err(msg))
            case (_, Left(msg)) => (400, err(msg))
            case (Right(ann), Right(rerank)) =>
              if (ann.nonEmpty && diversify)
                (400, err("ann and diversify cannot combine on one request"))
              else if (rerank.contains("maxsim") && (ann.nonEmpty || diversify))
                (400, err("\"rerank\": \"maxsim\" reranks the plain hybrid " +
                  "prefetch; it cannot combine with ann or diversify"))
              else if (rerank.contains("int8") && !ann.contains("ivf"))
                (400, err("\"rerank\": \"int8\" is the quantized IVF serve; " +
                  "it requires \"ann\": \"ivf\""))
              else if (rerank.contains("int8") && rerankN < 1)
                (400, err(s"rerank_n $rerankN must be >= 1"))
              else if (ann.contains("ivf") && engine.ivf.isEmpty)
                (400, err("this engine was built without an IVF index; " +
                  "start it with an IvfIndex to serve \"ann\": \"ivf\""))
              else if (ann.contains("hnsw") && engine.hnsw.isEmpty)
                (400, err("this engine was built without an HNSW index; " +
                  "start it with an HnswServing to serve \"ann\": \"hnsw\""))
              else if (ann.contains("ivf") && nProbe < 1)
                (400, err(s"n_probe $nProbe must be >= 1"))
              else if (ann.contains("hnsw") && (ef < 1 || hops < 1))
                (400, err(s"ef $ef and hops $hops must be >= 1"))
              else {
                val dense = (ann, rerank) match {
                  case (Some("ivf"), Some("int8")) =>
                    HybridSearch.Dense.Int8(engine.ivf.get, nProbe, rerankN)
                  case (Some("ivf"), _) => HybridSearch.Dense.Ivf(engine.ivf.get, nProbe)
                  case (Some("hnsw"), _) => HybridSearch.Dense.Hnsw(engine.hnsw.get, ef, hops)
                  case _ => HybridSearch.Dense.Exact
                }
                val (resp, searchType) =
                  if (rerank.contains("maxsim"))
                    (Serve.queryReranked(engine.index, engine.docStats,
                      engine.corpusSize, engine.avgDocLen, q, k = k,
                      rrfScoreThreshold = threshold,
                      postings = engine.postings,
                      termBounds = engine.termBounds,
                      blockBounds = engine.blockBounds), "hybrid_rrf_maxsim")
                  else if (diversify)
                    (Serve.queryDiversified(engine.index, engine.docStats,
                      engine.corpusSize, engine.avgDocLen, q, k = k,
                      lambda = lambda, rrfScoreThreshold = threshold,
                      postings = engine.postings,
                      termBounds = engine.termBounds,
                      blockBounds = engine.blockBounds), "hybrid_rrf_mmr")
                  else
                    (Serve.query(engine.index, engine.docStats,
                      engine.corpusSize, engine.avgDocLen, q, k = k,
                      rrfScoreThreshold = threshold,
                      postings = engine.postings,
                      termBounds = engine.termBounds,
                      blockBounds = engine.blockBounds, dense = dense),
                      dense match {
                        case _: HybridSearch.Dense.Int8 => "hybrid_rrf_ivf_int8"
                        case _: HybridSearch.Dense.Ivf => "hybrid_rrf_ivf"
                        case _: HybridSearch.Dense.Hnsw => "hybrid_rrf_hnsw"
                        case HybridSearch.Dense.Exact => "hybrid_rrf"
                      })
                searchJson(resp, searchType)
              }
          }
        }
    }
  }

  // ---- /search/batch (no reference analog — the q154 batched plan
  // exposed at the transport layer: N queries, ONE Spark job set) ------

  /** Requests above this fan-out get a loud 400 instead of an unbounded
    * broadcast query table; callers chunk. 256 queries × 5k prefetch
    * rows is still a small frame, so the cap is generous. */
  private val maxBatch = 256

  private def batchEndpoint(engine: Engine, body: Option[JsonNode]): (Int, String) = {
    def render(resps: Seq[Serve.QueryResponse], searchType: String)
        : (Int, String) = {
      val entries = resps.map { resp =>
        s"""{"query":${str(resp.question)},""" +
          s""""results":[${resultsJson(resp).mkString(",")}],""" +
          s""""documents_found":${resp.results.size}}"""
      }
      val sec = resps.headOption.map(_.processingTimeSec).getOrElse(0.0)
      (200, s"""{"responses":[${entries.mkString(",")}],""" +
        s""""search_type":"$searchType","processing_time":$sec,""" +
        s""""queries_count":${resps.size}}""")
    }
    // "phrases" mode: N phrase lookups through ONE positional-index
    // plan (the q375 batched shape at the transport layer)
    stringArrayField(body, "phrases") match {
      case Some(ps) =>
        val k = intField(body, "limit").getOrElse(engine.defaultK)
        return (
          if (ps.isEmpty) (400, err("'phrases' must be non-empty"))
          else if (ps.size > maxBatch)
            (400, err(s"'phrases' exceeds the batch cap of $maxBatch; " +
              "chunk the request"))
          else if (engine.posPostings.isEmpty && engine.posStore.isEmpty)
            noPositionalIndex("phrases")
          else render(Serve.queryPhraseBatch(engine.index, ps, k,
            engine.posPostings, engine.posStore), "phrase"))
      case None => ()
    }
    stringArrayField(body, "queries") match {
      case None => (400, err("Missing 'queries' array in request body"))
      case Some(qs) if qs.isEmpty => (400, err("'queries' must be non-empty"))
      case Some(qs) if qs.size > maxBatch =>
        (400, err(s"'queries' exceeds the batch cap of $maxBatch; chunk the request"))
      case Some(qs) =>
        val k = intField(body, "limit").getOrElse(engine.defaultK)
        val threshold = doubleField(body, "score_threshold").getOrElse(0.0)
        val ceiling = 2.0 / (HybridSearch.Config().rrfK + 1)
        val rerank = body.flatMap(b => Option(b.get("rerank")))
          .filter(!_.isNull).map(_.asText())
        if (threshold > ceiling)
          (400, err(s"score_threshold $threshold exceeds the maximum RRF " +
            f"score $ceiling%.6f; RRF thresholds are in (0, 2/(rrfK+1)]"))
        else if (rerank.exists(_ != "maxsim"))
          (400, err(s"unknown batch rerank mode '${rerank.get}' " +
            "(the batch endpoint serves \"maxsim\")"))
        else if (rerank.contains("maxsim"))
          // the whole batch's prefetch AND its MaxSim rescoring each
          // run as ONE plan (searchAll + maxsimRerankAll)
          render(Serve.queryBatchReranked(engine.index, engine.docStats,
            engine.corpusSize, engine.avgDocLen, qs, k = k,
            rrfScoreThreshold = threshold, postings = engine.postings,
            termBounds = engine.termBounds,
            blockBounds = engine.blockBounds), "hybrid_rrf_maxsim")
        else
          render(Serve.queryBatch(engine.index, engine.docStats,
            engine.corpusSize, engine.avgDocLen, qs, k = k,
            rrfScoreThreshold = threshold, postings = engine.postings,
            termBounds = engine.termBounds,
            blockBounds = engine.blockBounds), "hybrid_rrf")
    }
  }

  // ---- SSE (app.py:616-719) -------------------------------------------

  private def sseHandler(engine: Engine): HttpHandler = new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        if (ex.getRequestMethod != "POST") { respond(ex, 405, err("method not allowed")) }
        else {
          val body = parseBody(ex)
          field(body, "full_text") match {
            case None =>
              respond(ex, 400, err("Missing 'full_text' field in request body"))
            case Some(_) if engine.summarizer.isInstanceOf[Serve.UnavailableSummarizer] =>
              // reference returns 503 when no LLM is configured (app.py:716)
              respond(ex, 503, err("Summarizer not available. Configure an LLM client."))
            case Some(fullText) =>
              val caseName = field(body, "case_name").getOrElse("Unknown Case")
              val question = field(body, "user_question").getOrElse("")
              val chunk = field(body, "chunk_text").getOrElse("").take(500)
              // reference truncates to ~3000 tokens (app.py:625-627)
              val truncated =
                if (fullText.length > 12000)
                  fullText.take(12000) + "\n\n[Document truncated due to length...]"
                else fullText
              val context =
                s"Case Name: $caseName\n\nUser's Question: $question\n\n" +
                  s"Relevant Passage from Search:\n$chunk\n\nFull Case Text:\n$truncated"
              val headers = ex.getResponseHeaders
              headers.set("Content-Type", Serve.Sse.contentType)
              Serve.Sse.headers.foreach { case (k, v) => headers.set(k, v) }
              ex.sendResponseHeaders(200, 0) // chunked
              val out: OutputStream = ex.getResponseBody
              Serve.Sse.stream(engine.summarizer.summarizeStream(context, 500))
                .foreach { frame => out.write(frame.getBytes(UTF_8)); out.flush() }
              out.close()
          }
        }
      } catch {
        case NonFatal(e) =>
          try respond(ex, 500, err(Option(e.getMessage).getOrElse(e.toString)))
          catch { case NonFatal(_) => () } // headers already sent mid-stream
      } finally ex.close()
  }

  // ---- plumbing -------------------------------------------------------

  private def handler(method: String)(
      f: (Option[JsonNode], HttpExchange) => (Int, String)): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try {
          if (ex.getRequestMethod != method)
            respond(ex, 405, err("method not allowed"))
          else {
            val (code, json) = f(parseBody(ex), ex)
            respond(ex, code, json)
          }
        } catch {
          case NonFatal(e) =>
            try respond(ex, 500, err(Option(e.getMessage).getOrElse(e.toString)))
            catch { case NonFatal(_) => () }
        } finally ex.close()
    }

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val out = ex.getResponseBody
    out.write(bytes)
    out.close()
  }

  private def parseBody(ex: HttpExchange): Option[JsonNode] = {
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.isEmpty) None
    else try Some(mapper.readTree(bytes)) catch { case NonFatal(_) => None }
  }

  private def field(body: Option[JsonNode], name: String): Option[String] =
    body.flatMap(b => Option(b.get(name))).filter(!_.isNull).map(_.asText())

  /** A JSON array of strings; None if absent or not an array (numbers
    * etc. inside the array are text-coerced, matching [[field]]). */
  private def stringArrayField(body: Option[JsonNode],
      name: String): Option[Seq[String]] =
    body.flatMap(b => Option(b.get(name))).filter(_.isArray).map { arr =>
      (0 until arr.size()).map(i => arr.get(i).asText())
    }

  private def intField(body: Option[JsonNode], name: String): Option[Int] =
    body.flatMap(b => Option(b.get(name))).filter(_.isNumber).map(_.asInt())

  private def doubleField(body: Option[JsonNode], name: String): Option[Double] =
    body.flatMap(b => Option(b.get(name))).filter(_.isNumber).map(_.asDouble())

  private def boolField(body: Option[JsonNode], name: String): Option[Boolean] =
    body.flatMap(b => Option(b.get(name))).filter(_.isBoolean).map(_.asBoolean())

  private def str(s: String): String = mapper.writeValueAsString(s)

  /** Tiny ordered-JSON-object builder over jackson-escaped scalars. */
  private def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) =>
      val jv = v match {
        case s: String => str(s)
        case b: Boolean => b.toString
        case n: Long => n.toString
        case n: Int => n.toString
        case d: Double => d.toString
        case other => str(String.valueOf(other))
      }
      s"${str(k)}:$jv"
    }.mkString("{", ",", "}")

  private def err(msg: String): String = obj("error" -> msg)
}
