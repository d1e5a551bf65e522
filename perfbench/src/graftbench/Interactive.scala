package graftbench

import graft.serve.{HttpApi, Serve, ServeMain}

/** The chatbot user: single `/search` requests in a fixed mode mix from
  * a closed loop of two clients against a cold-built engine. Per-request
  * fixed cost (planning, job launch, broadcasts) dominates here. */
object Interactive {
  val RankedByRrf = Set("hybrid", "ivf", "hnsw", "int8")
  val Rrf = RankedByRrf ++ Set("maxsim", "mmr")
  val Ceiling: Double = 2.0 / (graft.search.HybridSearch.Config().rrfK + 1)

  def run(ctx: Ctx): Unit = {
    val sf = s"${ctx.dataDir}/interactive"
    val reqs = Json.reqs(Json.read(s"${ctx.dataDir}/requests.json"))
    // one cycle of the request mix; requests repeat it in order
    val mix = Json.strings(ctx.params.get("mix"))
    require(reqs.take(mix.size).map(_.mode) == mix, "requests are not in mix order")
    val storeRoot = s"${ctx.workDir}/store"

    // set-up: the cold engine build, once (it is most of a run's time;
    // in a fresh JVM it is also steady, within a few per cent)
    val t0 = ctx.now()
    val engine = ServeMain.buildEngine(ctx.spark, sf, warm = false,
      storeRoot = storeRoot)
    val setup = ctx.secs(t0)
    ctx.metric("setup_s", setup, "s")
    ctx.note(f"cold build $setup%.2f s, ${engine.corpusSize} points")

    val server = HttpApi.start(engine, 0)
    try {
      val client = new Client(server.port)
      // warm-up, untimed: the first request of each mode, four at a time
      val tw = ctx.now()
      val firsts = reqs.distinctBy(_.mode)
      client.closedLoop(firsts, clients = 4, seconds = 0, unit = firsts.size)
      ctx.note(f"warm-up ${ctx.secs(tw)}%.1f s")

      val (replies, wall) = client.closedLoop(reqs, clients = 2, ctx.seconds,
        unit = mix.size)
      replies.foreach(checkReply(ctx, _))
      checkPositional(ctx, engine, replies)
      val ok = replies.filter(_.status == 200)
      ctx.note(f"${replies.size} requests in $wall%.1f s")
      ctx.metric("op_p50_ms", Stats.median(ok.map(_.ms)), "ms")
      ctx.metric("throughput", ok.size / wall, "1/s")

      // HTTP results equal the in-process call on the same engine, on a
      // seeded sample of the issued requests
      val rnd = new scala.util.Random(ctx.seed)
      val sample = rnd.shuffle(replies.filter(_.status == 200).toList)
        .take(ctx.params.get("equiv_sample").asInt())
      sample.foreach { r =>
        val local = inProcess(engine, r.req)
        val http = Json.elems(r.json.get("results"))
          .map(h => (h.get("id").asText(), h.get("score").asDouble()))
        val mine = local.results.map(h => (h.id, h.score))
        ctx.check(http == mine,
          s"${r.req.mode} ${r.req.body}: HTTP $http != in-process $mine")
      }

      if (ctx.traced) traced(ctx, engine, storeRoot, client,
        reqs.take(mix.size), replies)
    } finally server.stop()
  }

  /** Status, shape and RRF-score checks that need only the reply. */
  def checkReply(ctx: Ctx, r: Reply): Unit = {
    val what = s"${r.req.mode} ${r.req.body}"
    ctx.check(r.status == 200 && r.json != null && r.json.has("results"),
      s"$what: status ${r.status}")
    if (r.status == 200 && r.json != null) {
      val scores = Json.elems(r.json.get("results")).map(_.get("score").asDouble())
      if (Rrf(r.req.mode))
        ctx.check(scores.forall(s => s > 0 && s <= Ceiling),
          s"$what: RRF score outside (0, $Ceiling]: $scores")
      if (RankedByRrf(r.req.mode))
        ctx.check(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b },
          s"$what: RRF scores increase: $scores")
      if (r.req.mode == "phrase" || r.req.mode == "near")
        ctx.check(scores.nonEmpty, s"$what: no hit for a term sequence " +
          "taken from the corpus")
    }
  }

  /** Every phrase / near hit's chunk holds the terms in order: phrase
    * terms consecutively, near terms within `max_span` tokens. */
  def checkPositional(ctx: Ctx, engine: HttpApi.Engine,
      replies: Seq[Reply]): Unit = {
    val pos = replies.filter(r => r.status == 200 && r.json != null &&
      (r.req.mode == "phrase" || r.req.mode == "near"))
    val ids = pos.flatMap(r => Json.elems(r.json.get("results"))
      .map(_.get("id").asText())).distinct
    if (ids.isEmpty) return
    import org.apache.spark.sql.functions.col
    val text = engine.index.filter(col("id").isin(ids: _*))
      .select("id", "chunk_text").collect()
      .map(r => r.getString(0) -> graft.text.Bm25.tokenize(r.getString(1)).toIndexedSeq)
      .toMap
    pos.foreach { r =>
      val (terms, span) =
        if (r.req.mode == "phrase")
          (graft.text.Bm25.tokenize(r.req.body.get("phrase").asText()), 0)
        else (Json.strings(r.req.body.get("near")),
          r.req.body.get("max_span").asInt())
      Json.elems(r.json.get("results")).map(_.get("id").asText()).foreach { id =>
        val toks = text.getOrElse(id, IndexedSeq.empty)
        ctx.check(inOrder(toks, terms, span),
          s"${r.req.mode} $terms: hit $id lacks the terms in order")
      }
    }
  }

  /** Phrase (`span == 0`): `terms` occur consecutively. Near: they occur
    * in order, first to last within `span` token positions. */
  def inOrder(toks: IndexedSeq[String], terms: Seq[String], span: Int): Boolean =
    toks.indices.exists { s =>
      if (span == 0) terms.indices.forall(i => toks.lift(s + i).contains(terms(i)))
      else toks(s) == terms.head && {
        var at = s
        terms.tail.forall { t =>
          val j = toks.indexWhere(_ == t, at + 1)
          at = j
          j > 0 && j - s <= span
        }
      }
    }

  /** The same call the HTTP layer makes for a request, made in-process. */
  def inProcess(e: HttpApi.Engine, r: Req): Serve.QueryResponse = {
    val b = r.body
    val k = b.path("limit").asInt(e.defaultK)
    def q = b.get("query").asText()
    r.mode match {
      case "phrase" => Serve.queryPhrase(e.index, e.docStats,
        b.get("phrase").asText(), k, e.posPostings, e.posStore)
      case "near" => Serve.queryProximity(e.index, e.docStats,
        Json.strings(b.get("near")), b.get("max_span").asInt(), k,
        e.posPostings, e.posStore)
      case "ivf" => Serve.queryAnn(e.index, e.ivf.get, e.docStats,
        e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
        termBounds = e.termBounds, blockBounds = e.blockBounds)
      case "hnsw" => Serve.queryHnsw(e.index, e.hnsw.get, e.docStats,
        e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
        termBounds = e.termBounds, blockBounds = e.blockBounds)
      case "int8" => Serve.queryAnnQuantized(e.index, e.ivf.get, e.docStats,
        e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
        termBounds = e.termBounds, blockBounds = e.blockBounds)
      case "maxsim" => Serve.queryReranked(e.index, e.docStats,
        e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
        termBounds = e.termBounds, blockBounds = e.blockBounds)
      case "mmr" => Serve.queryDiversified(e.index, e.docStats,
        e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
        termBounds = e.termBounds, blockBounds = e.blockBounds)
      case _ => Serve.query(e.index, e.docStats, e.corpusSize, e.avgDocLen,
        q, k = k, postings = e.postings, termBounds = e.termBounds,
        blockBounds = e.blockBounds)
    }
  }

  /** The traced run's extra passes over one cycle of the mix: serial
    * untraced (the no-contention and no-tracing reference), then serial
    * traced, one span per request. */
  def traced(ctx: Ctx, engine: HttpApi.Engine, storeRoot: String,
      client: Client, cycle: IndexedSeq[Req], loop: Seq[Reply]): Unit = {
    val t0 = ctx.now()
    val serial = cycle.map(client.send)
    val untracedS = ctx.secs(t0)

    ctx.startTracing()
    val sp = ctx.spans
    val total0 = ctx.tracer.snapshot(ctx.spark)
    val t1 = ctx.now()
    val tracedReplies = cycle.map(r => sp(s"serve.${r.mode}")(client.send(r)))
    val tracedS = ctx.secs(t1)
    val total = ctx.tracer.snapshot(ctx.spark) - total0
    tracedReplies.foreach(checkReply(ctx, _))
    ctx.metric("trace_overhead_frac", tracedS / untracedS - 1, "ratio")

    cycle.indices.groupBy(i => cycle(i).mode).foreach { case (m, is) =>
      ctx.searchMetrics(m, sp.named(s"serve.$m"),
        is.map(i => Json.elems(tracedReplies(i).json.get("results")).size).sum)
    }
    ctx.httpMs(tracedReplies)
    // contention: two-client latency minus serial latency, same requests
    val loopByIdx = loop.groupBy(_.req).view.mapValues(rs => Stats.median(rs.map(_.ms)))
    val pairs = cycle.zip(serial).flatMap { case (r, s) => loopByIdx.get(r).map(_ - s.ms) }
    if (pairs.nonEmpty) ctx.metric("serve.contention_ms", Stats.median(pairs), "ms")
    ctx.sparkMetrics("spark", total)
    ctx.metric("serve.cache_mb", ctx.cacheMb(), "MB")

    // per-call costs of the query-side text and embedding layers
    val qs = cycle.flatMap(r => Option(r.body.get("query")).map(_.asText()))
    val n = 200
    val tt = ctx.now()
    (0 until n).foreach(i => graft.text.Bm25.tokenize(qs(i % qs.size)))
    ctx.metric("text.tokenize_us", ctx.secs(tt) * 1e6 / n, "us")
    val te = ctx.now()
    (0 until n).foreach(i => graft.embed.HashingEmbedder.default.embed(qs(i % qs.size)))
    ctx.metric("embed.query_us", ctx.secs(te) * 1e6 / n, "us")

    Layers.replay(ctx, s"${ctx.dataDir}/interactive", storeRoot, engine)
  }
}
