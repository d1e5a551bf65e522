package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.functions._

import graft.ingest.ChunkPipeline
import graft.serve.{HttpApi, Serve, ServeMain}

/** The ingest operator, writes beside reads: a cold build of long
  * opinion documents, then rounds that each append new documents, admit
  * them with `ServeMain.admitDelta`, restart the HTTP layer on the
  * returned engine and send three 64-query `/search/batch` requests
  * (hybrid, MaxSim rerank, phrases). Bytes, not job count, dominate. */
object Corpus {
  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sf = s"${ctx.dataDir}/corpus"
    val spec = Json.read(s"${ctx.dataDir}/requests.json")
    val deltas = Json.elems(spec.get("deltas"))
    def batch(mode: String, field: String, key: String, rerank: Boolean = false) = {
      val b = ctx.json.createObjectNode().put("limit", 5)
      b.set[JsonNode](field, spec.get(key))
      if (rerank) b.put("rerank", "maxsim")
      Req(mode, "/search/batch", b)
    }
    val batches = Seq(batch("batch_hybrid", "queries", "queries"),
      batch("batch_maxsim", "queries", "rerank_queries", rerank = true),
      batch("batch_phrase", "phrases", "phrases"))

    // set-up: the cold build of the base corpus; rounds admit into it
    val root = s"${ctx.workDir}/store"
    val t0 = ctx.now()
    var engine = ServeMain.buildEngine(spark, sf, warm = false, storeRoot = root)
    val setup = ctx.secs(t0)
    ctx.metric("setup_s", setup, "s")
    ctx.note(f"cold build $setup%.2f s, ${engine.corpusSize} points")

    var server = HttpApi.start(engine, 0)
    var client = new Client(server.port)
    var round = 0
    val admitS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var admitted = 0L

    /** One round: append a delta, admit it, restart, send the batches. */
    def doRound(traced: Boolean): Unit = {
      def span[T](name: String)(f: => T): T = if (traced) ctx.spans(name)(f) else f
      val d = deltas(round)
      val n = d.get("n").asInt()
      val src = Paths.get(ctx.dataDir, "deltas", f"round$round%03d", "part-00000.parquet")
      Files.copy(src, Paths.get(sf, "documents.parquet", f"part-d$round%05d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      val before = engine.corpusSize
      server.stop()
      spark.catalog.clearCache() // the old engine's frames; admission reopens the store
      val t0 = ctx.now()
      span("index.admit") { engine = ServeMain.admitDelta(spark, sf, storeRoot = root) }
      admitS += ctx.secs(t0)
      admitted += n
      server = HttpApi.start(engine, 0)
      client = new Client(server.port)
      batches.foreach { b =>
        val r = span(s"serve.${b.mode}")(client.send(b))
        batchMs += r.ms
        checkBatch(ctx, r)
      }
      checkAdmission(ctx, engine, src.toString, before,
        Json.strings(d.get("markers")), d.get("first").asLong())
      round += 1
    }
    if (ctx.traced)
      traced(ctx, sf, root, batches, client,
        () => { doRound(traced = true); engine })
    else {
      val t1 = ctx.now()
      while (round == 0 || (ctx.secs(t1) < ctx.seconds && round < deltas.size))
        doRound(traced = false)
      ctx.note(f"$round rounds in ${ctx.secs(t1)}%.1f s; admit " +
        admitS.map(s => f"$s%.2f").mkString(" ") + s" s; ${engine.corpusSize} points")
      ctx.metric("op_p50_ms", Stats.median(batchMs.toSeq), "ms")
      ctx.metric("throughput", admitted / admitS.sum, "1/s")
    }
    server.stop()
  }

  /** Status and shape of a batch reply; RRF scores bounded and ranked;
    * every phrase (taken from the corpus) has a hit. */
  def checkBatch(ctx: Ctx, r: Reply): Unit = {
    val what = r.req.mode
    val ok = r.status == 200 && r.json != null && r.json.has("responses")
    ctx.check(ok, s"$what: status ${r.status}")
    if (ok) Json.elems(r.json.get("responses")).foreach { resp =>
      val scores = Json.elems(resp.get("results")).map(_.get("score").asDouble())
      if (what == "batch_phrase")
        ctx.check(scores.nonEmpty, s"$what ${resp.get("query")}: no hit")
      else {
        ctx.check(scores.forall(s => s > 0 && s <= Interactive.Ceiling),
          s"$what ${resp.get("query")}: RRF score outside (0, ${Interactive.Ceiling}]: $scores")
        if (what == "batch_hybrid")
          ctx.check(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b },
            s"$what ${resp.get("query")}: RRF scores increase: $scores")
      }
    }
  }

  /** After a warm reopen: the store's point count grew by exactly the
    * admitted documents' chunks, and each document's marker phrase
    * finds that document. */
  def checkAdmission(ctx: Ctx, e: HttpApi.Engine, deltaFile: String,
      before: Long, markers: Seq[String], firstDoc: Long): Unit = {
    val spark = ctx.spark
    val chunks = ChunkPipeline.chunkPoints(spark, spark.read.parquet(deltaFile)).count()
    ctx.check(e.corpusSize - before == chunks,
      s"admission: points grew by ${e.corpusSize - before}, admitted chunks $chunks")
    val hits = Serve.queryPhraseBatch(e.index, markers, k = 1,
      e.posPostings, e.posStore)
    val ids = hits.flatMap(_.results.map(_.id))
    val docOf = e.index.filter(col("id").isin(ids: _*)).select("id", "doc_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    markers.zipWithIndex.foreach { case (m, i) =>
      val got = hits.find(_.question == m).toSeq.flatMap(_.results.map(h => docOf.get(h.id)))
      ctx.check(got == Seq(Some(firstDoc + i)),
        s"admission: marker '$m' of document ${firstDoc + i} found $got")
    }
  }

  /** The traced run: the batch trio untraced then traced on one engine
    * (tracing overhead and per-batch search counters), one traced
    * admission round, then each build layer replayed on the index. */
  def traced(ctx: Ctx, sf: String, root: String, batches: Seq[Req],
      client: Client, tracedRound: () => HttpApi.Engine): Unit = {
    val spark = ctx.spark
    val t0 = ctx.now()
    batches.foreach(client.send)
    val untracedS = ctx.secs(t0)

    ctx.startTracing()
    val sp = ctx.spans
    val total0 = ctx.tracer.snapshot(spark)
    val t1 = ctx.now()
    val replies = batches.map(b => sp(s"serve.${b.mode}")(client.send(b)))
    ctx.metric("trace_overhead_frac", ctx.secs(t1) / untracedS - 1, "ratio")
    replies.foreach(checkBatch(ctx, _))
    batches.zip(replies).foreach { case (b, r) =>
      ctx.searchMetrics(b.mode, sp.named(s"serve.${b.mode}"),
        Json.elems(r.json.get("responses")).map(x => Json.elems(x.get("results")).size).sum)
    }
    ctx.httpMs(replies)
    ctx.metric("serve.cache_mb", ctx.cacheMb(), "MB")

    // one traced admission round
    val bytes0 = Layers.dirBytes(root)
    val e = tracedRound()
    val grown = Layers.dirBytes(root) - bytes0
    val adm = sp.named("index.admit").head
    ctx.metric("index.admit_round_s", adm.ms / 1e3, "s")
    ctx.metric("index.admit_jobs", adm.counts("jobs"), "count")
    ctx.metric("index.admit_bytes_per_delta_byte", grown.toDouble /
      math.max(1L, ctx.params.get("delta_bytes").asLong()), "ratio")

    Layers.replay(ctx, sf, root, e)
    ctx.sparkMetrics("spark", ctx.tracer.snapshot(spark) - total0)
  }
}
