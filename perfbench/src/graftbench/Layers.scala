package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.IndexWriter
import graft.ingest.ChunkPipeline
import graft.serve.HttpApi

/** Build-side layers of a served engine, each replayed once in its own
  * traced span to a full-output sink: chunk + embed (`ingest`), then
  * every structure `ServeMain.buildEngine` derives from the chunk index
  * (`index`). */
object Layers {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def replay(ctx: Ctx, sfDir: String, storeRoot: String, e: HttpApi.Engine): Unit = {
    val spark = ctx.spark
    val sp = ctx.spans
    val index = e.index
    val docs = graft.GraftSession.table(spark, sfDir, "documents")
    sp("ingest.chunk")(noop(ChunkPipeline.chunkPoints(spark, docs)))
    sp("index.docfreq")(noop(IndexWriter.docFrequencies(index)))
    val postings = IndexWriter.postings(index).persist()
    sp("index.postings")(noop(postings))
    sp("index.blocks")(noop(IndexWriter.blockBounds(postings)))
    postings.unpersist()
    sp("index.positions")(noop(IndexWriter.positionalPostings(index)))
    sp("index.ivf")(new graft.ops.Similarity.IvfIndex(index,
      nCentroids = math.max(2, math.min(64, (e.corpusSize / 256).toInt)),
      vecCol = "dense_vec", idCol = "id").assigned.count())
    sp("index.hnsw")(graft.search.HybridSearch.buildHnswServing(index)
      .hnsw.graph.count())
    Seq("ingest.chunk", "index.docfreq", "index.postings", "index.blocks",
        "index.positions", "index.ivf", "index.hnsw").foreach { s =>
      ctx.metric(s"${s}_s", sp.named(s).head.ms / 1e3, "s")
    }
    ctx.metric("ingest.points_per_s",
      e.corpusSize / (sp.named("ingest.chunk").head.ms / 1e3), "1/s")

    // bytes the persisted serving matrix holds per byte of source text
    val textBytes = docs.agg(sum(octet_length(col("text")))).first().getLong(0)
    ctx.metric("index.store_bytes_per_src_byte",
      dirBytes(storeRoot).toDouble / textBytes, "ratio")

    // embedding throughput over the index's chunk texts, in-process
    val texts = index.select("chunk_text").limit(2000).collect()
      .map(_.getString(0)).toSeq
    val te = ctx.now()
    texts.grouped(16).foreach(b => graft.embed.HashingEmbedder.default.embedBatch(b))
    ctx.metric("embed.chunks_per_s", texts.size / ctx.secs(te), "1/s")
  }

  def dirBytes(p: String): Long = {
    val f = Paths.get(p)
    if (!Files.exists(f)) 0L
    else {
      val s = Files.walk(f)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
