// Print one md5 per serving endpoint over a fixed request list, so two
// builds can be compared for byte-identical search results.
// Usage: spark-shell --jars target/scala-2.13/lawlmspark_2.13-0.1.0.jar \
//          --driver-java-options -Dfile.encoding=UTF-8 -i tools/serve_dump.scala
// Env: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 (documents.parquet inside)
//      SERVE_DUMP_STORE=<dir for the engine's stores> (default: a temp dir)
//
// The requests come from the corpus itself: the i-th of the first 124
// chunks in id order gives the three tokens at position i mod 8 of its
// text as a question, a phrase and (first and last) proximity terms;
// the first 62 such windows are kept. The 64-request list ends with a repeat of its first question and a
// tokenless one. Every single mode serves the first 16 requests; the
// batch endpoints serve all 64 in one call each. Each endpoint prints
//   [serve_dump] <endpoint> <md5>
// an md5 over every (question, id, Double.toString(score), md5(snippet))
// it returned, in order.
import java.security.MessageDigest
import graft.serve.{Serve, ServeMain}

// one object, so the shell reads the script as a whole and not line by
// line
object ServeDump {
  def run(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val storeRoot = sys.env.getOrElse("SERVE_DUMP_STORE",
      java.nio.file.Files.createTempDirectory("serve_dump").toString)
    graft.functions.GraftFunctions.register(spark)
    val e = ServeMain.buildEngine(spark, sfDir, warm = false, storeRoot = storeRoot)
    val windows = e.index.select("id", "chunk_text").orderBy("id").limit(124).collect()
      .zipWithIndex.map { case (r, i) =>
        val toks = graft.text.Bm25.tokenize(r.getString(1)).filter(_.nonEmpty)
        toks.slice(i % 8, i % 8 + 3) }
      .filter(_.size == 3).take(62).toSeq
    val questions = windows.map(_.mkString(" ")) ++ Seq(windows.head.mkString(" "), "?!")
    val k = e.defaultK

    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    def md5(s: String): String = hex(MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))
    def dump(name: String, resps: Seq[Serve.QueryResponse]): Unit = {
      val lines = resps.flatMap(r => r.results.map(h =>
        s"${r.question}\t${h.id}\t${h.score.toString}\t${md5(h.snippet)}"))
      println(s"[serve_dump] $name ${md5(lines.mkString("\n"))} (${resps.size} responses, ${lines.size} hits)")
    }

    val single = questions.take(16)
    val pairs = windows.take(16)
    dump("hybrid", single.map(q => Serve.query(e.index, e.docStats, e.corpusSize,
      e.avgDocLen, q, k = k, postings = e.postings, termBounds = e.termBounds,
      blockBounds = e.blockBounds)))
    dump("ivf", single.map(q => Serve.queryAnn(e.index, e.ivf.get, e.docStats,
      e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)))
    dump("hnsw", single.map(q => Serve.queryHnsw(e.index, e.hnsw.get, e.docStats,
      e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)))
    dump("int8", single.map(q => Serve.queryAnnQuantized(e.index, e.ivf.get,
      e.docStats, e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)))
    dump("maxsim", single.map(q => Serve.queryReranked(e.index, e.docStats,
      e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)))
    dump("mmr", single.map(q => Serve.queryDiversified(e.index, e.docStats,
      e.corpusSize, e.avgDocLen, q, k = k, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)))
    dump("phrase", single.map(q => Serve.queryPhrase(e.index, e.docStats, q, k,
      e.posPostings, e.posStore)))
    dump("near", pairs.map(w => Serve.queryProximity(e.index, e.docStats,
      Seq(w.head, w.last), 3, k, e.posPostings, e.posStore)))
    dump("batch", Serve.queryBatch(e.index, e.docStats, e.corpusSize, e.avgDocLen,
      questions, k = k, postings = e.postings, termBounds = e.termBounds,
      blockBounds = e.blockBounds))
    dump("batch_maxsim", Serve.queryBatchReranked(e.index, e.docStats,
      e.corpusSize, e.avgDocLen, questions, k = k, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds))
    dump("batch_phrase", Serve.queryPhraseBatch(e.index, questions, k,
      e.posPostings, e.posStore))
  }
}

ServeDump.run(spark)
System.exit(0)
