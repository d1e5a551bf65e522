package graft.serve

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.search.HybridSearch

/** Spark jobs per serving call on a small built engine (block-max
  * sparse route, exact dense scan). A hybrid request is a stats read,
  * a θ read, one prefetch read (plus the jobs its exchanges and
  * broadcast cost) and one hydrate read; a driver read added back, or
  * a search plan run twice, breaks a bound here before it shows in the
  * benchmark. Each bound is the count measured at the time the bound
  * was set plus one job that adaptive execution may add. */
class JobBudgetSpec extends AnyFunSuite with SparkTestBase {

  // 40 generated opinions of five 12-word sentences each
  private lazy val engine = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val words = Seq("the", "court", "filing", "review", "appeal", "contract",
      "claim", "evidence", "statute", "judge", "motion", "order", "held")
    val sfDir = java.nio.file.Files.createTempDirectory("graft_jobs_sf").toString
    (0 until 40).map { i =>
      (i.toLong, (0 until 60).map(j => words((i * 7 + j * j) % words.size))
        .grouped(12).map(_.mkString(" ") + ".").mkString(" "))
    }.toDF("doc_id", "text").write.parquet(s"$sfDir/documents.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    ServeMain.buildEngine(spark, sfDir, storeRoot = root)
  }

  /** `body`'s result and the Spark jobs it started: the listener bus
    * is drained before the listener goes on and after `body` returns. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  private def query(q: String) = Serve.query(engine.index, engine.docStats,
    engine.corpusSize, engine.avgDocLen, q, k = 3, postings = engine.postings,
    blockBounds = engine.blockBounds)

  test("Serve.query (exact dense, block-max sparse) runs at most 7 jobs") {
    query("court filing review")  // first call plans and caches, untimed
    val (resp, n) = jobs(query("the court reviewed the filing"))
    assert(resp.results.nonEmpty)
    info(s"$n jobs")
    assert(n <= 7, s"Serve.query ran $n jobs")
  }

  test("Serve.queryHnsw walks the graph on the driver: at most 13 jobs") {
    def hnsw(q: String) = Serve.queryHnsw(engine.index, engine.hnsw.get,
      engine.docStats, engine.corpusSize, engine.avgDocLen, q, k = 3,
      postings = engine.postings, blockBounds = engine.blockBounds)
    hnsw("court filing review")  // first call plans, untimed
    val (resp, n) = jobs(hnsw("the court reviewed the filing"))
    assert(resp.results.nonEmpty)
    info(s"$n jobs")
    assert(n <= 13, s"Serve.queryHnsw ran $n jobs")
  }

  test("Serve.queryReranked runs the search once: at most 7 jobs") {
    val (resp, n) = jobs(Serve.queryReranked(engine.index, engine.docStats,
      engine.corpusSize, engine.avgDocLen, "the court reviewed the filing",
      k = 3, postings = engine.postings, blockBounds = engine.blockBounds))
    assert(resp.results.nonEmpty)
    info(s"$n jobs")
    assert(n <= 7, s"Serve.queryReranked ran $n jobs")
  }

  test("Serve.queryPhrase (positional store) runs at most 8 jobs") {
    Serve.queryPhrase(engine.index, engine.docStats, "order order",
      k = 3, store = engine.posStore)  // first call plans, untimed
    val (resp, n) = jobs(Serve.queryPhrase(engine.index, engine.docStats,
      "court filing contract", k = 3, store = engine.posStore))
    assert(resp.results.nonEmpty)
    info(s"$n jobs")
    assert(n <= 8, s"Serve.queryPhrase ran $n jobs")
  }

  test("Serve.queryProximity (positional store) runs at most 8 jobs") {
    Serve.queryProximity(engine.index, engine.docStats,
      Seq("appeal", "order"), 2, k = 3, store = engine.posStore)
    val (resp, n) = jobs(Serve.queryProximity(engine.index,
      engine.docStats, Seq("court", "contract"), 2, k = 3,
      store = engine.posStore))
    assert(resp.results.nonEmpty)
    info(s"$n jobs")
    assert(n <= 8, s"Serve.queryProximity ran $n jobs")
  }

  test("maxScorePrune is two driver reads: at most 2 jobs") {
    val p = engine.postings.get
    val tb = graft.index.IndexWriter.termBounds(p).persist()
    tb.count()
    val ((theta6, flags), n) = jobs(HybridSearch.maxScorePrune(p,
      engine.docStats, tb, engine.corpusSize, engine.avgDocLen,
      Seq("the", "court", "filing"), 5))
    assert(flags.nonEmpty && theta6 >= -1L)
    info(s"$n jobs")
    assert(n <= 2, s"maxScorePrune ran $n jobs")
    tb.unpersist()
  }
}
