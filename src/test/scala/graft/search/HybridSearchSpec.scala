package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.embed.HashingEmbedder
import graft.functions.GraftFunctions

class HybridSearchSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // A tiny corpus where relevance is unambiguous: one doc repeats the
  // query terms, the others share no vocabulary with it.
  private lazy val index = {
    val docs = Seq(
      ("d1", "habeas corpus petition filed by the detainee habeas corpus review"),
      ("d2", "contract dispute over grain shipment delivery terms and payment"),
      ("d3", "patent infringement claim regarding semiconductor lithography process"),
      ("d4", "fourth amendment search and seizure of the vehicle evidence"))
      .toDF("id", "chunk_text")
    docs
      .withColumn("dense_vec", GraftFunctions.embedText($"chunk_text"))
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
  }

  private lazy val stats = graft.index.IndexWriter.docFrequencies(index)
  private lazy val n = index.count()
  private lazy val avgLen = index.select(avg(size($"tokens"))).head().getDouble(0)

  test("bm25 branch ranks the term-matching doc first") {
    val top = HybridSearch.bm25TopK(index, stats, n, avgLen,
      Seq("habeas", "corpus"), 4).select("id").as[String].collect()
    assert(top.head == "d1")
  }

  test("dense branch ranks the exact-text doc first (self-similar embedding)") {
    val q = new HashingEmbedder(384)
      .embed("habeas corpus petition filed by the detainee habeas corpus review")
    val top = HybridSearch.denseTopK(index, q, 4).select("id").as[String].collect()
    assert(top.head == "d1")
  }

  test("full hybrid search returns k fused rows led by the relevant doc") {
    val out = HybridSearch.search(index, stats, n, avgLen,
      "habeas corpus", HybridSearch.Config(k = 2))
    val rows = out.select("id", "rrf_score").as[(String, Double)].collect()
    assert(rows.length == 2)
    assert(rows.head._1 == "d1")
    assert(rows.head._2 >= rows(1)._2)
  }

  test("postings-backed sparse branch == scan path bit-for-bit " +
      "(branch, single search, batched searchAll)") {
    val postings = graft.index.IndexWriter.postings(index)
    def branchRows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "bm25_score").as[(String, Double)].collect().toSeq
    assert(
      branchRows(HybridSearch.bm25TopKPostings(postings, stats, n, avgLen,
        Seq("habeas", "corpus", "grain"), 10)) ==
      branchRows(HybridSearch.bm25TopK(index, stats, n, avgLen,
        Seq("habeas", "corpus", "grain"), 10)))
    val cols = Seq("id", "rrf_score", "dense_score", "bm25_score")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getString(0), r.getDouble(1),
          Option(r.get(2)), Option(r.get(3)))).toSeq
    val viaPostings = HybridSearch.search(index, stats, n, avgLen,
      "habeas corpus", HybridSearch.Config(k = 3, postings = Some(postings)))
    val viaScan = HybridSearch.search(index, stats, n, avgLen,
      "habeas corpus", HybridSearch.Config(k = 3))
    assert(rows(viaPostings) == rows(viaScan))
    val queries = Seq((0L, "habeas corpus"), (1L, "grain shipment contract"))
      .toDF("query_id", "query")
    def brows(df: org.apache.spark.sql.DataFrame) =
      df.select(("query_id" +: cols).map(col): _*).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          Option(r.get(3)), Option(r.get(4)))).sortBy(t => (t._1, t._2)).toSeq
    val batchedP = HybridSearch.searchAll(index, stats, n, avgLen, queries,
      HybridSearch.Config(k = 2, postings = Some(postings)))
    val batchedS = HybridSearch.searchAll(index, stats, n, avgLen, queries,
      HybridSearch.Config(k = 2))
    assert(brows(batchedP) == brows(batchedS))
  }

  test("MaxScore-pruned sparse branch == postings path bit-for-bit, " +
      "stopword-grade terms go non-essential, candidates shrink") {
    // 40 docs all saturated with "common"; 8 also carry "rare" — the
    // classic rare+stopword query where MaxScore pays off
    val docs = (0 until 40).map { i =>
      val rare = if (i % 5 == 0) " rare" else ""
      (s"d$i", s"common common common filler$i$rare")
    }.toDF("id", "chunk_text")
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
    val p = graft.index.IndexWriter.postings(docs)
    val st = graft.index.IndexWriter.docFrequencies(docs)
    val tb = graft.index.IndexWriter.termBounds(p)
    val nn = docs.count()
    val al = docs.select(avg(size($"tokens"))).head().getDouble(0)
    val terms = Seq("rare", "common")
    val (theta6, flags) = HybridSearch.maxScorePrune(p, st, tb, nn, al,
      terms, 5)
    assert(theta6 > 0, s"theta must bind with 8 >= 5 rare matches: $theta6")
    assert(flags.collect { case (t, _, true) => t } == Seq("rare"),
      s"only the rare term should be essential: $flags")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "bm25_score").as[(String, Double)].collect().toSeq
    assert(rows(HybridSearch.bm25TopKMaxScore(p, st, tb, nn, al, terms, 5)) ==
      rows(HybridSearch.bm25TopKPostings(p, st, nn, al, terms, 5)))
    // n > rare's postings count → theta can't bind → everything
    // essential, result still exact
    val (t2, f2) = HybridSearch.maxScorePrune(p, st, tb, nn, al, terms, 20)
    assert(t2 == -1L && f2.forall(_._3), s"no pruning without theta: $f2")
    assert(rows(HybridSearch.bm25TopKMaxScore(p, st, tb, nn, al, terms, 20)) ==
      rows(HybridSearch.bm25TopKPostings(p, st, nn, al, terms, 20)))
    // terms absent from the corpus: both paths agree (empty)
    assert(rows(HybridSearch.bm25TopKMaxScore(p, st, tb, nn, al,
      Seq("zzabsent"), 5)).isEmpty)
    // the full search() routes through MaxScore when both tables are
    // supplied and stays bit-equal to the scan config
    val cols = Seq("id", "rrf_score", "dense_score", "bm25_score")
    def srows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getString(0), r.getDouble(1),
          Option(r.get(2)), Option(r.get(3)))).toSeq
    val ip = graft.index.IndexWriter.postings(index)
    val itb = graft.index.IndexWriter.termBounds(ip)
    assert(srows(HybridSearch.search(index, stats, n, avgLen,
        "habeas corpus",
        HybridSearch.Config(k = 3, postings = Some(ip),
          termBounds = Some(itb)))) ==
      srows(HybridSearch.search(index, stats, n, avgLen,
        "habeas corpus", HybridSearch.Config(k = 3))))
  }

  test("block-max pruning: results == unpruned postings path; whole " +
      "blocks of the essential term are skipped; term bounds compose " +
      "from block bounds") {
    // "rare" lives in 5 SHORT docs (high term score) and 5 LONG docs
    // (score diluted by dl): theta comes from the short five, so hash
    // blocks holding only long rare-docs must prune
    val docs = (0 until 40).map { i =>
      val pad = if (i % 8 == 4) "common " * 300 else "common "
      val rare = if (i % 8 == 0 || i % 8 == 4) "rare " else ""
      (s"d$i", s"$rare$pad f$i")
    }.toDF("id", "chunk_text")
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
    val p = graft.index.IndexWriter.postings(docs)
    val st = graft.index.IndexWriter.docFrequencies(docs)
    val blocks = graft.index.IndexWriter.blockBounds(p, nBlocks = 8)
    val nn = docs.count()
    val al = docs.select(avg(size($"tokens"))).head().getDouble(0)
    val terms = Seq("rare", "common")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "bm25_score").as[(String, Double)].collect().toSeq
    assert(rows(HybridSearch.bm25TopKBlockMax(p, st, blocks, nn, al,
        terms, 5, nBlocks = 8)) ==
      rows(HybridSearch.bm25TopKPostings(p, st, nn, al, terms, 5)))
    // Config routing: a blockBounds config serves search() AND the
    // batched searchAll bit-equal to the scan config
    val docsV = docs.withColumn("dense_vec",
      GraftFunctions.embedText($"chunk_text"))
    val cols = Seq("id", "rrf_score", "dense_score", "bm25_score")
    def srows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getString(0), r.getDouble(1),
          Option(r.get(2)), Option(r.get(3)))).toSeq
    val bmCfg = HybridSearch.Config(k = 3, postings = Some(p),
      blockBounds = Some(blocks), nBlocks = 8)
    assert(srows(HybridSearch.search(docsV, st, nn, al, "rare common",
        bmCfg)) ==
      srows(HybridSearch.search(docsV, st, nn, al, "rare common",
        HybridSearch.Config(k = 3))))
    val queries = Seq((0L, "rare common"), (1L, "common f3"))
      .toDF("query_id", "query")
    def brows(df: org.apache.spark.sql.DataFrame) =
      df.select(("query_id" +: cols).map(col): _*).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          Option(r.get(3)), Option(r.get(4)))).sortBy(t => (t._1, t._2)).toSeq
    assert(brows(HybridSearch.searchAll(docsV, st, nn, al, queries,
        bmCfg)) ==
      brows(HybridSearch.searchAll(docsV, st, nn, al, queries,
        HybridSearch.Config(k = 3))))
    val (theta6, flags, surviving) = HybridSearch.blockMaxPrune(
      p, st, blocks, nn, al, terms, 5)
    assert(theta6 > 0)
    assert(flags.collect { case (t, _, true) => t } == Seq("rare"))
    val totalRareBlocks = blocks.filter($"term" === "rare").count()
    val survivingRare = surviving.filter($"term" === "rare").count()
    assert(survivingRare < totalRareBlocks,
      s"long-doc-only blocks must prune: $survivingRare of $totalRareBlocks")
    assert(survivingRare >= 1, "theta's own docs' blocks must survive")
    // term bounds compose from block bounds exactly
    def canonB(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Int)].collect().toSet
    assert(canonB(graft.index.IndexWriter.termBoundsFromBlocks(blocks)) ==
      canonB(graft.index.IndexWriter.termBounds(p)))
  }

  test("batched MaxScore == per-query MaxScore loop == unpruned batch; " +
      "searchAll routes through it bit-equal") {
    val docs = (0 until 40).map { i =>
      val rare = if (i % 5 == 0) " rare" else ""
      val scarce = if (i % 4 == 1) " scarce" else ""
      (s"d$i", s"common common common filler$i$rare$scarce")
    }.toDF("id", "chunk_text")
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
      .withColumn("dense_vec", GraftFunctions.embedText($"chunk_text"))
    val p = graft.index.IndexWriter.postings(docs)
    val st = graft.index.IndexWriter.docFrequencies(docs)
    val tb = graft.index.IndexWriter.termBounds(p)
    val nn = docs.count()
    val al = docs.select(avg(size($"tokens"))).head().getDouble(0)
    val qt = Seq((0L, "rare"), (0L, "common"), (1L, "scarce"),
      (1L, "common"), (2L, "common")).toDF("query_id", "term")
    val batched = HybridSearch.bm25TopKMaxScoreAll(p, st, tb, nn, al, qt, 5)
      .select("query_id", "id", "bm25_score")
      .as[(Long, String, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    val loop = Seq(0L -> Seq("rare", "common"), 1L -> Seq("scarce", "common"),
        2L -> Seq("common")).flatMap { case (q, terms) =>
      HybridSearch.bm25TopKMaxScore(p, st, tb, nn, al, terms, 5)
        .select("id", "bm25_score").as[(String, Double)].collect()
        .map { case (id, s) => (q, id, s) }
    }.sortBy(t => (t._1, t._2))
    assert(batched == loop)
    // per-query decisions differ: rare/scarce queries prune, the
    // all-common query cannot (its theta comes from "common" itself)
    val flags = HybridSearch.maxScorePruneAll(p, st, tb, nn, al, qt, 5)
      .select("query_id", "term", "essential")
      .as[(Long, String, Boolean)].collect().toSet
    assert(flags.contains((0L, "common", false)) &&
      flags.contains((0L, "rare", true)))
    assert(flags.contains((1L, "common", false)) &&
      flags.contains((1L, "scarce", true)))
    assert(flags.contains((2L, "common", true)))
    // the full batched search routes through MaxScore bit-equal
    val queries = Seq((0L, "rare common"), (1L, "scarce common"),
      (2L, "common filler7")).toDF("query_id", "query")
    val cols = Seq("query_id", "id", "rrf_score", "dense_score", "bm25_score")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          Option(r.get(3)), Option(r.get(4)))).sortBy(t => (t._1, t._2)).toSeq
    assert(canon(HybridSearch.searchAll(docs, st, nn, al, queries,
        HybridSearch.Config(k = 3, postings = Some(p),
          termBounds = Some(tb)))) ==
      canon(HybridSearch.searchAll(docs, st, nn, al, queries,
        HybridSearch.Config(k = 3))))
  }

  test("MaxScore with ADD-SIDE-LAGGED bounds: a term in the postings " +
      "but missing from termBounds is unconditionally essential — " +
      "results stay exact instead of silently dropping its docs") {
    val docs = (0 until 40).map { i =>
      val rare = if (i % 5 == 0) " rare" else ""
      (s"d$i", s"common common common filler$i$rare")
    }.toDF("id", "chunk_text")
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
    val p = graft.index.IndexWriter.postings(docs)
    val st = graft.index.IndexWriter.docFrequencies(docs)
    // bounds built BEFORE "rare"'s postings merged in — the stale-add
    // window the streaming writer can expose between artifact writes
    val lagged = graft.index.IndexWriter.termBounds(p)
      .filter($"term" =!= "rare")
    val nn = docs.count()
    val al = docs.select(avg(size($"tokens"))).head().getDouble(0)
    val terms = Seq("rare", "common")
    val (_, flags) = HybridSearch.maxScorePrune(p, st, lagged, nn, al,
      terms, 5)
    assert(flags.contains(("rare", Long.MaxValue, true)),
      s"the unbounded term must be forced essential: $flags")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "bm25_score").as[(String, Double)].collect().toSeq
    val exact = rows(HybridSearch.bm25TopKPostings(p, st, nn, al, terms, 5))
    assert(exact.exists(_._1 == "d0"), "sanity: rare docs win the top-5")
    assert(rows(HybridSearch.bm25TopKMaxScore(p, st, lagged, nn, al,
      terms, 5)) == exact)
    // ALL bounds missing → every present term essential, still exact
    val noneTb = lagged.filter($"term" === "never")
    val (_, f0) = HybridSearch.maxScorePrune(p, st, noneTb, nn, al, terms, 5)
    assert(f0.map(_._1).sorted == Seq("common", "rare") && f0.forall(_._3))
    assert(rows(HybridSearch.bm25TopKMaxScore(p, st, noneTb, nn, al,
      terms, 5)) == exact)
    // batched form: NULL ub6, essential, results == unpruned batch
    val qt = Seq((0L, "rare"), (0L, "common"), (1L, "common"))
      .toDF("query_id", "term")
    val bf = HybridSearch.maxScorePruneAll(p, st, lagged, nn, al, qt, 5)
      .select("query_id", "term", "ub6", "essential")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), r.getBoolean(3))).toSet
    assert(bf.contains((0L, "rare", None, true)),
      s"batched unbounded term must be NULL-ub essential: $bf")
    assert(bf.exists { case (q, t, u, _) =>
      q == 0L && t == "common" && u.nonEmpty })
    def brows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "id", "bm25_score")
        .as[(Long, String, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    assert(brows(HybridSearch.bm25TopKMaxScoreAll(p, st, lagged, nn, al,
        qt, 5)) ==
      brows(HybridSearch.bm25TopKMaxScoreAll(p, st,
        graft.index.IndexWriter.termBounds(p), nn, al, qt, 5)))
  }

  test("block-max with ADD-SIDE-LAGGED blocks: a term in the postings " +
      "but missing from the blocks table neither overflows the rest " +
      "bound nor drops its documents — results == unpruned postings") {
    val docs = (0 until 40).map { i =>
      val pad = if (i % 8 == 4) "common " * 300 else "common "
      val rare = if (i % 8 == 0 || i % 8 == 4) "rare " else ""
      (s"d$i", s"$rare$pad f$i")
    }.toDF("id", "chunk_text")
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
    val p = graft.index.IndexWriter.postings(docs)
    val st = graft.index.IndexWriter.docFrequencies(docs)
    val nn = docs.count()
    val al = docs.select(avg(size($"tokens"))).head().getDouble(0)
    val terms = Seq("rare", "common")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "bm25_score").as[(String, Double)].collect().toSeq
    val exact = rows(HybridSearch.bm25TopKPostings(p, st, nn, al, terms, 5))
    assert(exact.exists(_._1 == "d0"), "sanity: rare docs win the top-5")
    // blocks built BEFORE "rare"'s postings merged in — the add-side
    // window: the lagged term has sentinel ub6 AND no block rows
    val lagged = graft.index.IndexWriter.blockBounds(p, nBlocks = 8)
      .filter($"term" =!= "rare")
    val (theta6L, flagsL, survivingL) = HybridSearch.blockMaxPrune(
      p, st, lagged, nn, al, terms, 5)
    assert(flagsL.contains(("rare", Long.MaxValue, true)),
      s"lagged term must be sentinel-essential: $flagsL")
    // the sentinel must not poison the bounded term's block pruning:
    // an overflowed rest bound pruned EVERY block pre-fix; some of
    // common's blocks (at least theta's own docs') must survive
    assert(survivingL.filter($"term" === "common").count() >= 1,
      "an overflowed rest bound would prune every bounded block")
    assert(theta6L >= -1L)
    assert(rows(HybridSearch.bm25TopKBlockMax(p, st, lagged, nn, al,
      terms, 5, nBlocks = 8)) == exact,
      "lagged-blocks block-max must equal the unpruned postings path")
    // ALL terms lagged → pure postings-union fallback, still exact
    val none = lagged.filter($"term" === "never")
    assert(rows(HybridSearch.bm25TopKBlockMax(p, st, none, nn, al,
      terms, 5, nBlocks = 8)) == exact)
    // and the selective case still prunes (regression guard: the fix
    // must not disable block skipping when nothing lags)
    val full = graft.index.IndexWriter.blockBounds(p, nBlocks = 8)
    val (_, _, survF) = HybridSearch.blockMaxPrune(p, st, full, nn, al,
      terms, 5)
    assert(survF.filter($"term" === "rare").count() <
      full.filter($"term" === "rare").count(),
      "with full blocks the long-doc rare blocks must still prune")
  }

  test("bm25 empty-query branch: schema derives from the input, so a " +
      "non-string id column matches the non-empty branch's type") {
    val longIdx = Seq((1L, Seq("alpha", "beta")), (2L, Seq("beta")))
      .toDF("id", "tokens")
    val p = graft.index.IndexWriter.postings(longIdx)
    val st = graft.index.IndexWriter.docFrequencies(longIdx)
    val nonEmpty = HybridSearch.bm25TopK(longIdx, st, 2L, 1.5,
      Seq("alpha"), 5)
    val empty = HybridSearch.bm25TopK(longIdx, st, 2L, 1.5, Nil, 5)
    assert(empty.schema == nonEmpty.schema, s"${empty.schema}")
    assert(empty.isEmpty)
    val nonEmptyP = HybridSearch.bm25TopKPostings(p, st, 2L, 1.5,
      Seq("alpha"), 5)
    val emptyP = HybridSearch.bm25TopKPostings(p, st, 2L, 1.5, Nil, 5)
    assert(emptyP.schema == nonEmptyP.schema, s"${emptyP.schema}")
    assert(emptyP.isEmpty)
  }

  test("phraseMatches: position intersection == naive window scan — " +
      "overlaps, duplicated words, boundaries, absent terms, decoys") {
    val docs = Seq(
      ("d1", "the cat sat on the cat sat mat"),        // overlapping "cat sat"
      ("d2", "cat sat"),                               // exact at both edges
      ("d3", "sat cat"),                               // reversed: no match
      ("d4", "the cat the cat the"),                   // duplicated-word phrase
      ("d5", "cat x sat"),                             // decoy: gap breaks it
      ("d6", "prefix words then cat sat suffix"))
      .toDF("id", "chunk_text")
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
    val pp = graft.index.IndexWriter.positionalPostings(docs)
    val st = graft.index.IndexWriter.docFrequencies(docs)
    def hits(phrase: Seq[String]) =
      HybridSearch.phraseMatches(pp, st, phrase)
        .as[(String, Int)].collect().toSeq
    // naive reference: scan every token window
    def naive(phrase: Seq[String]) = docs.select("id", "tokens")
      .as[(String, Seq[String])].collect().flatMap { case (id, ts) =>
        (0 to ts.length - phrase.length).collect {
          case p if ts.slice(p, p + phrase.length) == phrase => (id, p)
        }
      }.sortBy(t => (t._1, t._2)).toSeq
    for (phrase <- Seq(Seq("cat", "sat"), Seq("the", "cat", "the"),
        Seq("cat"), Seq("cat", "sat", "mat")))
      assert(hits(phrase) == naive(phrase), s"phrase $phrase")
    assert(hits(Seq("cat", "zzunseen")).isEmpty)
    assert(hits(Seq.empty).isEmpty)
  }

  test("phraseMatchesAll: batched slot-count form == per-query " +
      "anchored-chain loop, across phrase lengths and repeated words") {
    val docs = Seq(
      ("d1", "the cat sat on the cat sat mat"),
      ("d2", "cat sat"),
      ("d3", "sat cat"),
      ("d4", "the cat the cat the"),
      ("d5", "cat x sat"),
      ("d6", "cat cat sat"))
      .toDF("id", "chunk_text")
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
    val pp = graft.index.IndexWriter.positionalPostings(docs)
    val st = graft.index.IndexWriter.docFrequencies(docs)
    val phrases = Seq(0L -> Seq("cat", "sat"), 1L -> Seq("the", "cat", "the"),
      2L -> Seq("cat", "cat", "sat"), 3L -> Seq("cat"),
      4L -> Seq("cat", "zzunseen"))
    val qSlots = phrases.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (t, i) => (q, i, t) }
    }.toDF("query_id", "slot", "term")
    val batched = HybridSearch.phraseMatchesAll(pp, qSlots)
      .as[(Long, String, Int)].collect().sortBy(t => (t._1, t._2, t._3)).toSeq
    val loop = phrases.flatMap { case (q, ts) =>
      HybridSearch.phraseMatches(pp, st, ts)
        .as[(String, Int)].collect().map { case (id, p) => (q, id, p) }
    }.sortBy(t => (t._1, t._2, t._3))
    assert(batched == loop)
    assert(batched.exists(_._1 == 2L), "repeated-word phrase must match d6")
    assert(!batched.exists(_._1 == 4L), "unseen-term phrase matches nothing")
  }

  test("proximityMatches: greedy ordered-window == naive greedy scan — " +
      "gaps within budget match, beyond it fail, order is required") {
    val docs = Seq(
      ("d1", "cat sat"),                       // span 1
      ("d2", "cat x sat"),                     // span 2
      ("d3", "cat x y z sat"),                 // span 4: over a budget of 3
      ("d4", "sat cat"),                       // wrong order
      ("d5", "cat x sat y sat"),               // greedy takes the FIRST sat
      ("d6", "cat cat sat"))                   // two starts, both match
      .toDF("id", "chunk_text")
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
    val pp = graft.index.IndexWriter.positionalPostings(docs)
    val st = graft.index.IndexWriter.docFrequencies(docs)
    def hits(terms: Seq[String], span: Int) =
      HybridSearch.proximityMatches(pp, st, terms, span)
        .as[(String, Int, Int)].collect().toSeq
    def naive(terms: Seq[String], span: Int) = docs.select("id", "tokens")
      .as[(String, Seq[String])].collect().flatMap { case (id, ts) =>
        ts.indices.filter(ts(_) == terms.head).flatMap { s =>
          val e = terms.drop(1).foldLeft(Option(s)) { (prev, t) =>
            prev.flatMap(p => (p + 1 until ts.length).find(ts(_) == t))
          }
          e.collect { case en if en - s <= span => (id, s, en) }
        }
      }.sortBy(t => (t._1, t._2)).toSeq
    for (span <- Seq(1, 2, 3, 4))
      assert(hits(Seq("cat", "sat"), span) == naive(Seq("cat", "sat"), span),
        s"span $span")
    assert(hits(Seq("cat", "sat"), 2).map(_._1).contains("d2"))
    assert(!hits(Seq("cat", "sat"), 3).map(_._1).contains("d3"))
    assert(!hits(Seq("cat", "sat"), 4).map(_._1).contains("d4"))
    assert(hits(Seq("cat", "sat"), 4).count(_._1 == "d6") == 2)
    intercept[IllegalArgumentException](
      HybridSearch.proximityMatches(pp, st, Seq("a", "b", "c"), 1))
  }

  test("termBounds merge law: merged per-batch bounds == full-corpus " +
      "bounds, for any split") {
    val docs = (0 until 30).map { i =>
      (s"d$i", s"alpha beta ${"gamma " * (i % 4)}delta$i")
    }.toDF("id", "chunk_text")
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
    val a = docs.filter($"id".substr(2, 10).cast("int") < 11)
    val b = docs.filter($"id".substr(2, 10).cast("int") >= 11)
    val full = graft.index.IndexWriter.termBounds(
      graft.index.IndexWriter.postings(docs))
    val merged = graft.index.IndexWriter.mergeTermBounds(
      graft.index.IndexWriter.termBounds(graft.index.IndexWriter.postings(a)),
      graft.index.IndexWriter.termBounds(graft.index.IndexWriter.postings(b)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "max_tf", "min_dl").as[(String, Long, Int)]
        .collect().sortBy(_._1).toSeq
    assert(canon(merged) == canon(full))
  }

  test("searchAll == per-query search loop, one plan, no per-query jobs") {
    val cfg = HybridSearch.Config(k = 2)
    val queryTexts = Seq("habeas corpus", "grain shipment contract",
      "semiconductor patent", "vehicle search evidence", "payment terms")
    val queries = queryTexts.zipWithIndex
      .map { case (q, i) => (i.toLong, q) }.toDF("query_id", "query")
    val cols = Seq("query_id", "id", "rrf_score", "dense_score", "bm25_score")
    val batched = HybridSearch.searchAll(index, stats, n, avgLen, queries, cfg)
    val loop = queryTexts.zipWithIndex.map { case (q, i) =>
      HybridSearch.search(index, stats, n, avgLen, q, cfg)
        .select(lit(i.toLong).as("query_id"), col("id"),
          col("rrf_score"), col("dense_score"), col("bm25_score"))
    }.reduce(_ unionByName _)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          Option(r.get(3)), Option(r.get(4)))).sortBy(t => (t._1, t._2))
    assert(canon(batched).toSeq == canon(loop).toSeq)
    // the batched plan is one job shape: bounded per-query heaps
    // (TopKPerKey), no cartesian product, queries broadcast
    val plan = batched.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected bounded heaps:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"query fan-out must broadcast, not cartesian:\n$plan")
  }

  test("searchAllHnsw == per-query searchHnsw loop: the batched graph " +
      "walk serves every query identically to the single walk") {
    val cfg = HybridSearch.Config(k = 2)
    val hs = HybridSearch.buildHnswServing(index, build = "broadcast")
    val queryTexts = Seq("habeas corpus", "grain shipment contract",
      "semiconductor patent")
    val queries = queryTexts.zipWithIndex
      .map { case (q, i) => (i.toLong, q) }.toDF("query_id", "query")
    val cols = Seq("query_id", "id", "rrf_score", "dense_score", "bm25_score")
    val batched = HybridSearch.searchAll(index, stats, n, avgLen,
      queries, cfg, dense = HybridSearch.Dense.Hnsw(hs))
    val loop = queryTexts.zipWithIndex.map { case (q, i) =>
      HybridSearch.search(index, stats, n, avgLen, q, cfg,
          dense = HybridSearch.Dense.Hnsw(hs))
        .select(lit(i.toLong).as("query_id"), col("id"),
          col("rrf_score"), col("dense_score"), col("bm25_score"))
    }.reduce(_ unionByName _)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          Option(r.get(3)), Option(r.get(4)))).sortBy(t => (t._1, t._2))
    assert(canon(batched).toSeq == canon(loop).toSeq)
  }

  test("searchAnn with every cell probed equals the exact-dense search; " +
      "fewer probes still fuse and lead with the relevant doc") {
    val ivf = new graft.ops.Similarity.IvfIndex(index, nCentroids = 2,
      vecCol = "dense_vec", idCol = "id")
    val cfg = HybridSearch.Config(k = 2)
    val exact = HybridSearch.search(index, stats, n, avgLen,
        "habeas corpus", cfg)
      .select("id", "rrf_score").as[(String, Double)].collect().toSeq
    val allCells = HybridSearch.search(index, stats, n, avgLen,
        "habeas corpus", cfg, dense = HybridSearch.Dense.Ivf(ivf, nProbe = 2))
      .select("id", "rrf_score").as[(String, Double)].collect().toSeq
    assert(allCells == exact,
      "probing every cell makes the dense branch the exact scan")
    val pruned = HybridSearch.search(index, stats, n, avgLen,
        "habeas corpus", cfg, dense = HybridSearch.Dense.Ivf(ivf, nProbe = 1))
      .select("id").as[String].collect()
    assert(pruned.nonEmpty && pruned.head == "d1",
      "the BM25 branch keeps the relevant doc on top even when the " +
        "dense probe misses cells")
  }

  // 24 docs: more than a k = 4 prefetch (20 rows), so the int8 dials
  // bind instead of the corpus size
  private lazy val wide = {
    val words = Seq("habeas", "corpus", "contract", "grain", "patent",
      "vehicle", "search")
    (0 until 24).map { i =>
      (s"w$i", s"${words(i % 7)} ${words(i * 3 % 7)} ${words(i / 3 % 7)} filler$i")
    }.toDF("id", "chunk_text")
      .withColumn("dense_vec", GraftFunctions.embedText($"chunk_text"))
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
  }
  private lazy val wideIvf = new graft.ops.Similarity.IvfIndex(wide,
    nCentroids = 3, vecCol = "dense_vec", idCol = "id")
  private lazy val wideStats = graft.index.IndexWriter.docFrequencies(wide)
  private lazy val wideAvgLen =
    wide.select(avg(size($"tokens"))).head().getDouble(0)

  test("int8 dense tier with every cell probed and rerankN >= the corpus " +
      "equals the exact-dense search row for row") {
    val nn = wide.count()
    val allCells = wideIvf.clusterCenters.length
    val int8 = HybridSearch.Dense.Int8(wideIvf, nProbe = allCells,
      rerankN = nn.toInt)
    val q = "habeas corpus contract"
    val qVec = HashingEmbedder.default.embedQuery(q)
    def prows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "dense_score").as[(String, Double)].collect().toSeq
    assert(prows(int8.prefetch(wide, qVec, 20)) ==
      prows(HybridSearch.Dense.Exact.prefetch(wide, qVec, 20)))
    val cols = Seq("id", "rrf_score", "dense_score", "bm25_score")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getString(0), r.getDouble(1),
          Option(r.get(2)), Option(r.get(3)))).toSeq
    val cfg = HybridSearch.Config(k = 4)
    val exact = rows(HybridSearch.search(wide, wideStats, nn, wideAvgLen, q, cfg))
    assert(exact.size == 4)
    assert(rows(HybridSearch.search(wide, wideStats, nn, wideAvgLen, q, cfg,
      dense = int8)) == exact)
  }

  test("int8 rerankN = 1 is floored at the prefetch size: the dense " +
      "branch still fills its prefetch") {
    val nn = wide.count()
    val int8 = HybridSearch.Dense.Int8(wideIvf,
      nProbe = wideIvf.clusterCenters.length, rerankN = 1)
    val q = "habeas corpus contract"
    val pre = int8.prefetch(wide, HashingEmbedder.default.embedQuery(q), 20)
    assert(pre.count() == 20)
    assert(HybridSearch.search(wide, wideStats, nn, wideAvgLen, q,
      HybridSearch.Config(k = 4), dense = int8).count() == 4)
  }

  test("rrf score threshold can empty the result (reference early-return path)") {
    // 2/(rrfK+1) is the max possible RRF score; a threshold just at the
    // ceiling keeps only docs ranked #1 in BOTH branches — here none,
    // because rank-1 differs across branches only when scores tie; use
    // the ceiling itself, reachable only by a doc that is rank 1 twice.
    val ceiling = 2.0 / 61
    val out = HybridSearch.search(index, stats, n, avgLen,
      "grain shipment", HybridSearch.Config(k = 2, rrfScoreThreshold = ceiling))
    assert(out.count() <= 1) // at most the doc that tops both branches
  }

  test("rrfScoreThreshold above the RRF ceiling is rejected loudly") {
    // the reference's store-native score_threshold default (0.4) must NOT
    // be portable verbatim: it exceeds 2/(rrfK+1) and would silently
    // return zero results.
    intercept[IllegalArgumentException] {
      HybridSearch.Config(k = 2, rrfScoreThreshold = 0.4)
    }
  }

  /** RRF fusion as one Spark plan — two rank windows and a full-outer
    * join: the reference [[HybridSearch.rrfFuse]]'s driver fusion must
    * equal row for row. */
  private def refFuse(dense: DataFrame, sparse: DataFrame,
      cfg: HybridSearch.Config): DataFrame = {
    val dw = Window.orderBy(desc("dense_score"), col("id"))
    val sw = Window.orderBy(desc("bm25_score"), col("id"))
    val d = dense.withColumn("dense_rank", row_number().over(dw))
    val s = sparse.withColumn("bm25_rank", row_number().over(sw))
    d.join(s, Seq("id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(cfg.rrfK) + col("dense_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(cfg.rrfK) + col("bm25_rank")), lit(0.0)))
      .filter(col("rrf_score") >= cfg.rrfScoreThreshold)
      .orderBy(desc("rrf_score"), col("id"))
      .limit(cfg.k)
  }

  /** [[HybridSearch.search]] as one lazy plan: the unpruned token-scan
    * BM25 branch, [[refFuse]], and a left join back to the index. */
  private def refSearch(idx: DataFrame, st: DataFrame, nn: Long,
      al: Double, query: String, cfg: HybridSearch.Config,
      dense: HybridSearch.Dense): DataFrame = {
    val prefetch = cfg.k * cfg.prefetchMultiplier
    val sparse = HybridSearch.bm25TopK(idx, st, nn, al,
      graft.text.Bm25.tokenize(query), prefetch)
    refFuse(dense.prefetch(idx, HashingEmbedder.default.embedQuery(query),
        prefetch), sparse, cfg)
      .join(idx, Seq("id"), "left")
      .orderBy(desc("rrf_score"), col("id"))
  }

  private val fusedCols = Seq("id", "dense_score", "dense_rank",
    "bm25_score", "bm25_rank", "rrf_score")

  test("driver rrfFuse == the window + full-outer-join reference, " +
      "ties broken on id, schema included") {
    val dense = Seq(("b", 0.5), ("a", 0.5), ("c", 0.9), ("e", -0.0),
      ("f", 0.0)).toDF("id", "dense_score")
    val sparse = Seq(("c", 2.0), ("d", 2.0), ("a", 1.0), ("Z", 1.0))
      .toDF("id", "bm25_score")
    for (cfg <- Seq(HybridSearch.Config(k = 3), HybridSearch.Config(k = 10),
        HybridSearch.Config(k = 10, rrfScoreThreshold = 1.0 / 61 + 1.0 / 64))) {
      val got = HybridSearch.rrfFuse(dense, sparse, cfg)
      val ref = refFuse(dense, sparse, cfg)
      assert(got.schema == ref.schema)
      assert(got.collect().toSeq == ref.collect().toSeq, s"$cfg")
    }
  }

  // 48 docs over a small vocabulary: "scan"/"filter"/"join" are common,
  // "rare" sits in short and long docs (so block bounds bind), and the
  // dense vectors spread over the text
  private lazy val routed = {
    val docs = (0 until 48).map { i =>
      val pad = if (i % 8 == 4) "join " * 120 else "join "
      val rare = if (i % 8 == 0 || i % 8 == 4) "rare " else ""
      val scan = if (i % 3 == 0) "scan scan " else if (i % 3 == 1) "scan " else ""
      val filter = if (i % 4 < 2) "filter " else ""
      (s"r$i", s"$rare$scan$filter${pad}topic${i % 6} f$i")
    }.toDF("id", "chunk_text")
      .withColumn("dense_vec", GraftFunctions.embedText($"chunk_text"))
      .withColumn("tokens", GraftFunctions.bm25Tokenize($"chunk_text"))
    docs.persist()
  }

  test("search == the one-plan reference (unpruned BM25, window RRF, " +
      "left-join hydrate) on every sparse route and the Exact and Ivf " +
      "dense tiers, full rows and schema") {
    val W = graft.index.IndexWriter
    val st = W.docFrequencies(routed)
    val nn = routed.count()
    val al = routed.select(avg(size($"tokens"))).head().getDouble(0)
    val p = W.postings(routed)
    val blocks = W.blockBounds(p, nBlocks = 8)
    val routes = Seq(
      "scan" -> HybridSearch.Config(),
      "postings" -> HybridSearch.Config(postings = Some(p)),
      "maxscore" -> HybridSearch.Config(postings = Some(p),
        termBounds = Some(W.termBounds(p))),
      "blockmax" -> HybridSearch.Config(postings = Some(p),
        blockBounds = Some(blocks), nBlocks = 8),
      // "rare" lags in `blocks`: sentinel ub6, admitted unconditionally
      "blockmax-lagged" -> HybridSearch.Config(postings = Some(p),
        blockBounds = Some(blocks.filter($"term" =!= "rare")), nBlocks = 8))
    val ivf = new graft.ops.Similarity.IvfIndex(routed, nCentroids = 3,
      vecCol = "dense_vec", idCol = "id")
    val tiers = Seq[HybridSearch.Dense](HybridSearch.Dense.Exact,
      HybridSearch.Dense.Ivf(ivf, nProbe = 1))
    val ceiling = 2.0 / 61
    // (query, k, threshold): empty, unknown-only, duplicated terms, the
    // 2/61 ceiling, k above both prefetch lists, the lagging term
    val cases = Seq(("", 3, 0.0), ("zzunknown qqabsent", 3, 0.0),
      ("scan scan filter", 3, 0.0), ("scan filter", 3, ceiling),
      ("rare topic1", 60, 0.0), ("rare join", 4, 0.0))
    def rows(df: DataFrame) =
      df.select((fusedCols :+ "chunk_text").map(col): _*).collect().toSeq
    for ((route, base) <- routes; dense <- tiers; (q, k, th) <- cases) {
      val cfg = base.copy(k = k, rrfScoreThreshold = th)
      val got = HybridSearch.search(routed, st, nn, al, q, cfg, dense = dense)
      val ref = refSearch(routed, st, nn, al, q, cfg, dense)
      val what = s"$route / $dense / '$q' k=$k threshold=$th"
      assert(got.schema == ref.schema, what)
      val (g, r) = (rows(got), rows(ref))
      assert(g == r, what)
      if (q == "rare topic1") assert(g.size > 5 && g.size < k, what)
    }
  }

  test("rrf fusion: doc present in both branches outscores single-branch docs") {
    val dense = Seq(("a", 0.9), ("b", 0.8)).toDF("id", "dense_score")
    val sparse = Seq(("a", 5.0), ("c", 4.0)).toDF("id", "bm25_score")
    val fused = HybridSearch.rrfFuse(dense, sparse, HybridSearch.Config(k = 3))
      .select("id", "rrf_score").as[(String, Double)].collect()
    assert(fused.head._1 == "a")
    assert(math.abs(fused.head._2 - (1.0 / 61 + 1.0 / 61)) < 1e-12)
  }
}

class IndexWriterSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import graft.index.IndexWriter

  test("upsert is idempotent on deterministic ids; audit is clean") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx").toString + "/t"
    val pts = Seq(("a", "x", Seq("t1")), ("b", "y", Seq("t2")))
      .toDF("id", "payload", "tokens")
    val n1 = IndexWriter.upsert(spark, pts, tmp)
    val n2 = IndexWriter.upsert(spark, pts, tmp)
    assert(n1 == 2 && n2 == 2)
    assert(IndexWriter.duplicateAudit(spark.read.parquet(tmp)).isEmpty)
  }

  test("upsert: new generation wins on conflicting id") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx2").toString + "/t"
    val v1 = Seq(("a", "old", Seq("t"))).toDF("id", "payload", "tokens")
    val v2 = Seq(("a", "new", Seq("t"))).toDF("id", "payload", "tokens")
    IndexWriter.upsert(spark, v1, tmp)
    IndexWriter.upsert(spark, v2, tmp)
    val got = spark.read.parquet(tmp).select("payload").as[String].head()
    assert(got == "new")
  }

  test("upsertPartitioned rewrites only the buckets the batch touches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx3").toString + "/t"
    val seed = (1 to 200).map(i => (s"id_$i", s"v$i")).toDF("id", "payload")
    val n1 = IndexWriter.upsertPartitioned(spark, seed, tmp, buckets = 16)
    assert(n1 == 200)
    // snapshot every data file's (path, mtime) before the second batch
    def files(): Map[String, Long] = {
      val root = new java.io.File(tmp)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    // one-row batch: touches exactly one bucket
    val batch = Seq(("id_1", "v1_updated")).toDF("id", "payload")
    val n2 = IndexWriter.upsertPartitioned(spark, batch, tmp, buckets = 16)
    assert(n2 == 200, "update of an existing id must not change the row count")
    val after = files()
    val untouchedBefore = before.filterNot(_._1.contains(bucketDirOf("id_1", 16)))
    untouchedBefore.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"untouched partition file rewritten: $p")
    }
    val got = spark.read.parquet(tmp).filter($"id" === "id_1")
      .select("payload").as[String].head()
    assert(got == "v1_updated")
  }

  private def bucketDirOf(id: String, buckets: Int): String = {
    val h = spark.range(1).select(
      pmod(xxhash64(lit(id)), lit(buckets.toLong))).head().getLong(0)
    s"bucket=$h"
  }

  test("docFrequencies counts documents containing the term, not occurrences") {
    val pts = Seq(("a", Seq("x", "x", "y")), ("b", Seq("x"))).toDF("id", "tokens")
    val df = IndexWriter.docFrequencies(pts).as[(String, Long)].collect().toMap
    assert(df("x") == 2 && df("y") == 1)
  }

  test("mergeDocFrequencies(batch stats) equals full-corpus recompute") {
    val a = Seq(("a", Seq("x", "y")), ("b", Seq("x"))).toDF("id", "tokens")
    val b = Seq(("c", Seq("y", "z"))).toDF("id", "tokens")
    val merged = IndexWriter.mergeDocFrequencies(
        IndexWriter.docFrequencies(a), IndexWriter.docFrequencies(b))
      .as[(String, Long)].collect().toMap
    val full = IndexWriter.docFrequencies(a.unionByName(b))
      .as[(String, Long)].collect().toMap
    assert(merged == full && merged == Map("x" -> 2L, "y" -> 2L, "z" -> 1L))
  }

  test("prfExpansion: feedback only from matching docs, query terms " +
      "excluded, tf-weighted by the doc score, non-matching doc's " +
      "vocabulary invisible, guards") {
    val docs = Seq(
      (1L, Seq("scan", "x", "x", "y")),
      (2L, Seq("nomatch", "z"))).toDF("id", "tokens")
    val stats = graft.index.IndexWriter.docFrequencies(docs)
    val got = graft.search.HybridSearch.prfExpansion(docs, stats, 2L,
        3.0, Seq("scan"), fb = 5, topTerms = 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq("x", "y"),
      s"z (non-matching doc) must be invisible: $got")
    assert(got(0)._3 == 2 * got(1)._3,
      s"x occurs twice in the one feedback doc: $got")
    assert(got.forall(_._2 == 1L), s"df_fb within feedback set: $got")
    intercept[IllegalArgumentException] {
      graft.search.HybridSearch.prfExpansion(docs, stats, 2L, 3.0,
        Seq("scan"), fb = 0)
    }
  }
}
