package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.embed.{Embedder, HashingEmbedder}
import graft.functions.DriverEval.before
import graft.functions.GraftFunctions._
import graft.text.Bm25

/** T1-T3 / J4 / A5 — hybrid (dense + BM25) top-k with RRF fusion.
  *
  * The reference issues one Qdrant `query_points` call with two prefetch
  * branches (dense cosine, sparse BM25, each `limit = 5×k`) fused by
  * Reciprocal-Rank-Fusion and post-filtered by `score_threshold`
  * (`/root/reference/chatbot/app.py:110-191`). Here both branches are
  * Spark plans over the index table:
  *
  *  - dense: codegen'd [[graft.functions.CosineSimilarity]] scan +
  *    `orderBy(desc).limit(n)` — Catalyst plans `TakeOrderedAndProject`,
  *    a per-partition top-n + driver merge, NO global sort/shuffle, so
  *    it scales linearly with executors.
  *  - sparse: query terms are a handful of literals, so the token
  *    explode is filtered to them *before* any aggregation. On the
  *    pruned routes the terms' bounds and doc frequencies arrive in one
  *    driver read and enter the plan as literals; the unpruned routes
  *    broadcast-join the stats (dimension side is tiny).
  *  - fusion: both ranked branch results (each ≤ 5k rows — driver
  *    scale) are collected in one action and fused on the driver, RRF
  *    `Σ 1/(rrfK + rank)` with the doubles the Spark expression
  *    computes; the top-k hydrate by an id literal list into a
  *    materialized local result.
  *
  * RRF constant k=60 (the published default the reference inherits
  * server-side) is explicit config here so results are self-contained.
  */
object HybridSearch {

  /** @param rrfScoreThreshold applied to the RRF-fused score, which is
    *   bounded by 2/(rrfK+1) ≈ 0.033 — deliberately NOT named like the
    *   reference's `score_threshold` (default 0.4), which applies to
    *   store-native fused scores; porting that value here would silently
    *   return zero results, so the ceiling is validated.
    * @param postings when supplied (an
    *   [[graft.index.IndexWriter.postings]] table — term, id, tf, dl),
    *   every sparse branch in this object routes through
    *   [[bm25TopKPostings]]: the query's terms join the postings table
    *   and the chunk index's token arrays are NEVER scanned — the
    *   serving posture, where per-request sparse cost is proportional
    *   to the matched postings, not the corpus. `None` keeps the
    *   scan-path (correct for one-shot/oracle plans that would pay the
    *   postings build anyway). Scores are identical either way
    *   (HybridSearchSpec asserts bit-equality; q356 oracles it).
    * @param termBounds when supplied TOGETHER with `postings` (an
    *   [[graft.index.IndexWriter.termBounds]] table — term, max_tf,
    *   min_dl), the sparse branch routes through [[bm25TopKMaxScore]]:
    *   candidate generation enumerates only the ESSENTIAL terms'
    *   postings (Turtle & Flood's MaxScore), so a query mixing one rare
    *   term with stopword-frequency terms never materializes the
    *   stopwords' corpus-sized posting lists as candidates. Results
    *   stay EXACTLY [[bm25TopKPostings]]'s (the pruning bound is
    *   conservative in u6 fixed point — HybridSearchSpec asserts
    *   bit-equality, q367 oracles the pruning replay).
    * @param blockBounds when supplied TOGETHER with `postings` (an
    *   [[graft.index.IndexWriter.blockBounds]] table, built with
    *   `nBlocks`), the sparse branch routes through
    *   [[bm25TopKBlockMax]] — the block-max refinement over MaxScore
    *   (term bounds derive from the block table, so supplying this
    *   alone enables both tiers). Results identical to every other
    *   sparse route. */
  final case class Config(
      k: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      prefetchMultiplier: Int = 5,  // config.yml:60
      rrfK: Int = 60,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None,
      nBlocks: Int = 64) {
    require(rrfScoreThreshold <= 2.0 / (rrfK + 1),
      s"rrfScoreThreshold=$rrfScoreThreshold exceeds the maximum possible " +
        s"RRF score 2/(rrfK+1)=${2.0 / (rrfK + 1)}: every result would be " +
        "filtered. The reference's score_threshold (default 0.4) applies to " +
        "store-native scores, not RRF — do not port it verbatim.")
  }

  /** T2 — dense branch: exact cosine top-n (TakeOrderedAndProject). */
  def denseTopK(index: DataFrame, queryVec: Array[Float], n: Int,
      idCol: String = "id", vecCol: String = "dense_vec"): DataFrame =
    index
      // rounded to 6dp before ranking: fp-accumulation-order independent
      .withColumn("dense_score", round(vecCosine(col(vecCol), typedlit(queryVec)), 6))
      .orderBy(desc("dense_score"), col(idCol))
      .limit(n)
      .select(col(idCol), col("dense_score"))

  /** T3 — sparse branch: BM25 top-n against pre-computed doc frequencies.
    *
    * @param docStats (term, df) table from [[graft.index.IndexWriter.docFrequencies]]
    * @param corpusSize total docs N; avgDocLen mean token count
    */
  def bm25TopK(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, queryTerms: Seq[String], n: Int,
      idCol: String = "id", tokensCol: String = "tokens"): DataFrame = {
    val terms = queryTerms.distinct
    // empty branch derives its schema from the INPUT so the id type
    // always matches the caller's index (a lit("") id would diverge
    // for non-string ids — same hazard fixed at phraseMatches :840)
    if (terms.isEmpty) return index
      // null-typed literal: the non-empty branch's sum() is nullable,
      // so the empty frame must be too for schema equality
      .select(col(idCol), lit(null).cast("double").as("bm25_score")).limit(0)
    index
      .select(col(idCol), size(col(tokensCol)).as("dl"),
        explode(col(tokensCol)).as("term"))
      .filter(col("term").isin(terms: _*))     // prune before the shuffle
      .groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .join(broadcast(docStats.filter(col("term").isin(terms: _*))), Seq("term"))
      .withColumn("term_score", termScoreCol(corpusSize, avgDocLen,
        col("tf"), col("dl"), col("df")))
      .groupBy(col(idCol))
      .agg(round(sum("term_score"), 6).as("bm25_score"))
      .orderBy(desc("bm25_score"), col(idCol))
      .limit(n)
  }

  /** T3 SERVED FROM THE INVERTED INDEX — [[bm25TopK]] semantics with
    * per-request work proportional to the MATCHED POSTINGS, not the
    * corpus: the query's few terms filter the (term, id, tf, dl)
    * postings table (at scale term-partitioned/bucketed, so the filter
    * is partition pruning), doc-frequency stats broadcast, and the same
    * BM25 arithmetic runs over rows that already carry tf and dl — no
    * token-array explode, no corpus scan, no per-document aggregation
    * (tf was aggregated once at index-build time). Scores equal
    * [[bm25TopK]] bit-for-bit: identical expressions over identical
    * (tf, dl, df) values, same 6dp rounding. */
  def bm25TopKPostings(postings: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, queryTerms: Seq[String], n: Int,
      idCol: String = "id"): DataFrame = {
    val terms = queryTerms.distinct
    // schema from the postings frame, not lit("") — see bm25TopK
    if (terms.isEmpty) return postings
      .select(col("id").as(idCol),
        lit(null).cast("double").as("bm25_score")).limit(0)
    postings
      .filter(col("term").isin(terms: _*))     // partition-prunable at scale
      .select(col("term"), col("id").as(idCol), col("tf"), col("dl"))
      .join(broadcast(docStats.filter(col("term").isin(terms: _*))), Seq("term"))
      .withColumn("term_score", termScoreCol(corpusSize, avgDocLen,
        col("tf"), col("dl"), col("df")))
      .groupBy(col(idCol))
      .agg(round(sum("term_score"), 6).as("bm25_score"))
      .orderBy(desc("bm25_score"), col(idCol))
      .limit(n)
  }

  /** The BM25 term-score expression shared by every sparse path —
    * identical arithmetic everywhere is what makes the pruned/postings/
    * scan variants bit-equal. */
  private def termScoreCol(corpusSize: Long, avgDocLen: Double,
      tf: Column, dl: Column, df: Column): Column =
    log(lit(1.0) + (lit(corpusSize.toDouble) - df + 0.5) / (df + 0.5)) *
      tf * lit(Bm25.k1 + 1.0) /
      (tf + lit(Bm25.k1) * (lit(1.0 - Bm25.b) + lit(Bm25.b) * dl / lit(avgDocLen)))

  /** The MaxScore pruning decision, exposed so audits/oracles can
    * replay it: which query terms are ESSENTIAL — i.e. must have their
    * postings enumerated as candidates — for an exact top-n.
    *
    * All bound arithmetic is u6 fixed point (micro-units, the house
    * rounding convention) so any engine reproduces the identical
    * decision:
    *
    *  - `ub6(t) = round(idf(t) · tfnorm(max_tf, min_dl) · 10⁶) + 1` — a
    *    STRICT upper bound on every true term score ×10⁶ (tfnorm is
    *    monotone up in tf, down in dl; the +1 absorbs the rounding
    *    half-ulp).
    *  - `θ6 = (n-th largest round(score(tθ, d) · 10⁶)) − 1` over the
    *    single highest-ub term tθ's postings (tie on term name asc) — a
    *    STRICT lower bound on the true k-th best full score ×10⁶ (those
    *    n docs' full scores each dominate their tθ term score; the −1
    *    absorbs the half-ulp). Fewer than n matches → θ6 = −1 (no
    *    pruning; ub6 ≥ 1 > 0 keeps every term essential).
    *  - non-essential = the maximal prefix of terms sorted (ub6 asc,
    *    term asc) whose running ub6 sum stays < θ6: a doc matching only
    *    those terms scores strictly under θ6 even after the final 6dp
    *    round, so it can neither enter the top-n nor tie its boundary.
    *
    * tθ itself is always essential (its ub6 ≥ any single-term score +1
    * > θ6). A query term present in the corpus stats but ABSENT from
    * `termBounds` (add-side bounds lag: bounds built before a postings
    * merge landed, or a crashed stream batch) has NO valid upper bound
    * — it is reported unconditionally essential with the sentinel ub6
    * Long.MaxValue (and never joins the running sum), so stale-add
    * bounds degrade to LESS pruning, never to silently dropped
    * documents. Driver-side cost is two reads: the query terms' bound
    * and stats rows in one union scan, and one n-row top list over ONE
    * term's postings — request-scale, never corpus-scale. */
  def maxScorePrune(postings: DataFrame, docStats: DataFrame,
      termBounds: DataFrame, corpusSize: Long, avgDocLen: Double,
      queryTerms: Seq[String], n: Int): (Long, Seq[(String, Long, Boolean)]) = {
    val p = prune(postings, docStats, termBounds.withColumn("block", lit(0L)),
      corpusSize, avgDocLen, queryTerms.distinct, n)
    (p.theta6, p.flags)
  }

  /** `round(termScore(max_tf, min_dl, df) · 10⁶) + 1` — the u6 upper
    * bound of a (term or block) bound row, shared by the single-query
    * and batched pruning decisions. */
  private def ub6Col(corpusSize: Long, avgDocLen: Double): Column =
    round(termScoreCol(corpusSize, avgDocLen,
      col("max_tf").cast("double"), col("min_dl").cast("double"),
      col("df")) * 1000000, 0).cast("long") + lit(1L)

  /** A pruning decision ([[blockMaxPrune]]) with the query terms' df,
    * which the scoring plan takes as a literal. `surviving` holds
    * (term, block, ub6b) of the essential terms' blocks that can still
    * admit a top-n document. */
  private final case class Pruning(theta6: Long,
      flags: Seq[(String, Long, Boolean)],
      surviving: Seq[(String, Long, Long)], df: Map[String, Double])

  /** The block-max pruning decision in two driver reads.
    *
    *  1. One union scan, no join, of the query terms' `blocks` rows and
    *     their `docStats` rows. The term bounds (max of max_tf, min of
    *     min_dl over a term's blocks — [[graft.index.IndexWriter
    *     .termBoundsFromBlocks]]), the df, the unbounded terms and the
    *     θ-term all derive from these rows on the driver. ub6 and ub6b
    *     are [[ub6Col]] evaluated over a local relation of the collected
    *     rows; Catalyst folds that projection, so it runs no job.
    *  2. The θ-term's top-n postings scores, its df a literal.
    *
    * A term with bound rows but no df cannot score and drops out; a
    * term with df but no bound rows is unbounded. */
  private def prune(postings: DataFrame, docStats: DataFrame,
      blocks: DataFrame, corpusSize: Long, avgDocLen: Double,
      terms: Seq[String], n: Int): Pruning = {
    val spark = postings.sparkSession
    import spark.implicits._
    def ofTerms(t: DataFrame) = t.filter(col("term").isin(terms: _*))
    val none = lit(null).cast("long")
    val rows = ofTerms(blocks).select(col("term"), col("block").cast("long"),
        col("max_tf").cast("long"), col("min_dl").cast("long"),
        lit(null).cast("double"))
      .union(ofTerms(docStats).select(col("term"), none, none, none,
        col("df").cast("double")))
      .collect()
    val df = rows.filterNot(_.isNullAt(4))
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    // bound rows of terms the stats know, per block and per term (max
    // of max_tf, min of min_dl over its blocks — termBoundsFromBlocks)
    val blockRows = rows.collect { case r if df.contains(r.getString(0)) &&
        r.isNullAt(4) =>
      (r.getString(0), Option(r.getLong(1)), r.getLong(2), r.getLong(3)) }
    val termRows = blockRows.groupBy(_._1).map { case (t, bs) =>
      (t, Option.empty[Long], bs.map(_._3).max, bs.map(_._4).min) }
    val ubRows = (termRows ++ blockRows).toSeq
      .map { case (t, b, tf, dl) => (t, b, tf, dl, df(t)) }
      .toDF("term", "block", "max_tf", "min_dl", "df")
      .select(col("term"), col("block"), ub6Col(corpusSize, avgDocLen))
      .as[(String, Option[Long], Long)].collect()
    val ubs = ubRows.collect { case (t, None, u) => (t, u) }
      .sortBy { case (t, u) => (u, t) }
    // terms the corpus KNOWS (df exists → postings may exist) but the
    // bounds table doesn't: no valid upper bound → forced essential
    val unbounded = df.keys.toSeq.filterNot(ubs.map(_._1).toSet).sorted
      .map(t => (t, Long.MaxValue, true))
    if (ubs.isEmpty) return Pruning(-1L, unbounded, Nil, df)
    val thetaTerm = ubs.sortBy { case (t, u) => (-u, t) }.head._1
    val topTheta = postings.filter(col("term") === thetaTerm)
      .select((round(termScoreCol(corpusSize, avgDocLen,
          col("tf").cast("double"), col("dl").cast("double"),
          lit(df(thetaTerm))) * 1000000, 0).cast("long"))
        .as("s6"), col("id"))
      .orderBy(desc("s6"), col("id"))
      .limit(n)
      .collect().map(_.getLong(0))
    val theta6 = if (topTheta.length < n) -1L else topTheta.last - 1L
    // the running sum is strictly increasing (ub6 ≥ 1), so the
    // non-essential flags form a prefix by construction; tθ's own ub6
    // exceeds θ6, so tθ is always essential
    var run = 0L
    val flags = ubs.map { case (t, u) =>
      run += u
      (t, u, run >= theta6)
    }
    // Block survival (see [[blockMaxPrune]]): ub6b plus the other
    // bounded terms' ub6 must reach θ6. The unbounded terms' sentinel
    // stays OUT of this remainder — summing it overflows Long and would
    // prune every bounded block; a top-n doc holding an unbounded term
    // is admitted through that term's postings instead.
    val ub = ubs.toMap
    val totalUb = ubs.map(_._2).sum
    val essential = flags.collect { case (t, _, true) => t }.toSet
    val surviving = ubRows.collect { case (t, Some(b), u)
        if essential(t) && u + (totalUb - ub(t)) >= theta6 => (t, b, u) }
      .sortBy { case (t, b, _) => (t, b) }
    Pruning(theta6, flags.toSeq ++ unbounded, surviving.toSeq, df)
  }

  /** [[bm25TopKPostings]] results with MAXSCORE candidate pruning
    * (Turtle & Flood 1995): only the essential terms' postings
    * generate candidate documents; non-essential (stopword-grade)
    * terms are consulted solely to complete the scores of docs already
    * admitted — a keyed semi-join lookup, never an enumeration. At
    * 100 TB the difference is a query like "the supreme court of
    * nunavut" never materializing "the"/"of"'s corpus-sized posting
    * lists as candidates while still scoring them for the handful of
    * docs the rare terms admit. Output is EXACTLY [[bm25TopKPostings]]
    * — the u6 bounds in [[maxScorePrune]] are conservative, so no
    * true top-n doc (or boundary tie) is ever pruned.
    *
    * MaxScore is [[bm25TopKBlockMax]] with ONE block per term: the
    * block bound equals the term bound, so an essential term's block
    * survives iff `ub6 + (totalUb − ub6) = totalUb ≥ θ6`, which its
    * essential flag already guarantees — the candidate set is exactly
    * the essential terms' postings. */
  def bm25TopKMaxScore(postings: DataFrame, docStats: DataFrame,
      termBounds: DataFrame, corpusSize: Long, avgDocLen: Double,
      queryTerms: Seq[String], n: Int, idCol: String = "id"): DataFrame =
    bm25TopKBlockMax(postings, docStats,
      termBounds.withColumn("block", lit(0L)), corpusSize, avgDocLen,
      queryTerms, n, nBlocks = 1, idCol = idCol)

  /** The exact-scoring epilogue every pruned sparse path ends with:
    * full BM25 over all query terms the stats know, restricted to the
    * admitted candidate ids, top-n. The df enters as a literal map, so
    * the plan reads only postings. (A left-semi join is set-valued, so
    * a candidate admitted by two terms needs no `distinct`.) */
  private def scoreCandidates(postings: DataFrame, df: Map[String, Double],
      corpusSize: Long, avgDocLen: Double, candidates: DataFrame, n: Int,
      idCol: String): DataFrame =
    postings
      .filter(col("term").isin(df.keys.toSeq.sorted: _*))
      .join(candidates, Seq("id"), "left_semi")
      .select(col("term"), col("id").as(idCol), col("tf"), col("dl"))
      .withColumn("term_score", termScoreCol(corpusSize, avgDocLen,
        col("tf"), col("dl"), element_at(typedlit(df), col("term"))))
      .groupBy(col(idCol))
      .agg(round(sum("term_score"), 6).as("bm25_score"))
      .orderBy(desc("bm25_score"), col(idCol))
      .limit(n)

  /** BLOCK-MAX pruning (Ding & Suel's BMW, relationally) — the block
    * refinement of [[maxScorePrune]]: even an ESSENTIAL term's
    * postings skip whole hash blocks whose block-level bound cannot
    * lift any resident into the top-n. Soundness, all in the same u6
    * fixed point: a true top-n doc d has score·10⁶ ≥ θ6 and, for every
    * query term t it contains, score(d)·10⁶ < ub6(t, block_t(d)) +
    * Σ_{t'≠t} ub6(t') — so if that bound sits under θ6 the (t, block)
    * pair can admit no top-n doc through t, and if ALL of d's essential
    * (t, block) pairs are pruned the chain of inequalities puts
    * score(d) under θ6, a contradiction. Blocks therefore survive iff
    * `ub6(t, b) + (totalUb − ub6(t)) ≥ θ6`. Block bounds never exceed
    * their term bound (max/min compose monotonically), so this only
    * tightens [[bm25TopKMaxScore]]'s candidate set; results stay
    * EXACT.
    *
    * Add-side bound lag: a term the stats know but `blocks` doesn't
    * carries the Long.MaxValue sentinel ub6 and stays out of totalUb.
    * The bounded-only remainder stays sound: a top-n doc containing the
    * lagged term is admitted unconditionally through its postings in
    * [[bm25TopKBlockMax]], and one that doesn't contain it satisfies
    * the pruning chain over bounded terms alone, whose true remainder
    * the bounded-only sum still over-estimates.
    *
    * Returns (θ6, term flags as in [[maxScorePrune]], the surviving
    * (term, block, ub6b) rows of essential terms as a local frame). */
  def blockMaxPrune(postings: DataFrame, docStats: DataFrame,
      blocks: DataFrame, corpusSize: Long, avgDocLen: Double,
      queryTerms: Seq[String], n: Int)
      : (Long, Seq[(String, Long, Boolean)], DataFrame) = {
    val spark = postings.sparkSession
    import spark.implicits._
    val p = prune(postings, docStats, blocks, corpusSize, avgDocLen,
      queryTerms.distinct, n)
    (p.theta6, p.flags, p.surviving.toDF("term", "block", "ub6b"))
  }

  /** [[bm25TopKMaxScore]] with BLOCK-MAX candidate generation: only
    * surviving (term, block) pairs of essential terms admit candidates
    * — with postings persisted bucketed by (term_bucket, block) the
    * skip is physical partition pruning, the score-aware analog of
    * row-group min/max. The pairs enter the plan as literals
    * (`term = t AND block IN (…)`). Results are EXACTLY
    * [[bm25TopKPostings]]'s (q373 oracles the replay; HybridSearchSpec
    * asserts equality).
    *
    * @param nBlocks MUST equal the value `blocks` was built with
    *   ([[graft.index.IndexWriter.blockBounds]]) — the candidate pass
    *   re-derives each posting's block with the same
    *   [[graft.index.IndexWriter.blockOf]]; a mismatch would mis-route
    *   postings past their surviving blocks. */
  def bm25TopKBlockMax(postings: DataFrame, docStats: DataFrame,
      blocks: DataFrame, corpusSize: Long, avgDocLen: Double,
      queryTerms: Seq[String], n: Int, nBlocks: Int = 64,
      idCol: String = "id"): DataFrame = {
    val p = prune(postings, docStats, blocks, corpusSize, avgDocLen,
      queryTerms.distinct, n)
    // A term lagging behind `blocks` (sentinel ub6) has no block rows;
    // its postings admit candidates UNCONDITIONALLY — the block
    // refinement degrades to MaxScore for that term, never to missing
    // documents.
    val block = graft.index.IndexWriter.blockOf("id", nBlocks)
    val viaBlocks = p.surviving.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, bs) => col("term") === t && block.isin(bs.map(_._2): _*) }
    val unbounded = p.flags.collect { case (t, u, true) if u == Long.MaxValue => t }
    val admits = (viaBlocks :+ col("term").isin(unbounded: _*)).reduce(_ || _)
    scoreCandidates(postings, p.df, corpusSize, avgDocLen,
      postings.filter(admits).select(col("id")), n, idCol)
  }

  /** BATCHED [[maxScorePrune]] — the pruning decision for a whole
    * query TABLE in one plan, no driver loop: per-(query, term) upper
    * bounds from broadcast stats joins, each query's θ-term by a
    * per-query rank window, every θ-term's postings scored in ONE
    * term-keyed lookup (the θ-terms broadcast — query-vocabulary
    * scale), per-query θ via [[graft.plans.TopK]] bounded heaps, and
    * the essential flags via a per-query cumulative-sum window over
    * the handful of (query, term) rows. Identical u6 arithmetic to
    * the single-query form, so per-query decisions match it exactly —
    * including the stale-add-bounds rule: a (query, term) whose term
    * the stats know but `termBounds` doesn't carries a NULL ub6, never
    * joins the running sum, and is unconditionally essential.
    *
    * @param qTerms distinct (query_id, term) rows
    * @return (query_id, term, ub6, theta6, essential) */
  def maxScorePruneAll(postings: DataFrame, docStats: DataFrame,
      termBounds: DataFrame, corpusSize: Long, avgDocLen: Double,
      qTerms: DataFrame, n: Int): DataFrame = {
    val allTerms = qTerms.select("term").distinct()
    val stats = broadcast(docStats
      .join(broadcast(allTerms), Seq("term"), "left_semi"))
    val ub = qTerms
      .join(stats, Seq("term"))
      .join(broadcast(termBounds
        .join(broadcast(allTerms), Seq("term"), "left_semi")), Seq("term"),
        "left")
      .withColumn("ub6",
        when(col("max_tf").isNull, lit(null).cast("long"))
          .otherwise(ub6Col(corpusSize, avgDocLen)))
      .select("query_id", "term", "ub6")
    val wTheta = Window.partitionBy("query_id").orderBy(desc("ub6"), col("term"))
    val thetaTerms = ub.withColumn("__rn", row_number().over(wTheta))
      .filter(col("__rn") === 1).select("query_id", "term")
    val thetaScores = postings
      .join(broadcast(thetaTerms), Seq("term"))
      .join(stats, Seq("term"))
      .withColumn("s6",
        round(termScoreCol(corpusSize, avgDocLen,
          col("tf").cast("double"), col("dl").cast("double"),
          col("df")) * 1000000, 0).cast("long"))
      .select("query_id", "id", "s6")
    val thetas = graft.plans.TopK.perKey(thetaScores, Seq("query_id"),
        Seq(("s6", false), ("id", true)), n)
      .groupBy("query_id")
      .agg(count(lit(1)).as("__c"), min("s6").as("__m"))
      .select(col("query_id"),
        when(col("__c") < n, lit(-1L)).otherwise(col("__m") - 1)
          .as("theta6"))
    val wCum = Window.partitionBy("query_id")
      .orderBy(col("ub6"), col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // sum() skips NULL ub6 rows, so unbounded terms never inflate the
    // running bound of the known terms behind them; they are forced
    // essential outright
    ub.withColumn("__run", sum("ub6").over(wCum))
      .join(broadcast(thetas), Seq("query_id"), "left")
      .select(col("query_id"), col("term"), col("ub6"),
        coalesce(col("theta6"), lit(-1L)).as("theta6"),
        (col("ub6").isNull || coalesce(col("__run"), lit(0L)) >=
          coalesce(col("theta6"), lit(-1L))).as("essential"))
  }

  /** BATCHED [[bm25TopKMaxScore]]: exact per-query top-n for a whole
    * query table with MaxScore-pruned candidate generation, in ONE
    * plan. Candidates come only from essential (query, term) postings;
    * the full-scoring pass first semi-joins postings down to the UNION
    * of candidate docs (so non-candidate corpus rows leave the plan
    * before the per-query fan-out), then restricts per (query_id, id).
    * Per-query results equal [[bm25TopKMaxScore]] for the same terms —
    * and therefore equal the unpruned batched branch bit-for-bit
    * (HybridSearchSpec asserts both; q369 oracles the batch). */
  def bm25TopKMaxScoreAll(postings: DataFrame, docStats: DataFrame,
      termBounds: DataFrame, corpusSize: Long, avgDocLen: Double,
      qTerms: DataFrame, n: Int): DataFrame = {
    val flags = maxScorePruneAll(postings, docStats, termBounds,
      corpusSize, avgDocLen, qTerms, n)
    val essential = flags.filter(col("essential"))
      .select("query_id", "term")
    val candidates = postings
      .join(broadcast(essential), Seq("term"))
      .select("query_id", "id").distinct()
    val allTerms = qTerms.select("term").distinct()
    val stats = broadcast(docStats
      .join(broadcast(allTerms), Seq("term"), "left_semi"))
    val scored = postings
      .join(candidates.select("id").distinct(), Seq("id"), "left_semi")
      .join(broadcast(qTerms), Seq("term"))
      .join(stats, Seq("term"))
      .withColumn("term_score",
        termScoreCol(corpusSize, avgDocLen,
          col("tf").cast("double"), col("dl").cast("double"), col("df")))
      .join(candidates, Seq("query_id", "id"), "left_semi")
      .groupBy("query_id", "id")
      .agg(round(sum("term_score"), 6).as("bm25_score"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(("bm25_score", false), ("id", true)), n)
  }

  /** The sparse-branch ROUTER every single-query entry point uses:
    * block-max when [[Config.postings]] AND [[Config.blockBounds]] are
    * supplied, MaxScore with postings + [[Config.termBounds]],
    * postings-backed with postings alone, token-scan otherwise. All
    * four produce identical scores. */
  private def sparseTopK(index: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, queryTerms: Seq[String], n: Int,
      cfg: Config): DataFrame =
    (cfg.postings, cfg.blockBounds, cfg.termBounds) match {
      case (Some(p), Some(bb), _) =>
        bm25TopKBlockMax(p, docStats, bb, corpusSize, avgDocLen,
          queryTerms, n, cfg.nBlocks)
      case (Some(p), None, Some(tb)) =>
        bm25TopKMaxScore(p, docStats, tb, corpusSize, avgDocLen, queryTerms, n)
      case (Some(p), None, None) =>
        bm25TopKPostings(p, docStats, corpusSize, avgDocLen, queryTerms, n)
      case _ =>
        bm25TopK(index, docStats, corpusSize, avgDocLen, queryTerms, n)
    }

  /** J4 + A5 + T1 — RRF fusion of the two ranked branches, threshold,
    * final top-k, on the driver. Both branches (≤ prefetch rows each)
    * arrive in ONE tagged `unionByName` collect; each is ranked by
    * (score desc, id asc) in Spark's sort order, and an id's RRF score
    * is `1.0 / (rrfK + dense_rank) + 1.0 / (rrfK + bm25_rank)` with a
    * missing branch adding 0.0 — the doubles the window + full-outer
    * join form computed, summed dense-then-sparse in the same order.
    * Each branch holds an id at most once (a top-n list over unique
    * index ids). Returns a local frame (id, dense_score, dense_rank,
    * bm25_score, bm25_rank, rrf_score) ordered (rrf_score desc, id). */
  def rrfFuse(dense: DataFrame, sparse: DataFrame, cfg: Config,
      idCol: String = "id"): DataFrame = {
    def tagged(df: DataFrame, score: String, tag: Int) = df.select(
      lit(tag).as("__branch"), col(idCol), col(score).cast("double").as("__score"))
    val both = tagged(dense, "dense_score", 0)
      .unionByName(tagged(sparse, "bm25_score", 1))
    val rows = both.collect()
    def ranks(tag: Int): Map[Any, (Any, Int)] = rows.filter(_.getInt(0) == tag)
      .sortWith((x, y) => before(x.get(2), x.get(1), y.get(2), y.get(1)))
      .zipWithIndex.map { case (r, i) => r.get(1) -> (r.get(2), i + 1) }.toMap
    val (d, s) = (ranks(0), ranks(1))
    // (score, rank, RRF term) of one branch; a missing branch adds 0.0
    def part(branch: Map[Any, (Any, Int)], id: Any): (Any, Any, Double) =
      branch.get(id).fold[(Any, Any, Double)]((null, null, 0.0)) {
        case (score, r) => (score, r, 1.0 / (cfg.rrfK + r)) }
    val fused = rows.map(_.get(1)).distinct.map { id =>
      val ((ds, dr, dx), (ss, sr, sx)) = (part(d, id), part(s, id))
      Row(id, ds, dr, ss, sr, dx + sx)
    }.filter(_.getDouble(5) >= cfg.rrfScoreThreshold) // P8
      .sortWith((x, y) => before(x.get(5), x.get(0), y.get(5), y.get(0)))
      .take(cfg.k)
    // a full-outer join's merged key is nullable only when both sides are
    val idField = both.schema(idCol).copy(nullable =
      dense.schema(idCol).nullable && sparse.schema(idCol).nullable)
    dense.sparkSession.createDataFrame(fused.toSeq.asJava, StructType(Seq(idField,
      StructField("dense_score", DoubleType), StructField("dense_rank", IntegerType),
      StructField("bm25_score", DoubleType), StructField("bm25_rank", IntegerType),
      StructField("rrf_score", DoubleType, nullable = false))))
  }

  /** Batched dense branch: exact cosine prefetch-n per query ROW — the
    * relational replacement for a per-query driver loop (or a crossJoin
    * + full window sort). The query table broadcasts (requests are
    * driver-scale; the corpus side never moves), every (query, doc)
    * pair is scored in one codegen'd pass, and [[graft.plans.TopK]]
    * bounded heaps cut to n per query BEFORE anything sorts — the only
    * exchange is one hash shuffle on the query id.
    *
    * @param pairFilter predicate over the joined (query × index) row
    *   applied before the heaps (e.g. self-exclusion in eval harnesses:
    *   `col("doc_id") =!= col("query_id")`). */
  def denseTopKAll(index: DataFrame, queries: DataFrame, n: Int,
      idCol: String = "id", vecCol: String = "dense_vec",
      queryIdCol: String = "query_id", queryVecCol: String = "qv",
      pairFilter: Column = lit(true)): DataFrame =
    graft.plans.TopK.perKey(
      index.crossJoin(broadcast(queries.select(col(queryIdCol), col(queryVecCol))))
        .filter(pairFilter)
        .withColumn("dense_score", round(vecCosine(col(vecCol), col(queryVecCol)), 6))
        .select(col(queryIdCol), col(idCol), col("dense_score")),
      Seq(queryIdCol), Seq(("dense_score", false), (idCol, true)), n)

  /** Batched multi-query hybrid search: [[search]] semantics for a
    * whole query TABLE in ONE plan — no driver loop, no per-query jobs.
    *
    * Shape (the 100 TB story): queries embed/tokenize inside the plan
    * and broadcast everywhere they're needed; the dense branch scores
    * all pairs once and heap-prunes per query ([[denseTopKAll]]); the
    * sparse branch explodes corpus tokens ONCE, semi-joins them to the
    * union of all query terms (broadcast — bounded by total query
    * vocabulary), computes each (doc, term) BM25 term score once, and
    * only then fans out to the queries containing the term; fusion
    * ranks with per-query_id windows over the already-pruned prefetch
    * rows (≤ 5k per query — the window sorts almost nothing, and the
    * TopKPerKey output ordering/partitioning feeds it without a
    * re-sort). Wide shuffles are keyed by query_id (+ id for the
    * fusion join); corpus text and vectors cross no exchange.
    *
    * `dense` picks the batched dense tier ([[Dense.Batched]]: the
    * exact scan or the HNSW walk); per-query results equal [[search]]
    * with the same tier and query string.
    *
    * Returns one [[search]]-shaped result set per query, keyed by
    * `query_id`, ordered (query_id, rrf_score desc, id). */
  def searchAll(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, queries: DataFrame, cfg: Config = Config(),
      embedder: Embedder = HashingEmbedder.default,
      queryIdCol: String = "query_id", queryCol: String = "query",
      dense: Dense.Batched = Dense.Exact): DataFrame = {
    val prefetch = cfg.k * cfg.prefetchMultiplier
    val emb = embedder
    val embedQueryUdf = udf((q: String) => emb.embedQuery(q))
    val qs = queries
      .select(col(queryIdCol).as("query_id"), col(queryCol).as("__qtext"))
      .withColumn("__qvec", embedQueryUdf(col("__qtext")))
    val denseHits = dense.prefetchAll(index, qs, prefetch)
    val tokenizeUdf = udf((q: String) => graft.text.Bm25.tokenize(q))

    // sparse prefetch: corpus tokens explode once; (doc, term) scores
    // computed once; fan-out to queries by term
    val qTerms = qs
      .select(col("query_id"), explode(tokenizeUdf(col("__qtext"))).as("term"))
      .distinct()
    // MaxScore route: per-query pruned candidates, identical scores
    // (a block-bound table serves the batched path at term granularity
    // — its term bounds are one groupBy away)
    val tbOpt = cfg.termBounds.orElse(cfg.blockBounds
      .map(graft.index.IndexWriter.termBoundsFromBlocks))
    if (cfg.postings.isDefined && tbOpt.isDefined) {
      val sparse = bm25TopKMaxScoreAll(cfg.postings.get, docStats,
        tbOpt.get, corpusSize, avgDocLen, qTerms, prefetch)
      return fuseRanked(index, denseHits, sparse, cfg)
    }
    // hoisted: the same distinct term set prunes both the corpus-token
    // explode and docStats — one aggregation, not two per plan
    val allTerms = qTerms.select("term").distinct()
    // (term, id, tf, dl) rows for the union of all query terms: the
    // postings table serves them by term lookup (no corpus token scan);
    // the scan path explodes corpus tokens once
    val tfRows = cfg.postings match {
      case Some(p) => p
        .join(broadcast(allTerms), Seq("term"), "left_semi")
        .select(col("term"), col("id"), col("tf"), col("dl"))
      case None => index
        .select(col("id"), size(col("tokens")).as("dl"),
          explode(col("tokens")).as("term"))
        .join(broadcast(allTerms), Seq("term"), "left_semi")
        .groupBy(col("id"), col("term"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .select(col("term"), col("id"), col("tf"), col("dl"))
    }
    val termScores = tfRows
      .join(broadcast(docStats.join(
        broadcast(allTerms), Seq("term"), "left_semi")),
        Seq("term"))
      .withColumn("term_score", termScoreCol(corpusSize, avgDocLen,
        col("tf"), col("dl"), col("df")))
    val sparsePairs = termScores
      .join(broadcast(qTerms), Seq("term"))
      .groupBy(col("query_id"), col("id"))
      .agg(round(sum("term_score"), 6).as("bm25_score"))
    val sparse = graft.plans.TopK.perKey(sparsePairs, Seq("query_id"),
      Seq(("bm25_score", false), ("id", true)), prefetch)
    fuseRanked(index, denseHits, sparse, cfg)
  }

  /** Per-query RRF fusion of the two batched prefetch branches —
    * identical arithmetic to [[rrfFuse]], per query_id, shared by the
    * unpruned and MaxScore sparse routes. */
  private def fuseRanked(index: DataFrame, dense: DataFrame,
      sparse: DataFrame, cfg: Config): DataFrame = {
    val dw = Window.partitionBy("query_id").orderBy(desc("dense_score"), col("id"))
    val sw = Window.partitionBy("query_id").orderBy(desc("bm25_score"), col("id"))
    val d = dense.withColumn("dense_rank", row_number().over(dw))
    val s = sparse.withColumn("bm25_rank", row_number().over(sw))
    val fused = d.join(s, Seq("query_id", "id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(cfg.rrfK) + col("dense_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(cfg.rrfK) + col("bm25_rank")), lit(0.0)))
      .filter(col("rrf_score") >= cfg.rrfScoreThreshold)
    val topK = graft.plans.TopK.perKey(fused, Seq("query_id"),
      Seq(("rrf_score", false), ("id", true)), cfg.k)
    topK.join(index, Seq("id"), "left")
      .orderBy(col("query_id"), desc("rrf_score"), col("id"))
  }

  /** Where the hybrid query's dense prefetch comes from — the one thing
    * the serving tiers differ in. Each case returns the (id,
    * dense_score) top-`n` for one query vector; the BM25 branch and
    * RRF fusion in [[search]] are shared by all of them. */
  sealed trait Dense {
    def prefetch(index: DataFrame, qVec: Array[Float], n: Int): DataFrame
  }

  object Dense {
    /** A tier that also serves a whole query table in one plan
      * ([[searchAll]]): `prefetchAll` returns the (query_id, id,
      * dense_score) top-`n` per row of `qs` (query_id, __qvec). */
    sealed trait Batched extends Dense {
      def prefetchAll(index: DataFrame, qs: DataFrame, n: Int): DataFrame
    }

    /** Exact cosine scan of every vector ([[denseTopK]]; batched,
      * [[denseTopKAll]]). */
    case object Exact extends Batched {
      def prefetch(index: DataFrame, qVec: Array[Float], n: Int): DataFrame =
        denseTopK(index, qVec, n)
      def prefetchAll(index: DataFrame, qs: DataFrame, n: Int): DataFrame =
        denseTopKAll(index, qs, n, queryVecCol = "__qvec")
    }

    /** A prebuilt [[graft.ops.Similarity.IvfIndex]] over the chunk
      * index's dense vectors — the 100 TB serving path: the exact scan
      * reads every vector per request; this probes `nProbe` centroid
      * cells and reranks exactly within them (nProbe/nCentroids of the
      * corpus when the index is
      * [[graft.ops.Similarity.IvfIndex.writePartitioned]]). Results
      * differ from [[Exact]] only when a true dense neighbor lies
      * outside the probed cells — the recall/cost dial
      * [[graft.ops.Similarity.RandomHyperplaneIndex.recallAudit]]'s
      * family of audits measures before a deployment trusts it. */
    final case class Ivf(ivf: graft.ops.Similarity.IvfIndex, nProbe: Int = 4)
        extends Dense {
      def prefetch(index: DataFrame, qVec: Array[Float], n: Int): DataFrame =
        ivf.query(qVec, n, nProbe).select(col("id"), col("cos").as("dense_score"))
    }

    /** [[Ivf]] served from int8-QUANTIZED codes
      * ([[graft.ops.Similarity.IvfIndex.queryQuantized]]) — the
      * memory/bandwidth tier: stage A ranks the probed cells by
      * pure-integer code dot products (4× less scan bandwidth than
      * floats), stage B restores exact cosines for the top `rerankN`
      * survivors only, so everything the fusion sees is an exact score.
      * `rerankN` is the recall/bandwidth dial q374 measures; it is
      * floored at the prefetch size so the branch can always fill its
      * quota. */
    final case class Int8(ivf: graft.ops.Similarity.IvfIndex,
        nProbe: Int = 4, rerankN: Int = 50) extends Dense {
      def prefetch(index: DataFrame, qVec: Array[Float], n: Int): DataFrame =
        ivf.queryQuantized(qVec, n, nProbe, rerank = math.max(rerankN, n))
          .select(col("id"), col("cos").as("dense_score"))
    }

    /** A prebuilt HNSW graph walk ([[HnswServing]],
      * [[graft.ops.Similarity.HnswIndex.search]]) — the graph member of
      * the ANN tier next to [[Ivf]]: per request the walk touches
      * O(ef · hops · deg) graph rows instead of scanning the corpus (or
      * IVF's nProbe cells). `ef`/`hops` are the recall/cost dials; hits
      * route back from the graph's surrogate keys through `idMap`.
      * Batched, every hop is one (query_id, id)-keyed frontier⋈graph
      * join for the whole query table
      * ([[graft.ops.Similarity.HnswIndex.searchBatch]]). */
    final case class Hnsw(hs: HnswServing, ef: Int = 16, hops: Int = 3)
        extends Batched {
      def prefetch(index: DataFrame, qVec: Array[Float], n: Int): DataFrame =
        hs.hnsw.search(qVec, n, ef = ef, hops = hops)
          .join(hs.idMap, "hid")
          .select(col("id"), col("cos").as("dense_score"))
      def prefetchAll(index: DataFrame, qs: DataFrame, n: Int): DataFrame =
        hs.hnsw.searchBatch(qs.select("query_id", "__qvec"), n, ef = ef,
            hops = hops, queryIdCol = "query_id", queryVecCol = "__qvec")
          .join(hs.idMap, "hid")
          .select(col("query_id"), col("id"), col("cos").as("dense_score"))
    }
  }

  /** Full §3.2 query lifecycle: embed query (V2, with BGE-style prefix)
    * → dense ∪ sparse prefetch (5×k each) → RRF → top-k, joined back to
    * payload columns. `dense` picks the dense prefetch's tier (exact
    * scan by default); the sparse branch follows `cfg`'s routing.
    *
    * The result is MATERIALIZED: after the sparse route's own driver
    * reads, one action collects both prefetch branches ([[rrfFuse]])
    * and one more reads the top-k index rows by an `id IN (…)` literal.
    * The rows come back as a local frame — (id, dense_score,
    * dense_rank, bm25_score, bm25_rank, rrf_score, then the index's
    * other columns) in (rrf_score desc, id) order — so a caller's
    * collect, projection or rerank over it runs no search job again. */
  def search(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, query: String, cfg: Config = Config(),
      embedder: Embedder = HashingEmbedder.default,
      dense: Dense = Dense.Exact): DataFrame = {
    val prefetch = cfg.k * cfg.prefetchMultiplier
    val qVec = embedder.embedQuery(query)
    val qTerms = Bm25.tokenize(query)
    val denseHits = dense.prefetch(index, qVec, prefetch)
    val sparse = sparseTopK(index, docStats, corpusSize, avgDocLen, qTerms, prefetch, cfg)
    val fusedDf = rrfFuse(denseHits, sparse, cfg)
    hydrateTopK(index, fusedDf.collect(), fusedDf.schema)
  }

  /** Payload projection (P9) of a collected top-k: `ranked` rows of
    * `schema`, id first and in result order, each followed by the
    * index's other columns. One action reads the index rows by an
    * `id IN (…)` literal; the left join on id runs on the driver, so an
    * id the index lacks keeps null payload. Returns a local frame. */
  private[graft] def hydrateTopK(index: DataFrame, ranked: Array[Row],
      schema: StructType): DataFrame = {
    val payload = index.schema.filterNot(_.name == "id")
    val byId = if (ranked.isEmpty) Map.empty[Any, Array[Row]]
      else index.filter(col("id").isin(ranked.map(_.get(0)).distinct.toSeq: _*))
        .select((col("id") +: payload.map(f => col(f.name))): _*)
        .collect().groupBy(_.get(0))
    val hits = ranked.toSeq.flatMap { h =>
      byId.get(h.get(0)).fold(Seq(h.toSeq ++ payload.map(_ => null)))(
        _.toSeq.map(r => h.toSeq ++ r.toSeq.tail))
    }.map(Row.fromSeq)
    index.sparkSession.createDataFrame(hits.asJava,
      StructType(schema ++ payload.map(_.copy(nullable = true))))
  }

  /** Prebuilt HNSW serving bundle over the chunk index's dense vectors.
    * Chunk ids are uuid5 STRINGS while the graph index keys longs, so
    * the graph is built over a deterministic 60-bit md5 surrogate
    * (`hid` — the [[graft.ops.Similarity]] hex60 discipline; both
    * engines re-derive it as `CAST('0x' || substr(md5(id), 1, 15) AS
    * BIGINT)`) and `idMap` routes results back to the real ids. */
  final case class HnswServing(hnsw: graft.ops.Similarity.HnswIndex,
      idMap: DataFrame)

  /** Build the [[HnswServing]] bundle — `build = "nndescent"` by
    * default (the 100 TB graph construction; "broadcast" for the exact
    * small-corpus upper bound). Build once at startup; per-request work
    * is then only the beam walk. */
  def buildHnswServing(index: DataFrame, m: Int = 8, maxLevel: Int = 3,
      build: String = "nndescent", dim: Int = 384,
      prebuiltGraph: Option[DataFrame] = None): HnswServing = {
    val mapped = index.select(
      expr("CAST(conv(substring(md5(id), 1, 15), 16, 10) AS BIGINT)")
        .as("hid"),
      col("id"), col("dense_vec"))
    val hnsw = new graft.ops.Similarity.HnswIndex(
      mapped.select("hid", "dense_vec"), m = m, maxLevel = maxLevel,
      vecCol = "dense_vec", idCol = "hid", build = build, dim = dim,
      // warm restart: a persisted graph reopens as a pure read — the
      // idMap (a projection of the index) is re-derived, never stored
      prebuiltGraph = prebuiltGraph)
    HnswServing(hnsw, mapped.select("hid", "id"))
  }

  /** PHRASE matching from the positional inverted index
    * ([[graft.index.IndexWriter.positionalPostings]]) — "exact
    * consecutive-token phrase" served as POSITION INTERSECTION, never a
    * text rescan. The join chain anchors on the phrase's RAREST term
    * (min df, tie → earliest phrase slot): its occurrence list is the
    * smallest, every other slot then verifies by an (id, pos+offset)
    * equi-join against its own term's occurrences — at scale each join
    * is keyed by (id, pos), the anchor bound makes the intermediate no
    * bigger than the rarest term's postings, and the phrase's terms
    * prune the term-bucketed layout exactly like the BM25 branch. A
    * duplicated phrase word (offset collisions) is handled naturally:
    * each slot joins independently.
    *
    * Returns one row per phrase OCCURRENCE — (id, pos) with pos the
    * phrase's start slot — ordered (id, pos); `groupBy(id).count()` is
    * the per-doc hit count. Empty phrase or any term absent from the
    * stats ⇒ no rows (a phrase containing an unseen word cannot
    * match). */
  def phraseMatches(posPostings: DataFrame, docStats: DataFrame,
      phrase: Seq[String], idCol: String = "id"): DataFrame = {
    // empty frame derived from the INDEX so the id/pos types match the
    // non-empty branch whatever the index id type is (a lit("") id
    // would flip the schema to string on the empty branch and break
    // downstream unions/typed reads)
    val empty = posPostings.select(col(idCol), col("pos")).limit(0)
    if (phrase.isEmpty) return empty
    val dfs = docStats.filter(col("term").isin(phrase.distinct: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (phrase.exists(t => !dfs.contains(t))) return empty
    val anchor = phrase.indices.minBy(i => (dfs(phrase(i)), i))
    val anchored = posPostings.filter(col("term") === phrase(anchor))
      .select(col(idCol), (col("pos") - anchor).as("pos"))
      .filter(col("pos") >= 0)
    phrase.indices.filter(_ != anchor).foldLeft(anchored) { (acc, i) =>
      acc.join(posPostings.filter(col("term") === phrase(i))
          .select(col(idCol), (col("pos") - i).as("pos")),
        Seq(idCol, "pos"), "left_semi")
    }.orderBy(col(idCol), col("pos"))
  }

  /** BATCHED [[phraseMatches]] — a whole TABLE of phrases against the
    * positional index in ONE plan, with one join and one aggregate
    * regardless of phrase lengths: each phrase is (query_id, slot,
    * term) rows; every posting occurrence joined by term yields a
    * CANDIDATE START `pos − slot`, and a start is a match iff ALL m of
    * its phrase's slots appear — `count(DISTINCT slot) = m` per
    * (query_id, id, start). Duplicated phrase words fall out naturally
    * (each slot must be hit independently). The per-query anchored
    * chain ([[phraseMatches]]) reads less IO for one rare+stopword
    * phrase; this shape amortizes a request batch: postings are read
    * once for the UNION of all phrases' vocabularies (broadcast), the
    * only wide exchange is keyed by (query_id, id, start).
    *
    * @param qSlots (query_id, slot, term) — slot 0-based and dense per
    *   query (phrase length = max slot + 1 = distinct slot count)
    * @return (query_id, id, pos) per phrase occurrence, ordered */
  def phraseMatchesAll(posPostings: DataFrame, qSlots: DataFrame,
      idCol: String = "id"): DataFrame = {
    val lens = qSlots.groupBy("query_id")
      .agg(countDistinct("slot").as("__m"))
    val starts = posPostings
      .join(broadcast(qSlots), Seq("term"))
      .select(col("query_id"), col(idCol),
        (col("pos") - col("slot")).as("pos"), col("slot"))
      .filter(col("pos") >= 0)
    starts.groupBy(col("query_id"), col(idCol), col("pos"))
      .agg(countDistinct("slot").as("__hit"))
      .join(broadcast(lens), Seq("query_id"))
      .filter(col("__hit") === col("__m"))
      .select(col("query_id"), col(idCol), col("pos"))
      .orderBy(col("query_id"), col(idCol), col("pos"))
  }

  /** ORDERED-PROXIMITY matching (Lucene's SpanNear/sloppy-phrase
    * family) from the positional index: documents where the terms
    * occur IN ORDER within a bounded token window. The contract is the
    * GREEDY chain — for each occurrence p₀ of the first term, every
    * later term takes its SMALLEST position after the previous one;
    * greedy minimizes the end position for a given start, so a start
    * matches iff its greedy span fits. That makes the result set
    * deterministic and engine-replayable (no enumeration of all
    * combinatorial chains): one row per matching start, (id, s, e),
    * e − s ≤ maxSpan, e the greedy end.
    *
    * Scale shape: step i is an id-keyed join of the running
    * (id, s, prev) frontier against term i's occurrence list followed
    * by a (id, s)-grouped min — per-document occurrence lists are
    * short, the frontier never exceeds the FIRST term's occurrence
    * count, and the phrase's terms prune the term-bucketed layout
    * like every other lexical path. */
  def proximityMatches(posPostings: DataFrame, docStats: DataFrame,
      terms: Seq[String], maxSpan: Int, idCol: String = "id"): DataFrame = {
    require(maxSpan >= terms.length - 1 || terms.isEmpty,
      s"maxSpan $maxSpan cannot fit ${terms.length} ordered terms")
    // index-derived empty frame — same id/pos types on both branches
    val empty = posPostings
      .select(col(idCol), col("pos").as("s"), col("pos").as("e")).limit(0)
    if (terms.isEmpty) return empty
    val dfs = docStats.filter(col("term").isin(terms.distinct: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (terms.exists(t => !dfs.contains(t))) return empty
    def occ(t: String): DataFrame =
      posPostings.filter(col("term") === t).select(col(idCol), col("pos"))
    val start = occ(terms.head)
      .select(col(idCol), col("pos").as("s"), col("pos").as("e"))
    terms.drop(1).foldLeft(start) { (acc, t) =>
      acc.join(occ(t), Seq(idCol))
        .filter(col("pos") > col("e") && col("pos") - col("s") <= maxSpan)
        .groupBy(col(idCol), col("s"))
        .agg(min(col("pos")).as("e"))
    }.orderBy(col(idCol), col("s"))
  }

  /** Pseudo-relevance-feedback expansion terms (the RM1/RM3 family,
    * Lavrenko & Croft SIGIR 2001, score-weighted-tf form) — the
    * recall lever a lexical retriever gets for free: run the original
    * query, treat the top `fb` documents as relevant, and score every
    * candidate term by how much feedback mass it sits in:
    *
    *   w(t) = Σ_{d ∈ top-fb} tf(t, d) · bm25_u6(d)
    *
    * (each occurrence contributes its document's micro-fixed
    * retrieval score — score-weighted, so the best-matching docs
    * dominate the expansion, the RM weighting without the float
    * normalization). Original query terms are excluded; ties break
    * on the term. Exact after the one score micro-fixing (BM25 is
    * already rounded to 6dp by contract).
    *
    * Scale shape: the feedback set is fb-sized (broadcast); candidate
    * scoring is one explode + (term)-dimension aggregate over fb
    * documents only — the corpus is touched once by the retrieval the
    * caller already paid for. Returns the top `topTerms`
    * (term, df_fb, w_sum). */
  def prfExpansion(index: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, queryTerms: Seq[String],
      fb: Int = 10, topTerms: Int = 20, idCol: String = "id",
      tokensCol: String = "tokens"): DataFrame = {
    require(fb >= 1 && topTerms >= 1, s"bad fb/topTerms: $fb/$topTerms")
    val top = bm25TopK(index, docStats, corpusSize, avgDocLen,
        queryTerms, fb, idCol, tokensCol)
      .withColumn("w_u6",
        round(col("bm25_score") * 1000000, 0).cast("long"))
      .select(col(idCol), col("w_u6"))
    index.join(broadcast(top), idCol)
      .select(col(idCol), col("w_u6"),
        explode(col(tokensCol)).as("term"))
      .filter(col("term") =!= "" && !col("term").isin(queryTerms: _*))
      .groupBy("term")
      .agg(countDistinct(col(idCol)).as("df_fb"),
        sum("w_u6").as("w_sum"))
      .orderBy(desc("w_sum"), col("term"))
      .limit(topTerms)
  }
}
