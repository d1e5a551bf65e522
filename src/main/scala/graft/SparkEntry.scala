package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ingest.ChunkPipeline
import graft.queries._
import graft.queries.QuerySupport.t
import graft.search.HybridSearch

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` for everything
  * SQL-expressible (the t2 correctness gate).
  *
  * The entries live in per-family objects under `graft.queries`, each
  * holding its query bodies next to their oracles:
  * [[graft.queries.RelationalQueries]], [[graft.queries.EventQueries]],
  * [[graft.queries.TextQueries]], [[graft.queries.DedupQueries]],
  * [[graft.queries.SearchQueries]], [[graft.queries.VectorQueries]],
  * [[graft.queries.GraphQueries]], [[graft.queries.StatsQueries]] and
  * [[graft.queries.CurationQueries]]. [[graft.queries.QuerySupport]]
  * holds the fixtures and oracle CTEs that several families use. This
  * object merges the families and owns the oracle-aux and
  * prebuilt-index paths.
  *
  * Numeric-determinism conventions used throughout (so Spark and DuckDB
  * hash-match bit-for-bit):
  *  - money sums go through the "cents" trick: `CAST(ROUND(x*100) AS
  *    BIGINT)` is computed identically in both engines (the product is
  *    the same IEEE double, scale-0 rounding of a near-integer agrees),
  *    and BIGINT sums are order-independent — unlike double sums.
  *  - scores assembled from different association orders (BM25, cosine)
  *    are rounded to 6 decimals *before* any order-by that feeds a
  *    limit, with a unique id tie-break after the score.
  *  - timestamps are emitted as formatted strings, never raw.
  */
object SparkEntry {

  /** Aux tables for the ANN/hybrid oracles (q35/q36/q39): the query
    * materializes its *index-side* artifacts (bucket/centroid
    * assignments, dense-branch scores) here, and the DuckDB oracle
    * re-derives the *query side* — candidate pruning, cosine/BM25/RRF
    * arithmetic in independent double math, top-k ordering — from them.
    * Keyed by the sf-dir basename so a bench run at another SF can't
    * clobber the artifacts the correctness gate reads; `oracleSql` refers
    * to them via the `__AUX__` placeholder that [[Verify]] substitutes
    * when dumping oracle_sql.json. */
  def auxPath(sfDir: String): String =
    "/tmp/graft_oracle_aux/" + new java.io.File(sfDir).getName

  /** Aux dumps exist solely for the DuckDB oracle, so they run only when
    * [[Verify]] flips this on. Bench must never pay for them: round 2's
    * q35/q36/q39 bench regressions (e.g. 18.8 → 68.9 s) were exactly
    * these `coalesce(1)` writes being timed inside the query body. */
  @volatile var auxEnabled: Boolean = false

  /** Prebuilt hybrid-index fixture (chunk index + df stats + corpus
    * params, one per sf dir). q35 pays the full build per query — that
    * number is the INDEXING cost; q54 queries this prebuilt fixture, so
    * its bench time is the per-request latency, the number comparable to
    * the reference's query path (`/root/reference/chatbot/app.py:444-450`
    * queries a Qdrant collection indexed long before). [[Bench]] builds
    * the fixture during untimed warm-up; version-stamped so a pipeline
    * change invalidates stale /tmp fixtures from an earlier build. */
  private val PrebuiltVersion = "v1"
  def prebuiltPath(sfDir: String): String =
    "/tmp/graft_prebuilt/" + new java.io.File(sfDir).getName

  def ensureHybridIndex(s: SparkSession, dir: String): String = {
    val base = prebuiltPath(dir)
    val marker = java.nio.file.Paths.get(base, "_BUILT")
    val current = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker)).trim == PrebuiltVersion
    if (!current) {
      GraftFunctions.register(s)
      val index = ChunkPipeline.chunkPoints(s, t(s, dir, "documents")).cache()
      val n = index.count()
      val avgLen = index.select(avg(size(col("tokens")))).first().getDouble(0)
      index.select("id", "chunk_id", "doc_id", "chunk_index", "chunk_text",
          "tokens", "dense_vec")
        .write.mode("overwrite").parquet(s"$base/chunks")
      graft.index.IndexWriter.docFrequencies(index)
        .write.mode("overwrite").parquet(s"$base/stats")
      s.range(1).select(lit(n).as("n"), lit(avgLen).as("avgdl"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/params")
      index.unpersist()
      java.nio.file.Files.write(marker, PrebuiltVersion.getBytes)
    }
    base
  }

  // ---------------------------------------------------------------------
  // Flagship: the §7.2 end-to-end slice — clean → chunk → embed → index →
  // hybrid (dense+BM25+RRF) top-3 on sf0.001 documents.
  // ---------------------------------------------------------------------
  def entry(spark: SparkSession): DataFrame = {
    GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val index = ChunkPipeline.chunkPoints(spark, t(spark, dir, "documents")).cache()
    val stats = graft.index.IndexWriter.docFrequencies(index)
    val n = index.count()
    val avgLen = index.select(avg(size(col("tokens")))).first().getDouble(0)
    HybridSearch.search(index, stats, n, avgLen,
      "spark join merge table scan", HybridSearch.Config(k = 3))
      .select("id", "chunk_id", "rrf_score", "dense_score", "bm25_score")
  }

  private def families: Seq[QueryFamily] = Seq(RelationalQueries,
    EventQueries, TextQueries, DedupQueries, SearchQueries, VectorQueries,
    GraphQueries, StatsQueries, CurationQueries)

  // ---------------------------------------------------------------------
  // Operator queries (name -> (spark, sfDir) => DataFrame)
  // ---------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.queries).toMap

  // ---------------------------------------------------------------------
  // DuckDB oracles (t2 gate) — same column names, deterministic values.
  // ---------------------------------------------------------------------
  def oracleSql: Map[String, String] = families.flatMap(_.oracleSql).toMap
}
