package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ingest.ChunkPipeline
import graft.ops.TextAnalysis
import graft.search.HybridSearch

import graft.SparkEntry.{auxEnabled, auxPath, ensureHybridIndex}

/** One family's operator queries, each with the DuckDB oracle SQL that
  * checks it. [[graft.SparkEntry]] merges the families. */
private[graft] trait QueryFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}

/** What the query families share: the corpus readers, the oracle aux
  * dumps, the planted and prebuilt fixtures, and the oracle CTEs that
  * more than one family uses. */
private[graft] object QuerySupport {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet has shipped as TIMESTAMP(NANOS) (unreadable natively
    * by Spark → ns-as-long + integer divide) and as TIMESTAMP(MICROS)
    * NTZ, depending on testdata generation; the shared normalizer in
    * [[graft.streaming.EventsPipeline.tsToTimestamp]] handles both. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.streaming.EventsPipeline.tsToTimestamp(t(s, dir, "events"))
  }

  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  def writeAux(df: => DataFrame, sfDir: String, name: String): Unit =
    if (auxEnabled)
      df.coalesce(1).write.mode("overwrite").parquet(s"${auxPath(sfDir)}/$name")

  /** The q344/q358 streaming-curation fixture: plant the varied corpus
    * (%17≡3 reversed → lang fail; %13≡1 exact copies at +10000; %11≡2
    * near-dup copies at +20000), train the frozen q213-style profile,
    * write three ascending-id micro-batch files onto a strictly
    * increasing mtime ladder (FileStreamSource orders by modification
    * time with nondeterministic tie-break, and the online first-wins
    * rule is order-dependent across batches — a collision could let a
    * +10000 copy precede its original), and drain the stream. Returns
    * the tmp base: snapshot under `<tmp>/out`, dedup state under
    * `<tmp>/state`. */
  def curationStreamFixture(s: SparkSession, dir: String): String = {
    import graft.streaming.CurationStream
    val base = t(s, dir, "documents")
    val varied = base.select(col("doc_id"),
      when(col("doc_id") % 17 === 3, reverse(col("text")))
        .otherwise(col("text")).as("text"))
    val planted = varied
      .unionByName(varied.filter(col("doc_id") % 13 === 1)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(varied.filter(col("doc_id") % 11 === 2)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" zzappendix")).as("text")))
    val langLabel = when(col("doc_id") % 3 === 0, "en")
      .when(col("doc_id") % 3 === 1, "zz").otherwise("qq")
    val langVariant = when(col("doc_id") % 3 === 0, col("text"))
      .when(col("doc_id") % 3 === 1,
        translate(col("text"), "aeiou", "zzzzz"))
      .otherwise(reverse(col("text")))
    val profile = TextAnalysis.langIdTrain(
      base.filter(col("doc_id") < 200)
        .select(langLabel.as("lang"), langVariant.as("text")),
      buckets = 1024)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_q344").toString
    val srcDir = s"$tmp/src"
    val stamped = scala.collection.mutable.Set[String]()
    val mtime0 = (System.currentTimeMillis() / 1000L) * 1000L
    def writeBatch(batchNo: Int, df: DataFrame): Unit = {
      df.coalesce(1).write.mode("append").parquet(srcDir)
      new java.io.File(srcDir).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          !stamped.contains(f.getName))
        .foreach { f =>
          require(f.setLastModified(mtime0 + batchNo * 60000L),
            s"curation fixture: could not stamp mtime on ${f.getName}")
          stamped += f.getName
        }
    }
    writeBatch(1, planted.filter(col("doc_id") < 250))
    writeBatch(2,
      planted.filter(col("doc_id") >= 250 && col("doc_id") < 10000))
    writeBatch(3, planted.filter(col("doc_id") >= 10000))
    val schema = s.read.parquet(srcDir).schema
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = CurationStream.run(s, src, profile,
      s"$tmp/out", s"$tmp/state", s"$tmp/cp")
    q.processAllAvailable(); q.stop()
    tmp
  }

  /** The HNSW hybrid queries' build (q215/q342): corpus size, mean
    * length and the serving graph, forced here rather than by the
    * first walk hop so the `build` mark covers it. */
  def hnswBuild(index: DataFrame)
      : (Long, Double, HybridSearch.HnswServing) = Phase("build") {
    val n = index.count()
    val avgLen = index.select(avg(size(col("tokens")))).first().getDouble(0)
    val hs = HybridSearch.buildHnswServing(index)
    hs.hnsw.graph
    (n, avgLen, hs)
  }

  /** The graph queries' 40-node ring: node n links to n + 1 and n + 7,
    * and the first 20 nodes also to n + 13 (all mod 40). */
  def ringGraph(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "documents")
      .select((col("doc_id") % 40).as("n")).distinct()
    n.selectExpr("n AS src", "(n + 1) % 40 AS dst")
      .unionByName(n.selectExpr("n AS src", "(n + 7) % 40 AS dst"))
      .unionByName(n.filter(col("n") < 20)
        .selectExpr("n AS src", "(n + 13) % 40 AS dst"))
  }

  /** The ANN queries' query vector: the embedding of `vec_id` 0. */
  def queryVector(e: DataFrame): Array[Float] =
    e.filter(col("vec_id") === 0).select("embedding")
      .first().getSeq[Float](0).toArray

  /** A fresh hybrid index over the documents (cached) and its document
    * frequencies, with graft's functions registered. */
  def chunkIndex(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    GraftFunctions.register(s)
    val index = ChunkPipeline.chunkPoints(s, t(s, dir, "documents")).cache()
    (index, graft.index.IndexWriter.docFrequencies(index))
  }

  /** The prebuilt index's chunks with planted probe tokens: each
    * `(condition, tokens)` plant appends its tokens to the chunks its
    * condition selects, and the first matching plant wins. */
  def plantedTokenIndex(s: SparkSession, dir: String,
      plants: (Column, Seq[String])*): DataFrame = {
    val base = ensureHybridIndex(s, dir)
    val appended = plants.map { case (cond, toks) =>
      cond -> concat(col("tokens"), array(toks.map(lit(_)): _*))
    }
    val (c0, v0) = appended.head
    s.read.parquet(s"$base/chunks").withColumn("tokens",
      appended.tail.foldLeft(when(c0, v0)) { case (w, (c, v)) => w.when(c, v) }
        .otherwise(col("tokens")))
  }

  /** The view-maintenance queries' lineitem rows (flag, status, ship
    * month, price in cents), split at 1998-01-01 into the rows the
    * views start from and the delta that follows. */
  def lineitemSplit(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val l = t(s, dir, "lineitem").select(
      col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
      month(col("l_shipdate")).as("mth"),
      expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"),
      col("l_shipdate").as("sd"))
    (l.filter(col("sd") < "1998-01-01").drop("sd"),
      l.filter(col("sd") >= "1998-01-01").drop("sd"))
  }

  /** q177/q185's quantile-gate check: each `(q_mille, cut)` row's exact
    * rank `n_le` over the values `v`, the target rank, and whether the
    * rank lies within the sketch bound of ±⌈6n/k⌉ ranks. */
  def quantileGateCheck(v: DataFrame, cutsDf: DataFrame, k: Int)
      : DataFrame =
    v.crossJoin(broadcast(cutsDf))
      .groupBy("q_mille", "cut")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") <= col("cut"), 1L).otherwise(0L)).as("n_le"))
      .withColumn("target_r", expr("(q_mille * n + 999) div 1000"))
      .withColumn("slack", expr(s"(6 * n + ${k - 1}) div $k"))
      .select(col("q_mille").cast("long").as("q_mille"), col("cut"),
        col("n"), col("n_le"), col("target_r"),
        (col("target_r") - col("slack")).as("lo"),
        (col("target_r") + col("slack")).as("hi"),
        when(col("n_le") >= col("target_r") - col("slack") &&
          col("n_le") <= col("target_r") + col("slack"), 1L)
          .otherwise(0L).as("in_bound"))
      .orderBy("q_mille")

  /** The retrieval-metric queries' run: each query's top 10 documents by
    * dense score (itself excluded) and its relevant set, the documents
    * that share its label. */
  def labelRetrieval(q: DataFrame, c: DataFrame)
      : (DataFrame, DataFrame) = {
    // batched dense branch (round-6 re-point): bounded per-query heaps
    // via denseTopKAll replace the crossJoin + full window sort; the
    // window now numbers <= 10 pre-pruned rows per query
    val wr = Window.partitionBy("query_id")
      .orderBy(col("dense_score").desc, col("doc_id"))
    val ranked = graft.search.HybridSearch.denseTopKAll(
        c, q, n = 10, idCol = "doc_id", vecCol = "cv",
        pairFilter = col("doc_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(wr))
      .select("query_id", "doc_id", "rank")
    val relevant = q.select("query_id", "qlabel")
      .join(c.select(col("doc_id"), col("clabel")),
        col("qlabel") === col("clabel"))
      .filter(col("doc_id") =!= col("query_id"))
      .select("query_id", "doc_id")
    (ranked, relevant)
  }

  // ---------------------------------------------------------------------
  // Operator queries (name -> (spark, sfDir) => DataFrame)
  // ---------------------------------------------------------------------

  /** Connected components of the undirected `edges(id1, id2)` table:
    * `sym` holds both directions and the recursive `walk(id, comp)`
    * spreads every node's id through its component. */
  def componentWalkCtes(edges: String, materialize: Boolean): String = {
    val as = if (materialize) "AS MATERIALIZED" else "AS"
    s"""sym $as (SELECT id1 AS src, id2 AS dst FROM $edges
       |  UNION SELECT id2, id1 FROM $edges),
       |nodes $as (SELECT DISTINCT src AS id FROM sym),
       |walk(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.src, w.comp FROM sym s JOIN walk w ON s.dst = w.id)""".stripMargin
  }

  /** [[hnswWalkCtes]] with a caller-supplied `pp(id, x, y)` CTE pairing
    * every corpus vector's components with the query's — q215 pairs the
    * aux-dumped chunk index (surrogate hid as id) with its aux-dumped
    * query vector instead of the embeddings table. */
  def hnswWalkCtesWith(aux: String, ppCte: String): String = {
    def descend(prev: String, l: Int, name: String) =
      s"""$name AS (SELECT s.id, s.cos FROM sc s WHERE s.id IN
         |    (SELECT id FROM $prev UNION
         |     SELECT g.nbr FROM g JOIN $prev f ON g.id = f.id
         |     WHERE g.layer = $l)
         |  ORDER BY s.cos DESC, s.id LIMIT 1)""".stripMargin
    def hop(prev: String, t: Int) =
      s"""n$t AS (SELECT DISTINCT g.nbr AS id FROM g
         |  JOIN $prev f ON g.id = f.id WHERE g.layer = 0),
         |p$t AS (SELECT s.id, s.cos FROM sc s WHERE s.id IN
         |    (SELECT id FROM $prev UNION SELECT id FROM n$t)),
         |f$t AS (SELECT id, cos FROM p$t ORDER BY cos DESC, id LIMIT 16),
         |v$t AS (SELECT id, cos FROM v${t - 1}
         |  UNION SELECT id, cos FROM p$t)""".stripMargin
    s"""g AS (SELECT layer, id, nbr FROM '__AUX__/${aux}_graph/*.parquet'),
       |lv AS (SELECT id, level FROM '__AUX__/${aux}_levels/*.parquet'),
       |$ppCte,
       |sc AS (SELECT id,
       |    round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cos
       |  FROM pp GROUP BY id),
       |e0 AS (SELECT id FROM lv ORDER BY level DESC, id LIMIT 1),
       |${descend("e0", 3, "d3a")},
       |${descend("d3a", 3, "d3")},
       |${descend("d3", 2, "d2a")},
       |${descend("d2a", 2, "d2")},
       |${descend("d2", 1, "d1a")},
       |${descend("d1a", 1, "d1")},
       |v0 AS (SELECT id, cos FROM d1),
       |${hop("d1", 1)},
       |${hop("f1", 2)},
       |${hop("f2", 3)}""".stripMargin
  }

  /** q342's BATCHED HNSW walk replay — [[hnswWalkCtesWith]] with every
    * stage keyed by `qid`: the same greedy descent (2 steps per upper
    * layer), 3 beam hops at ef = 16, and visited-set accounting, but
    * PARTITION BY qid row_numbers replace the single-query LIMITs and
    * the caller-supplied `ppCte` pairs EVERY query's components with
    * every corpus vector (pp(qid, id, x, y)). Ends with
    * `v3(qid, id, cos)`. */
  def hnswBatchWalkCtes(aux: String, ppCte: String): String = {
    def descend(prev: String, l: Int, name: String) =
      s"""$name AS MATERIALIZED (SELECT qid, id, cos FROM (
         |    SELECT s.qid, s.id, s.cos, row_number() OVER (
         |      PARTITION BY s.qid ORDER BY s.cos DESC, s.id) AS rn
         |    FROM sc s JOIN (
         |      SELECT qid, id FROM $prev UNION
         |      SELECT f.qid, g.nbr AS id FROM g JOIN $prev f ON g.id = f.id
         |      WHERE g.layer = $l) c ON c.qid = s.qid AND c.id = s.id)
         |  WHERE rn = 1)""".stripMargin
    def hop(prev: String, t: Int) =
      s"""n$t AS (SELECT DISTINCT f.qid, g.nbr AS id FROM g
         |  JOIN $prev f ON g.id = f.id WHERE g.layer = 0),
         |p$t AS MATERIALIZED (SELECT s.qid, s.id, s.cos FROM sc s
         |  JOIN (SELECT qid, id FROM $prev UNION SELECT qid, id FROM n$t) c
         |    ON c.qid = s.qid AND c.id = s.id),
         |f$t AS (SELECT qid, id, cos FROM (SELECT qid, id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id)
         |      AS rn FROM p$t) WHERE rn <= 16),
         |v$t AS (SELECT qid, id, cos FROM v${t - 1}
         |  UNION SELECT qid, id, cos FROM p$t)""".stripMargin
    s"""g AS (SELECT layer, id, nbr FROM '__AUX__/${aux}_graph/*.parquet'),
       |lv AS (SELECT id, level FROM '__AUX__/${aux}_levels/*.parquet'),
       |$ppCte,
       |sc AS MATERIALIZED (SELECT qid, id,
       |    round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cos
       |  FROM pp GROUP BY qid, id),
       |e0 AS (SELECT id FROM lv ORDER BY level DESC, id LIMIT 1),
       |c0 AS (SELECT s.qid, s.id, s.cos FROM sc s, e0 WHERE s.id = e0.id),
       |${descend("c0", 3, "d3a")},
       |${descend("d3a", 3, "d3")},
       |${descend("d3", 2, "d2a")},
       |${descend("d2a", 2, "d2")},
       |${descend("d2", 1, "d1a")},
       |${descend("d1a", 1, "d1")},
       |v0 AS (SELECT qid, id, cos FROM d1),
       |${hop("d1", 1)},
       |${hop("f1", 2)},
       |${hop("f2", 3)}""".stripMargin
  }

  /** The full MinHash-LSH replay (shingles → 16 md5 minhashes → 4 bands
    * → candidates → exact Jaccard) over an arbitrary (doc_id, text)
    * corpus SELECT, ending in `verified(id1, id2, jaccard)` — the q180
    * composite runs it over its deduped normalized corpus. */
  def minhashLshCtesOver(corpusSelect: String): String = {
    val hs = (0 until 16).map(i =>
      s"list_min([md5('${i}_' || x) for x in sh]) AS h$i").mkString(",\n    ")
    val bandRows = (0 until 4).map { b =>
      val cat = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bh FROM sigs"
    }.mkString("\n  UNION ALL ")
    s"""d AS (
       |  $corpusSelect),
       |shnz AS (SELECT doc_id, sh FROM (
       |    SELECT doc_id, list_distinct([parts[i+1] || ' ' || parts[i+2] || ' ' || parts[i+3]
       |        for i in range(len(parts)-2)]) AS sh
       |    FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM d)
       |    WHERE len(parts) >= 3)
       |  WHERE len(sh) > 0),
       |sigs AS (SELECT doc_id,
       |    $hs
       |  FROM shnz),
       |bands AS (
       |  $bandRows),
       |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |verified AS (
       |  SELECT c.id1, c.id2,
       |    CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
       |      / (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) AS jaccard
       |  FROM cand c JOIN shnz s1 ON s1.doc_id = c.id1 JOIN shnz s2 ON s2.doc_id = c.id2)""".stripMargin
  }

  /** q213/q349's trained language-ID model over the labelled bigram
    * buckets `tb(lang, bucket)`: per-language bucket weights `wts`, the
    * unseen-bucket floor `flo`, and the bigram buckets `gb` of the
    * `scored` rows to be classified. */
  def langIdBucketScoreCtes(scored: String): String =
    s"""cnt AS (SELECT lang, bucket, count(*) AS c FROM tb GROUP BY 1, 2),
       |tot AS (SELECT lang, sum(c) AS total FROM cnt GROUP BY 1),
       |wts AS (SELECT cnt.lang, bucket,
       |    CAST(round(log10((c + 1) / (total + 1024)) * 1000000, 0)
       |      AS BIGINT) AS w6
       |  FROM cnt JOIN tot USING (lang)),
       |flo AS (SELECT lang,
       |    CAST(round(log10(1 / (total + 1024)) * 1000000, 0) AS BIGINT)
       |      AS def6
       |  FROM tot),
       |gb AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) % 1024 AS bucket
       |  FROM (SELECT doc_id, unnest(flatten(list_transform(
       |      list_filter(string_split(lower(trim(text)), ' '),
       |        w -> w <> ''),
       |      w -> list_transform(range(1, length(w) + 2),
       |        i -> substr('_' || w || '_', CAST(i AS INT), 2))))) AS g
       |    FROM $scored))""".stripMargin

  /** q177/q185's quantile-gate oracle over `cuts(q_mille, cut)` and the
    * values `v(v)`: each cut's exact rank, the target rank and whether
    * the rank lies within ±⌈6n/256⌉ ranks of it. */
  def quantileGateSql: String =
    """agg AS (SELECT c.q_mille, c.cut, count(*) AS n,
      |    CAST(SUM(CASE WHEN v.v <= c.cut THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_le
      |  FROM cuts c CROSS JOIN v GROUP BY 1, 2),
      |b AS (SELECT q_mille, cut, n, n_le,
      |    (q_mille * n + 999) // 1000 AS target_r,
      |    (6 * n + 255) // 256 AS slack FROM agg)
      |SELECT CAST(q_mille AS BIGINT) AS q_mille, cut, n, n_le, target_r,
      |  target_r - slack AS lo, target_r + slack AS hi,
      |  CAST(CASE WHEN n_le BETWEEN target_r - slack AND target_r + slack
      |       THEN 1 ELSE 0 END AS BIGINT) AS in_bound
      |FROM b ORDER BY q_mille""".stripMargin

  /** One q301 Naive-Bayes retrain branch as DuckDB CTEs (prefixed
    * `<p>ct/vv/cs/lp/nr/pri/sc/pk/sum`): the q275 model chain with a
    * branch-specific TRAIN predicate (`excl` appends to the shared
    * id%5 split) and the shared test CTEs `te`/`tet`, ending in
    * `<p>sum(left_out, n_test, n_correct)` — the LOGO valuation is
    * this branch instantiated once per left-out group plus once full.
    * NOT pre-stripped (embeds in stripMargin outer strings). */
  def nbLogoBranch(p: String, label: String,
      excl: String): String =
    s"""${p}ct AS MATERIALIZED (SELECT cls, tok,
       |    CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT CAST(lang AS VARCHAR) AS cls,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+'))
       |        AS tok
       |    FROM documents WHERE doc_id % 5 <> 0$excl)
       |  WHERE tok <> '' GROUP BY 1, 2),
       |${p}vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
       |  FROM ${p}ct),
       |${p}cs AS MATERIALIZED (SELECT cls,
       |    CAST(sum(c) AS BIGINT) AS tot,
       |    CAST(round(log10(1.0 / (CAST(sum(c) AS BIGINT) + vv.v))
       |      * 1000000, 0) AS BIGINT) AS oov_u6
       |  FROM ${p}ct, ${p}vv vv GROUP BY cls, vv.v),
       |${p}lp AS MATERIALIZED (SELECT ct.cls, ct.tok,
       |    CAST(round(log10(CAST(ct.c + 1 AS DOUBLE) / (cs.tot + vv.v))
       |      * 1000000, 0) AS BIGINT) AS lp_u6
       |  FROM ${p}ct ct JOIN ${p}cs cs USING (cls), ${p}vv vv),
       |${p}nr AS (SELECT CAST(count(*) AS BIGINT) AS n_train
       |  FROM documents WHERE doc_id % 5 <> 0$excl),
       |${p}pri AS (SELECT CAST(lang AS VARCHAR) AS cls,
       |    CAST(round(log10(CAST(count(*) AS DOUBLE) / nr.n_train)
       |      * 1000000, 0) AS BIGINT) AS prior_u6
       |  FROM documents, ${p}nr nr WHERE doc_id % 5 <> 0$excl
       |  GROUP BY 1, nr.n_train),
       |${p}sc AS (SELECT tet.id, cs.cls,
       |    CAST(sum(tet.n * coalesce(lp.lp_u6, cs.oov_u6)) AS BIGINT)
       |      AS s
       |  FROM tet CROSS JOIN ${p}cs cs
       |  LEFT JOIN ${p}lp lp ON lp.cls = cs.cls AND lp.tok = tet.tok
       |  GROUP BY 1, 2),
       |${p}pk AS (SELECT id, cls AS pred FROM (
       |    SELECT sc.id, sc.cls, row_number() OVER (
       |      PARTITION BY sc.id
       |      ORDER BY sc.s + pri.prior_u6 DESC, sc.cls) AS rn
       |    FROM ${p}sc sc JOIN ${p}pri pri USING (cls)) WHERE rn = 1),
       |${p}sum AS (SELECT '$label' AS left_out,
       |    CAST(count(*) AS BIGINT) AS n_test,
       |    CAST(sum(CASE WHEN pk.pred = CAST(te.lang AS VARCHAR)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |  FROM ${p}pk pk JOIN te ON te.doc_id = pk.id)"""
}
