package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.Dedup

import graft.queries.QuerySupport._

/** Graphs and record linkage: PageRank, components, triangles, k-core,
  * paths, communities, similarity propagation and entity resolution. */
private[graft] object GraphQueries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Near-dup pairs → dedup GROUPS: connected components by min-label
    // propagation over a planted chain graph (3 copies of every doc;
    // edges link rank-adjacent copies per digest, so labels must travel
    // 2 hops). Oracle: DuckDB recursive-CTE reachability closure.
    "q56_dedup_components" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val planted = d
        .unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
        .unionByName(d.withColumn("doc_id", col("doc_id") + 20000))
      val ranked = planted
        .withColumn("dg", md5(col("text").cast("binary")))
        .withColumn("rn",
          row_number().over(Window.partitionBy("dg").orderBy("doc_id")))
        .select("doc_id", "dg", "rn")
      val e = ranked.as("a").join(ranked.as("b"),
          col("a.dg") === col("b.dg") && col("b.rn") === col("a.rn") + 1)
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      Dedup.connectedComponents(e)
        .select(col("id").as("doc_id"), col("comp"))
        .withColumn("comp_size",
          count(lit(1)).over(Window.partitionBy("comp")))
    }),

    // Fixed-point PageRank (crawl-source authority scoring) over a
    // deterministic synthetic link graph derived from doc ids. Integer
    // recurrence — both engines compute bit-identical ranks; the oracle
    // runs the same recursion as a recursive CTE.
    "q88_pagerank" -> ((s, dir) => {
      // quadratic + linear residue maps: outdeg ∈ {1,2}, indeg 1..6 —
      // enough degree variance that ranks genuinely differentiate
      val base = t(s, dir, "documents").select((col("doc_id") % 50).as("src"))
      val e = base.select(col("src"), ((col("src") * col("src") + 3) % 50).as("dst"))
        .unionByName(base.select(col("src"), ((col("src") * 3 + 7) % 50).as("dst")))
        .filter(col("src") =!= col("dst"))
      graft.ops.GraphOps.pageRankFixedPoint(e, iters = 5)
    }),

    // Blocked fuzzy record linkage: two systems carry the same entities,
    // one with '-' typos on a quarter of names; candidates only from
    // shared right-2-chars blocks, Levenshtein ≤ 1 verifies. Exact
    // integer edit distances — both engines agree bit-for-bit.
    "q118_fuzzy_linkage" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select((col("c_custkey") % 500).as("eid")).distinct()
      val sysA = base.select(col("eid").as("id_a"),
        concat(lit("entity_"), col("eid")).as("name_a"))
      val sysB = base.select((col("eid") + 1000).as("id_b"),
        when(col("eid") % 4 === 0, concat(lit("entity-"), col("eid")))
          .otherwise(concat(lit("entity_"), col("eid"))).as("name_b"))
      Dedup.fuzzyLinkage(sysA, sysB,
          expr("right(name_a, 2)"), expr("right(name_b, 2)"),
          "name_a", "name_b", maxDist = 1)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    }),

    // Exact triangle count over a deterministic synthetic graph (60
    // nodes, edges derived from doc ids): canonical orientation, each
    // triangle a<b<c found exactly once by a two-hop equi-join. The
    // oracle reproduces orientation, dedup, and the 3-way join.
    "q120_triangle_count" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        (col("doc_id") % 60).as("src"),
        expr("(doc_id div 60) % 60").as("dst"))
      graft.ops.GraphOps.triangleCount(edges)
    }),

    // End-to-end ENTITY RESOLUTION (the record-tier sibling of q76's
    // document dedup): fuzzy-linked records across two systems →
    // connected components over the link graph → every record labeled
    // with its canonical (min-id) entity; unlinked records are their
    // own entity. The oracle re-derives blocking, edit-distance links,
    // the reachability closure, AND the fallback — the whole pipeline
    // in one gate.
    "q145_entity_resolution" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select((col("c_custkey") % 500).as("eid")).distinct()
      val sysA = base.select(col("eid").as("rec_id"),
        concat(lit("entity_"), col("eid")).as("name"))
      val sysB = base.select((col("eid") + 1000).as("rec_id"),
        when(col("eid") % 4 === 0, concat(lit("entity-"), col("eid")))
          .otherwise(concat(lit("entity_"), col("eid"))).as("name"))
      val links = Dedup.fuzzyLinkage(
        sysA.withColumnRenamed("rec_id", "id_a")
          .withColumnRenamed("name", "name_a"),
        sysB.withColumnRenamed("rec_id", "id_b")
          .withColumnRenamed("name", "name_b"),
        expr("right(name_a, 2)"), expr("right(name_b, 2)"),
        "name_a", "name_b", maxDist = 1)
      val comp = Dedup.connectedComponents(
        links.select(col("id_a").as("id1"), col("id_b").as("id2")))
      sysA.unionByName(sysB)
        .join(comp.withColumnRenamed("id", "rec_id"), Seq("rec_id"), "left")
        .select(col("rec_id"), col("name"),
          coalesce(col("comp"), col("rec_id")).as("entity_id"))
    }),

    // Large-star/small-star components on a pathological topology:
    // consecutive doc_ids chained WITHIN each language make one long
    // chain per lang (hundreds of links at sf0.01) — the diameter that
    // breaks plain label propagation. Components must come out as one
    // per lang, labeled by the lang's min doc_id; the oracle derives
    // that directly from the grouping that generated the chains (a
    // window min — no recursion needed, which is the point: the oracle
    // knows the topology, the engine must DISCOVER it in O(log n)
    // star rounds).
    "q155_components_logn" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "lang")
      val w = Window.partitionBy("lang").orderBy("doc_id")
      val edges = d.withColumn("prev", lag("doc_id", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("id1"), col("doc_id").as("id2"))
      val labels = Dedup.connectedComponentsLogN(edges)
      d.select(col("doc_id").as("id"))
        .join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    }),

    // Jaro-Winkler linkage — q118's fixture verified by the second
    // metric (published Winkler 1990 semantics; DuckDB implements the
    // same variant, checked on the literature vectors, so the oracle
    // re-derives every score): blocked candidates, JW >= 0.9 after a
    // 6dp round keeps the one-substitution twins and drops unrelated
    // same-block pairs.
    "q156_jaro_linkage" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select((col("c_custkey") % 500).as("eid")).distinct()
      val sysA = base.select(col("eid").as("id_a"),
        concat(lit("entity_"), col("eid")).as("name_a"))
      val sysB = base.select((col("eid") + 1000).as("id_b"),
        when(col("eid") % 4 === 0, concat(lit("entity-"), col("eid")))
          .otherwise(concat(lit("entity_"), col("eid"))).as("name_b"))
      // Block on a separator-insensitive key: a bare right(name, 2) puts
      // single-digit '-' twins ("entity_0" vs "entity-0") in DIFFERENT
      // blocks ("_0" vs "-0"), so the JW-verification path was only
      // exercised for eid >= 10 (round-7 advice).
      Dedup.fuzzyLinkageJaroWinkler(sysA, sysB,
          expr("right(regexp_replace(name_a, '[-_]', ''), 2)"),
          expr("right(regexp_replace(name_b, '[-_]', ''), 2)"),
          "name_a", "name_b", minSim = 0.9)
        .select("id_a", "id_b", "name_a", "name_b", "jw")
    }),

    // Citation-authority composite — the lawlm-thematic end-to-end:
    // citations planted by doc arithmetic, extracted by the REAL
    // LegalExtract regex tier (the oracle derives the same edges from
    // the arithmetic alone, so any extraction miss/extra breaks the
    // hash), volume numbers resolve to target docs, and the citation
    // graph ranks through the integer-exact PageRank. One narrow
    // extraction pass; the graph lives on the 40-node dimension.
    "q197_citation_authority" -> ((s, dir) => {
      GraftFunctions.register(s)
      val d = t(s, dir, "documents")
        .select((col("doc_id") % 40).as("src"), col("text"))
      val planted = d.withColumn("text", concat(col("text"),
        lit(" See "),
        (lit(100) + (col("src") * col("src") + 13) % 40).cast("string"),
        lit(" U.S. "),
        (lit(200) + (col("src") * col("src") + 13) % 40).cast("string"),
        lit(" (1990). Accord "),
        (lit(100) + (col("src") * 7 + 3) % 40).cast("string"),
        lit(" U.S. "),
        (lit(200) + (col("src") * 7 + 3) % 40).cast("string"),
        lit(" (1991).")))
      val edges = planted
        .select(col("src"),
          explode(call_function("extract_citations", col("text"))).as("cite"))
        .select(col("src"),
          (regexp_extract(col("cite"), "^(\\d+)", 1).cast("long") - 100)
            .as("dst"))
        .filter(col("dst") >= 0 && col("dst") < 40 &&
          col("src") =!= col("dst"))
        .distinct()
      graft.ops.GraphOps.pageRankFixedPoint(edges, iters = 3)
    }),

    // Deterministic synchronous label propagation (communities, not
    // just connectivity) on four 10-node ring+chord blocks joined by
    // single bridges — DuckDB replays both synchronous rounds: every
    // neighbor-label count and every (count desc, label asc) argmax.
    "q200_label_propagation" -> ((s, dir) => {
      val n = t(s, dir, "documents")
        .select((col("doc_id") % 40).as("n")).distinct()
      val edges = n
        .selectExpr("n AS src", "(n div 10) * 10 + (n % 10 + 1) % 10 AS dst")
        .unionByName(n.selectExpr("n AS src",
          "(n div 10) * 10 + (n % 10 + 2) % 10 AS dst"))
        .unionByName(n.filter(col("n") % 10 === 9)
          .selectExpr("n AS src", "(n + 1) % 40 AS dst"))
      graft.ops.GraphOps.labelPropagation(edges, iters = 2).orderBy("id")
    }),

    // k-core decomposition (iterative peeling) on a planted graph that
    // exercises the iteration: a chorded ring (degree 4, survives
    // k = 2 untouched), a pendant chain hanging off it (unravels ONE
    // node per round — 7 rounds to strip), and an isolated triangle
    // (degree 2, survives). DuckDB replays all 9 unrolled peel rounds.
    "q227_kcore" -> ((s, dir) => {
      val n = t(s, dir, "documents")
        .select((col("doc_id") % 40).as("n")).distinct()
      val edges = n.filter(col("n") < 10)
          .selectExpr("n AS src", "(n + 1) % 10 AS dst")
        .unionByName(n.filter(col("n") < 10)
          .selectExpr("n AS src", "(n + 2) % 10 AS dst"))
        .unionByName(n.filter(col("n").between(10, 15))
          .selectExpr("n AS src", "n + 1 AS dst"))
        .unionByName(n.filter(col("n") === 10)
          .selectExpr("n AS src", "CAST(0 AS BIGINT) AS dst"))
        .unionByName(n.filter(col("n").between(30, 32))
          .selectExpr("n AS src", "30 + (n + 1 - 30) % 3 AS dst"))
      graft.ops.GraphOps.kCore(edges, k = 2, iters = 9).orderBy("id")
    }),

    // Distributed Borůvka MST on a planted 40-node chorded graph with
    // DISTINCT composite weights (unique MST). DuckDB proves each edge
    // by the cut property — in the MST iff its endpoints are NOT
    // connected using strictly lighter edges (one recursive
    // reachability over the edge×node state).
    "q251_boruvka_mst" -> ((s, dir) => {
      val raw = ringGraph(s, dir)
      val canon = raw
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
        .withColumn("w",
          ((col("a") * 73 + col("b") * 31) % 997) * 1000 +
            col("a") * 40 + col("b"))
      graft.ops.GraphOps.boruvkaMst(
          canon.select(col("a").as("src"), col("b").as("dst"), col("w")),
          iters = 8)
        .orderBy("a", "b")
    }),

    // Single-source shortest paths (Bellman-Ford rounds) from node 0
    // over the q251 weighted graph — 12 rounds ≥ diameter, so the
    // distances are exact. DuckDB replays bounded-hop path expansion
    // and takes the same per-node minimum.
    "q252_shortest_paths" -> ((s, dir) => {
      val raw = ringGraph(s, dir)
      val canon = raw
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct()
        .withColumn("w",
          ((col("a") * 73 + col("b") * 31) % 997) * 1000 +
            col("a") * 40 + col("b"))
      graft.ops.GraphOps.shortestPaths(
          canon.select(col("a").as("src"), col("b").as("dst"), col("w")),
          source = 0L, rounds = 12)
        .orderBy("id")
    }),

    // Per-node clustering coefficient over the q251 graph: neighbor-
    // pair generation + one close join, exact per-mille. DuckDB
    // re-derives adjacency, pairs, triangle closes, and ratios.
    "q253_clustering_coeff" -> ((s, dir) => {
      val raw = ringGraph(s, dir)
      graft.ops.GraphOps.clusteringCoefficient(raw).orderBy("id")
    }),

    // Structural link prediction over the q251 graph: non-adjacent
    // pairs scored by common neighbors and exact neighborhood Jaccard.
    // DuckDB re-derives wedges, the anti-join, degrees, and scores.
    "q254_link_prediction" -> ((s, dir) => {
      val raw = ringGraph(s, dir)
      graft.ops.GraphOps.linkPrediction(raw).orderBy("u", "v")
    }),

    // HITS hubs & authorities over the q88 residue-map graph: three
    // synchronous mutual-recursion rounds in exact max-normalized
    // fixed point (argmax pinned at 1e6, truncating divisions).
    // DuckDB replays all six half-steps on the identical graph.
    "q262_hits" -> ((s, dir) => {
      val base = t(s, dir, "documents").select((col("doc_id") % 50).as("src"))
      val e = base.select(col("src"),
          ((col("src") * col("src") + 3) % 50).as("dst"))
        .unionByName(base.select(col("src"),
          ((col("src") * 3 + 7) % 50).as("dst")))
        .filter(col("src") =!= col("dst"))
      graft.ops.GraphOps.hits(e, iters = 3).orderBy("id")
    }),

    // TextRank keyword extraction: PageRank over the window-2 token
    // co-occurrence graph (linear shifted-stream equi-join, never the
    // per-doc quadratic range join), exact fixed-point ranks, top-15.
    // DuckDB re-derives the graph and replays the rank recursion.
    "q265_textrank" -> ((s, dir) =>
      graft.ops.TextAnalysis.textRankKeywords(
        t(s, dir, "documents"), window = 2, iters = 5, k = 15)
        .orderBy(desc("rank"), asc("token"))),

    // Two synchronous Louvain local-move rounds over the q251 graph:
    // integer modularity-gain argmax (score diffs = 2m²·ΔQ), exact
    // final Q in micro units. DuckDB replays both rounds and Q.
    "q273_modularity_move" -> ((s, dir) => {
      val raw = ringGraph(s, dir)
      graft.ops.GraphOps.modularityLocalMove(raw, iters = 2)
        .orderBy("id")
    }),

    // Phonetic blocking: soundex code per vocabulary word + block
    // size (n_block > 1 = sound-alike collision a fuzzy-linkage pass
    // should verify). DuckDB re-derives every code positionally
    // (translate + lag run-collapse) and the block sizes.
    "q274_soundex_blocking" -> ((s, dir) => {
      val w = t(s, dir, "documents").select(col("text"))
        .unionByName(t(s, dir, "part").select(col("p_name").as("text")))
        .select(explode(split(lower(trim(col("text"))), "\\s+"))
          .as("word"))
        .filter(col("word") =!= "").distinct()
        .withColumn("code", graft.ops.Dedup.soundex4(col("word")))
        .filter(col("code").isNotNull)
      val blocks = w.groupBy("code").agg(count(lit(1)).as("n_block"))
      w.join(blocks, "code")
        .select(col("word"), col("code"), col("n_block"))
        .orderBy("word")
    }),

    // Fellegi-Sunter linkage over the customer file: frequency-
    // estimated u per compare field, fixed m, micro-log weights folded
    // to literals, (segment, nation)-blocked pairs, integer scores.
    // DuckDB re-estimates u, re-derives both weights, and re-scores
    // every blocked pair.
    "q277_fellegi_sunter" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("bal_b",
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)"))
        .withColumn("name_d", expr("right(c_name, 1)"))
      graft.ops.Dedup.fellegiSunterPairs(c, "c_custkey",
          blockCols = Seq("c_mktsegment", "c_nationkey"),
          compareCols = Seq("bal_b", "name_d"),
          lowerU6 = -400000L)
        .orderBy("id1", "id2")
    }),

    // Entity-resolution composite: F-S link pairs (q277's model at the
    // link threshold) → connected components → canonical min-id +
    // cluster sizes. DuckDB re-derives the model, the link set, and
    // the reachability closure.
    "q286_er_composite" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("bal_b",
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)"))
        .withColumn("name_d", expr("right(c_name, 1)"))
      val links = graft.ops.Dedup.fellegiSunterPairs(c, "c_custkey",
          blockCols = Seq("c_mktsegment", "c_nationkey"),
          compareCols = Seq("bal_b", "name_d"), lowerU6 = 1L)
        .select("id1", "id2")
      val cc = graft.ops.Dedup.connectedComponents(links)
      val sizes = cc.groupBy("comp").agg(count(lit(1)).as("n_members"))
      cc.join(sizes, "comp")
        .select(col("id"), col("comp").as("canon"), col("n_members"))
        .orderBy("id")
    }),

    // Sorted-neighborhood blocking over customers keyed by cent
    // balances (window 3): every record pairs with its two sort
    // successors. DuckDB re-derives the global rank and both shifts.
    "q297_sorted_neighborhood" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("cents",
          expr("CAST(floor(c_acctbal * 100) AS BIGINT)"))
      graft.ops.Dedup.sortedNeighborhoodPairs(
          c, "c_custkey", "cents", window = 3)
        .withColumn("d_cents", col("key2") - col("key1"))
        .select("id1", "id2", "d_cents")
        .orderBy("id1", "id2")
    }),

    // Instance-based schema matching: customer vs supplier integral
    // projections, exact value-set Jaccard per cross-table column
    // pair. DuckDB re-melts both schemas and re-derives every score.
    "q298_schema_match" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        expr("CAST(floor(c_acctbal) AS BIGINT)").as("c_bal"))
      val b = t(s, dir, "supplier").select(col("s_suppkey"),
        col("s_nationkey"),
        expr("CAST(floor(s_acctbal) AS BIGINT)").as("s_bal"))
      graft.ops.Profile.schemaMatch(a, b).orderBy("col_a", "col_b")
    }),

    // Personalized PageRank over the q88 residue graph, teleporting
    // only to the seed whitelist {0,10,20,30,40} — proximity-to-seeds
    // scores, not global authority. Same exact-integer recurrence;
    // DuckDB replays all 5 rounds with the seed-conditional base.
    "q312_personalized_pagerank" -> ((s, dir) => {
      val base = t(s, dir, "documents").select((col("doc_id") % 50).as("src"))
      val e = base.select(col("src"),
          ((col("src") * col("src") + 3) % 50).as("dst"))
        .unionByName(base.select(col("src"),
          ((col("src") * 3 + 7) % 50).as("dst")))
        .filter(col("src") =!= col("dst"))
      graft.ops.GraphOps.personalizedPageRank(e,
        seeds = Seq(0L, 10L, 20L, 30L, 40L), iters = 5).orderBy("id")
    }),

    // Full two-level Louvain on the q273 ring-and-chords graph:
    // phase-1 moves, contraction to the weighted community graph
    // (self-loops = 2·E_c, the Q-preserving convention), phase-1
    // again on the coarse graph, nodes relabeled through their
    // super-node — with the exact modularity at BOTH levels. DuckDB
    // replays every round at both levels, the contraction, and both
    // Q quotients.
    "q322_louvain_two_level" -> ((s, dir) => {
      val raw = ringGraph(s, dir)
      graft.ops.GraphOps.louvainTwoLevel(raw, iters = 2).orderBy("id")
    }),

    // Gale–Shapley stable matching: 6 suppliers (proposers) × 6
    // nations (acceptors) with md5-derived two-sided preferences —
    // the proposer-optimal stable assignment, synchronously (a pure
    // function of the inputs where classic GS's visit order isn't).
    // DuckDB re-derives both preference tables and replays 36
    // deferred-acceptance rounds (the 6×6 worst-case bound; rounds
    // past the fixpoint are no-ops).
    "q330_stable_matching" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def h(tag: String, x: Column, y: Column) =
        conv(substring(md5(concat_ws("#", lit(tag), x.cast("string"),
          y.cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast("long") % 1000000
      val sup = t(s, dir, "supplier")
        .filter(col("s_suppkey").between(1, 6))
        .select(col("s_suppkey").as("p"))
      val nat = t(s, dir, "nation")
        .filter(col("n_nationkey").between(0, 5))
        .select(col("n_nationkey").as("a"))
      val cross = sup.crossJoin(nat)
      val pp = cross
        .withColumn("sc", h("p", col("p"), col("a")))
        .withColumn("rank", row_number().over(Window.partitionBy("p")
          .orderBy(desc("sc"), col("a"))).cast("long") - 1)
        .select("p", "a", "rank")
      val pa = cross.select(col("a"), col("p"),
        h("a", col("a"), col("p")).as("score"))
      graft.ops.Matching.stableMatching(pp, pa, maxRounds = 36)
        .orderBy("p")
    }),

    // SimRank over a planted citation graph (papers 0..5 cite targets
    // 6..8, targets cite hub 9): "similar because cited by similar" —
    // the global structural-similarity complement to q254's local
    // neighbor overlap; 3 truncated-series rounds in exact ppm.
    // DuckDB replays the in-degree table and every round.
    "q336_simrank" -> ((s, dir) => {
      val n = t(s, dir, "documents")
        .select((col("doc_id") % 6).as("n")).distinct()
      val raw = n.selectExpr("n AS src", "6 + n % 3 AS dst")
        .unionByName(n.selectExpr("n AS src", "6 + (n + 1) % 3 AS dst"))
        .unionByName(n.filter(col("n") < 3)
          .selectExpr("6 + n AS src", "9 AS dst"))
      graft.ops.GraphOps.simRank(raw, iters = 3, cPpm = 800000L)
        .orderBy("a", "b")
    }),
  )

  /** q273/q322's modularity local moves on the 40-node ring graph: the
    * symmetric edges, degrees, two rounds from singleton communities and
    * the integer modularity numerator, ending in `qn(num, m)`. */
  private def modularityTwoRoundCtes: String =
    s"""raw AS (SELECT n AS src, (n + 1) % 40 AS dst FROM nn
       |  UNION ALL SELECT n, (n + 7) % 40 FROM nn
       |  UNION ALL SELECT n, (n + 13) % 40 FROM nn WHERE n < 20),
       |sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw)
       |  WHERE src <> dst),
       |deg AS MATERIALIZED (SELECT src AS id,
       |    CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY 1),
       |mm AS MATERIALIZED (SELECT CAST(count(*) // 2 AS BIGINT) AS m
       |  FROM sym),
       |r0 AS (SELECT id, id AS comm FROM deg),
       |${modularityRoundCtes("r0", 1)},
       |${modularityRoundCtes("r1", 2)},
       |ec AS (SELECT a.comm, CAST(count(*) // 2 AS BIGINT) AS ec
       |  FROM sym s JOIN r2 a ON a.id = s.src
       |  JOIN r2 b ON b.id = s.dst AND b.comm = a.comm GROUP BY 1),
       |kct AS (SELECT r.comm, CAST(sum(d.k) AS BIGINT) AS kc
       |  FROM r2 r JOIN deg d USING (id) GROUP BY 1),
       |qn AS (SELECT CAST(sum(4 * mm.m * coalesce(ec.ec, 0)
       |      - kct.kc * kct.kc) AS BIGINT) AS num,
       |    max(mm.m) AS m
       |  FROM kct LEFT JOIN ec ON ec.comm = kct.comm CROSS JOIN mm)""".stripMargin

  /** q88/q197's fixed-point integer PageRank over the edges `e(src, dst)`:
    * ranks start at 1e9, self-loops keep sinks, and `iters` damped rounds
    * fill `pr(id, rank, iter)`. */
  private def pageRankCtes(iters: Int): String =
    s"""nodes AS (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
       |e0 AS (SELECT src, dst, 1 AS w FROM e
       |  UNION ALL SELECT id, id, 0 FROM nodes),
       |pr(id, rank, iter) AS (
       |  SELECT id, CAST(1000000000 AS BIGINT), 0 FROM nodes
       |  UNION ALL
       |  SELECT e0.dst,
       |    CAST(150000000 + SUM(e0.w * ((p.rank * 85) // (100 * COALESCE(o.outdeg, 1))))
       |      AS BIGINT),
       |    p.iter + 1
       |  FROM pr p
       |  JOIN e0 ON e0.src = p.id
       |  LEFT JOIN outdeg o ON o.src = e0.src
       |  WHERE p.iter < $iters
       |  GROUP BY e0.dst, p.iter)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q56_dedup_components" ->
      s"""WITH RECURSIVE tripled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents
        |  UNION ALL SELECT doc_id + 20000, text FROM documents),
        |ranked AS (SELECT doc_id, md5(text) AS dg,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM tripled),
        |edges AS (SELECT a.doc_id AS id1, b.doc_id AS id2 FROM ranked a
        |  JOIN ranked b ON a.dg = b.dg AND b.rn = a.rn + 1),
        |${componentWalkCtes("edges", false)},
        |cc AS (SELECT id AS doc_id, min(comp) AS comp FROM walk GROUP BY id)
        |SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS comp_size
        |FROM cc""".stripMargin,

    // Same integer recurrence as GraphOps.pageRankFixedPoint: base +
    // floor-div contributions. Zero-weight self-edges keep every node in
    // each iteration (the recursive term may reference pr only once);
    // outdeg coalesces to 1 for them — w = 0 kills the term anyway.
    "q88_pagerank" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id % 50 AS src, ((doc_id % 50) * (doc_id % 50) + 3) % 50 AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id % 50 AS src, ((doc_id % 50) * 3 + 7) % 50 AS dst
        |    FROM documents) WHERE src <> dst),
        |${pageRankCtes(5)}
        |SELECT id, rank FROM pr WHERE iter = 5""".stripMargin,

    "q118_fuzzy_linkage" ->
      """WITH base AS (SELECT DISTINCT c_custkey % 500 AS eid FROM customer),
        |sysA AS (SELECT eid AS id_a, 'entity_' || CAST(eid AS VARCHAR) AS name_a
        |  FROM base),
        |sysB AS (SELECT eid + 1000 AS id_b,
        |    CASE WHEN eid % 4 = 0 THEN 'entity-' || CAST(eid AS VARCHAR)
        |         ELSE 'entity_' || CAST(eid AS VARCHAR) END AS name_b
        |  FROM base)
        |SELECT id_a, id_b, name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS INT) AS dist
        |FROM sysA JOIN sysB ON right(name_a, 2) = right(name_b, 2)
        |WHERE levenshtein(name_a, name_b) <= 1""".stripMargin,

    "q120_triangle_count" ->
      """WITH raw AS (SELECT doc_id % 60 AS src, (doc_id // 60) % 60 AS dst
        |  FROM documents),
        |e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM raw WHERE least(src, dst) < greatest(src, dst))
        |SELECT CAST(count(*) AS BIGINT) AS triangles
        |FROM e ab JOIN e bc ON ab.v = bc.u
        |JOIN e ac ON ac.u = ab.u AND ac.v = bc.v""".stripMargin,

    "q145_entity_resolution" ->
      s"""WITH RECURSIVE base AS (
        |  SELECT DISTINCT c_custkey % 500 AS eid FROM customer),
        |sysA AS (SELECT eid AS rec_id,
        |    'entity_' || CAST(eid AS VARCHAR) AS name FROM base),
        |sysB AS (SELECT eid + 1000 AS rec_id,
        |    CASE WHEN eid % 4 = 0 THEN 'entity-' || CAST(eid AS VARCHAR)
        |         ELSE 'entity_' || CAST(eid AS VARCHAR) END AS name
        |  FROM base),
        |links AS (SELECT a.rec_id AS id1, b.rec_id AS id2
        |  FROM sysA a JOIN sysB b ON right(a.name, 2) = right(b.name, 2)
        |  WHERE levenshtein(a.name, b.name) <= 1),
        |${componentWalkCtes("links", false)},
        |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
        |allrec AS (SELECT * FROM sysA UNION ALL SELECT * FROM sysB)
        |SELECT r.rec_id, r.name, COALESCE(cc.comp, r.rec_id) AS entity_id
        |FROM allrec r LEFT JOIN cc ON cc.id = r.rec_id""".stripMargin,

    "q155_components_logn" ->
      """SELECT doc_id AS id,
        |  MIN(doc_id) OVER (PARTITION BY lang) AS comp
        |FROM documents""".stripMargin,

    "q156_jaro_linkage" ->
      """WITH base AS (SELECT DISTINCT c_custkey % 500 AS eid FROM customer),
        |sysA AS (SELECT eid AS id_a, 'entity_' || CAST(eid AS VARCHAR) AS name_a
        |  FROM base),
        |sysB AS (SELECT eid + 1000 AS id_b,
        |    CASE WHEN eid % 4 = 0 THEN 'entity-' || CAST(eid AS VARCHAR)
        |         ELSE 'entity_' || CAST(eid AS VARCHAR) END AS name_b
        |  FROM base)
        |SELECT id_a, id_b, name_a, name_b,
        |  round(jaro_winkler_similarity(name_a, name_b), 6) AS jw
        |FROM sysA JOIN sysB
        |  ON right(regexp_replace(name_a, '[-_]', '', 'g'), 2)
        |   = right(regexp_replace(name_b, '[-_]', '', 'g'), 2)
        |WHERE round(jaro_winkler_similarity(name_a, name_b), 6) >= 0.9""".stripMargin,

    "q197_citation_authority" ->
      s"""WITH RECURSIVE d AS (SELECT DISTINCT doc_id % 40 AS src
        |  FROM documents),
        |e AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, (src * src + 13) % 40 AS dst FROM d
        |    UNION ALL
        |    SELECT src, (src * 7 + 3) % 40 AS dst FROM d)
        |  WHERE src <> dst),
        |${pageRankCtes(3)}
        |SELECT id, rank FROM pr WHERE iter = 3""".stripMargin,

    "q200_label_propagation" ->
      """WITH nn AS (SELECT DISTINCT doc_id % 40 AS n FROM documents),
        |e0 AS (SELECT n AS src, (n // 10) * 10 + (n % 10 + 1) % 10 AS dst
        |    FROM nn
        |  UNION ALL SELECT n, (n // 10) * 10 + (n % 10 + 2) % 10 FROM nn
        |  UNION ALL SELECT n, (n + 1) % 40 FROM nn WHERE n % 10 = 9),
        |e AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
        |  WHERE src <> dst),
        |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
        |c1 AS (SELECT e.src AS id, l.lbl, count(*) AS c
        |  FROM e JOIN l0 l ON l.id = e.dst GROUP BY 1, 2),
        |l1 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |  FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.src AS id, l.lbl, count(*) AS c
        |  FROM e JOIN l1 l ON l.id = e.dst GROUP BY 1, 2),
        |l2 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |    row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |  FROM c2) WHERE rn = 1)
        |SELECT CAST(id AS BIGINT) AS id, CAST(lbl AS BIGINT) AS lbl
        |FROM l2 ORDER BY id""".stripMargin,

    "q227_kcore" -> {
      // AS MATERIALIZED: DuckDB inlines plain CTEs, so a 9-round chain
      // referencing its predecessor 3× would expand 3^9 scans
      val rounds = (1 to 9).map { r =>
        s"""d$r AS MATERIALIZED (SELECT src, count(*) AS c
           |  FROM e${r - 1} GROUP BY 1),
           |k$r AS MATERIALIZED (SELECT src FROM d$r WHERE c >= 2),
           |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
           |  JOIN k$r a ON e.src = a.src JOIN k$r b ON e.dst = b.src)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH n AS (SELECT DISTINCT doc_id % 40 AS n FROM documents),
        |raw AS (
        |  SELECT n AS src, (n + 1) % 10 AS dst FROM n WHERE n < 10
        |  UNION ALL SELECT n, (n + 2) % 10 FROM n WHERE n < 10
        |  UNION ALL SELECT n, n + 1 FROM n WHERE n BETWEEN 10 AND 15
        |  UNION ALL SELECT n, 0 FROM n WHERE n = 10
        |  UNION ALL SELECT n, 30 + (n + 1 - 30) % 3 FROM n
        |    WHERE n BETWEEN 30 AND 32),
        |e0 AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM raw
        |    UNION ALL SELECT dst, src FROM raw)
        |  WHERE src <> dst),
        |$rounds
        |SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |FROM e9 GROUP BY 1 ORDER BY id""".stripMargin
    },

    "q251_boruvka_mst" ->
      """WITH RECURSIVE nn AS (SELECT DISTINCT doc_id % 40 AS n
        |  FROM documents),
        |raw AS (
        |  SELECT n AS src, (n + 1) % 40 AS dst FROM nn
        |  UNION ALL SELECT n, (n + 7) % 40 FROM nn
        |  UNION ALL SELECT n, (n + 13) % 40 FROM nn WHERE n < 20),
        |e AS (SELECT a, b,
        |    ((a * 73 + b * 31) % 997) * 1000 + a * 40 + b AS w
        |  FROM (SELECT DISTINCT least(src, dst) AS a,
        |      greatest(src, dst) AS b FROM raw WHERE src <> dst)),
        |reach(e_a, e_b, e_w, node) AS (
        |  SELECT a, b, w, a FROM e
        |  UNION
        |  SELECT r.e_a, r.e_b, r.e_w,
        |    CASE WHEN x.a = r.node THEN x.b ELSE x.a END
        |  FROM reach r JOIN e x
        |    ON (x.a = r.node OR x.b = r.node) AND x.w < r.e_w)
        |SELECT a, b, CAST(w AS BIGINT) AS w FROM e
        |WHERE NOT EXISTS (SELECT 1 FROM reach r
        |  WHERE r.e_a = e.a AND r.e_b = e.b AND r.e_w = e.w
        |    AND r.node = e.b)
        |ORDER BY a, b""".stripMargin,

    "q252_shortest_paths" ->
      """WITH RECURSIVE nn AS (SELECT DISTINCT doc_id % 40 AS n
        |  FROM documents),
        |raw AS (
        |  SELECT n AS src, (n + 1) % 40 AS dst FROM nn
        |  UNION ALL SELECT n, (n + 7) % 40 FROM nn
        |  UNION ALL SELECT n, (n + 13) % 40 FROM nn WHERE n < 20),
        |e AS (SELECT a, b,
        |    ((a * 73 + b * 31) % 997) * 1000 + a * 40 + b AS w
        |  FROM (SELECT DISTINCT least(src, dst) AS a,
        |      greatest(src, dst) AS b FROM raw WHERE src <> dst)),
        |sym AS (SELECT a AS src, b AS dst, w FROM e
        |  UNION ALL SELECT b, a, w FROM e),
        |p(node, dist, hops) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
        |  UNION
        |  SELECT s.dst, p.dist + s.w, p.hops + 1
        |  FROM p JOIN sym s ON s.src = p.node
        |  WHERE p.hops < 12)
        |SELECT node AS id, CAST(min(dist) AS BIGINT) AS dist
        |FROM p GROUP BY 1 ORDER BY id""".stripMargin,

    "q253_clustering_coeff" ->
      """WITH nn AS (SELECT DISTINCT doc_id % 40 AS n FROM documents),
        |raw AS (
        |  SELECT n AS src, (n + 1) % 40 AS dst FROM nn
        |  UNION ALL SELECT n, (n + 7) % 40 FROM nn
        |  UNION ALL SELECT n, (n + 13) % 40 FROM nn WHERE n < 20),
        |sym AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw)
        |  WHERE src <> dst),
        |canon AS (SELECT src AS pa, dst AS pb FROM sym WHERE src < dst),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM sym GROUP BY 1),
        |pairs AS (SELECT x.src AS id, x.dst AS v, y.dst AS w
        |  FROM sym x JOIN sym y ON x.src = y.src AND x.dst < y.dst),
        |tri AS (SELECT p.id, CAST(count(*) AS BIGINT) AS triangles
        |  FROM pairs p JOIN canon c ON p.v = c.pa AND p.w = c.pb
        |  GROUP BY 1)
        |SELECT d.id, d.deg,
        |  CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
        |  CASE WHEN d.deg >= 2 THEN CAST(COALESCE(t.triangles, 0) * 2
        |    * 1000 // (d.deg * (d.deg - 1)) AS BIGINT)
        |    ELSE CAST(0 AS BIGINT) END AS cc_pm
        |FROM deg d LEFT JOIN tri t ON t.id = d.id
        |ORDER BY d.id""".stripMargin,

    "q254_link_prediction" ->
      """WITH nn AS (SELECT DISTINCT doc_id % 40 AS n FROM documents),
        |raw AS (
        |  SELECT n AS src, (n + 1) % 40 AS dst FROM nn
        |  UNION ALL SELECT n, (n + 7) % 40 FROM nn
        |  UNION ALL SELECT n, (n + 13) % 40 FROM nn WHERE n < 20),
        |sym AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw)
        |  WHERE src <> dst),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |  FROM sym GROUP BY 1),
        |w AS (SELECT x.src AS u, y.src AS v,
        |    CAST(count(*) AS BIGINT) AS cn
        |  FROM sym x JOIN sym y ON x.dst = y.dst AND x.src < y.src
        |  GROUP BY 1, 2),
        |nonadj AS (SELECT w.* FROM w
        |  WHERE NOT EXISTS (SELECT 1 FROM sym s
        |    WHERE s.src = w.u AND s.dst = w.v))
        |SELECT n.u, n.v, n.cn, du.deg AS deg_u, dv.deg AS deg_v,
        |  CAST(n.cn * 1000 // (du.deg + dv.deg - n.cn) AS BIGINT)
        |    AS jaccard_pm
        |FROM nonadj n JOIN deg du ON du.id = n.u
        |              JOIN deg dv ON dv.id = n.v
        |ORDER BY u, v""".stripMargin,

    "q262_hits" ->
      """WITH base AS MATERIALIZED (
        |  SELECT DISTINCT doc_id % 50 AS src FROM documents),
        |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
        |    SELECT src, (src * src + 3) % 50 AS dst FROM base
        |    UNION ALL SELECT src, (src * 3 + 7) % 50 FROM base)
        |  WHERE src <> dst),
        |nodes AS MATERIALIZED (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |a0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS auth
        |  FROM nodes),
        |h1r AS MATERIALIZED (SELECT n.id, COALESCE(s.raw, 0) AS raw
        |  FROM nodes n LEFT JOIN (SELECT e.src AS id,
        |      CAST(sum(a.auth) AS BIGINT) AS raw
        |    FROM e JOIN a0 a ON a.id = e.dst GROUP BY 1) s
        |  ON s.id = n.id),
        |h1 AS MATERIALIZED (SELECT id, CAST(raw * 1000000
        |  // (SELECT max(raw) FROM h1r) AS BIGINT) AS hub FROM h1r),
        |a1r AS MATERIALIZED (SELECT n.id, COALESCE(s.raw, 0) AS raw
        |  FROM nodes n LEFT JOIN (SELECT e.dst AS id,
        |      CAST(sum(h.hub) AS BIGINT) AS raw
        |    FROM e JOIN h1 h ON h.id = e.src GROUP BY 1) s
        |  ON s.id = n.id),
        |a1 AS MATERIALIZED (SELECT id, CAST(raw * 1000000
        |  // (SELECT max(raw) FROM a1r) AS BIGINT) AS auth FROM a1r),
        |h2r AS MATERIALIZED (SELECT n.id, COALESCE(s.raw, 0) AS raw
        |  FROM nodes n LEFT JOIN (SELECT e.src AS id,
        |      CAST(sum(a.auth) AS BIGINT) AS raw
        |    FROM e JOIN a1 a ON a.id = e.dst GROUP BY 1) s
        |  ON s.id = n.id),
        |h2 AS MATERIALIZED (SELECT id, CAST(raw * 1000000
        |  // (SELECT max(raw) FROM h2r) AS BIGINT) AS hub FROM h2r),
        |a2r AS MATERIALIZED (SELECT n.id, COALESCE(s.raw, 0) AS raw
        |  FROM nodes n LEFT JOIN (SELECT e.dst AS id,
        |      CAST(sum(h.hub) AS BIGINT) AS raw
        |    FROM e JOIN h2 h ON h.id = e.src GROUP BY 1) s
        |  ON s.id = n.id),
        |a2 AS MATERIALIZED (SELECT id, CAST(raw * 1000000
        |  // (SELECT max(raw) FROM a2r) AS BIGINT) AS auth FROM a2r),
        |h3r AS MATERIALIZED (SELECT n.id, COALESCE(s.raw, 0) AS raw
        |  FROM nodes n LEFT JOIN (SELECT e.src AS id,
        |      CAST(sum(a.auth) AS BIGINT) AS raw
        |    FROM e JOIN a2 a ON a.id = e.dst GROUP BY 1) s
        |  ON s.id = n.id),
        |h3 AS MATERIALIZED (SELECT id, CAST(raw * 1000000
        |  // (SELECT max(raw) FROM h3r) AS BIGINT) AS hub FROM h3r),
        |a3r AS MATERIALIZED (SELECT n.id, COALESCE(s.raw, 0) AS raw
        |  FROM nodes n LEFT JOIN (SELECT e.dst AS id,
        |      CAST(sum(h.hub) AS BIGINT) AS raw
        |    FROM e JOIN h3 h ON h.id = e.src GROUP BY 1) s
        |  ON s.id = n.id),
        |a3 AS MATERIALIZED (SELECT id, CAST(raw * 1000000
        |  // (SELECT max(raw) FROM a3r) AS BIGINT) AS auth FROM a3r)
        |SELECT h3.id, h3.hub, a3.auth
        |FROM h3 JOIN a3 ON a3.id = h3.id
        |ORDER BY h3.id""".stripMargin,

    "q265_textrank" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, idx, parts[idx+1] AS tok FROM (
        |    SELECT doc_id, parts, unnest(range(len(parts))) AS idx FROM (
        |      SELECT doc_id, string_split(text, ' ') AS parts
        |      FROM documents))),
        |pairs AS (SELECT a.tok AS src, b.tok AS dst
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id
        |    AND b.idx > a.idx AND b.idx <= a.idx + 2
        |  WHERE a.tok <> b.tok),
        |e AS (SELECT DISTINCT src, dst FROM (
        |  SELECT src, dst FROM pairs
        |  UNION ALL SELECT dst, src FROM pairs)),
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        |e0 AS (SELECT src, dst, 1 AS w FROM e
        |  UNION ALL SELECT id, id, 0 FROM nodes),
        |pr(id, rank, iter) AS (
        |  SELECT id, CAST(1000000000 AS BIGINT), 0 FROM nodes
        |  UNION ALL
        |  SELECT e0.dst,
        |    CAST(150000000 + SUM(e0.w * ((p.rank * 85)
        |      // (100 * COALESCE(o.outdeg, 1)))) AS BIGINT),
        |    p.iter + 1
        |  FROM pr p
        |  JOIN e0 ON e0.src = p.id
        |  LEFT JOIN outdeg o ON o.src = e0.src
        |  WHERE p.iter < 5
        |  GROUP BY e0.dst, p.iter)
        |SELECT id AS token, rank FROM pr WHERE iter = 5
        |ORDER BY rank DESC, token LIMIT 15""".stripMargin,

    "q273_modularity_move" ->
      s"""WITH nn AS (SELECT DISTINCT doc_id % 40 AS n FROM documents),
        |${modularityTwoRoundCtes},
        |qq AS (SELECT CAST(num * 1000000 // (4 * m * m) AS BIGINT)
        |    AS q_u6 FROM qn)
        |SELECT r2.id, r2.comm, qq.q_u6 FROM r2, qq
        |ORDER BY id""".stripMargin,

    "q274_soundex_blocking" ->
      """WITH wds AS (SELECT DISTINCT w AS word FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |      AS w FROM (SELECT text FROM documents
        |        UNION ALL SELECT p_name FROM part)) WHERE w <> ''),
        |cl AS (SELECT word,
        |    upper(regexp_replace(word, '[^A-Za-z]', '', 'g')) AS cw
        |  FROM wds),
        |ch AS (SELECT word, cw, i, translate(substr(cw, i, 1),
        |    'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202')
        |    AS d
        |  FROM (SELECT word, cw, unnest(range(1, len(cw) + 1)) AS i
        |    FROM cl WHERE len(cw) > 0)),
        |kp AS (SELECT word, cw, i, d,
        |    lag(d) OVER (PARTITION BY word ORDER BY i) AS pd FROM ch),
        |dd AS (SELECT word, cw, i, d,
        |    row_number() OVER (PARTITION BY word ORDER BY i) AS rn
        |  FROM kp WHERE pd IS NULL OR d <> pd),
        |ds AS (SELECT word, i, d,
        |    row_number() OVER (PARTITION BY word ORDER BY i) AS dn
        |  FROM dd WHERE rn > 1 AND d <> '0'),
        |agg AS (SELECT word, string_agg(d, '' ORDER BY i) AS s3
        |  FROM ds WHERE dn <= 3 GROUP BY word),
        |code AS (SELECT cl.word,
        |    substr(cl.cw, 1, 1) || rpad(coalesce(agg.s3, ''), 3, '0')
        |      AS code
        |  FROM cl LEFT JOIN agg USING (word) WHERE len(cl.cw) > 0),
        |blk AS (SELECT code, CAST(count(*) AS BIGINT) AS n_block
        |  FROM code GROUP BY 1)
        |SELECT c.word, c.code, b.n_block
        |FROM code c JOIN blk b USING (code)
        |ORDER BY word""".stripMargin,

    "q277_fellegi_sunter" ->
      s"""WITH $fellegiSunterCtes
        |SELECT id1, id2, CAST(g1 + g2 AS BIGINT) AS n_agree,
        |  CAST(g1 * w1.wa + (1 - g1) * w1.wd
        |    + g2 * w2.wa + (1 - g2) * w2.wd AS BIGINT) AS score_u6,
        |  CASE WHEN g1 * w1.wa + (1 - g1) * w1.wd
        |    + g2 * w2.wa + (1 - g2) * w2.wd >= 1
        |    THEN 'link' ELSE 'possible' END AS decision
        |FROM p, w1, w2
        |WHERE g1 * w1.wa + (1 - g1) * w1.wd
        |  + g2 * w2.wa + (1 - g2) * w2.wd >= -400000
        |ORDER BY id1, id2""".stripMargin,

    "q286_er_composite" ->
      s"""WITH RECURSIVE $fellegiSunterCtes,
        |links AS MATERIALIZED (SELECT id1, id2 FROM p, w1, w2
        |  WHERE g1 * w1.wa + (1 - g1) * w1.wd
        |    + g2 * w2.wa + (1 - g2) * w2.wd >= 1),
        |${componentWalkCtes("links", true)},
        |cc AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
        |sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_members
        |  FROM cc GROUP BY 1)
        |SELECT cc.id, cc.comp AS canon, sz.n_members
        |FROM cc JOIN sz USING (comp) ORDER BY id""".stripMargin,

    "q297_sorted_neighborhood" ->
      """WITH rk AS (SELECT c_custkey AS id,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS k,
        |    row_number() OVER (ORDER BY
        |      CAST(floor(c_acctbal * 100) AS BIGINT), c_custkey) AS rn
        |  FROM customer)
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(b.k - a.k AS BIGINT) AS d_cents
        |FROM rk a JOIN rk b ON b.rn - a.rn IN (1, 2)
        |ORDER BY id1, id2""".stripMargin,

    "q298_schema_match" ->
      """WITH va AS MATERIALIZED (
        |  SELECT 'c_custkey' AS col_a,
        |    CAST(c_custkey AS VARCHAR) AS v FROM customer
        |  UNION SELECT 'c_nationkey',
        |    CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION SELECT 'c_mktsegment',
        |    CAST(c_mktsegment AS VARCHAR) FROM customer
        |  UNION SELECT 'c_bal',
        |    CAST(CAST(floor(c_acctbal) AS BIGINT) AS VARCHAR)
        |    FROM customer),
        |vb AS MATERIALIZED (
        |  SELECT 's_suppkey' AS col_b,
        |    CAST(s_suppkey AS VARCHAR) AS v FROM supplier
        |  UNION SELECT 's_nationkey',
        |    CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION SELECT 's_bal',
        |    CAST(CAST(floor(s_acctbal) AS BIGINT) AS VARCHAR)
        |    FROM supplier),
        |na AS (SELECT col_a, CAST(count(*) AS BIGINT) AS n_a
        |  FROM va GROUP BY 1),
        |nb AS (SELECT col_b, CAST(count(*) AS BIGINT) AS n_b
        |  FROM vb GROUP BY 1),
        |ov AS (SELECT va.col_a, vb.col_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM va JOIN vb USING (v) GROUP BY 1, 2)
        |SELECT ov.col_a, ov.col_b, na.n_a, nb.n_b, ov.n_common,
        |  CAST(ov.n_common * 1000000
        |    // (na.n_a + nb.n_b - ov.n_common) AS BIGINT) AS jaccard_pm
        |FROM ov JOIN na USING (col_a) JOIN nb USING (col_b)
        |ORDER BY col_a, col_b""".stripMargin,

    "q312_personalized_pagerank" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id % 50 AS src,
        |      ((doc_id % 50) * (doc_id % 50) + 3) % 50 AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id % 50 AS src, ((doc_id % 50) * 3 + 7) % 50 AS dst
        |    FROM documents) WHERE src <> dst),
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        |e0 AS (SELECT src, dst, 1 AS w FROM e
        |  UNION ALL SELECT id, id, 0 FROM nodes),
        |pr(id, rank, iter) AS (
        |  SELECT id, CAST(CASE WHEN id % 10 = 0 THEN 1000000000
        |    ELSE 0 END AS BIGINT), 0 FROM nodes
        |  UNION ALL
        |  SELECT e0.dst,
        |    CAST(CASE WHEN e0.dst % 10 = 0 THEN 150000000 ELSE 0 END
        |      + SUM(e0.w * ((p.rank * 85) // (100 * COALESCE(o.outdeg, 1))))
        |      AS BIGINT),
        |    p.iter + 1
        |  FROM pr p
        |  JOIN e0 ON e0.src = p.id
        |  LEFT JOIN outdeg o ON o.src = e0.src
        |  WHERE p.iter < 5
        |  GROUP BY e0.dst, p.iter)
        |SELECT id, rank FROM pr WHERE iter = 5""".stripMargin,

    "q322_louvain_two_level" ->
      s"""WITH nn AS (SELECT DISTINCT doc_id % 40 AS n FROM documents),
        |${modularityTwoRoundCtes},
        |qq AS (SELECT CAST(num * 1000000 // (4 * m * m) AS BIGINT)
        |    AS q_l1_u6 FROM qn),
        |lab AS MATERIALIZED (SELECT a.comm AS ca, b.comm AS cb
        |  FROM sym s JOIN r2 a ON a.id = s.src
        |  JOIN r2 b ON b.id = s.dst),
        |adj2 AS MATERIALIZED (
        |  SELECT ca AS src, cb AS dst, CAST(count(*) AS BIGINT) AS w
        |  FROM lab WHERE ca <> cb GROUP BY 1, 2
        |  UNION ALL
        |  SELECT ca, ca, CAST(count(*) AS BIGINT)
        |  FROM lab WHERE ca = cb GROUP BY 1, 2),
        |sym2 AS MATERIALIZED (SELECT src, dst, w FROM adj2
        |  WHERE src <> dst),
        |deg2 AS MATERIALIZED (SELECT src AS id,
        |    CAST(sum(w) AS BIGINT) AS k FROM adj2 GROUP BY 1),
        |mm2 AS MATERIALIZED (SELECT CAST(sum(w) // 2 AS BIGINT) AS m
        |  FROM adj2),
        |s0 AS (SELECT id, id AS comm FROM deg2),
        |${modularityWRoundCtes("s0", 1)},
        |${modularityWRoundCtes("s1", 2)},
        |iw AS (SELECT a.comm, CAST(sum(s.w) AS BIGINT) AS iw
        |  FROM sym2 s JOIN s2 a ON a.id = s.src
        |  JOIN s2 b ON b.id = s.dst AND b.comm = a.comm GROUP BY 1),
        |sw AS (SELECT c.comm, CAST(sum(a.w) AS BIGINT) AS sw
        |  FROM adj2 a JOIN s2 c ON c.id = a.src
        |  WHERE a.src = a.dst GROUP BY 1),
        |kc2t AS (SELECT r.comm, CAST(sum(d.k) AS BIGINT) AS kc
        |  FROM s2 r JOIN deg2 d USING (id) GROUP BY 1),
        |qn2 AS (SELECT CAST(sum(4 * mm2.m * ecv - kc * kc) AS BIGINT)
        |      AS num, max(mm2.m) AS m
        |  FROM (SELECT k2.comm, k2.kc,
        |      (coalesce(iw.iw, 0) + coalesce(sw.sw, 0)) // 2 AS ecv
        |    FROM kc2t k2 LEFT JOIN iw ON iw.comm = k2.comm
        |    LEFT JOIN sw ON sw.comm = k2.comm) CROSS JOIN mm2),
        |qq2 AS (SELECT CAST(num * 1000000 // (4 * m * m) AS BIGINT)
        |    AS q_l2_u6 FROM qn2)
        |SELECT r2.id, r2.comm AS comm_l1, sm.comm AS comm_l2,
        |  qq.q_l1_u6, qq2.q_l2_u6
        |FROM r2 JOIN s2 sm ON sm.id = r2.comm, qq, qq2
        |ORDER BY r2.id""".stripMargin,

    "q330_stable_matching" ->
      s"""WITH sup AS (SELECT CAST(s_suppkey AS BIGINT) AS p
        |  FROM supplier WHERE s_suppkey BETWEEN 1 AND 6),
        |nat AS (SELECT CAST(n_nationkey AS BIGINT) AS a
        |  FROM nation WHERE n_nationkey BETWEEN 0 AND 5),
        |ps AS (SELECT p, a,
        |    CAST('0x' || substr(md5('p#' || CAST(p AS VARCHAR) || '#'
        |      || CAST(a AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 AS sc
        |  FROM sup CROSS JOIN nat),
        |pp AS MATERIALIZED (SELECT p, a,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p
        |      ORDER BY sc DESC, a) - 1 AS BIGINT) AS rank
        |  FROM ps),
        |pa AS MATERIALIZED (SELECT a, p,
        |    CAST('0x' || substr(md5('a#' || CAST(a AS VARCHAR) || '#'
        |      || CAST(p AS VARCHAR)), 1, 8) AS BIGINT) % 1000000
        |      AS score
        |  FROM sup CROSS JOIN nat),
        |ptr0 AS (SELECT p, CAST(0 AS BIGINT) AS ptr FROM sup),
        |eng0 AS (SELECT CAST(NULL AS BIGINT) AS p,
        |    CAST(NULL AS BIGINT) AS a WHERE 1 = 0),
        |${(1 to 36).map(k => gsRoundCtes(k - 1, k)).mkString(",\n")}
        |SELECT e.p, e.a, pp.rank AS rank_used
        |FROM eng36 e JOIN pp ON pp.p = e.p AND pp.a = e.a
        |ORDER BY e.p""".stripMargin,

    "q336_simrank" ->
      s"""WITH nn AS (SELECT DISTINCT doc_id % 6 AS n FROM documents),
        |raw AS (SELECT n AS src, 6 + n % 3 AS dst FROM nn
        |  UNION ALL SELECT n, 6 + (n + 1) % 3 FROM nn
        |  UNION ALL SELECT 6 + n, 9 FROM nn WHERE n < 3),
        |ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw),
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT src AS id FROM ed UNION ALL SELECT dst FROM ed)),
        |ind AS MATERIALIZED (SELECT dst AS id,
        |    CAST(count(*) AS BIGINT) AS ind FROM ed GROUP BY 1),
        |sim0 AS (SELECT id AS a, id AS b, CAST(1000000 AS BIGINT) AS s
        |  FROM nodes),
        |${(1 to 3).map(k => simRankRoundCtes(k - 1, k)).mkString(",\n")}
        |SELECT a, b, s AS sim_ppm FROM sim3 WHERE a < b
        |ORDER BY a, b""".stripMargin,
  )

  /** The q277 Fellegi–Sunter model (customer blocks, frequency u
    * estimation, both field weights, blocked agreement pairs) as
    * DuckDB CTEs ending in `p(id1, id2, g1, g2)` plus the weight rows
    * `w1(wa, wd)` / `w2(wa, wd)` — shared by the q277 pair-scoring
    * oracle and q286's entity-resolution composite (which appends the
    * link filter and the reachability closure). NOT pre-stripped
    * (embeds in stripMargin outer strings, the winnowingCtes rule). */
  private def fellegiSunterCtes: String =
    """c AS MATERIALIZED (SELECT c_custkey, c_mktsegment,
      |    c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT)
      |      AS bal_b, right(c_name, 1) AS name_d FROM customer),
      |u1 AS (SELECT greatest(1, least(999999,
      |    CAST(sum(nv * nv) AS BIGINT) * 1000000
      |      // (CAST(sum(nv) AS BIGINT) * CAST(sum(nv) AS BIGINT))))
      |    AS u
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS nv FROM c
      |    GROUP BY bal_b)),
      |w1 AS MATERIALIZED (SELECT
      |    CAST(round(log10(950000.0 / u) * 1000000, 0) AS BIGINT)
      |      AS wa,
      |    CAST(round(log10(50000.0 / (1000000 - u)) * 1000000, 0)
      |      AS BIGINT) AS wd FROM u1),
      |u2 AS (SELECT greatest(1, least(999999,
      |    CAST(sum(nv * nv) AS BIGINT) * 1000000
      |      // (CAST(sum(nv) AS BIGINT) * CAST(sum(nv) AS BIGINT))))
      |    AS u
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS nv FROM c
      |    GROUP BY name_d)),
      |w2 AS MATERIALIZED (SELECT
      |    CAST(round(log10(950000.0 / u) * 1000000, 0) AS BIGINT)
      |      AS wa,
      |    CAST(round(log10(50000.0 / (1000000 - u)) * 1000000, 0)
      |      AS BIGINT) AS wd FROM u2),
      |p AS MATERIALIZED (SELECT a.c_custkey AS id1, b.c_custkey AS id2,
      |    CASE WHEN a.bal_b IS NOT DISTINCT FROM b.bal_b
      |      THEN 1 ELSE 0 END AS g1,
      |    CASE WHEN a.name_d IS NOT DISTINCT FROM b.name_d
      |      THEN 1 ELSE 0 END AS g2
      |  FROM c a JOIN c b ON a.c_mktsegment = b.c_mktsegment
      |    AND a.c_nationkey = b.c_nationkey
      |    AND a.c_custkey < b.c_custkey)""".stripMargin

  /** One q336 SimRank round over tables ed/ind/nodes: contributions
    * from the previous round's pairs through both in-edge joins, then
    * the cPpm-scaled truncating normalization; the diagonal re-enters
    * at 10⁶ every round. NOT pre-stripped. */
  private def simRankRoundCtes(j: Int, k: Int): String =
    s"""ct$k AS (SELECT e1.dst AS a, e2.dst AS b,
       |    CAST(sum(s.s) AS BIGINT) AS ssum
       |  FROM sim$j s JOIN ed e1 ON e1.src = s.a
       |  JOIN ed e2 ON e2.src = s.b
       |  WHERE e1.dst <> e2.dst GROUP BY 1, 2),
       |sim$k AS MATERIALIZED (
       |  SELECT id AS a, id AS b, CAST(1000000 AS BIGINT) AS s
       |  FROM nodes
       |  UNION ALL
       |  SELECT c.a, c.b, CAST(800000 * c.ssum
       |      // (ia.ind * ib.ind * 1000000) AS BIGINT) AS s
       |  FROM ct$k c JOIN ind ia ON ia.id = c.a
       |  JOIN ind ib ON ib.id = c.b
       |  WHERE 800000 * c.ssum // (ia.ind * ib.ind * 1000000) > 0)"""

  /** One q330 synchronous deferred-acceptance round: free proposers
    * offer at their pointer, each acceptor keeps its best offer ever
    * (score desc, p asc), every loser — dumped incumbents included —
    * advances its pointer. Rounds past the fixpoint are no-ops. NOT
    * pre-stripped. */
  private def gsRoundCtes(j: Int, k: Int): String =
    s"""prop$k AS MATERIALIZED (SELECT pt.p, pp.a
       |  FROM ptr$j pt JOIN pp ON pp.p = pt.p AND pp.rank = pt.ptr
       |  WHERE pt.p NOT IN (SELECT p FROM eng$j WHERE p IS NOT NULL)),
       |cand$k AS (SELECT p, a FROM prop$k
       |  UNION ALL SELECT p, a FROM eng$j WHERE p IS NOT NULL),
       |win$k AS MATERIALIZED (SELECT p, a FROM (
       |    SELECT c.p, c.a, ROW_NUMBER() OVER (PARTITION BY c.a
       |      ORDER BY s.score DESC, c.p) AS rn
       |    FROM cand$k c JOIN pa s ON s.a = c.a AND s.p = c.p)
       |  WHERE rn = 1),
       |lose$k AS (SELECT DISTINCT p FROM (
       |    SELECT p, a FROM cand$k EXCEPT SELECT p, a FROM win$k)),
       |ptr$k AS MATERIALIZED (SELECT pt.p, pt.ptr +
       |    CASE WHEN pt.p IN (SELECT p FROM lose$k) THEN 1 ELSE 0 END
       |      AS ptr
       |  FROM ptr$j pt),
       |eng$k AS MATERIALIZED (SELECT p, a FROM win$k)"""

  /** Weighted Louvain round CTEs over tables sym2/deg2/mm2 (the q322
    * coarse graph): [[modularityRoundCtes]] with Σw in place of
    * counts. Emits s$r as the round's assignment. NOT pre-stripped. */
  private def modularityWRoundCtes(prev: String, r: Int): String =
    s"""kcw$r AS MATERIALIZED (SELECT p.comm, CAST(sum(d.k) AS BIGINT)
       |    AS kc FROM $prev p JOIN deg2 d USING (id) GROUP BY 1),
       |nbw$r AS (SELECT s.src AS id, c.comm AS ncomm,
       |    CAST(sum(s.w) AS BIGINT) AS e
       |  FROM sym2 s JOIN $prev c ON c.id = s.dst GROUP BY 1, 2),
       |cdw$r AS (SELECT id, ncomm, max(e) AS e FROM (
       |    SELECT id, ncomm, e FROM nbw$r
       |    UNION ALL SELECT id, comm AS ncomm, 0 AS e FROM $prev)
       |  GROUP BY 1, 2),
       |scw$r AS MATERIALIZED (SELECT c.id, c.ncomm,
       |    2 * mm2.m * c.e - d.k * (CASE WHEN c.ncomm = p.comm
       |      THEN kc.kc - d.k ELSE kc.kc END) AS score
       |  FROM cdw$r c JOIN $prev p ON p.id = c.id
       |  JOIN deg2 d ON d.id = c.id
       |  JOIN kcw$r kc ON kc.comm = c.ncomm CROSS JOIN mm2),
       |s$r AS MATERIALIZED (SELECT id, ncomm AS comm FROM (
       |    SELECT id, ncomm, row_number() OVER (PARTITION BY id
       |      ORDER BY score DESC, ncomm) AS rn FROM scw$r)
       |  WHERE rn = 1)"""

  private def modularityRoundCtes(prev: String, r: Int): String =
    s"""kc$r AS MATERIALIZED (SELECT p.comm, CAST(sum(d.k) AS BIGINT)
       |    AS kc FROM $prev p JOIN deg d USING (id) GROUP BY 1),
       |nb$r AS (SELECT s.src AS id, c.comm AS ncomm,
       |    CAST(count(*) AS BIGINT) AS e
       |  FROM sym s JOIN $prev c ON c.id = s.dst GROUP BY 1, 2),
       |cd$r AS (SELECT id, ncomm, max(e) AS e FROM (
       |    SELECT id, ncomm, e FROM nb$r
       |    UNION ALL SELECT id, comm AS ncomm, 0 AS e FROM $prev)
       |  GROUP BY 1, 2),
       |sc$r AS MATERIALIZED (SELECT c.id, c.ncomm,
       |    2 * mm.m * c.e - d.k * (CASE WHEN c.ncomm = p.comm
       |      THEN kc.kc - d.k ELSE kc.kc END) AS score
       |  FROM cd$r c JOIN $prev p ON p.id = c.id
       |  JOIN deg d ON d.id = c.id
       |  JOIN kc$r kc ON kc.comm = c.ncomm CROSS JOIN mm),
       |r$r AS MATERIALIZED (SELECT id, ncomm AS comm FROM (
       |    SELECT id, ncomm, row_number() OVER (PARTITION BY id
       |      ORDER BY score DESC, ncomm) AS rn FROM sc$r)
       |  WHERE rn = 1)"""
}
