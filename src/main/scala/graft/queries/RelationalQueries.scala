package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

import graft.SparkEntry.auxPath
import graft.queries.QuerySupport._

/** Relational operators: TPC-H-shaped scans, joins, aggregates, windows,
  * set operations and top-k, layout keys, and physical-plan audits
  * (salting, pruning, join order and size estimates). */
private[graft] object RelationalQueries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A4/A1 — grouped aggregation with map-side partials (TPC-H Q1 shape).
    "q01_pricing_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_discount"))).as("sum_disc_cents"),
          count(lit(1)).as("count_order"))
    }),

    // P1/P4/F14 — filter + projection, pushed to the parquet scan.
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("n_chars") >= 100 && col("lang") =!= "en")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          upper(col("source")).as("source_uc"))
    }),

    // J2/P2 — left anti join (the reference's existing-docket dedup).
    "q03_anti_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // left semi join (EXISTS).
    "q04_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_nationkey")
    }),

    // J1 — star join with a broadcast dimension; revenue per nation.
    "q05_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
          count(lit(1)).as("n_items"))
    }),

    // W1/W3 — ranking window: top-3 customers per nation by balance.
    "q06_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("c_nationkey"), col("rnk"), col("c_custkey"),
          cents(col("c_acctbal")).as("acctbal_cents"))
    }),

    // T4/T6-ish — global top-k with deterministic tie-break
    // (TakeOrderedAndProject: no global sort at scale).
    "q07_topk_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), cents(col("o_totalprice")).as("totalprice_cents"))
    }),

    // A1 — distinct + count-distinct aggregates.
    "q08_distinct_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
    }),

    // json scalar fn — extract + aggregate over a JSON payload column.
    "q10_json_extract" -> ((s, dir) => {
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
    }),

    // rollup — hierarchical aggregates with sentinel-filled nulls.
    "q13_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
    }),

    // set ops — (signup ∩ error) EXCEPT purchase at (user, day) grain:
    // user-days that saw both a signup and an error but no purchase.
    // (User grain is degenerate on this corpus: every user has every
    // event type, so both branches must discriminate at day grain.)
    "q14_set_ops" -> ((s, dir) => {
      val ev = events(s, dir)
      def userDays(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"),
          date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .distinct()
      userDays("signup").intersect(userDays("error")).except(userDays("purchase"))
        .withColumn("cohort", lit("signup_error_no_purchase"))
    }),

    // P3 — text-field coalesce with source_field tracking.
    "q15_coalesce_source" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val (value, source) = GraftFunctions.coalesceTextFields(Seq(
        ("lang_zh", when(col("lang") === "zh", col("lang")).otherwise(lit(""))),
        ("source", col("source")),
        ("fallback", lit("unknown"))))
      d.select(col("doc_id"), value.as("resolved"), source.as("source_field"))
    }),

    // F11-ish — date bucketing + formatting.
    "q17_orders_by_quarter" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), quarter(col("o_orderdate")).as("qtr"))
        .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
    }),

    // salted two-phase aggregation (skew mitigation) — must equal the
    // naive GROUP BY, which is exactly what the oracle asserts.
    "q38_salted_agg" -> ((s, dir) =>
      graft.ops.Skew.saltedSum(t(s, dir, "lineitem"), "l_returnflag", "l_quantity")
        .select(col("l_returnflag"),
          col("sum_l_quantity").cast("long").as("sum_qty"), col("n_rows"))),

    // A2 — native max_by argmax (the deterministic window variant is
    // q09; timestamps are tie-free in this corpus so max_by is exact).
    "q40_argmax_native" -> ((s, dir) => {
      events(s, dir)
        .groupBy("user_id")
        .agg(max_by(col("event_type"), col("ts")).as("last_event_type"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"))
    }),

    // range (interval containment) join via bin blocking — revenue per
    // static price band; the equi-join on bins bounds the pair count
    // (LSH-banding-shaped, no theta cross-product).
    "q43_range_join" -> ((s, dir) => {
      val bands = s.range(12).select(col("id").as("band_id"),
        (col("id") * 50000.0).as("lo"), ((col("id") + 1) * 50000.0).as("hi"))
      graft.ops.Joins.rangeJoin(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          bands, "o_totalprice", "lo", "hi", binSize = 10000.0)
        .groupBy("band_id")
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("revenue_cents"))
    }),

    // cube — all grouping-set combinations with sentinel-filled nulls.
    "q44_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
    }),

    // pivot — order counts per priority × status (missing combos → 0 so
    // the shape matches conditional aggregation exactly).
    "q45_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    }),

    // GROUPING SETS with grouping() indicators — arbitrary grouping-set
    // combinations beyond rollup/cube's fixed hierarchies.
    "q49_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT COALESCE(o_orderpriority, 'ALL') AS pri,
          |  COALESCE(o_orderstatus, 'ALL') AS st,
          |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
          |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_st,
          |  COUNT(*) AS n
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin)
    }),

    // running total — frame-bounded window aggregate (cumulative revenue
    // per customer in order-date order, unique tie-break).
    "q50_running_total" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        sum(cents(col("o_totalprice"))).over(w).as("running_cents"))
    }),

    // deterministic array aggregation — collect_list is unordered by
    // contract, so sort_array pins the order; the result is emitted as a
    // comma-joined string (the oracle harness can't sort/hash list cells).
    "q51_array_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .groupBy("o_orderpriority")
        .agg(array_join(sort_array(collect_list(col("o_orderkey")))
            .cast("array<string>"), ",").as("keys_sorted"),
          count(lit(1)).as("n"))),

    // null-safe equality join (<=>): NULL keys match each other, unlike
    // plain equality — the dedup-on-nullable-key primitive.
    "q52_nullsafe_join" -> ((s, dir) => {
      val ev = events(s, dir)
      def keys(t: String) = ev.filter(col("event_type") === t)
        .select(when(col("user_id") % 10 === 0, lit(null))
          .otherwise(col("user_id") % 10).as("k")).distinct()
      val a = keys("signup").as("a")
      val b = keys("error").as("b")
      a.join(b, col("a.k") <=> col("b.k"))
        .select(col("a.k").as("k"))
        .withColumn("matched", lit(true))
    }),

    // Custom whole-operator tier: per-key top-k via the TopKPerKey
    // LogicalPlan + SparkStrategy + bounded-heap SparkPlan — same result
    // as the row_number window (the oracle), no full per-partition sort.
    "q72_topk_per_key" -> ((s, dir) =>
      graft.plans.TopK.perKey(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"), cents(col("l_extendedprice")).as("price_cents")),
        keyCols = Seq("l_returnflag"),
        orderBy = Seq(("price_cents", false), ("l_orderkey", true),
          ("l_linenumber", true)),
        k = 3)),

    // Same operator forced through its SPILL path: a tiny retained-rows
    // budget makes every partition write key-sorted runs and merge them
    // — the oracle (identical to q72's) proves the external path is
    // value-exact, not just the in-memory heaps.
    "q73_topk_spilled" -> ((s, dir) => {
      s.conf.set("graft.topk.maxRetainedRows", "64")
      try graft.plans.TopK.perKey(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
          col("l_linenumber"), cents(col("l_extendedprice")).as("price_cents")),
        keyCols = Seq("l_returnflag"),
        orderBy = Seq(("price_cents", false), ("l_orderkey", true),
          ("l_linenumber", true)),
        k = 3)
      finally s.conf.unset("graft.topk.maxRetainedRows")
    }),

    // Global row numbering without the single-partition window funnel:
    // range-partition + per-partition offsets + within-partition ranks.
    // Must equal the naive ROW_NUMBER() OVER (ORDER BY doc_id) exactly.
    "q84_global_rownum" -> ((s, dir) =>
      graft.ops.Layout.globalRowNumber(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id")),

    // TPC-H Q5 shape: 6-table snowflake (region→nation→customer→orders→
    // lineitem→supplier, local-supplier condition) with a region filter
    // and a date window — the multi-join planning stress: tiny dims
    // broadcast, the two fact joins shuffle on their keys, AQE reorders.
    // Revenue in integer cents so accumulation order can't drift.
    "q108_local_supplier_revenue" -> ((s, dir) => {
      val rev = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      t(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
        .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
        .join(t(s, dir, "orders").filter(
            col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1998-01-01")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(rev).as("revenue_cents"), count(lit(1)).as("n_items"))
    }),

    // Z-order (Morton) codes: the clustering key behind zorderWrite's
    // two-dimensional data skipping, oracle-checked bit for bit — the
    // DuckDB side re-interleaves with shift/mask arithmetic.
    "q124_zorder" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.Layout.zValue(col("doc_id") % 1024, col("n_chars") % 1024,
          bits = 10).as("z"))),

    // TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    // pre-cutoff orders ⋈ post-cutoff lineitems, top-10 open orders by
    // revenue. The optimizer test: both dimension filters must reach
    // their scans, customer broadcasts, and the top-10 is a
    // TakeOrdered, never a global sort.
    "q127_shipping_priority" -> ((s, dir) => {
      val rev = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-06-01")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-06-01")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_orderpriority"))
        .agg(sum(rev).as("revenue_cents"))
        .orderBy(desc("revenue_cents"), asc("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q10 shape (returned-item reporting): customers ranked by
    // revenue lost to returns in one quarter — a 4-table star with two
    // scan-pushed date bounds and a returnflag filter.
    "q128_returned_customers" -> ((s, dir) => {
      val rev = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(
            col("o_orderdate") >= lit("1997-01-01") &&
            col("o_orderdate") < lit("1997-04-01")),
          col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem").filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(rev).as("lost_cents"), count(lit(1)).as("n_items"))
        .orderBy(desc("lost_cents"), asc("c_custkey"))
        .limit(20)
    }),

    // EXACTLY-n-per-stratum sampling (md5-priority rank within each
    // language) through the custom TopKPerKey plan — guaranteed
    // per-class counts for balanced eval pools, still a pure function
    // of the ids.
    "q130_fixed_stratified" -> ((s, dir) =>
      graft.ops.Sampling.fixedSizeStratified(
        t(s, dir, "documents").select("doc_id", "lang"),
        Seq("lang"), "doc_id", n = 20)
        .select("doc_id", "lang")),

    // Bucketed co-located fact join: orders and lineitem pre-bucketed on
    // the order key join with NO exchange on either side (hint("merge")
    // pins the SMJ the 100 TB large-large case needs; the bucketing
    // makes the shuffle vanish — PlanSpec asserts exactly that; bucket-
    // local sorts remain, as Spark trusts sortBy ordering only at one
    // file per bucket). Tables materialize once per session; re-runs
    // pay only the join.
    "q133_bucketed_join" -> ((s, dir) => {
      val sfx = new java.io.File(dir).getName.replace('.', '_')
      graft.ops.Joins.ensureBucketedTable(
        t(s, dir, "orders").select(col("o_orderkey"),
          cents(col("o_totalprice")).as("total_cents")),
        s"bk_orders_$sfx", "o_orderkey", buckets = 8,
        fingerprint = graft.ops.Joins.dataFingerprint(s"$dir/orders.parquet"))
      graft.ops.Joins.ensureBucketedTable(
        t(s, dir, "lineitem").select(col("l_orderkey"),
          cents(col("l_extendedprice")).as("price_cents")),
        s"bk_lineitem_$sfx", "l_orderkey", buckets = 8,
        fingerprint = graft.ops.Joins.dataFingerprint(s"$dir/lineitem.parquet"))
      s.table(s"bk_orders_$sfx").hint("merge")
        .join(s.table(s"bk_lineitem_$sfx"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "total_cents")
        .agg(count(lit(1)).as("n_items"), sum("price_cents").as("items_cents"))
    }),

    // Salted skew JOIN (completes q38's salted-agg story): lineitem's
    // return-flag key is 3-valued — the textbook hot-key join — so the
    // fact side salts into 16 content-derived sub-keys and the tiny dim
    // replicates per salt. Result must equal the plain join + aggregate
    // exactly (the oracle IS the unsalted formulation).
    "q134_salted_join" -> ((s, dir) => {
      val dimDf = {
        import s.implicits._
        Seq(("A", "returned"), ("N", "kept"), ("R", "refunded"))
          .toDF("l_returnflag", "flag_desc")
      }
      graft.ops.Skew.saltedJoin(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), cents(col("l_extendedprice")).as("price_cents")),
          dimDf, "l_returnflag", saltBuckets = 16)
        .groupBy("l_returnflag", "flag_desc")
        .agg(count(lit(1)).as("n_items"), sum("price_cents").as("sum_cents"))
    }),

    // Clustering-depth audit (Delta OPTIMIZE's effectiveness metric for
    // plain parquet): the same table written range-partitioned and
    // hash-partitioned; per file, how many files' [min,max] intervals
    // overlap its own. Range → depth 1 everywhere (stats prune to one
    // file); hash → depth = n_files (stats prune nothing). The oracle
    // re-derives the interval self-join + counts from the aux-dumped
    // manifest; the join runs on the file DIMENSION, never data rows.
    "q176_clustering_depth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = auxPath(dir) + "/layouts"
      val marker = java.nio.file.Paths.get(base, "_BUILT")
      if (!java.nio.file.Files.exists(marker)) {
        val d = t(s, dir, "documents").select("doc_id", "n_chars")
        d.repartitionByRange(4, col("doc_id"))
          .write.mode("overwrite").parquet(s"$base/range")
        d.repartition(4, col("doc_id"))
          .write.mode("overwrite").parquet(s"$base/hash")
        java.nio.file.Files.createDirectories(marker.getParent)
        java.nio.file.Files.write(marker, "v1".getBytes)
      }
      val man = Seq("range", "hash").map { lay =>
        graft.ops.Layout.fileStats(s, s"$base/$lay", Seq("doc_id"))
          .select(lit(lay).as("layout"), col("doc_id_min").as("mn"),
            col("doc_id_max").as("mx"), col("n_rows"))
      }.reduce(_ unionByName _)
      // parquet part names are run-dependent; a rank under the total
      // (mn, mx, n_rows) order is the deterministic file identity
      val w = Window.partitionBy("layout").orderBy("mn", "mx", "n_rows")
      val manIdx = man
        .withColumn("file_idx", row_number().over(w).cast("long"))
      writeAux(manIdx, dir, "q176_manifest")
      val b = manIdx.select(col("layout"), col("mn").as("bmn"),
        col("mx").as("bmx"))
      manIdx.join(b, Seq("layout"))
        .filter(col("mn") <= col("bmx") && col("bmn") <= col("mx"))
        .groupBy("layout", "file_idx", "mn", "mx", "n_rows")
        .agg(count(lit(1)).as("depth"))
        .orderBy("layout", "file_idx")
    }),

    // Sketch-derived balanced range sharding: the repartitionByRange
    // boundary-sampling step made deterministic via the KLL sketch.
    // Cuts are aux-dumped; DuckDB re-derives every row's shard from
    // them exactly and recomputes the per-shard profile.
    "q195_range_shards" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val bounds = graft.ops.Layout.rangeShardBounds(d, "n_chars",
        nShards = 8, k = 256)
      writeAux(bounds.zipWithIndex
        .map { case (c, i) => (i.toLong + 1, c) }.toSeq.toDF("idx", "cut"),
        dir, "q195_cuts")
      graft.ops.Layout.assignRangeShards(d, "n_chars", bounds)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_rows"), min("n_chars").as("min_v"),
          max("n_chars").as("max_v"))
        .orderBy("shard")
    }),

    // TPC-H Q18 shape (large-quantity orders): HAVING-gated aggregate
    // feeding a semi-join back into the customer⋈orders star — the
    // third classic optimizer shape next to q127 (Q3) and q128 (Q10).
    // Declarative; Catalyst plans the semi-join and the partial aggs.
    "q209_large_orders" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum("l_quantity").as("sum_qty"))
        .filter(col("sum_qty") > 300)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          cents(col("o_totalprice")).as("total_cents"),
          col("sum_qty").cast("long").as("sum_qty"))
        .orderBy(desc("total_cents"), col("o_orderkey"))
        .limit(20)
    }),

    // Join-fanout pre-flight: the audit you run BEFORE a 100 TB equi-
    // join — per-key counts both sides, output contribution, estimated
    // total cardinality, per-mille shares, top-20 hot keys. Key-count
    // tables only; the payload never moves. DuckDB re-derives it all.
    "q231_join_fanout" -> ((s: SparkSession, dir: String) =>
      graft.ops.Skew.joinFanoutAudit(
        t(s, dir, "lineitem"), "l_suppkey",
        t(s, dir, "supplier"), "s_suppkey", topN = 20)),

    // Hilbert-curve layout key (q124's Z-order with the locality
    // upgrade — consecutive indices are always grid-adjacent): the
    // xy2d walk as pure codegen'd column algebra. DuckDB replays all
    // ten levels of the walk per row.
    "q289_hilbert" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.Layout.hilbertValue(col("doc_id") % 1024,
          col("n_chars") % 1024, bits = 10).as("h"))),

    // Consistent-hash ring rebalance audit: the 4-node vs 5-node
    // assignment matrix (64 vnodes each) — keys only ever move TO the
    // new node, ~1/5 of them. DuckDB re-derives both rings, every
    // assignment incl. the wrap, and the movement counts.
    "q304_consistent_hashing" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n4 = (0 until 4).map(i => s"node$i")
      val before = graft.ops.Layout
        .consistentHashAssign(d, "doc_id", n4)
        .select(col("id"), col("node").as("node_before"))
      val after = graft.ops.Layout
        .consistentHashAssign(d, "doc_id", n4 :+ "node4")
        .select(col("id"), col("node").as("node_after"))
      before.join(after, "id")
        .groupBy("node_before", "node_after")
        .agg(count(lit(1)).as("n"))
        .orderBy("node_before", "node_after")
    }),

    // Rendezvous-hash removal audit (q304's complement): dropping
    // node4 from the 5-node HRW assignment reassigns EXACTLY its
    // keys, spread over the survivors. DuckDB re-derives every argmax
    // and the movement matrix.
    "q309_rendezvous_hashing" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n5 = (0 until 5).map(i => s"node$i")
      val before = graft.ops.Layout.rendezvousAssign(d, "doc_id", n5)
        .select(col("id"), col("node").as("node_before"))
      val after = graft.ops.Layout
        .rendezvousAssign(d, "doc_id", n5.take(4))
        .select(col("id"), col("node").as("node_after"))
      before.join(after, "id")
        .groupBy("node_before", "node_after")
        .agg(count(lit(1)).as("n"))
        .orderBy("node_before", "node_after")
    }),

    // AMS/Count-Min join-size estimation on the lineitem l_partkey
    // self-join (Σ cnt² — the second frequency moment a planner wants
    // before picking broadcast vs shuffle vs salt): per-row cell inner
    // products, min estimate, exact size, overestimate ppm, all through
    // DECIMAL(38) widening. DuckDB re-derives the md5 buckets, both
    // inner products, and the ppm quotient.
    "q315_join_size_est" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.ops.Profile.joinSizeEstimate(li, "l_partkey", li, "l_partkey",
        depth = 4, width = 64).orderBy("hash_row")
    }),

    // Workload-level zone-map pruning audit on orders: linear-by-custkey
    // vs Z-order(custkey, price) range-sharded into 16 files, scored
    // against a 4-predicate box workload — files read, rows scanned,
    // exact matches, prune/amplification ppm. DuckDB re-derives the
    // Morton keys, the global ranks, every zone, and both quotients.
    "q316_pruning_audit" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"),
        expr("CAST(round(o_totalprice) AS BIGINT)").as("price_d"))
      val preds = Seq(
        (0L, 10L, 25L, 0L, 1000000L),
        (1L, 0L, 10000000L, 50000L, 100000L),
        (2L, 10L, 100L, 50000L, 150000L),
        (3L, 0L, 400L, 0L, 200000L)
      ).toDF("pred_id", "x_lo", "x_hi", "y_lo", "y_hi")
      graft.ops.Layout.pruningAudit(o, "o_custkey", "price_d",
        "o_orderkey",
        Seq("linear_x" -> col("o_custkey"),
          "zorder" -> graft.ops.Layout.zValue(col("o_custkey"),
            col("price_d"), bits = 21)),
        preds, nFiles = 16)
        .orderBy("layout", "pred_id")
    }),

    // Salting planner simulation on the events stream: per-key salt
    // factors bounding any sub-key at 500 rows, then per-partition
    // loads before/after over a 16-partition md5-bucketed shuffle —
    // empty partitions report 0 (they ARE the skew signal). DuckDB
    // re-derives the histogram, factors, exact share splits, and both
    // load tables.
    "q317_salt_plan" -> ((s, dir) =>
      graft.ops.Skew.saltPlanLoads(t(s, dir, "events"), "event_type",
        partitions = 16, maxRows = 500L)
        .orderBy("partition")),

    // TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    // this schema's columns: the sole-blame pattern — a supplier's
    // line was LATE (shipped > 90 days after the order date) on a
    // finished multi-supplier order where NO other supplier was late.
    // The optimizer shape is the point: one fact⋈dim enrichment, then
    // a semi AND an anti against the SAME enriched fact with different
    // correlated predicates, then a dim-sized rollup. Exchange reuse
    // shares the enriched scan across all three branches.
    "q320_waiting_suppliers" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          (col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("late"),
          col("o_orderstatus").as("st"))
      val l1 = l.filter(col("late") && col("st") === "F")
      val l2 = l.select(col("ok").as("ok2"), col("sk").as("sk2"))
      val l3 = l.filter(col("late"))
        .select(col("ok").as("ok3"), col("sk").as("sk3"))
      l1.join(l2, col("ok2") === col("ok") && col("sk2") =!= col("sk"),
          "left_semi")
        .join(l3, col("ok3") === col("ok") && col("sk3") =!= col("sk"),
          "left_anti")
        .join(t(s, dir, "supplier"), col("sk") === col("s_suppkey"))
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey") &&
          col("n_nationkey") % 5 === 3, "left_semi")
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("s_name")).limit(25)
    }),

    // Selinger DP join ordering over the 5-table TPC-H-ish join graph
    // (L–O, O–C, L–S, L–P): System-R cardinalities from exact NDVs,
    // C_out cost, connected subsets only, fixed-order truncating
    // divisions so both engines derive identical integers. DuckDB
    // re-gathers every stat and replays the subset DP round by round.
    "q326_selinger_join_order" -> ((s, dir) =>
      graft.ops.Joins.selingerJoinOrder(
        Seq("L" -> t(s, dir, "lineitem"), "O" -> t(s, dir, "orders"),
          "C" -> t(s, dir, "customer"), "S" -> t(s, dir, "supplier"),
          "P" -> t(s, dir, "part")),
        Seq((0, "l_orderkey", 1, "o_orderkey"),
          (1, "o_custkey", 2, "c_custkey"),
          (0, "l_suppkey", 3, "s_suppkey"),
          (0, "l_partkey", 4, "p_partkey")))
        .orderBy("mask")),

    // Optimizer-statistics quality audit on order totals (cents):
    // equi-width vs equi-depth 16-bucket histograms scored on a
    // 4-predicate range workload via the textbook per-bucket integer
    // interpolation — the ANALYZE decision in numbers. Boundaries are
    // exact dyadic percentiles, so DuckDB's quantile_cont re-derives
    // them bit-equal; every estimate and err_ppm is replayed.
    "q327_histogram_audit" -> ((s, dir) => {
      import s.implicits._
      val preds = Seq((0L, 0L, 5000000L), (1L, 10000000L, 20000000L),
        (2L, 40000000L, 60000000L), (3L, 0L, 100000000L))
        .toDF("pred_id", "q_lo", "q_hi")
      val o = t(s, dir, "orders")
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)")
          .as("cents"))
      graft.ops.Cleaning.histogramSelectivityAudit(o, "cents", preds,
        bins = 16).orderBy("hist", "pred_id")
    }),

    // Roaring container planning over event postings (per-type doc-id
    // sets + a '__all__' list that is fully consecutive): each 2¹⁶
    // chunk picks array / bitmap / run from exact cardinality and run
    // counts — the dense list plans a 6-byte run container while the
    // scattered ones go bitmap/array. DuckDB re-derives every chunk's
    // stats and the tie-broken container choice.
    "q328_roaring_plan" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val posts = ev.select(col("event_type").as("term"),
          col("event_id").as("doc"))
        .unionByName(ev.select(lit("__all__").as("term"),
          col("event_id").as("doc")))
      graft.ops.Layout.roaringPlan(posts, "term", "doc")
        .orderBy("term", "chunk")
    }),

    // TPC-H Q16 shape (supplier-count by part attributes), adapted:
    // brand/type/size predicate pushdown on the dim, a NOT-IN-style
    // anti join against the "complaints" supplier list (negative
    // balance), then COUNT DISTINCT suppliers per attribute triple —
    // the distinct-agg-after-anti optimizer pattern.
    "q334_parts_supplier_cnt" -> ((s, dir) => {
      val excl = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#13" &&
            !col("p_type").startsWith("ECONOMY") &&
            col("p_size").isin(5, 10, 24, 30)),
          col("l_partkey") === col("p_partkey"))
        .join(excl, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"),
          col("p_size").cast("long").as("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // Dictionary-encoding advisor over part attribute columns and the
    // unique customer name: the Parquet writer decision from exact
    // column statistics — low-cardinality brands/types go dict, the
    // key-like name goes plain. DuckDB re-derives every moment, the
    // integer bit width, and each verdict.
    "q337_encoding_advisor" -> ((s, dir) =>
      graft.ops.Layout.encodingAdvisor(t(s, dir, "part"),
          Seq("p_name", "p_brand", "p_type"))
        .unionByName(graft.ops.Layout.encodingAdvisor(
          t(s, dir, "customer"), Seq("c_name")))
        .orderBy("column_name")),

    // TPC-H Q17 shape — the correlated scalar-aggregate predicate
    // (revenue lost to small-quantity orders): rows qualify when their
    // quantity undercuts 20% of their OWN part's average. The
    // decorrelated plan: the dim predicate broadcasts into a semi
    // pruning of the fact table FIRST (per-part stats aggregate only
    // the filtered slice, never the full fact table), then the exact
    // integer form of qty < 0.2·avg — 5·qty·cnt < sumq — avoids the
    // float threshold both engines would have to agree on. Money rides
    // the cents trick; the yearly average is a truncating div.
    "q351_small_qty_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#4" && col("p_size") < 20)
        .select("p_partkey")
      val lp = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("qty"),
          expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val stats = lp.groupBy("l_partkey")
        .agg(sum("qty").as("sumq"), count(lit(1)).as("cnt"))
      lp.join(stats, "l_partkey")
        .filter(col("qty") * col("cnt") * 5 < col("sumq"))
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum("cents"), lit(0L)).as("sum_cents"))
        .select(col("n_rows"), col("sum_cents"),
          expr("sum_cents div 7").as("avg_yearly_cents"))
    }),
  )

  /** q72/q73's top-3 lineitems by price per return flag, ties broken
    * by order and line number. */
  private def topPricesPerFlagOracle: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber, price_cents FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber,
      |    CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_cents,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY CAST(ROUND(l_extendedprice*100) AS BIGINT) DESC,
      |               l_orderkey ASC, l_linenumber ASC) AS rn
      |  FROM lineitem) WHERE rn <= 3""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(SUM(CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_filter_project" ->
      """SELECT doc_id, lang, n_chars, UPPER(source) AS source_uc
        |FROM documents WHERE n_chars >= 100 AND lang <> 'en'""".stripMargin,

    "q03_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q04_semi_join" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,

    "q05_star_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,

    "q06_window_rank" ->
      """SELECT c_nationkey, rnk, c_custkey, CAST(ROUND(c_acctbal*100) AS BIGINT) AS acctbal_cents
        |FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer) WHERE rnk <= 3""".stripMargin,

    "q07_topk_orders" ->
      """SELECT o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) AS totalprice_cents
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q08_distinct_agg" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin,

    "q10_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1""".stripMargin,

    "q13_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q14_set_ops" ->
      """SELECT user_id, day, 'signup_error_no_purchase' AS cohort FROM (
        |  SELECT user_id, day FROM (
        |    SELECT DISTINCT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        |    FROM events WHERE event_type = 'signup'
        |    INTERSECT
        |    SELECT DISTINCT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        |    FROM events WHERE event_type = 'error')
        |  EXCEPT
        |  SELECT DISTINCT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        |  FROM events WHERE event_type = 'purchase')""".stripMargin,

    "q15_coalesce_source" ->
      """SELECT doc_id,
        |  COALESCE(CASE WHEN lang = 'zh' THEN lang END, source, 'unknown') AS resolved,
        |  CASE WHEN lang = 'zh' THEN 'lang_zh'
        |       WHEN TRIM(source) <> '' THEN 'source'
        |       ELSE 'fallback' END AS source_field
        |FROM documents""".stripMargin,

    "q17_orders_by_quarter" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
        |  CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q38_salted_agg" ->
      """SELECT l_returnflag, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q40_argmax_native" ->
      """SELECT user_id, arg_max(event_type, ts) AS last_event_type,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        |FROM events GROUP BY 1""".stripMargin,

    "q43_range_join" ->
      """WITH bands AS (
        |  SELECT i AS band_id, i*50000.0 AS lo, (i+1)*50000.0 AS hi
        |  FROM range(12) t(i))
        |SELECT band_id, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        |GROUP BY 1""".stripMargin,

    "q44_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q45_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY 1""".stripMargin,

    "q49_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS pri,
        |  COALESCE(o_orderstatus, 'ALL') AS st,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin,

    "q50_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM orders""".stripMargin,

    "q51_array_agg" ->
      """SELECT o_orderpriority,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_sorted,
        |  COUNT(*) AS n
        |FROM orders WHERE o_orderkey % 97 = 0 GROUP BY 1""".stripMargin,

    "q52_nullsafe_join" ->
      """WITH a AS (SELECT DISTINCT CASE WHEN user_id % 10 = 0 THEN NULL
        |    ELSE user_id % 10 END AS k FROM events WHERE event_type = 'signup'),
        |b AS (SELECT DISTINCT CASE WHEN user_id % 10 = 0 THEN NULL
        |    ELSE user_id % 10 END AS k FROM events WHERE event_type = 'error')
        |SELECT a.k, true AS matched FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin,

    "q72_topk_per_key" -> topPricesPerFlagOracle,

    "q73_topk_spilled" -> topPricesPerFlagOracle,

    "q84_global_rownum" ->
      """SELECT doc_id, lang, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
        |FROM documents""".stripMargin,

    "q108_local_supplier_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
        |    AS BIGINT) AS revenue_cents,
        |  count(*) AS n_items
        |FROM region
        |JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    "q124_zorder" ->
      """SELECT doc_id,
        |  (SELECT CAST(SUM((((a >> i) & 1) << (2*i)) +
        |                   (((b >> i) & 1) << (2*i + 1))) AS BIGINT)
        |   FROM range(10) t(i)) AS z
        |FROM (SELECT doc_id, doc_id % 1024 AS a, n_chars % 1024 AS b
        |      FROM documents)""".stripMargin,

    "q127_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q128_returned_customers" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS lost_cents,
        |  count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_cents DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    "q130_fixed_stratified" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
        |  FROM documents) WHERE rn <= 20""".stripMargin,

    "q133_bucketed_join" ->
      """SELECT o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS items_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2""".stripMargin,

    "q134_salted_join" ->
      """WITH dim(l_returnflag, flag_desc) AS (
        |  VALUES ('A', 'returned'), ('N', 'kept'), ('R', 'refunded'))
        |SELECT l.l_returnflag, d.flag_desc,
        |  count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM lineitem l JOIN dim d ON l.l_returnflag = d.l_returnflag
        |GROUP BY 1, 2""".stripMargin,

    "q176_clustering_depth" ->
      """WITH st AS (SELECT layout, file_idx, mn, mx, n_rows
        |  FROM '__AUX__/q176_manifest/*.parquet')
        |SELECT a.layout, a.file_idx, a.mn, a.mx, a.n_rows,
        |  CAST(count(*) AS BIGINT) AS depth
        |FROM st a JOIN st b
        |  ON a.layout = b.layout AND a.mn <= b.mx AND b.mn <= a.mx
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY a.layout, a.file_idx""".stripMargin,

    "q195_range_shards" ->
      """WITH cuts AS (SELECT cut FROM '__AUX__/q195_cuts/*.parquet'),
        |asg AS (SELECT n_chars,
        |    (SELECT count(*) FROM cuts c WHERE d.n_chars > c.cut) AS shard
        |  FROM documents d)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(n_chars) AS BIGINT) AS min_v,
        |  CAST(max(n_chars) AS BIGINT) AS max_v
        |FROM asg GROUP BY shard ORDER BY shard""".stripMargin,

    "q209_large_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
        |SELECT c.c_name, o.o_orderkey,
        |  CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS total_cents,
        |  CAST(b.sum_qty AS BIGINT) AS sum_qty
        |FROM orders o JOIN big b ON b.l_orderkey = o.o_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY total_cents DESC, o.o_orderkey LIMIT 20""".stripMargin,

    "q231_join_fanout" ->
      """WITH lc AS (SELECT l_suppkey AS key, count(*) AS n_left
        |  FROM lineitem GROUP BY 1),
        |rc AS (SELECT s_suppkey AS key, count(*) AS n_right
        |  FROM supplier GROUP BY 1),
        |m AS (SELECT COALESCE(lc.key, rc.key) AS key,
        |    CAST(COALESCE(n_left, 0) AS BIGINT) AS n_left,
        |    CAST(COALESCE(n_right, 0) AS BIGINT) AS n_right
        |  FROM lc FULL OUTER JOIN rc ON lc.key = rc.key),
        |c AS (SELECT key, n_left, n_right,
        |    CAST(n_left * n_right AS BIGINT) AS contrib FROM m),
        |tot AS (SELECT CAST(sum(contrib) AS BIGINT) AS est_total FROM c)
        |SELECT c.key, c.n_left, c.n_right, c.contrib, t.est_total,
        |  CAST(c.contrib * 1000 // greatest(t.est_total, 1) AS BIGINT)
        |    AS share_pm
        |FROM c CROSS JOIN tot t
        |ORDER BY contrib DESC, key LIMIT 20""".stripMargin,

    "q289_hilbert" ->
      s"""WITH hl0 AS (SELECT doc_id, doc_id % 1024 AS x,
        |    n_chars % 1024 AS y, CAST(0 AS BIGINT) AS d
        |  FROM documents),
        |${(1 to 10).map(k => hilbertLevelCte(k, 1L << (10 - k)))
            .mkString(",\n")}
        |SELECT doc_id, CAST(d AS BIGINT) AS h FROM hl10""".stripMargin,

    "q304_consistent_hashing" -> {
      def ring(p: String, n: Int) =
        s"""${p} AS MATERIALIZED (SELECT node, CAST('0x' ||
           |    substr(md5(node || ':' || CAST(v AS VARCHAR)), 1, 8)
           |    AS BIGINT) AS point
           |  FROM (SELECT 'node' || CAST(i AS VARCHAR) AS node
           |    FROM range($n) t(i)), range(64) s(v))"""
      def assign(p: String, r: String, out: String) =
        s"""${p}a AS (SELECT id, node FROM (
           |    SELECT k.id, r.node, row_number() OVER (
           |      PARTITION BY k.id ORDER BY r.point, r.node) AS rn
           |    FROM keys k JOIN $r r ON r.point >= k.kp)
           |  WHERE rn = 1),
           |${p}w AS (SELECT node FROM $r ORDER BY point, node LIMIT 1),
           |${p}f AS (SELECT k.id, coalesce(a.node, w.node) AS $out
           |  FROM keys k LEFT JOIN ${p}a a ON a.id = k.id, ${p}w w)"""
      s"""WITH ${ring("r4", 4)},
        |${ring("r5", 5)},
        |keys AS MATERIALIZED (SELECT doc_id AS id, CAST('0x' ||
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |    AS kp FROM documents),
        |${assign("b", "r4", "node_before")},
        |${assign("c", "r5", "node_after")}
        |SELECT bf.node_before, cf.node_after,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM bf JOIN cf USING (id)
        |GROUP BY 1, 2 ORDER BY node_before, node_after""".stripMargin
    },

    "q309_rendezvous_hashing" -> {
      def assign(p: String, n: Int, out: String) =
        s"""${p} AS MATERIALIZED (SELECT id, node AS $out FROM (
           |    SELECT d.doc_id AS id, nd.node, row_number() OVER (
           |      PARTITION BY d.doc_id ORDER BY CAST('0x' ||
           |        substr(md5(nd.node || ':'
           |          || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           |        DESC, nd.node) AS rn
           |    FROM documents d, (SELECT 'node' || CAST(i AS VARCHAR)
           |      AS node FROM range($n) t(i)) nd)
           |  WHERE rn = 1)"""
      s"""WITH ${assign("b5", 5, "node_before")},
        |${assign("a4", 4, "node_after")}
        |SELECT b5.node_before, a4.node_after,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b5 JOIN a4 USING (id)
        |GROUP BY 1, 2 ORDER BY node_before, node_after""".stripMargin
    },

    "q315_join_size_est" ->
      """WITH va AS (SELECT CAST(l_partkey AS VARCHAR) AS v
        |  FROM lineitem WHERE l_partkey IS NOT NULL),
        |cm AS (SELECT row,
        |    CAST('0x' || substr(md5(CAST(row AS VARCHAR) || '#' || v),
        |      1, 8) AS BIGINT) % 64 AS bucket,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM va CROSS JOIN (SELECT unnest(range(4)) AS row)
        |  GROUP BY 1, 2),
        |inn AS (SELECT a.row,
        |    CAST(sum(CAST(a.c AS HUGEINT) * COALESCE(b.c, 0))
        |      AS HUGEINT) AS ih
        |  FROM cm a LEFT JOIN cm b
        |    ON b.row = a.row AND b.bucket = a.bucket
        |  GROUP BY 1),
        |est AS (SELECT min(ih) AS eh FROM inn),
        |kc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM va
        |  GROUP BY 1),
        |ex AS (SELECT COALESCE(CAST(sum(CAST(c AS HUGEINT) * c)
        |    AS HUGEINT), 0) AS xh FROM kc)
        |SELECT CAST(i.row AS BIGINT) AS hash_row,
        |  CAST(i.ih AS BIGINT) AS "inner",
        |  CAST(est.eh AS BIGINT) AS est,
        |  CAST(ex.xh AS BIGINT) AS exact_size,
        |  CASE WHEN ex.xh = 0 THEN NULL
        |       ELSE CAST((est.eh - ex.xh) * 1000000 // ex.xh AS BIGINT)
        |  END AS over_ppm
        |FROM inn i, est, ex
        |ORDER BY hash_row""".stripMargin,

    "q316_pruning_audit" ->
      """WITH base AS (SELECT o_orderkey AS id, o_custkey AS x,
        |    CAST(round(o_totalprice) AS BIGINT) AS y FROM orders),
        |preds(pred_id, x_lo, x_hi, y_lo, y_hi) AS (VALUES
        |  (0, 10, 25, 0, 1000000),
        |  (1, 0, 10000000, 50000, 100000),
        |  (2, 10, 100, 50000, 150000),
        |  (3, 0, 400, 0, 200000)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |lay AS (
        |  SELECT 'linear_x' AS layout, id, x, y, x AS k FROM base
        |  UNION ALL
        |  SELECT 'zorder', id, x, y,
        |    (SELECT CAST(SUM((((x >> i) & 1) << (2*i)) +
        |                     (((y >> i) & 1) << (2*i + 1))) AS BIGINT)
        |     FROM range(21) t(i))
        |  FROM base),
        |ranked AS (SELECT layout, x, y,
        |    ROW_NUMBER() OVER (PARTITION BY layout ORDER BY k, id)
        |      AS rn
        |  FROM lay),
        |zones AS MATERIALIZED (SELECT layout,
        |    (rn - 1) * 16 // nn.n AS file,
        |    min(x) AS xmn, max(x) AS xmx, min(y) AS ymn, max(y) AS ymx,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM ranked, nn GROUP BY 1, 2),
        |ft AS (SELECT layout, CAST(count(*) AS BIGINT) AS files_total
        |  FROM zones GROUP BY 1),
        |lp AS (SELECT f.layout, p.pred_id, p.x_lo, p.x_hi, p.y_lo,
        |    p.y_hi, f.files_total
        |  FROM ft f CROSS JOIN preds p),
        |rd AS (SELECT lp.layout, lp.pred_id, lp.files_total,
        |    CAST(count(z.file) AS BIGINT) AS files_read,
        |    CAST(COALESCE(sum(z.n_rows), 0) AS BIGINT) AS rows_scanned
        |  FROM lp LEFT JOIN zones z ON z.layout = lp.layout
        |    AND z.xmx >= lp.x_lo AND z.xmn <= lp.x_hi
        |    AND z.ymx >= lp.y_lo AND z.ymn <= lp.y_hi
        |  GROUP BY 1, 2, 3),
        |mt AS (SELECT p.pred_id,
        |    CAST(count(b.id) AS BIGINT) AS rows_matched
        |  FROM preds p LEFT JOIN base b
        |    ON b.x BETWEEN p.x_lo AND p.x_hi
        |    AND b.y BETWEEN p.y_lo AND p.y_hi
        |  GROUP BY 1)
        |SELECT rd.layout, CAST(rd.pred_id AS BIGINT) AS pred_id,
        |  rd.files_total, rd.files_read, rd.rows_scanned,
        |  mt.rows_matched,
        |  (rd.files_total - rd.files_read) * 1000000 // rd.files_total
        |    AS prune_ppm,
        |  CASE WHEN mt.rows_matched = 0 THEN NULL
        |       ELSE rd.rows_scanned * 1000000 // mt.rows_matched
        |  END AS amp_ppm
        |FROM rd JOIN mt ON mt.pred_id = rd.pred_id
        |ORDER BY layout, pred_id""".stripMargin,

    "q317_salt_plan" ->
      """WITH kc AS (SELECT CAST(event_type AS VARCHAR) AS k,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |plan AS (SELECT k, cnt, (cnt + 499) // 500 AS s FROM kc),
        |bef AS (SELECT
        |    CAST('0x' || substr(md5(k), 1, 8) AS BIGINT) % 16 AS p,
        |    CAST(sum(cnt) AS BIGINT) AS lb
        |  FROM plan GROUP BY 1),
        |reps AS (SELECT k, cnt, s, unnest(range(s)) AS i FROM plan),
        |aft AS (SELECT
        |    CAST('0x' || substr(md5(k || '#' || CAST(i AS VARCHAR)),
        |      1, 8) AS BIGINT) % 16 AS p,
        |    CAST(sum(cnt // s +
        |      CASE WHEN i < cnt % s THEN 1 ELSE 0 END) AS BIGINT) AS la
        |  FROM reps GROUP BY 1)
        |SELECT r.p AS partition,
        |  COALESCE(b.lb, 0) AS load_before,
        |  COALESCE(a.la, 0) AS load_after
        |FROM (SELECT unnest(range(16)) AS p) r
        |LEFT JOIN bef b ON b.p = r.p
        |LEFT JOIN aft a ON a.p = r.p
        |ORDER BY partition""".stripMargin,

    "q320_waiting_suppliers" ->
      """WITH l AS MATERIALIZED (SELECT l.l_orderkey AS ok,
        |    l.l_suppkey AS sk,
        |    l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS late,
        |    o.o_orderstatus AS st
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |l1 AS (SELECT * FROM l WHERE late AND st = 'F'),
        |cand AS (SELECT l1.ok, l1.sk FROM l1
        |  WHERE EXISTS (SELECT 1 FROM l l2
        |      WHERE l2.ok = l1.ok AND l2.sk <> l1.sk)
        |    AND NOT EXISTS (SELECT 1 FROM l l3
        |      WHERE l3.ok = l1.ok AND l3.sk <> l1.sk AND l3.late))
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM cand c
        |JOIN supplier s ON s.s_suppkey = c.sk
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  AND n.n_nationkey % 5 = 3
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin,

    "q326_selinger_join_order" ->
      s"""WITH RECURSIVE st AS MATERIALIZED (SELECT
        |  (SELECT CAST(count(*) AS HUGEINT) FROM lineitem) AS rl,
        |  (SELECT CAST(count(*) AS HUGEINT) FROM orders) AS ro,
        |  (SELECT CAST(count(*) AS HUGEINT) FROM customer) AS rc,
        |  (SELECT CAST(count(*) AS HUGEINT) FROM supplier) AS rs,
        |  (SELECT CAST(count(*) AS HUGEINT) FROM part) AS rp,
        |  (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_l_ok,
        |  (SELECT count(DISTINCT o_orderkey) FROM orders) AS n_o_ok,
        |  (SELECT count(DISTINCT o_custkey) FROM orders) AS n_o_ck,
        |  (SELECT count(DISTINCT c_custkey) FROM customer) AS n_c_ck,
        |  (SELECT count(DISTINCT l_suppkey) FROM lineitem) AS n_l_sk,
        |  (SELECT count(DISTINCT s_suppkey) FROM supplier) AS n_s_sk,
        |  (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_l_pk,
        |  (SELECT count(DISTINCT p_partkey) FROM part) AS n_p_pk),
        |ed AS MATERIALIZED (
        |  SELECT 1 AS a, 2 AS b, greatest(n_l_ok, n_o_ok) AS d FROM st
        |  UNION ALL SELECT 2, 4, greatest(n_o_ck, n_c_ck) FROM st
        |  UNION ALL SELECT 1, 8, greatest(n_l_sk, n_s_sk) FROM st
        |  UNION ALL SELECT 1, 16, greatest(n_l_pk, n_p_pk) FROM st),
        |bits AS (SELECT unnest(range(5)) AS i),
        |subs AS (SELECT unnest(range(1, 32)) AS mask),
        |pcs AS MATERIALIZED (SELECT mask,
        |    CAST((mask & 1) + ((mask >> 1) & 1) + ((mask >> 2) & 1)
        |      + ((mask >> 3) & 1) + ((mask >> 4) & 1) AS BIGINT) AS pc
        |  FROM subs),
        |rch(mask, reach) AS (
        |  SELECT mask, mask & (-mask) FROM subs
        |  UNION
        |  SELECT r.mask, r.reach | (e.a | e.b) FROM rch r JOIN ed e
        |    ON ((e.a | e.b) & r.mask) = (e.a | e.b)
        |    AND (r.reach & (e.a | e.b)) <> 0),
        |conn AS MATERIALIZED (SELECT p.mask, p.pc FROM pcs p
        |  JOIN (SELECT mask, max(reach) AS f FROM rch GROUP BY 1) r
        |    ON r.mask = p.mask AND r.f = p.mask),
        |s0 AS (SELECT c.mask,
        |    (CASE WHEN c.mask & 1 <> 0 THEN st.rl ELSE 1 END)
        |  * (CASE WHEN c.mask & 2 <> 0 THEN st.ro ELSE 1 END)
        |  * (CASE WHEN c.mask & 4 <> 0 THEN st.rc ELSE 1 END)
        |  * (CASE WHEN c.mask & 8 <> 0 THEN st.rs ELSE 1 END)
        |  * (CASE WHEN c.mask & 16 <> 0 THEN st.rp ELSE 1 END) AS sz
        |  FROM conn c, st),
        |s1 AS (SELECT mask, CASE WHEN mask & 3 = 3 THEN sz //
        |    (SELECT d FROM ed WHERE a = 1 AND b = 2) ELSE sz END AS sz
        |  FROM s0),
        |s2 AS (SELECT mask, CASE WHEN mask & 6 = 6 THEN sz //
        |    (SELECT d FROM ed WHERE a = 2 AND b = 4) ELSE sz END AS sz
        |  FROM s1),
        |s3 AS (SELECT mask, CASE WHEN mask & 9 = 9 THEN sz //
        |    (SELECT d FROM ed WHERE a = 1 AND b = 8) ELSE sz END AS sz
        |  FROM s2),
        |szs AS MATERIALIZED (SELECT mask,
        |    CASE WHEN mask & 17 = 17 THEN sz //
        |    (SELECT d FROM ed WHERE a = 1 AND b = 16) ELSE sz END AS sz
        |  FROM s3),
        |cstall1 AS (SELECT mask, CAST(0 AS HUGEINT) AS cost FROM pcs
        |  WHERE pc = 1),
        |${(2 to 5).map(selingerRoundCtes).mkString(",\n")},
        |picks AS (SELECT mask, ridx, cost FROM pick2
        |  UNION ALL SELECT mask, ridx, cost FROM pick3
        |  UNION ALL SELECT mask, ridx, cost FROM pick4
        |  UNION ALL SELECT mask, ridx, cost FROM pick5)
        |SELECT CAST(c.mask AS BIGINT) AS mask,
        |  concat_ws(',',
        |    CASE WHEN c.mask & 1 <> 0 THEN 'L' END,
        |    CASE WHEN c.mask & 2 <> 0 THEN 'O' END,
        |    CASE WHEN c.mask & 4 <> 0 THEN 'C' END,
        |    CASE WHEN c.mask & 8 <> 0 THEN 'S' END,
        |    CASE WHEN c.mask & 16 <> 0 THEN 'P' END) AS rels,
        |  CAST(LEAST(z.sz, CAST(9223372036854775807 AS HUGEINT))
        |    AS BIGINT) AS size_est,
        |  CAST(LEAST(k.cost, CAST(9223372036854775807 AS HUGEINT))
        |    AS BIGINT) AS best_cost,
        |  CASE k.ridx WHEN 0 THEN 'L' WHEN 1 THEN 'O' WHEN 2 THEN 'C'
        |    WHEN 3 THEN 'S' ELSE 'P' END AS best_last
        |FROM conn c JOIN szs z ON z.mask = c.mask
        |JOIN picks k ON k.mask = c.mask
        |WHERE c.pc >= 2 ORDER BY mask""".stripMargin,

    "q327_histogram_audit" ->
      """WITH v AS MATERIALIZED (SELECT
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |st AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,
        |    min(v) AS lo, max(v) AS hi, max(v) - min(v) + 1 AS w
        |  FROM v),
        |preds(pred_id, q_lo, q_hi) AS (VALUES
        |  (0, 0, 5000000), (1, 10000000, 20000000),
        |  (2, 40000000, 60000000), (3, 0, 100000000)),
        |wcnt AS (SELECT least(15, (v.v - st.lo) * 16 // st.w) AS b,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM v, st GROUP BY 1),
        |wb AS (SELECT 'width' AS hist, r.b,
        |    st.lo + (r.b * st.w + 15) // 16 AS s,
        |    st.lo + ((r.b + 1) * st.w + 15) // 16 - 1 AS e,
        |    COALESCE(w.cnt, 0) AS cnt
        |  FROM (SELECT unnest(range(16)) AS b) r CROSS JOIN st
        |  LEFT JOIN wcnt w ON w.b = r.b),
        |qarr AS (SELECT quantile_cont(v, [
        |    0.0625, 0.125, 0.1875, 0.25, 0.3125, 0.375, 0.4375, 0.5,
        |    0.5625, 0.625, 0.6875, 0.75, 0.8125, 0.875, 0.9375])
        |      AS qs FROM v),
        |bet AS MATERIALIZED (SELECT i,
        |    CASE WHEN i = 0 THEN (SELECT lo - 1 FROM st)
        |         WHEN i = 16 THEN (SELECT hi FROM st)
        |         ELSE CAST(round(qs[CAST(i AS INT)]) AS BIGINT) END
        |      AS beta
        |  FROM (SELECT unnest(range(17)) AS i), qarr),
        |vals AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM v
        |  GROUP BY 1),
        |vasg AS (SELECT a.v, a.c, CAST(count(b.i) AS BIGINT) AS bkt
        |  FROM vals a LEFT JOIN bet b
        |    ON b.i BETWEEN 1 AND 15 AND a.v > b.beta
        |  GROUP BY a.v, a.c),
        |dcnt AS (SELECT bkt AS b, CAST(sum(c) AS BIGINT) AS cnt
        |  FROM vasg GROUP BY 1),
        |db AS (SELECT 'depth' AS hist, r.b, b1.beta + 1 AS s,
        |    b2.beta AS e, COALESCE(d.cnt, 0) AS cnt
        |  FROM (SELECT unnest(range(16)) AS b) r
        |  JOIN bet b1 ON b1.i = r.b
        |  JOIN bet b2 ON b2.i = r.b + 1
        |  LEFT JOIN dcnt d ON d.b = r.b),
        |allb AS (SELECT * FROM wb UNION ALL SELECT * FROM db),
        |est AS (SELECT hist, p.pred_id, CAST(sum(
        |    CASE WHEN e >= s
        |        AND least(e, p.q_hi) - greatest(s, p.q_lo) + 1 > 0
        |      THEN (cnt * (least(e, p.q_hi) - greatest(s, p.q_lo) + 1))
        |        // greatest(e - s + 1, 1)
        |      ELSE 0 END) AS BIGINT) AS est_rows
        |  FROM allb CROSS JOIN preds p GROUP BY 1, 2),
        |act AS (SELECT p.pred_id, CAST(count(v.v) AS BIGINT) AS ar
        |  FROM preds p LEFT JOIN v
        |    ON v.v BETWEEN p.q_lo AND p.q_hi GROUP BY 1)
        |SELECT e.hist, CAST(e.pred_id AS BIGINT) AS pred_id,
        |  e.est_rows, a.ar AS actual_rows,
        |  abs(e.est_rows - a.ar) * 1000000 // st.n AS err_ppm
        |FROM est e JOIN act a ON a.pred_id = e.pred_id, st
        |ORDER BY hist, pred_id""".stripMargin,

    "q328_roaring_plan" ->
      """WITH posts AS (
        |  SELECT event_type AS term, event_id AS doc FROM events
        |  UNION ALL SELECT '__all__', event_id FROM events),
        |base AS (SELECT DISTINCT term, CAST(doc AS BIGINT) AS doc
        |  FROM posts),
        |m AS (SELECT term, doc // 65536 AS chunk, doc % 65536 AS lo,
        |    lag(doc % 65536) OVER (PARTITION BY term, doc // 65536
        |      ORDER BY doc % 65536) AS prev
        |  FROM base),
        |st AS (SELECT term, chunk,
        |    CAST(count(*) AS BIGINT) AS cardinality,
        |    CAST(sum(CASE WHEN prev IS NULL OR lo - prev <> 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |  FROM m GROUP BY 1, 2),
        |pl AS (SELECT term, chunk, cardinality, n_runs,
        |    CASE WHEN cardinality <= 4096 THEN cardinality * 2
        |         ELSE 9223372036854775807 END AS ab,
        |    CAST(8192 AS BIGINT) AS bb,
        |    2 + n_runs * 4 AS rb
        |  FROM st)
        |SELECT term, chunk, cardinality, n_runs,
        |  CASE WHEN ab <= bb AND ab <= rb THEN 'array'
        |       WHEN bb <= rb THEN 'bitmap' ELSE 'run' END AS container,
        |  CAST(least(ab, bb, rb) AS BIGINT) AS bytes
        |FROM pl ORDER BY term, chunk""".stripMargin,

    "q334_parts_supplier_cnt" ->
      """SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
        |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#13'
        |  AND p.p_type NOT LIKE 'ECONOMY%'
        |  AND p.p_size IN (5, 10, 24, 30)
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |    WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q337_encoding_advisor" -> {
      def colCte(table: String, c: String): String =
        s"""SELECT '$c' AS column_name, stats.n AS n_rows, stats.ndv,
           |  stats.slen + 4 * stats.n AS plain_bytes,
           |  stats.dlen + 4 * stats.ndv
           |    + (stats.n * bits.b + 7) // 8 AS dict_bytes,
           |  bits.b AS bits,
           |  CASE WHEN stats.dlen + 4 * stats.ndv
           |      + (stats.n * bits.b + 7) // 8
           |      <= stats.slen + 4 * stats.n
           |    THEN 'dict' ELSE 'plain' END AS encoding
           |FROM (SELECT CAST(count(*) AS BIGINT) AS ndv,
           |    CAST(sum(strlen(v)) AS BIGINT) AS dlen,
           |    CAST(sum(cnt) AS BIGINT) AS n,
           |    CAST(sum(strlen(v) * cnt) AS BIGINT) AS slen
           |  FROM (SELECT $c AS v, count(*) AS cnt FROM $table
           |    WHERE $c IS NOT NULL GROUP BY 1)) stats,
           |  LATERAL (SELECT CAST(min(bb.b) AS BIGINT) AS b
           |    FROM (SELECT unnest(range(1, 63)) AS b) bb
           |    WHERE (1::BIGINT << CAST(bb.b AS INT)) >= stats.ndv
           |      OR stats.ndv <= 2 AND bb.b = 1) bits""".stripMargin
      Seq(colCte("part", "p_name"), colCte("part", "p_brand"),
        colCte("part", "p_type"), colCte("customer", "c_name"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    "q351_small_qty_revenue" ->
      """WITH p AS (SELECT p_partkey FROM part
        |  WHERE p_brand = 'Brand#4' AND p_size < 20),
        |lp AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN p ON p_partkey = l_partkey),
        |st AS (SELECT l_partkey, sum(qty) AS sumq, count(*) AS cnt
        |  FROM lp GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(COALESCE(sum(cents), 0) AS BIGINT) AS sum_cents,
        |  CAST(COALESCE(sum(cents), 0) // 7 AS BIGINT) AS avg_yearly_cents
        |FROM lp JOIN st USING (l_partkey)
        |WHERE qty * cnt * 5 < sumq""".stripMargin,
  )

  /** One q289 Hilbert xy2d level as a DuckDB CTE `hl<k>` reading
    * `hl<k-1>(doc_id, x, y, d)`: accumulate the quadrant cost
    * s²·(3rx ⊕ ry), then flip-and-swap the frame exactly as
    * [[graft.ops.Layout.hilbertValue]]'s column fold does (all three
    * outputs read the PREVIOUS level's x/y, so the simultaneous-
    * assignment semantics match). NOT pre-stripped (embeds in a
    * stripMargin outer string, the winnowingCtes rule). */
  private def hilbertLevelCte(k: Int, s: Long): String =
    s"""hl$k AS (SELECT doc_id,
       |    CASE WHEN (y & $s) = 0 THEN CASE WHEN (x & $s) > 0
       |      THEN $s - 1 - y ELSE y END ELSE x END AS x,
       |    CASE WHEN (y & $s) = 0 THEN CASE WHEN (x & $s) > 0
       |      THEN $s - 1 - x ELSE x END ELSE y END AS y,
       |    d + $s * $s * xor(3 * (CASE WHEN (x & $s) > 0
       |      THEN 1 ELSE 0 END),
       |      CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
       |  FROM hl${k - 1})"""

  /** One synchronous modularity local-move round (q273) as DuckDB CTEs
    * `kc<r>/nb<r>/cd<r>/sc<r>/r<r>` reading assignment `prev(id, comm)`
    * and the shared `sym/deg/mm` tables, ending in `r<r>(id, comm)` —
    * mirrors [[graft.ops.GraphOps.modularityLocalMove]]'s round body
    * exactly (own-community candidate at e = 0, score = 2m·e − k·K',
    * ties score desc then community asc). NOT pre-stripped (embeds in
    * a stripMargin outer string, the winnowingCtes rule). */
  /** One q326 Selinger DP round for subsets of popcount `k`: best
    * removable leaf = (cost(rest) + size) argmin with (cost, bit idx)
    * ties; `call` = cstall${k-1} accumulates all solved subsets. NOT
    * pre-stripped. */
  private def selingerRoundCtes(k: Int): String =
    s"""cand$k AS (SELECT c.mask, b.i AS ridx,
       |    p.cost + z.sz AS cost
       |  FROM conn c JOIN bits b ON ((c.mask >> b.i) & 1) = 1
       |  JOIN cstall${k - 1} p ON p.mask = c.mask - (1 << b.i)
       |  JOIN szs z ON z.mask = c.mask
       |  WHERE c.pc = $k AND EXISTS (SELECT 1 FROM ed e
       |    WHERE (e.a = (1 << b.i)
       |        AND (e.b & (c.mask - (1 << b.i))) <> 0)
       |      OR (e.b = (1 << b.i)
       |        AND (e.a & (c.mask - (1 << b.i))) <> 0))),
       |pick$k AS MATERIALIZED (SELECT mask, ridx, cost FROM (
       |    SELECT mask, ridx, cost, row_number() OVER (
       |      PARTITION BY mask ORDER BY cost, ridx) AS rn
       |    FROM cand$k) WHERE rn = 1),
       |cstall$k AS MATERIALIZED (SELECT mask, cost FROM cstall${k - 1}
       |  UNION ALL SELECT mask, cost FROM pick$k)"""
}
