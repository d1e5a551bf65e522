package graftbench

import graft.SparkEntry

/** The training-data user: a fixed list of operator queries from the
  * dedup, graph-iterative, mining, suffix-array and curation families,
  * each run through `SparkEntry.queries` and fully materialized through
  * a `noop` sink (a `count()` lets Spark prune columns the query's real
  * output needs). */
object Analytics {
  val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q33_minhash_lsh_planted", "q199_lsh_band_audit"),
    "iterative" -> Seq("q319_grid_dbscan"),
    "mining" -> Seq("q240_item_cooccurrence", "q241_association_rules"),
    "curation" -> Seq("q149_curation_pipeline"))

  def run(ctx: Ctx): Unit = {
    val dir = s"${ctx.dataDir}/analytics"
    val names = Families.flatMap(_._2)
    val out = s"${ctx.workDir}/oracle"

    // set-up: each query's first run in this JVM (class loading, codegen)
    // writes its full output for the DuckDB oracle, the way Verify does;
    // set-up time is the median over the queries
    val first = names.map { n =>
      val s = timed(ctx, dir, n)(_.coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$n"))
      ctx.note(f"first run $n $s%.2f s")
      s
    }
    val sql = ctx.json.createObjectNode()
    names.foreach(n => sql.put(n, SparkEntry.oracleSql(n)))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      ctx.json.writeValueAsBytes(sql))
    ctx.metric("setup_s", Stats.median(first), "s")

    if (ctx.traced) return traced(ctx, dir, names)

    // measured: whole passes until the time is up, at least two (the
    // first still warms the JIT; a fixed pass count keeps the sample's
    // composition the same from run to run)
    val t0 = ctx.now()
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.size < 2 * names.size || ctx.secs(t0) < ctx.seconds)
      times ++= names.map(full(ctx, dir, _))
    val wall = ctx.secs(t0)
    ctx.note(f"${times.size} queries (${times.size / names.size} passes) in $wall%.1f s: " +
      times.map(t => f"$t%.2f").mkString(" ") + f" s; first runs ${first.sum}%.1f s")
    ctx.metric("op_p50_ms", Stats.median(times.toSeq) * 1e3, "ms")
    ctx.metric("throughput", times.size / wall, "1/s")
  }

  /** Seconds to run one query into `sink`; the query's caches are dropped
    * afterwards (queries are independent, as in Verify). */
  def timed(ctx: Ctx, dir: String, name: String)(
      sink: org.apache.spark.sql.DataFrame => Any): Double = {
    val t0 = ctx.now()
    sink(SparkEntry.queries(name)(ctx.spark, dir))
    val s = ctx.secs(t0)
    ctx.spark.catalog.clearCache()
    s
  }

  /** Seconds to run one query into a `noop` sink (full output). */
  def full(ctx: Ctx, dir: String, name: String): Double =
    timed(ctx, dir, name)(_.write.format("noop").mode("overwrite").save())

  /** Per family: time and Spark counters of a traced full-output pass,
    * and the gap between a full-output run and a `count()` of the same
    * query (best of two each, alternating). */
  def traced(ctx: Ctx, dir: String, names: Seq[String]): Unit = {
    val spark = ctx.spark
    def noop(n: String) = full(ctx, dir, n)
    // two untraced passes; the second is the reference for the overhead
    names.foreach(noop)
    val untracedS = names.map(noop).sum

    ctx.startTracing()
    val sp = ctx.spans
    val total0 = ctx.tracer.snapshot(spark)
    val tracedS = names.map(n => sp(s"ops.$n")(noop(n))).sum
    ctx.metric("trace_overhead_frac", tracedS / untracedS - 1, "ratio")
    ctx.sparkMetrics("spark", ctx.tracer.snapshot(spark) - total0)

    val gap = names.map { n =>
      val (full, counted) = (1 to 2).map(_ =>
        (noop(n), timed(ctx, dir, n)(_.count()))).unzip
      n -> (full.min - counted.min)
    }.toMap
    Families.foreach { case (f, qs) =>
      val spans = qs.flatMap(q => sp.named(s"ops.$q"))
      val c = spans.map(_.counts).reduce(_ + _)
      ctx.metric(s"ops.$f.s", spans.map(_.ms).sum / 1e3, "s")
      ctx.metric(s"ops.$f.jobs", c("jobs"), "count")
      ctx.metric(s"ops.$f.exchanges", c("exchanges"), "count")
      ctx.metric(s"ops.$f.shuffle_bytes",
        c("shuffle_read_bytes") + c("shuffle_write_bytes"), "bytes")
      ctx.metric(s"ops.$f.cpu_s", c("executor_cpu_ns") / 1e9, "s")
      ctx.metric(s"ops.$f.count_gap_s", qs.map(gap).sum, "s")
    }
  }
}
