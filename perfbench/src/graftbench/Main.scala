package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark's JVM side. `perfbench/run.py` generates
  * the seeded inputs, then starts this with
  *
  *   `graftbench.Main <workload> <dataDir> <workDir> <seconds> <trace> <seed>`
  *
  * and reads `<workDir>/result.json` when it exits. The workload calls
  * graft only through its public entry points. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, seconds, trace, seed) = args
    val ctx = new Ctx(dataDir, workDir, seconds.toDouble, trace == "1",
      seed.toLong)
    try {
      workload match {
        case "interactive" => Interactive.run(ctx)
        case "corpus" => Corpus.run(ctx)
        case "analytics" => Analytics.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
      ctx.writeResult()
    } finally {
      ctx.stop()
    }
  }
}

/** What one run shares: the Spark session, the optional tracer, the
  * metrics it reports and the checks it counts. */
final class Ctx(val dataDir: String, val workDir: String,
    val seconds: Double, val traced: Boolean, val seed: Long) {
  val spark: SparkSession = graft.GraftSession.build(
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
  val json = new ObjectMapper()
  val params: JsonNode = json.readTree(
    new java.io.File(s"$dataDir/params.json"))

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  lazy val tracer: Tracer = Tracer.setup(spark)
  /** Spans of the traced run (counters attached once the tracer is
    * registered with [[startTracing]]). */
  var spans = new Spans(spark, None)
  def startTracing(): Unit = spans = new Spans(spark, Some(tracer))

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Count one checked operation; a false `ok` fails the run. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
      System.err.println(s"[bench] CHECK FAILED: $what")
    }
  }

  /** A line for the run's log (sample counts, sizes, timings). */
  def note(s: String): Unit = System.err.println(s"[bench] $s")

  def writeResult(): Unit = {
    if (traced) spans.writeJsonl(s"$workDir/spans.jsonl")
    val m = json.createObjectNode()
    metrics.foreach { case (k, (v, u)) =>
      m.putObject(k).put("value", v).put("unit", u)
    }
    val r = json.createObjectNode()
    r.put("correct", failed == 0).put("attempted", attempted)
      .put("failed", failed)
    r.set[JsonNode]("metrics", m)
    val f = r.putArray("failures")
    failures.foreach(f.add)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$workDir/result.json"),
      json.writeValueAsBytes(r))
  }

  def stop(): Unit = spark.stop()

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Spark storage memory currently held by cached data, in MB. */
  def cacheMb(): Double = spark.sparkContext.getRDDStorageInfo
    .map(_.memSize).sum / 1e6

  /** `serve.<mode>.ms` and `search.<mode>.*` from the traced spans of one
    * request mode (per request) and the results they returned. */
  def searchMetrics(mode: String, spans: Seq[Span], results: Int): Unit = {
    val c = spans.map(_.counts).reduce(_ + _)
    val n = spans.size.toDouble
    metric(s"serve.$mode.ms", Stats.median(spans.map(_.ms)), "ms")
    metric(s"search.$mode.plan_ms", c("plan_us") / 1e3 / n, "ms")
    metric(s"search.$mode.exec_ms", c("exec_us") / 1e3 / n, "ms")
    metric(s"search.$mode.jobs", c("jobs") / n, "count")
    metric(s"search.$mode.exchanges", c("exchanges") / n, "count")
    metric(s"search.$mode.rows_per_result",
      c("scan_rows").toDouble / math.max(1, results), "ratio")
  }

  /** HTTP + JSON cost: client latency minus the `processing_time` the
    * in-process call reported for the same request. */
  def httpMs(replies: Seq[Reply]): Unit = metric("serve.http_ms",
    Stats.median(replies.map(r => r.ms - r.json.path("processing_time").asDouble() * 1e3)),
    "ms")

  /** Spark runtime counters of one traced window, as `spark.*` metrics. */
  def sparkMetrics(prefix: String, c: Counts): Unit = {
    metric(s"$prefix.jobs", c("jobs"), "count")
    metric(s"$prefix.stages", c("stages"), "count")
    metric(s"$prefix.tasks", c("tasks"), "count")
    metric(s"$prefix.shuffle_read_bytes", c("shuffle_read_bytes"), "bytes")
    metric(s"$prefix.shuffle_write_bytes", c("shuffle_write_bytes"), "bytes")
    metric(s"$prefix.spill_bytes", c("spill_bytes"), "bytes")
    metric(s"$prefix.executor_cpu_s", c("executor_cpu_ns") / 1e9, "s")
    metric(s"$prefix.executor_run_s", c("executor_run_ms") / 1e3, "s")
    metric(s"$prefix.sched_delay_ms", c("sched_delay_ms"), "ms")
    metric(s"$prefix.gc_s", c("gc_ms") / 1e3, "s")
    metric(s"$prefix.exchanges", c("exchanges"), "count")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
