package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters, read from outside the program: one listener that is
  * both a `SparkListener` (jobs, stages, tasks, shuffle, spill, CPU,
  * scheduler delay, GC) and a `QueryExecutionListener` (exchanges in the
  * final adaptive plan, planning time, leaf-scan rows). Counters only
  * grow; a caller takes a [[Counts]] snapshot before and after a call
  * and subtracts. Calls are replayed serially in a traced run, so the
  * window between two snapshots holds exactly one call's work, also for
  * jobs that run on the HTTP server's threads. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(Counts.names.size)(new AtomicLong)
  private def add(name: String, v: Long): Unit =
    c(Counts.index(name)).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("executor_cpu_ns", m.executorCpuTime)
      add("executor_run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      if (i != null && i.finishTime > 0)
        add("sched_delay_ms", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          i.gettingResultTime))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    add("queries", 1)
    add("exec_us", durationNs / 1000)
    val phases = qe.tracker.phases
    add("plan_us", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs * 1000).sum)
    val plan = qe.executedPlan
    add("exchanges", Tracer.exchanges(plan))
    add("scan_rows", Tracer.leafRows(plan))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = add("failed_queries", 1)

  def snapshot(spark: SparkSession): Counts = {
    BenchBus.drain(spark.sparkContext)
    Counts(c.map(_.get).toVector)
  }
}

object Tracer {
  private val installed = mutable.Map.empty[SparkSession, Tracer]

  /** Register the tracer on a session once; later calls return it. */
  def setup(spark: SparkSession): Tracer = installed.synchronized {
    installed.getOrElseUpdate(spark, {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      t
    })
  }

  /** The plan a query finally ran: the adaptive plan's last version,
    * with query stages (the result stage too) unwrapped. */
  @scala.annotation.tailrec
  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case s: QueryStageExec => finalPlan(s.plan)
    case other => other
  }

  private def walk(p: SparkPlan): Iterator[SparkPlan] = {
    val f = finalPlan(p)
    Iterator.single(f) ++ (f.children ++ f.subqueries).iterator.flatMap(walk)
  }

  /** Shuffle and broadcast exchanges the final plan ran; a reused
    * exchange runs nothing and is not counted. */
  def exchanges(p: SparkPlan): Long = walk(p).count {
    case _: ReusedExchangeExec => false
    case _: Exchange => true
    case _ => false
  }.toLong

  /** Rows read by the plan's leaves (file, cache and local scans). */
  def leafRows(p: SparkPlan): Long = walk(p).filter(_.children.isEmpty)
    .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}

/** One snapshot of the tracer's counters. */
final case class Counts(v: Vector[Long]) {
  def -(o: Counts): Counts = Counts(v.zip(o.v).map { case (a, b) => a - b })
  def +(o: Counts): Counts = Counts(v.zip(o.v).map { case (a, b) => a + b })
  def apply(name: String): Long = v(Counts.index(name))
}

object Counts {
  val names: Vector[String] = Vector("jobs", "stages", "tasks",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "executor_cpu_ns", "executor_run_ms", "sched_delay_ms", "gc_ms",
    "queries", "failed_queries", "exec_us", "plan_us", "exchanges",
    "scan_rows")
  val index: Map[String, Int] = names.zipWithIndex.toMap
  val zero: Counts = Counts(Vector.fill(names.size)(0L))
}

/** A span: one timed call into a layer, with the counters its window
  * collected. `parent` names the span that caused it. */
final case class Span(name: String, parent: String, startNs: Long,
    endNs: Long, counts: Counts) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory for the traced run; written out at the end. A
  * session without a tracer times calls but records no counters. */
final class Spans(spark: SparkSession, tracer: Option[Tracer]) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def apply[T](name: String)(f: => T): T = {
    val before = tracer.fold(Counts.zero)(_.snapshot(spark))
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val t0 = System.nanoTime()
    val r = try {
      spark.sparkContext.setJobGroup(name, name)
      f
    } finally {
      spark.sparkContext.clearJobGroup()
      stack = stack.tail
    }
    val t1 = System.nanoTime()
    val after = tracer.fold(Counts.zero)(_.snapshot(spark))
    all += Span(name, parent, t0, t1, after - before)
    r
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq

  def writeJsonl(path: String): Unit = {
    val lines = all.map { s =>
      val cs = Counts.names.map(n => s""""$n":${s.counts(n)}""").mkString(",")
      s"""{"name":"${s.name}","parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},$cs}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
