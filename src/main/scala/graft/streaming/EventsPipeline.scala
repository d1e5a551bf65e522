package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import Streams.{eventStream, memorySink}

/** ST1-ST3 — incremental / streaming-shaped operators.
  *
  * The reference's ingestion is batch-with-checkpoint (driver page loop,
  * cursor persisted in payloads — broken in the reference, SURVEY.md Q1).
  * Ours keeps an explicit cursor/checkpoint table for batch resume and
  * offers true Structured Streaming for the events-shaped path.
  *
  * Source and sink policy: every stream here opens the events table
  * through [[Streams.eventStream]] (`nanosAsLong`, the one-file glob,
  * `ts` normalized) and drains through [[Streams.memorySink]], the
  * house micro-batch drain. The exceptions: [[streamStreamLeftJoin]]
  * streams a staged copy with flush rows, and the two sketch streams
  * drain through an uncheckpointed `foreachBatch` that folds each batch
  * into a driver-held sketch.
  */
object EventsPipeline {

  /** `events.ts` has shipped in two physical parquet layouts across
    * testdata generations: TIMESTAMP(NANOS) — which Spark cannot read
    * natively, so [[Streams]] sets `nanosAsLong` and the column arrives as a
    * BIGINT of nanoseconds — and plain TIMESTAMP(MICROS) without
    * timezone, which reads as TIMESTAMP_NTZ. Normalize either to the
    * session-zone TimestampType (sessions here run UTC, so wall-clock
    * values are identical across layouts). One helper so every reader —
    * batch, streaming legs, SparkEntry's table loader, specs — converts
    * identically; works on streaming DataFrames too (schema is known). */
  def tsToTimestamp(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos-as-long: integer-divide to micros (values are µs-precision;
        // double division would lose precision at 1e18)
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(colName,
          col(colName).cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already TimestampType
    }

  /** Drain a micro-batch query to completion with a bounded state-store
    * partition count, then restore the session's shuffle partitions.
    *
    * Stateful operators allocate one state store PER shuffle partition
    * (a stream-stream join allocates four); at the session default of 32
    * that is 128 store instances + checkpoint dirs + maintenance work per
    * micro-batch — pure overhead when one batch holds the whole file.
    * On a real cluster the state partition count is sized to the
    * executor count via this same conf at query start; it is fixed for
    * the life of the query (state is keyed by partition), which is why
    * it must be set BEFORE `start()` and can't be repartition()'d. */
  def drained(spark: SparkSession, partitions: Int = 8)(
      build: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try {
      val q = build
      q.processAllAvailable()
      q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Streaming variant with watermark + append mode, memory sink for
    * tests. Source: the same parquet dir read as a stream. */
  def streamWindowedCounts(spark: SparkSession, dir: String,
      queryName: String = "events_windows"): org.apache.spark.sql.streaming.StreamingQuery = {
    memorySink(eventStream(spark, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n")), OutputMode.Append, queryName)
  }

  /** Streaming tumbling-window counts in COMPLETE mode (no watermark —
    * every window re-emitted; used when the full result must match the
    * batch aggregation exactly, e.g. the t2 gate). */
  def streamWindowedCountsComplete(spark: SparkSession, dir: String,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    memorySink(eventStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n")), OutputMode.Complete, queryName)
  }

  /** Event-time SESSION windows on a real stream — the survey's
    * "sessionization windows" row end-to-end: `session_window` +
    * watermark in APPEND mode, so a session row emits once the
    * watermark passes its last event + gap (sessions are closed, final,
    * exactly the batch `session_window` aggregation for that span).
    * State is per (user, open-session) and bounded by the watermark
    * horizon; memory sink for tests. */
  def streamSessionCounts(spark: SparkSession, dir: String,
      queryName: String, gap: String = "30 minutes"):
      org.apache.spark.sql.streaming.StreamingQuery = {
    memorySink(eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n")), OutputMode.Append, queryName)
  }

  /** Session assignment in batch: a new session starts after `gapMin`
    * minutes of inactivity per user (lag + cumulative-sum window). */
  def sessionize(events: DataFrame, gapMin: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > gapMin * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("prev_ts", "new_session")
  }

  /** Streaming exactly-once-ish dedup: drop re-delivered events by id
    * within the watermark horizon (`dropDuplicatesWithinWatermark` keeps
    * state bounded — the unbounded-state `dropDuplicates` would OOM on an
    * infinite stream). Memory sink for tests. */
  def streamDedupCounts(spark: SparkSession, dir: String,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    memorySink(eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")), OutputMode.Complete, queryName)
  }

  /** [[streamDedupCounts]] with PLANTED re-delivery: two file-source legs
    * over the same events file are unioned, so every event arrives twice
    * — the at-least-once delivery a dedup stage exists for. The state
    * store must collapse the pairs for the counts to equal the batch
    * `COUNT(*)` (without the dedup every count doubles — the oracle
    * discriminates). */
  def streamDedupPlantedCounts(spark: SparkSession, dir: String,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    def leg = eventStream(spark, dir)
    memorySink(leg.unionByName(leg)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")), OutputMode.Complete, queryName)
  }

  /** Stream-static enrichment join: the event stream joins a static
    * dimension (customers) per micro-batch — the static side is re-read
    * each batch and broadcast when small, the streaming standard for
    * dimension enrichment — then aggregates revenue per nation in
    * Complete mode for the stream==batch gate. */
  def streamEnrichedCounts(spark: SparkSession, dir: String,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val customers = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    memorySink(eventStream(spark, dir)
      .select(col("user_id"), col("value"))
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents")),
      OutputMode.Complete, queryName)
  }

  /** Stream-stream INNER join with an event-time range condition:
    * click→purchase attribution pairs (purchase within `windowMin` min
    * at-or-after a click by the same user). Watermarks on both sides
    * bound the join state; the time-range condition lets Spark expire
    * rows that can no longer match. Inner-join matches emit in the batch
    * where both sides have arrived, so the result is complete (and
    * deterministic) once the stream drains — which is what the
    * stream==batch gate asserts. */
  def streamStreamJoin(spark: SparkSession, dir: String,
      queryName: String, windowMin: Int = 10): org.apache.spark.sql.streaming.StreamingQuery = {
    def src = eventStream(spark, dir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    val pairs = clicks.join(purchases,
        col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowMin MINUTES"))
      .select(col("c_user").as("user_id"), col("c_id"), col("p_id"))
    memorySink(pairs, OutputMode.Append, queryName)
  }

  final case class UserCounts(nEvents: Long, nPurchases: Long)

  /** Custom-state streaming via `flatMapGroupsWithState`: per-user
    * running (event, purchase) counts, state carried across micro-batches
    * in the state store, one updated row emitted per key per batch. The
    * hand-rolled state machine slot — anything a windowed aggregate can't
    * express (session scoring, fraud counters, per-key models) plugs in
    * here. Memory sink in Update mode for the stream==batch gate. */
  /** Stream-stream LEFT OUTER join: click → purchase attribution that
    * also emits never-converted clicks with a null purchase id. The
    * outer side is the hard part of streaming joins: an unmatched left
    * row may only emit once the watermark proves no matching right row
    * can still arrive (watermark past the row's join-window end) — so a
    * run that simply exhausts its input would hold every tail-end click
    * in state forever and silently drop it from the output.
    *
    * This driver stages the input with one far-future FLUSH row per
    * side (sentinel users −1/−2, 30 days past max event time, mutually
    * non-joinable). The sentinels push the final watermark beyond every
    * real row's window, so the closing no-data micro-batch evicts all
    * state and emits every pending null-match; the sentinels themselves
    * are filtered from the result. Same mechanics at scale: an
    * always-on stream gets this "for free" from continuously arriving
    * data, and a drain-at-end-of-day batch run plants exactly this kind
    * of barrier row. State is watermark-bounded on both sides.
    *
    * The sentinels must NOT be filtered inside the streaming query:
    * a `user >= 0` predicate there gets pushed through the join's
    * inferred constraints into the parquet scan of BOTH branches —
    * below the EventTimeWatermark operator — so the sentinel rows
    * would be dropped before they can advance the watermark, and the
    * tail of the stream silently never emits its outer nulls (found
    * the hard way; the spec pins the tail rows). Callers filter
    * `user_id >= 0` on the RESULT table instead; the sentinels
    * themselves never emit (their own window end is past every
    * watermark the query reaches). */
  def streamStreamLeftJoin(spark: SparkSession, dir: String,
      queryName: String, windowMin: Int = 10): org.apache.spark.sql.streaming.StreamingQuery = {
    val ev = Streams.events(spark, dir)
    val maxTs = ev.agg(max(col("ts"))).first().getTimestamp(0)
    val flushTs = new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000)
    val staging = s"/tmp/graft_stream_left/$queryName"
    val flush = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(-1L, flushTs, -1L, "click", 0.0, ""),
        org.apache.spark.sql.Row(-2L, flushTs, -2L, "purchase", 0.0, "")),
      new org.apache.spark.sql.types.StructType()
        .add("event_id", "long").add("ts", "timestamp").add("user_id", "long")
        .add("event_type", "string").add("value", "double").add("props", "string"))
    ev.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .unionByName(flush)
      .write.mode("overwrite").parquet(staging)
    val schema = spark.read.parquet(staging).schema
    def src = spark.readStream.schema(schema).parquet(staging)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    memorySink(clicks.join(purchases,
        col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowMin MINUTES"),
        "left_outer")
      .select(col("c_user").as("user_id"), col("c_id"), col("p_id")),
      OutputMode.Append, queryName)
  }

  /** Conversion attribution (first-touch / last-touch) — the marketing
    * analytics staple the funnel (q103) doesn't answer: for every
    * conversion event, WHICH touch event gets the credit. Last-touch =
    * the latest touch strictly before the conversion within the
    * lookback window; first-touch = the earliest in the same window.
    * Conversions with no in-window touch report null credit (organic).
    *
    * Shape: one per-key RANGE-framed window pass over epoch-micro
    * order — the frame [t − lookback, t) IS the attribution window, so
    * a struct max/min over it yields the last/first in-window touch
    * directly (touches encode as (us, id) structs, conversions as
    * null). No self-join of events against events. Returns one row per
    * conversion. */
  def attributeConversions(events: DataFrame, keyCol: String,
      tsCol: String, idCol: String, typeCol: String, touchType: String,
      convType: String, lookbackSec: Long): DataFrame = {
    require(lookbackSec > 0, "lookback must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__us"))
      .rangeBetween(-lookbackSec * 1000000L, -1L)
    val touchStruct = when(col(typeCol) === touchType,
      struct(col("__us").as("us"), col(idCol).as("id")))
    events
      .filter(col(typeCol).isin(touchType, convType)) // scan-pushed
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__last_touch", max(touchStruct).over(w))
      .withColumn("__first_touch", min(touchStruct).over(w))
      .filter(col(typeCol) === convType)
      .select(col(keyCol), col(idCol).as("conversion_id"),
        col("__us").as("conv_us"),
        col("__last_touch.id").as("last_touch_id"),
        col("__first_touch.id").as("first_touch_id"))
  }

  /** Two-sided CUSUM changepoint detection (Page 1954) — the
    * sequential drift alarm the windowed [[graft.ops.Cleaning
    * .binnedDrift]] can't give you: per key, walk events in arrival
    * order accumulating deviation beyond a slack band,
    *
    *   up_t   = max(0, up_{t−1} + (x_t − ref − slack))
    *   down_t = max(0, down_{t−1} + (ref − x_t − slack))
    *
    * and emit an alarm row whenever a side crosses `h` (the crossing
    * statistic is reported, then that side RESETS — repeated drift
    * re-alarms). All integers (cents-style units); small sustained
    * shifts accumulate where a spike filter sees nothing.
    *
    * Shape: one sorted fold per key (`flatMapGroups` — the funnel-walk
    * discipline: per-key event lists are session-bounded); only alarm
    * rows come back. */
  def cusumFlags(events: DataFrame, keyCol: String, seqCol: String,
      valueCol: String, ref: Long, slack: Long, h: Long): DataFrame = {
    require(slack >= 0 && h > 0, "need slack >= 0 and h > 0")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("long"), col(seqCol).cast("long"),
        col(valueCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val rows = it.toArray.sortBy(_._2)
        var up = 0L
        var down = 0L
        rows.iterator.flatMap { case (_, seq, x) =>
          up = math.max(0L, up + (x - ref - slack))
          down = math.max(0L, down + (ref - x - slack))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, String, Long)]
          if (up > h) { out += ((k, seq, "up", up)); up = 0L }
          if (down > h) { out += ((k, seq, "down", down)); down = 0L }
          out
        }
      }
      .toDF(keyCol, seqCol, "side", "stat")
  }

  /** Classical additive seasonal decomposition (the moving-average
    * core of STL): per key, `value = trend + seasonal + residual`,
    * where trend is the centered `period`-wide moving average (odd
    * `period`; defined only where the window is FULL — no half-window
    * edge guesses), seasonal is the per-(key, phase) mean of the
    * detrended values, and the residual is what's left. The seasonal
    * profile answers "is Sunday always low" while the residual is
    * where anomaly detection ([[cusumFlags]]) should run — raw values
    * alarm on every weekend otherwise.
    *
    * Exact integers throughout: values enter as micro units
    * (`round(value·1e6)` — one libm-free double multiply + round),
    * every mean is `sum div count` (truncating integer division, the
    * DuckDB `//` contract). Shape: one key-partitioned ordered window
    * (per-key series assumed bounded — the q147 discipline), one
    * (key, phase) aggregate, one broadcast-sized join back on the
    * key×period dimension. Rows without a full trend window carry
    * null trend/seasonal/residual. `orderCols` must totally order
    * each key's series (tie-break with a unique id). */
  def seasonalDecompose(events: DataFrame, keyCol: String,
      orderCols: Seq[String], valueCol: String, period: Int): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"period must be odd and >= 3 for a centered window, got $period")
    require(orderCols.nonEmpty, "orderCols must totally order each series")
    import org.apache.spark.sql.expressions.Window
    val half = period / 2
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col): _*)
    val cen = ord.rowsBetween(-half, half)
    val based = events
      .withColumn("v_u6", round(col(valueCol) * 1000000d, 0).cast("long"))
      .withColumn("idx", row_number().over(ord).cast("long"))
      .withColumn("phase", (col("idx") - 1) % period)
      .withColumn("trend_u6",
        when(count(lit(1)).over(cen) === period,
          expr(s"CAST(sum(v_u6) OVER (PARTITION BY $keyCol ORDER BY " +
            orderCols.mkString(", ") +
            s" ROWS BETWEEN $half PRECEDING AND $half FOLLOWING) " +
            s"div $period AS BIGINT)")))
      .withColumn("detr_u6", col("v_u6") - col("trend_u6"))
    val seasonal = based.filter(col("detr_u6").isNotNull)
      .groupBy(col(keyCol), col("phase"))
      .agg(expr("CAST(sum(detr_u6) div count(1) AS BIGINT)")
        .as("seasonal_u6"))
    based.join(broadcast(seasonal), Seq(keyCol, "phase"), "left")
      .withColumn("seasonal_u6",
        when(col("trend_u6").isNotNull, col("seasonal_u6")))
      .withColumn("resid_u6",
        col("v_u6") - col("trend_u6") - col("seasonal_u6"))
      .drop("detr_u6")
      .select(Seq(col(keyCol), col("idx"), col("phase"), col("v_u6"),
        col("trend_u6"), col("seasonal_u6"), col("resid_u6")) ++
        orderCols.map(col): _*)
  }

  /** Per-key watermark lateness audit — the number you need BEFORE
    * picking `withWatermark`'s delay: replay the arrival sequence
    * (`seqCol`, the ingest order) against event time (`tsCol`) and
    * measure, for every out-of-order event, how far behind its key's
    * running event-time high-water mark it arrived; for each candidate
    * `delays` value (seconds) report whether that watermark would have
    * DROPPED the event. Keyed by `keyCol` — the audit distributes on
    * the same key the stateful operator would, one ordered window per
    * key, never a global sort (Spark's real watermark is global-min
    * across partitions, i.e. never tighter than the per-key mark — so
    * per-key "dropped" is conservative-correct: an event safe here is
    * safe under the engine's watermark too).
    *
    * Returns only late events: key, seq, lateness in exact epoch
    * microseconds, one boolean per candidate delay (seconds). */
  def latenessAudit(events: DataFrame, keyCol: String, seqCol: String,
      tsCol: String, delays: Seq[Long]): DataFrame = {
    require(delays.nonEmpty, "need at least one candidate delay")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = events
      .withColumn("__wm", max(col(tsCol)).over(w))
      .filter(col(tsCol) < col("__wm"))
      .withColumn("late_us",
        unix_micros(col("__wm")) - unix_micros(col(tsCol)))
    delays.foldLeft(base) { (d, delay) =>
      d.withColumn(s"dropped_${delay}s", col("late_us") > delay * 1000000L)
    }.drop("__wm")
  }

  /** Ordered funnel analysis: how many users reach step k of a
    * `steps` sequence, where step k counts only if it happens at a
    * STRICTLY later event time than step k-1 (the product-analytics
    * funnel contract — a purchase before the click doesn't convert the
    * click). Per user this is one compiled walk over the time-sorted
    * event list — equivalent to the chained min-after-previous-stage
    * SQL formulation the oracle uses, but in ONE shuffle (user-keyed
    * collect) instead of K chained join+aggregate passes.
    *
    * At scale the per-user event list is session-bounded (and can be
    * pre-filtered to the funnel's event types — done here); the walk is
    * O(events per user). Returns (step_index 1-based, step, users). */
  def funnelCounts(events: DataFrame, steps: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepsArr = steps.toArray
    val walk = udf { seq: Seq[org.apache.spark.sql.Row] =>
      var stage = 0
      var lastTs = Long.MinValue
      seq.foreach { r =>
        val ts = r.getLong(0); val et = r.getString(1)
        if (stage < stepsArr.length && et == stepsArr(stage) &&
          (stage == 0 || ts > lastTs)) {
          lastTs = ts; stage += 1
        }
      }
      stage
    }
    val reached = events
      .filter(col(typeCol).isin(steps: _*)) // funnel types only — scan-pushed
      .select(col(userCol), unix_micros(col(tsCol)).as("__us"), col(typeCol).as("__et"))
      .groupBy(userCol)
      .agg(sort_array(collect_list(struct(col("__us"), col("__et")))).as("__seq"))
      .select(col(userCol), walk(col("__seq")).as("__reached"))
    val counts = reached
      .select(explode(when(col("__reached") >= 1,
        sequence(lit(1), col("__reached"))).otherwise(array())).as("step_index"))
      .groupBy("step_index").agg(count(lit(1)).as("users"))
    // Every declared step appears in the output — a step no user reaches
    // reports users = 0 rather than silently vanishing (downstream
    // conversion-rate math needs the zero row).
    val grid = events.sparkSession.range(1, stepsArr.length + 1)
      .select(col("id").cast("int").as("step_index"))
    grid.join(counts, Seq("step_index"), "left")
      .select(col("step_index").cast("long").as("step_index"),
        element_at(lit(stepsArr), col("step_index").cast("int")).as("step"),
        coalesce(col("users"), lit(0L)).as("users"))
  }

  /** Cohort retention (the product-analytics staple): users cohort by
    * their first-activity day; retention at day-offset k = distinct
    * cohort users active on cohort-day + k. All integer counts —
    * rates are the caller's division. Scale shape: activity collapses
    * to DISTINCT (user, day) FIRST (bounded by users × days, not
    * events), then two user-keyed joins against the tiny first-day
    * frame; events never join at event grain. */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val act = events
      .select(col(userCol), date_trunc("day", col(tsCol)).as("__d"))
      .distinct()
    val first = act.groupBy(userCol).agg(min("__d").as("__d0"))
    val sizes = first.groupBy("__d0")
      .agg(count(lit(1)).as("cohort_size"))
    act.join(first, Seq(userCol))
      .groupBy(col("__d0"), datediff(col("__d"), col("__d0")).cast("long")
        .as("day_offset"))
      .agg(countDistinct(col(userCol)).as("active_users"))
      .join(sizes, Seq("__d0"))
      .select(date_format(col("__d0"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("active_users"), col("cohort_size"))
  }

  /** Time-weighted value integral per key (the TWAP numerator): each
    * observation holds from its timestamp to the NEXT one, so the
    * integral is Σ value × hold-duration — in integer cents ×
    * integer seconds, exactly reproducible anywhere (divide by the
    * summed duration for the average; that division is the caller's).
    * The last observation per key has no successor and contributes
    * nothing (a half-open integral over the observed span). One lead
    * window per key. */
  def timeWeightedSum(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", valueCentsCol: String = "value_cents",
      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    events
      .withColumn("__next_s", lead(unix_timestamp(col(tsCol)), 1).over(w))
      .withColumn("__dur_s", col("__next_s") - unix_timestamp(col(tsCol)))
      .filter(col("__dur_s").isNotNull)
      .groupBy(keyCol)
      .agg(sum(col(valueCentsCol) * col("__dur_s")).as("weighted_cents_s"),
        sum("__dur_s").as("span_s"))
  }

  /** Event-type transition counts (the Markov view of user behavior,
    * the event-stream sibling of TextAnalysis.bigramCounts): per user,
    * consecutive events in (ts, id) order pair up; counts aggregate
    * over (prev, next). One lag window per user + one tiny pair-keyed
    * count. */
  def eventTransitions(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    events
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Haar wavelet series sketch (the Chakrabarti/Garofalakis
    * surprise-detection family) — compress an event-count series to
    * its K largest wavelet coefficients: the classic DB answer to
    * "store the shape of a season in kilobytes". UNNORMALIZED Haar
    * keeps everything integer-exact: per level, pairs (a, b) fold to
    * sum a+b (carried up) and detail a−b (emitted); after L levels
    * one total-sum approximation remains (emitted as level L). The
    * top-K details by |coefficient| (ties: level, then index) ARE the
    * sketch — reconstruction error is the energy of what's dropped.
    * The hour grid zero-fills explicitly: a missing hour is a real
    * zero, not an absent row.
    *
    * Scale shape: one pass to the hour grid (span-bounded), then L
    * halving aggregates on the COEFFICIENT dimension (≤ gridLen rows
    * from the first fold on); the top-K is TakeOrderedAndProject.
    * `gridLen` must be a power of two. Returns the approximation row
    * (level = L, idx = 0) plus the top-K details (level, idx, coef). */
  def haarSketch(events: DataFrame, tsCol: String, gridLen: Int = 256,
      topK: Int = 16): DataFrame = {
    require(gridLen >= 2 && (gridLen & (gridLen - 1)) == 0,
      s"gridLen must be a power of two >= 2, got $gridLen")
    require(topK >= 1, s"topK must be positive, got $topK")
    val levels = Integer.numberOfTrailingZeros(gridLen)
    val spark = events.sparkSession
    val m = events.agg(min(unix_timestamp(col(tsCol))).as("t0"))
    val counts = events.crossJoin(broadcast(m))
      .select(expr(s"CAST((unix_timestamp($tsCol) - t0) div 3600 " +
        "AS BIGINT)").as("h"))
      .filter(col("h") >= 0 && col("h") < gridLen)
      .groupBy("h").agg(count(lit(1)).as("x"))
    val grid = spark.range(gridLen).select(col("id").as("h"))
      .join(counts, Seq("h"), "left")
      .select(col("h").as("i"), coalesce(col("x"), lit(0L)).as("x"))
      .localCheckpoint()
    var cur = grid
    var details = Seq.empty[org.apache.spark.sql.DataFrame]
    for (lvl <- 0 until levels) {
      val folded = cur
        .groupBy(expr("CAST(i div 2 AS BIGINT)").as("i"))
        .agg(sum("x").as("s"),
          sum(when(col("i") % 2 === 0, col("x"))
            .otherwise(-col("x"))).as("d"))
        .localCheckpoint()
      details :+= folded.select(lit(lvl.toLong).as("level"),
        col("i").as("idx"), col("d").as("coef"))
      cur = folded.select(col("i"), col("s").as("x"))
    }
    val approx = cur.select(lit(levels.toLong).as("level"),
      col("i").as("idx"), col("x").as("coef"))
    val top = details.reduce(_ unionByName _)
      .orderBy(abs(col("coef")).desc, col("level"), col("idx"))
      .limit(topK)
    approx.unionByName(top)
  }

  /** Lag-k autocorrelation (ACF) of each key's hourly event-count
    * series — the seasonality/memory screen of the series tier
    * ([[seasonalDecompose]] explains a known period, this one FINDS
    * the period: a daily-rhythm stream shows acf(24) ≫ acf(1), an
    * i.i.d. one shows all lags ≈ 0; Box–Jenkins model identification).
    * Exact fixed point, no float means: with n = gridLen, S = Σx the
    * per-key total, centered values scale by n (cₜ = n·xₜ − S, an
    * integer), and
    *
    *   acf_ppm(k) = (Σ_{t≥k} cₜ·cₜ₋ₖ) · 10⁶ div (Σ cₜ²)
    *
    * — the n² factors cancel, one DECIMAL(38) widening guards the 10⁶
    * scale (the heapsLaw move), constant series (den = 0) yield null.
    * Grid t0 is the GLOBAL min timestamp so every key's series aligns;
    * missing hours are real zeros ([[haarSketch]]'s explicit grid).
    *
    * Shape: one (key, hour)-dimension count aggregate, the zero-fill
    * join against keys×range(gridLen), a broadcast |lags| expansion of
    * the shifted side, one (key, hour) equi-join, and two key-dimension
    * aggregates — never a per-key collect, never a window over the
    * whole series. Overflow: |cₜ| ≤ n·S, so den ≤ n³·S² — at the
    * default 256-hour grid that holds to S ≈ 10⁹ events per key
    * pre-widening; the num·10⁶ product is where 2⁶³ actually breaks,
    * hence the DECIMAL widening. */
  def acf(events: DataFrame, tsCol: String, keyCol: String,
      gridLen: Int = 256, lags: Seq[Int] = Seq(1, 2, 24)): DataFrame = {
    require(gridLen >= 2, s"gridLen must be >= 2, got $gridLen")
    require(lags.nonEmpty && lags.forall(k => k >= 1 && k < gridLen),
      s"lags must be non-empty, each in [1, gridLen), got $lags")
    require(lags.distinct.size == lags.size, s"duplicate lags in $lags")
    val spark = events.sparkSession
    import spark.implicits._
    val m = events.agg(min(unix_timestamp(col(tsCol))).as("t0"))
    val counts = events.crossJoin(broadcast(m))
      .select(col(keyCol).as("k"),
        expr(s"CAST((unix_timestamp($tsCol) - t0) div 3600 AS BIGINT)")
          .as("h"))
      .filter(col("h") >= 0 && col("h") < gridLen)
      .groupBy("k", "h").agg(count(lit(1)).as("x"))
    val keys = counts.select("k").distinct()
    val grid = keys
      .crossJoin(spark.range(gridLen).select(col("id").as("h")))
      .join(counts, Seq("k", "h"), "left")
      .select(col("k"), col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val stats = grid.groupBy("k").agg(sum("x").as("s"))
    val cg = grid.join(stats, "k")
      .select(col("k"), col("h"),
        (lit(gridLen.toLong) * col("x") - col("s")).as("c"))
      .localCheckpoint()
    val den = cg.groupBy("k")
      .agg(sum(col("c") * col("c")).as("den"))
    val lagTbl = lags.map(_.toLong).toDF("lag")
    val shifted = cg.crossJoin(broadcast(lagTbl))
      .select(col("k"), (col("h") + col("lag")).as("h"), col("lag"),
        col("c").as("cprev"))
    val num = cg.join(shifted, Seq("k", "h"))
      .groupBy("k", "lag")
      .agg(sum(col("c") * col("cprev")).as("num"))
    num.join(den, "k")
      .select(col("k").as(keyCol), col("lag"),
        expr("CAST(CAST(num AS DECIMAL(38,0)) * 1000000 " +
          "div (CASE WHEN den = 0 THEN NULL ELSE den END) AS BIGINT)")
          .as("acf_ppm"))
  }

  /** Pettitt change-point localization (Pettitt 1979, the rank-based
    * Mann–Whitney change point) on each key's hourly count series —
    * the OFFLINE complement to [[cusumFlags]]: cusum alarms online as
    * a shift happens, Pettitt answers "WHERE in this history did the
    * level change", nonparametrically (ranks, so one outlier hour
    * cannot fake a shift the way it fools a mean-based split). With
    * tie-broken ranks r_t (by value then hour — documented variant:
    * classic midranks are fractional, these stay integer) and prefix
    * sums W_m, the statistic is U_m = 2·W_m − m·(L+1); the change
    * point is argmax |U_m| over m = 1..L−1 with ties to the earliest
    * m. Exact integers end to end; the sign of U* says which way the
    * level moved (negative = later half higher).
    *
    * Shape: the [[acf]] zero-filled global-t0 grid, then per-key
    * rank/prefix windows over gridLen-bounded partitions — the key IS
    * the partitioner, nothing corpus-sized hits one task. */
  def pettittChangePoint(events: DataFrame, tsCol: String,
      keyCol: String, gridLen: Int = 256): DataFrame = {
    require(gridLen >= 3, s"gridLen must be >= 3, got $gridLen")
    import org.apache.spark.sql.expressions.Window
    val spark = events.sparkSession
    import spark.implicits._
    val m = events.agg(min(unix_timestamp(col(tsCol))).as("t0"))
    val counts = events.crossJoin(broadcast(m))
      .select(col(keyCol).as("k"),
        expr(s"CAST((unix_timestamp($tsCol) - t0) div 3600 AS BIGINT)")
          .as("h"))
      .filter(col("h") >= 0 && col("h") < gridLen)
      .groupBy("k", "h").agg(count(lit(1)).as("x"))
    val keys = counts.select("k").distinct()
    val grid = keys
      .crossJoin(spark.range(gridLen).select(col("id").as("h")))
      .join(counts, Seq("k", "h"), "left")
      .select(col("k"), col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val wRank = Window.partitionBy("k").orderBy(col("x"), col("h"))
    val wPre = Window.partitionBy("k").orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val u = grid
      .withColumn("r", row_number().over(wRank).cast("long"))
      .withColumn("w", sum("r").over(wPre))
      .withColumn("m", col("h") + 1)
      .filter(col("m") < gridLen)
      .select(col("k"),
        (lit(2L) * col("w") - col("m") * (gridLen + 1L)).as("u"),
        col("m"))
    val pick = Window.partitionBy("k")
      .orderBy(abs(col("u")).desc, col("m"))
    u.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
      .select(col("k").as(keyCol), col("m").as("m_star"),
        col("u").as("u_star"), abs(col("u")).as("abs_u"))
  }

  /** Wald's SPRT (sequential probability ratio test, Wald 1945) —
    * the always-valid member of the experiment tier ([[diffInDiff]]
    * and [[cuped]] analyze a FINISHED experiment; this one replays the
    * stream and answers "when could we have stopped?"). Each
    * observation moves a per-key log-likelihood-ratio walk by one of
    * two micro-fixed increments (success: ln(p1/p0), failure:
    * ln((1−p1)/(1−p0))), and the walk stops at the FIRST crossing of
    * the Wald boundaries ln((1−β)/α) / ln(β/(1−α)):
    *
    *   decision = accept_h1 at llr ≥ upper, accept_h0 at llr ≤ lower,
    *              continue (with the final llr) if neither ever hits.
    *
    * All four constants arrive as PRE-FIXED micro longs — callers
    * compute them once (driver-side libm) and the oracle replays the
    * identical literals, so no transcendental function is ever
    * evaluated in either engine's data path and the whole replay is
    * exact integer arithmetic.
    *
    * Shape: one per-key ordered running-sum window (ts then seq — the
    * event-time walk, same discipline as [[cusumFlags]]), a key-
    * dimension total aggregate, and a first-crossing min on the
    * (key, n) dimension via a struct min — never a driver loop; keys
    * are independent, so the walk shards per key. */
  def sprtReplay(events: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, success: Column, lnSuccU6: Long, lnFailU6: Long,
      upperU6: Long, lowerU6: Long): DataFrame = {
    require(lnSuccU6 > 0 && lnFailU6 < 0,
      s"need lnSuccU6 > 0 > lnFailU6, got $lnSuccU6/$lnFailU6")
    require(upperU6 > 0 && lowerU6 < 0,
      s"need upperU6 > 0 > lowerU6, got $upperU6/$lowerU6")
    import org.apache.spark.sql.expressions.Window
    val obs = events.select(col(keyCol).as("k"), col(tsCol).as("ts"),
      col(seqCol).as("seq"),
      when(success, lit(lnSuccU6)).otherwise(lit(lnFailU6)).as("inc"))
    val w = Window.partitionBy("k").orderBy(col("ts"), col("seq"))
    val walk = obs
      .withColumn("llr", sum("inc").over(w))
      .withColumn("n", row_number().over(w))
    val totals = obs.groupBy("k").agg(count(lit(1)).as("total_n"),
      sum("inc").as("final_llr"))
    val firstCross = walk
      .filter(col("llr") >= upperU6 || col("llr") <= lowerU6)
      .groupBy("k")
      .agg(min(struct(col("n"), col("llr"))).as("fc"))
      .select(col("k"), col("fc.n").as("n_cross"),
        col("fc.llr").as("llr_cross"))
    totals.join(firstCross, Seq("k"), "left")
      .select(col("k").as(keyCol),
        when(col("n_cross").isNull, lit("continue"))
          .when(col("llr_cross") >= upperU6, lit("accept_h1"))
          .otherwise(lit("accept_h0")).as("decision"),
        coalesce(col("n_cross").cast("long"), col("total_n"))
          .as("n_obs"),
        coalesce(col("llr_cross"), col("final_llr")).as("llr_u6"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2014 — the
    * data-driven multi-touch model): user journeys become a first-order
    * Markov chain (START → channels → CONV/NULL, paths truncated at the
    * first conversion), and a channel's credit is its REMOVAL EFFECT —
    * how much conversion probability disappears when visits to that
    * channel are redirected to NULL. Removing channel c never needs a
    * new transition matrix: it is exactly the same value iteration with
    * p(c) clamped to 0, so ALL scenarios (FULL + one per channel) run
    * as one (scenario, state)-keyed table against one broadcast matrix.
    *
    * Exact fixed point: transition probabilities fix to ppm ONCE
    * (count·10⁶ div out-count), and each of the `iters` value-iteration
    * rounds computes p'(s) = (Σ_t tp(s,t)·p(t) + tp(s,CONV)·10⁶)
    * div 10⁶ — one truncating division per state per round, identically
    * replayable. Absorption converges geometrically; `iters` = 12
    * resolves ppm for any chain without 0.999…-cycles (the replay is
    * exact regardless).
    *
    * Scale shape: journeys need one per-user ordered window (the
    * sessionize discipline); everything after lives on the
    * channel-dimension matrix (states² rows, broadcast) and the
    * (scenarios × states) value table — constant-size rounds,
    * localCheckpoint-pinned. Returns one row per channel:
    * (channel, p_full_ppm, p_removed_ppm, effect_ppm). */
  def markovAttribution(events: DataFrame, userCol: String,
      tsCol: String, seqCol: String, typeCol: String, convType: String,
      iters: Int = 12): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(convType.nonEmpty, "convType must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("u").orderBy(col("ts"), col("seq"))
    val ordered = events.select(col(userCol).as("u"), col(tsCol).as("ts"),
        col(seqCol).as("seq"),
        when(col(typeCol) === convType, lit("__conv__"))
          .otherwise(col(typeCol).cast("string")).as("st"))
      .withColumn("rn", row_number().over(w))
    val firstConv = ordered.filter(col("st") === "__conv__")
      .groupBy("u").agg(min("rn").as("fp"))
    val kept = ordered.join(firstConv, Seq("u"), "left")
      .filter(col("fp").isNull || col("rn") <= col("fp"))
      .localCheckpoint()
    val maxRn = kept.groupBy("u").agg(max("rn").as("mx"),
      max(when(col("st") === "__conv__", 1L).otherwise(0L)).as("conv"))
    val follows = kept.select(col("u"), (col("rn") - 1).as("rn"),
      col("st").as("t"))
    val pairs = kept.select(col("u"), col("rn"), col("st").as("s"))
      .join(follows, Seq("u", "rn")).select("s", "t")
      .unionByName(kept.filter(col("rn") === 1)
        .select(lit("__start__").as("s"), col("st").as("t")))
      .unionByName(kept.join(maxRn, "u")
        .filter(col("conv") === 0 && col("rn") === col("mx"))
        .select(col("st").as("s"), lit("__null__").as("t")))
    val outs = pairs.groupBy("s").agg(count(lit(1)).as("n"))
    val tAll = pairs.groupBy("s", "t").agg(count(lit(1)).as("c"))
      .join(outs, "s")
      .select(col("s"), col("t"),
        expr("CAST(c * 1000000 div n AS BIGINT)").as("tp"))
      .localCheckpoint()
    val tt = broadcast(tAll
      .filter(col("t") =!= "__conv__" && col("t") =!= "__null__"))
    val bb = broadcast(tAll.filter(col("t") === "__conv__")
      .select(col("s"), col("tp").as("bp")))
    val channels = tAll.select(col("s")).distinct()
      .filter(col("s") =!= "__start__").select(col("s").as("ch"))
      .localCheckpoint()
    require(channels.filter(col("ch") === "FULL").isEmpty,
      "a channel literally named FULL collides with the base scenario")
    val trans = tAll.select(col("s")).distinct()
    val spine = channels.select(col("ch").as("scenario"))
      .unionByName(Seq("FULL").toDF("scenario"))
      .crossJoin(trans)
      .filter(col("s") =!= col("scenario"))
      .localCheckpoint()
    var p = spine.withColumn("p", lit(0L))
    for (_ <- 1 to iters) {
      val acc = tt.join(p.select(col("scenario"), col("s").as("t"),
          col("p")), "t")
        .groupBy("scenario", "s").agg(sum(col("tp") * col("p")).as("a"))
      // no per-round checkpoint: each round references p exactly ONCE
      // (unlike the components loop), so the lazy plan grows linearly
      // and one final job beats `iters` materializations of a 50-row
      // table (measured 5.9 s → 4.7 s at sf0.1; the floor is the
      // journey window, not the rounds)
      p = spine.join(acc, Seq("scenario", "s"), "left")
        .join(bb, Seq("s"), "left")
        .select(col("scenario"), col("s"),
          expr("CAST((coalesce(a, 0) + coalesce(bp, 0) * 1000000) " +
            "div 1000000 AS BIGINT)").as("p"))
    }
    val start = p.filter(col("s") === "__start__")
      .select(col("scenario"), col("p"))
    val full = start.filter(col("scenario") === "FULL")
      .select(col("p").as("p_full_ppm"))
    channels
      .join(start.withColumnRenamed("scenario", "ch"), "ch")
      .crossJoin(broadcast(full))
      .select(col("ch").as("channel"), col("p_full_ppm"),
        col("p").as("p_removed_ppm"),
        (col("p_full_ppm") - col("p")).as("effect_ppm"))
  }

  /** Kleinberg burst detection (Kleinberg KDD'02, the 2-state gap
    * automaton) — the episode FINDER of the series tier: [[acf]] says
    * a stream has rhythm, [[cusumFlags]] alarms on level shifts, this
    * one returns the INTERVALS where the arrival rate jumped (the
    * "bursty and hierarchical structure in streams" model behind
    * trending-topic detection). State 0 emits gaps at the key's base
    * rate α₀ = n/T, state 1 at s·α₀; gap cost in state i is
    * −ln αᵢ + αᵢx, entering the burst state costs γ; the optimal
    * (Viterbi) labeling minimizes total cost, and maximal runs of
    * state 1 are the bursts, each with Kleinberg's weight (the cost
    * SAVED vs staying in state 0 — the burst's prominence for
    * ranking).
    *
    * Exactness: only cost DIFFERENCES matter for a 2-state Viterbi, so
    * the whole walk reduces to one integer recurrence on
    * d = c₁ − c₀:  d ← min(γ, d) − min(0, d) + Δk(x), with
    * Δk(x) = (s−1)·α₀ppm·x − lnSU6 — `lnSU6` (= ln s · 10⁶) arrives as
    * a PRE-FIXED micro literal (the [[sprtReplay]] discipline: no
    * transcendental in either engine's data path), α₀ppm is one
    * truncating division per key, and the backward pass needs only the
    * stored d sequence (state 1 at step t came from 0 iff
    * d(t−1) ≥ γ; state 0 iff d(t−1) ≥ 0 — ties prefer the base state,
    * deterministic). The oracle replays the identical recurrence.
    *
    * Shape: per-key sequential DP over the (ts, seq)-sorted gap
    * sequence — the [[holtSmoothing]] contract: keys shard
    * independently through `flatMapGroups`, each key's first
    * `maxSteps` events are a bounded in-memory array by contract, and
    * NOTHING corpus-sized ever reaches one task. Keys with < 2 events
    * or zero time span emit nothing (α₀ undefined); keys with no
    * burst emit nothing.
    *
    * @return one row per burst: (key, start_n, end_n, n_gaps,
    *         burst_start_s, burst_end_s, weight_u6) — gap n sits
    *         between the key's n-th and (n+1)-th event, 1-based. */
  def kleinbergBursts(events: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, sFactor: Int = 2, lnSU6: Long = 693147L,
      gammaU6: Long = 1000000L, maxSteps: Int = Int.MaxValue): DataFrame = {
    require(sFactor >= 2, s"sFactor must be >= 2, got $sFactor")
    require(lnSU6 > 0, s"lnSU6 must be > 0, got $lnSU6")
    require(gammaU6 >= 0, s"gammaU6 must be >= 0, got $gammaU6")
    require(maxSteps >= 2, s"maxSteps must be >= 2, got $maxSteps")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("string"),
        unix_timestamp(col(tsCol)), col(seqCol).cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val ts = it.toArray.sortBy(e => (e._2, e._3)).take(maxSteps)
          .map(_._2)
        val n = ts.length - 1
        if (n < 1 || ts.last == ts.head) Iterator.empty
        else {
          val a0 = n.toLong * 1000000L / (ts.last - ts.head)
          val dk = Array.tabulate(n)(i =>
            (sFactor - 1).toLong * a0 * (ts(i + 1) - ts(i)) - lnSU6)
          val d = new Array[Long](n + 1)
          d(0) = gammaU6
          var i = 1
          while (i <= n) {
            d(i) = math.min(gammaU6, d(i - 1)) - math.min(0L, d(i - 1)) +
              dk(i - 1)
            i += 1
          }
          val st = new Array[Int](n + 1)
          st(n) = if (d(n) < 0) 1 else 0
          var t = n
          while (t > 1) {
            st(t - 1) =
              if (st(t) == 1) { if (d(t - 1) >= gammaU6) 0 else 1 }
              else { if (d(t - 1) >= 0) 0 else 1 }
            t -= 1
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Long, Long, Long)]
          var s0 = -1
          var w = 0L
          var g = 1
          while (g <= n) {
            if (st(g) == 1) { if (s0 < 0) { s0 = g; w = 0L }; w += -dk(g - 1) }
            if ((st(g) == 0 || g == n) && s0 > 0) {
              val e0 = if (st(g) == 1) g else g - 1
              out += ((k, s0.toLong, e0.toLong, (e0 - s0 + 1).toLong,
                ts(s0 - 1), ts(e0), w))
              s0 = -1
            }
            g += 1
          }
          out.iterator
        }
      }
      .toDF(keyCol, "start_n", "end_n", "n_gaps", "burst_start_s",
        "burst_end_s", "weight_u6")
  }

  /** Holt double exponential smoothing (Holt 1957) — the forecasting
    * member of the series tier: [[seasonalDecompose]] explains a
    * series, [[cusumFlags]] alarms on it, this one projects it
    * forward (level + trend), per key:
    *
    *   l_t = α·y + (1−α)(l+b),   b_t = β(l_t − l_{t−1}) + (1−β)b
    *
    * in exact integer arithmetic: values milli-fixed per row, α/β in
    * ppm, every recurrence step one truncating division (the engine
    * `//` contract) — any engine replays the walk bit-for-bit. Also
    * reports the in-sample sum of absolute one-step errors (the
    * forecastability read: high SAE = don't trust the projection).
    *
    * Scale shape: one sorted per-key fold (`flatMapGroups`, the
    * cusum/UCB1 discipline; `maxSteps` caps the horizon); one row per
    * key returns. Returns
    * (key, n, level_u3, trend_u3, sae_u3, forecast_u3). */
  def holtSmoothing(events: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, valueCol: String, alphaPpm: Long, betaPpm: Long,
      maxSteps: Int = Int.MaxValue): DataFrame = {
    require(alphaPpm >= 0 && alphaPpm <= 1000000L &&
      betaPpm >= 0 && betaPpm <= 1000000L,
      s"alpha/beta must be ppm in [0, 1e6]: $alphaPpm/$betaPpm")
    require(maxSteps >= 1, s"maxSteps must be positive, got $maxSteps")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("long"),
        unix_timestamp(col(tsCol)), col(seqCol).cast("long"),
        round(col(valueCol).cast("double") * 1000, 0).cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (k, it) =>
        val ys = it.toArray.sortBy(e => (e._2, e._3)).take(maxSteps)
          .map(_._4)
        var l = ys.head
        var b = 0L
        var sae = 0L
        ys.drop(1).foreach { y =>
          val f = l + b
          sae += math.abs(y - f)
          val lPrev = l
          l = (alphaPpm * y + (1000000L - alphaPpm) * f) / 1000000L
          b = (betaPpm * (l - lPrev) + (1000000L - betaPpm) * b) /
            1000000L
        }
        (k, ys.length.toLong, l, b, sae, l + b)
      }
      .toDF("key", "n", "level_u3", "trend_u3", "sae_u3", "forecast_u3")
  }

  /** COEC — clicks over expected clicks (the position-normalized
    * engagement ratio, Zhang & Jones 2007): raw CTR punishes items
    * shown in bad slots, so normalize each item's clicks by the
    * clicks its IMPRESSION POSITIONS would predict:
    *
    *   coec(item) = clicks(item) / Σ_impressions ctr(position)
    *
    * > 1 means the item out-performs its placement — the de-biased
    * ranking signal for search/recommendation logs, and the same
    * correction a retrieval-training pipeline applies before mining
    * clicks into relevance labels. Exact discipline: position priors
    * fix to ppm by truncating division, expected clicks stay an exact
    * ppm SUM, the final ratio is one truncating division — no floats.
    *
    * Scale shape: one pass to the position dimension, one to the item
    * dimension with the ppm prior joined on position (broadcast-sized
    * — positions are a UI constant). Returns
    * (item, n_impr, n_clicks, exp_ppm, coec_u3). */
  def coec(events: DataFrame, itemCol: String, posCol: String,
      clickCol: String): DataFrame = {
    val base = events.select(col(itemCol).as("item"),
      col(posCol).cast("long").as("pos"),
      col(clickCol).cast("long").as("clk"))
    val prior = base.groupBy("pos")
      .agg(expr("CAST(sum(clk) * 1000000 div count(1) AS BIGINT)")
        .as("ctr_ppm"))
    base.join(broadcast(prior), "pos")
      .groupBy("item")
      .agg(count(lit(1)).as("n_impr"), sum("clk").as("n_clicks"),
        sum("ctr_ppm").as("exp_ppm"))
      .withColumn("coec_u3", expr("CASE WHEN exp_ppm = 0 THEN NULL " +
        "ELSE CAST(n_clicks * 1000000000 div exp_ppm AS BIGINT) END"))
      .select("item", "n_impr", "n_clicks", "exp_ppm", "coec_u3")
  }

  /** Markov next-event baseline accuracy — the sanity bar every
    * sequence model must beat: train first-order transition argmaxes
    * on half the users (parity split), predict each held-out
    * transition's next type from its previous one, and report
    * per-state accuracy. The number a recommender/prefetcher ships
    * against. Deterministic: argmax ties break on type ascending;
    * states never seen in training predict nothing and count as
    * misses (pred null). Exact integers end to end.
    *
    * Scale shape: per-user lag windows ([[eventTransitions]]'s
    * bounded-stream discipline), counts on the (prev, next) TYPE
    * dimension, one type-dimension argmax window, one broadcast-sized
    * model join. Returns (prev_type, pred, n_trans, n_correct). */
  def markovAccuracy(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val trans = events
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col(userCol).as("u"), col("__prev").as("prev_type"),
        col(typeCol).as("next_type"))
    val model = trans.filter(col("u") % 2 === 0)
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("c"))
    val aw = Window.partitionBy("prev_type")
      .orderBy(desc("c"), col("next_type"))
    val pred = model.withColumn("rn", row_number().over(aw))
      .filter(col("rn") === 1)
      .select(col("prev_type"), col("next_type").as("pred"))
    trans.filter(col("u") % 2 === 1)
      .join(pred, Seq("prev_type"), "left")
      .groupBy("prev_type", "pred")
      .agg(count(lit(1)).as("n_trans"),
        sum((col("next_type") <=> col("pred")).cast("long"))
          .as("n_correct"))
      .select("prev_type", "pred", "n_trans", "n_correct")
  }

  /** Consecutive-duplicate suppression (sensor/CDC debounce): drop an
    * event when the previous event of the SAME key carries the same
    * payload — keeping only value CHANGES, the standard compaction for
    * heartbeat-style feeds that re-send unchanged state. One lag window
    * per key (single shuffle on the key, ordered by event time with an
    * id tie-break); first event per key always survives. */
  def dropConsecutiveDuplicates(events: DataFrame, keyCol: String,
      payloadCols: Seq[String], tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(payloadCols.nonEmpty, "need at least one payload column")
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    // Unambiguous payload signature: columns \u0001-delimited with an
    // explicit \u0000 null sentinel -- ("ab","c") vs ("a","bc"), and
    // ("x",null) vs (null,"x") vs ("x",""), all hash apart. concat_ws
    // alone silently SKIPS nulls (value and separator), so nulled and
    // empty payloads would collide and changed events would be dropped.
    val enc = payloadCols.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val sig = md5(concat_ws("\u0001", enc: _*).cast("binary"))
    events
      .withColumn("__sig", sig)
      .withColumn("__prev", lag(col("__sig"), 1).over(byKey))
      .filter(col("__prev").isNull || col("__sig") =!= col("__prev"))
      .drop("__sig", "__prev")
  }

  /** Streaming per-key quota admission — the streaming complement of
    * `Curation.domainCap`: admit at most `cap` events per user over the
    * life of the stream, emitting admitted events as they arrive
    * (backfill ingestion with per-source quotas, free-tier rate caps).
    * State per key is ONE long (the used count) — bounded regardless of
    * stream length, no timeout needed.
    *
    * Within a micro-batch the group's rows are ordered by (ts,
    * event_id) before admission, so a single-batch drain equals the
    * batch rank-by-event-time formulation exactly (the oracle). Across
    * micro-batches admission is necessarily arrival-order — that IS the
    * online semantics of a quota; the batch equivalence holds per batch,
    * and the count cap holds always. */
  def streamQuotaAdmission(spark: SparkSession, dir: String,
      queryName: String, cap: Int): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    require(cap >= 1, "cap must be positive")
    val stream = eventStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[(Long, Long, Long)]
    memorySink(stream.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[Long]) =>
          val used = state.getOption.getOrElse(0L)
          val admitted = rows.toSeq.sortBy(r => (r._2, r._3))
            .take(math.max(0, cap - used.toInt))
          state.update(used + admitted.size)
          admitted.map(r => (uid, r._3)).iterator
      }
      .toDF("user_id", "event_id"), OutputMode.Append, queryName)
  }

  /** Streaming Count-Min maintenance — the frequency complement of the
    * HLL distinct path: each micro-batch builds its own (tiny) sketch
    * from batch value counts and merges cell-wise into the running
    * sketch ([[graft.ops.Profile.countMinMerge]]'s additivity is
    * exactly what makes the incremental form equal the from-scratch
    * build). The accumulated grid is ≤ depth × width rows BY
    * CONSTRUCTION, so holding it on the driver between batches is the
    * bounded-state design, not a shortcut; the merged view registers
    * as `queryName`. A drained run over one batch equals the batch
    * sketch exactly — the oracle. */
  def streamCountMinMaintain(spark: SparkSession, dir: String,
      queryName: String, valueCol: String = "event_type",
      depth: Int = 4, width: Int = 32): org.apache.spark.sql.streaming.StreamingQuery = {
    var acc: Seq[(Int, Long, Long)] = Seq.empty
    eventStream(spark, dir)
      .select(col(valueCol).cast("string").as("v"))
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // all registration happens on the OUTER session — foreachBatch
        // hands a per-batch clone whose temp views die with the batch
        import spark.implicits._
        val counts = batch.groupBy("v").agg(count(lit(1)).as("n"))
        val batchSketch = graft.ops.Profile
          .countMinBuildCounts(counts, "v", "n", depth, width)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
        acc = graft.ops.Profile.countMinMerge(
            (acc ++ batchSketch).toDF("row", "bucket", "cnt"))
          .as[(Int, Long, Long)].collect().toSeq
        acc.toDF("row", "bucket", "cnt").createOrReplaceTempView(queryName)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming KLL quantile maintenance — the quantile sibling of
    * [[streamCountMinMaintain]], completing the incremental sketch trio
    * (HLL distincts, Count-Min frequencies, KLL quantiles): each
    * micro-batch builds its own O(k) sketch DISTRIBUTED (treeAggregate;
    * the shuffle carries sketches, never values) and its rows merge
    * into the running sketch on the driver. Bounded state BY
    * CONSTRUCTION: the merged sketch holds ~3k items no matter how much
    * history has streamed past. The merged rows register as
    * `queryName`.
    *
    * Unlike Count-Min, KLL merge is NOT item-identical to a
    * from-scratch build (compaction keeps different survivors under
    * different arrival layouts) — what carries through merging is the
    * documented ε = 3/k RANK contract, so verification goes through
    * rank bounds on derived cuts (the q177 oracle pattern), not grid
    * equality. `valueCol` is read in integer cents (×100, rounded) so
    * cut values compare exactly across engines. */
  def streamQuantileMaintain(spark: SparkSession, dir: String,
      queryName: String, valueCol: String = "value",
      k: Int = 256): org.apache.spark.sql.streaming.StreamingQuery = {
    var acc: Seq[(Int, Double)] = Seq.empty
    eventStream(spark, dir)
      .select(round(col(valueCol) * 100, 0).cast("long")
        .cast("double").as("v"))
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // registration happens on the OUTER session (see countmin note)
        import spark.implicits._
        val batchRows = graft.ops.Profile.quantileSketch(batch, "v", k)
          .as[(Int, Double)].collect().toSeq
        acc = graft.ops.Profile.QuantileSketch
          .fromRows(k, acc ++ batchRows).toRows
        acc.toDF("level", "item").createOrReplaceTempView(queryName)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  def streamStatefulUserCounts(spark: SparkSession, dir: String,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val stream = eventStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
    memorySink(stream.groupByKey(_._1)
      .flatMapGroupsWithState[UserCounts, (Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserCounts]) =>
          var n = 0L
          var np = 0L
          rows.foreach { case (_, t) => n += 1; if (t == "purchase") np += 1 }
          val prev = state.getOption.getOrElse(UserCounts(0L, 0L))
          val next = UserCounts(prev.nEvents + n, prev.nPurchases + np)
          state.update(next)
          Iterator((uid, next.nEvents, next.nPurchases))
      }
      .toDF("user_id", "n_events", "n_purchases"), OutputMode.Update, queryName)
  }

  /** Difference-in-differences estimator — the experiment-analytics
    * read when assignment wasn't randomized at the metric level:
    * split the stream at its midpoint into pre/post, average the
    * metric in the four (treated × period) cells, and report
    *
    *   DiD = (T,post − T,pre) − (C,post − C,pre)
    *
    * — the parallel-trends-adjusted treatment effect. Exact
    * discipline: values fix to micro per ROW (one round, order-free),
    * cell means by truncating division, DiD a pure integer
    * expression; the midpoint cut (min+max epochs div 2) is one
    * broadcast scalar. Scale shape: one pass to the 4-cell dimension
    * (partial-aggregable), a broadcast window row — nothing else
    * moves. Returns the four cells (treated, post, n, mean_u6) each
    * carrying the shared did_u6. `treatedCol` must be 0/1. */
  def diffInDiff(events: DataFrame, treatedCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val w = events.agg(
      expr(s"CAST((min(unix_timestamp($tsCol)) + " +
        s"max(unix_timestamp($tsCol))) div 2 AS BIGINT)").as("cut"))
    val cells = events.crossJoin(broadcast(w))
      .select(col(treatedCol).cast("long").as("treated"),
        (unix_timestamp(col(tsCol)) > col("cut")).cast("long").as("post"),
        round(col(valueCol).cast("double") * 1000000, 0).cast("long")
          .as("v_u6"))
      .groupBy("treated", "post")
      .agg(count(lit(1)).as("n"), sum("v_u6").as("s"))
      .withColumn("mean_u6", expr("CAST(s div n AS BIGINT)"))
      .localCheckpoint()
    val did = cells.groupBy()
      .agg(sum(when(col("treated") === 1 && col("post") === 1,
          col("mean_u6")).otherwise(lit(0L))
        - when(col("treated") === 1 && col("post") === 0,
          col("mean_u6")).otherwise(lit(0L))
        - when(col("treated") === 0 && col("post") === 1,
          col("mean_u6")).otherwise(lit(0L))
        + when(col("treated") === 0 && col("post") === 0,
          col("mean_u6")).otherwise(lit(0L))).as("did_u6"))
    cells.crossJoin(broadcast(did))
      .select("treated", "post", "n", "mean_u6", "did_u6")
  }

  /** CUPED variance reduction (Deng et al. KDD 2013) — the standard
    * pre-experiment-covariate adjustment: per unit, x = pre-period
    * mean metric, y = post-period mean;
    *
    *   θ = cov(x,y)/var(x),   y_adj = y − θ·(x − x̄)
    *
    * shrinks metric variance by the pre/post correlation without
    * biasing the treatment contrast. Exact discipline: per-unit means
    * fix to MILLI units by truncating division (milli, not micro —
    * keeps n·Σxy inside 2⁶³), θ micro-fixes through the integer
    * covariance/variance numerators (n·Σxy − ΣxΣy over n·Σx² − (Σx)²,
    * one DECIMAL(38) widening for the 10⁶ scale — the heapsLaw move),
    * and the adjustment is pure integer arithmetic. Units must appear
    * in BOTH periods (no pre-signal → no adjustment claim; dropped).
    *
    * Scale shape: two unit-dimension aggregates, one five-sum scalar
    * row broadcast back, group means at the end. Returns per treated
    * arm (treated, n_units, mean_y_u3, mean_yadj_u3, theta_u6). */
  def cuped(events: DataFrame, unitCol: String, treatedCol: String,
      tsCol: String, valueCol: String): DataFrame = {
    val w = events.agg(
      expr(s"CAST((min(unix_timestamp($tsCol)) + " +
        s"max(unix_timestamp($tsCol))) div 2 AS BIGINT)").as("cut"))
    val base = events.crossJoin(broadcast(w))
      .select(col(unitCol).cast("long").as("unit"),
        col(treatedCol).cast("long").as("treated"),
        (unix_timestamp(col(tsCol)) > col("cut")).cast("long").as("post"),
        round(col(valueCol).cast("double") * 1000, 0).cast("long")
          .as("v_u3"))
    val per = base.groupBy("unit", "treated", "post")
      .agg(expr("CAST(sum(v_u3) div count(1) AS BIGINT)").as("m"))
    val units = per.filter(col("post") === 0)
      .select(col("unit"), col("treated"), col("m").as("x"))
      .join(per.filter(col("post") === 1)
        .select(col("unit"), col("m").as("y")), "unit")
      .localCheckpoint()
    val fit = units.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("theta_u6", expr(
        "CAST(CAST(n * sxy - sx * sy AS DECIMAL(38,0)) * 1000000 " +
        "div (n * sxx - sx * sx) AS BIGINT)"))
      .withColumn("xbar_u3", expr("CAST(sx div n AS BIGINT)"))
      .select("theta_u6", "xbar_u3")
    units.crossJoin(broadcast(fit))
      .withColumn("y_adj", col("y") -
        expr("CAST((theta_u6 * (x - xbar_u3)) div 1000000 AS BIGINT)"))
      .groupBy("treated", "theta_u6")
      .agg(count(lit(1)).as("n_units"),
        expr("CAST(sum(y) div count(1) AS BIGINT)").as("mean_y_u3"),
        expr("CAST(sum(y_adj) div count(1) AS BIGINT)")
          .as("mean_yadj_u3"))
      .select("treated", "n_units", "mean_y_u3", "mean_yadj_u3",
        "theta_u6")
  }

  /** UCB1 off-policy replay evaluation (Auer et al. 2002 policy;
    * Li et al. WSDM 2011 replay method) — "what would the bandit have
    * earned on our logged traffic": walk each key's event stream in
    * order; at each logged event the policy picks the arm maximizing
    *
    *   mean + √(2 ln τ / n_a),   τ = matched + 1 (the policy clock)
    *
    * (unpulled arms first, in ascending arm order — the deterministic
    * init); ONLY events whose logged arm equals the policy's pick
    * update the state (the replay estimator's unbiasedness trick —
    * non-matching events are invisible to the policy). Exact
    * discipline: means by truncating micro division, the exploration
    * bonus micro-rounds once per decision (round-half-away, the
    * engine rule) — every decision is a pure function of the stream.
    *
    * The arm set is GLOBAL (one bounded arm-dimension driver read, C
    * arms — the F-S weight contract), so every key replays the same
    * policy. Scale shape: one sorted per-key fold (`flatMapGroups`,
    * the cusum/funnel discipline — per-key streams bounded by
    * contract, and `maxSteps` caps the replay horizon explicitly);
    * only C rows per key return. Returns
    * (key, arm, pulls, rewards, matched). */
  def ucb1Replay(events: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, armCol: String, valueCol: String,
      rewardThreshold: Double, maxSteps: Int = Int.MaxValue): DataFrame = {
    require(maxSteps >= 1, s"maxSteps must be positive, got $maxSteps")
    val spark = events.sparkSession
    import spark.implicits._
    val arms = events.select(col(armCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    require(arms.nonEmpty, "no arms in the stream")
    def away(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong
      else -math.floor(-x + 0.5).toLong
    events.select(col(keyCol).cast("long"),
        unix_timestamp(col(tsCol)), col(seqCol).cast("long"),
        col(armCol).cast("string"),
        (col(valueCol) >= rewardThreshold).cast("long"))
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val evs = it.toArray.sortBy(e => (e._2, e._3)).take(maxSteps)
        val n = scala.collection.mutable.Map(arms.map(_ -> 0L): _*)
        val r = scala.collection.mutable.Map(arms.map(_ -> 0L): _*)
        var matched = 0L
        evs.foreach { case (_, _, _, arm, reward) =>
          val tau = matched + 1L
          val pick = arms.find(a => n(a) == 0L).getOrElse {
            val scores = arms.map(a => a ->
              (r(a) * 1000000L / n(a) +
                away(math.sqrt(2.0 * math.log(tau.toDouble) / n(a))
                  * 1e6)))
            val best = scores.map(_._2).max
            scores.find(_._2 == best).get._1
          }
          if (pick == arm) {
            matched += 1L
            n(arm) += 1L
            r(arm) += reward
          }
        }
        arms.iterator.map(a => (k, a, n(a), r(a), matched))
      }
      .toDF("key", "arm", "pulls", "rewards", "matched")
  }

  /** Kaplan–Meier survival curve (Kaplan & Meier 1958) with
    * right-censoring — the retention statistic the fixed-grid cohort
    * views can't give you: entity lifetime runs first→last event,
    * and entities still active inside the final `censorHours` of the
    * observation window are CENSORED (they leave the risk set without
    * counting as churn). At each distinct lifetime t (whole hours):
    *
    *   n_risk(t) = N − Σ_{t'<t} (d + c),   step(t) = ln((n−d)/n)
    *
    * and the log-survival curve is the running sum of steps. Exact
    * discipline: risk sets, deaths and censors are integers; each
    * step micro-rounds ONCE from an exact count ratio (the
    * [[graft.ops.TextAnalysis.tokenEntropy]] rule) and accumulates by
    * integer window sum — no float accumulation anywhere. Where the
    * whole risk set dies (d = n) the step is null and `s_zero` latches
    * to 1 (survival hit exactly zero; ln is undefined there).
    *
    * Scale shape: one entity-dimension aggregate, one broadcast
    * window-end scalar, then all windows run on the LIFETIME dimension
    * (distinct whole-hour durations — observation-span-bounded by
    * contract, never entity-count-sized). Returns
    * (t_h, n_risk, d, c, logsurv_u6, s_zero) ordered by t_h. */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
      censorHours: Long = 24L): DataFrame = {
    require(censorHours >= 0L, s"censorHours must be >= 0, got $censorHours")
    import org.apache.spark.sql.expressions.Window
    val life = events.groupBy(col(userCol).as("entity"))
      .agg(min(unix_timestamp(col(tsCol))).as("first_s"),
        max(unix_timestamp(col(tsCol))).as("last_s"))
    val wend = life.agg(max("last_s").as("w_end"),
      count(lit(1)).as("n_total"))
    val durs = life.crossJoin(broadcast(wend))
      .withColumn("t_h",
        expr("CAST((last_s - first_s) div 3600 AS BIGINT)"))
      .withColumn("observed",
        (col("last_s") <= col("w_end") - lit(censorHours * 3600L))
          .cast("long"))
    val byT = durs.groupBy(col("t_h"), col("n_total"))
      .agg(sum("observed").as("d"),
        sum(lit(1L) - col("observed")).as("c"))
    val cumPrior = Window.orderBy("t_h")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumIncl = Window.orderBy("t_h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk", col("n_total") -
        coalesce(sum(col("d") + col("c")).over(cumPrior), lit(0L)))
      .withColumn("step_u6", when(col("d") < col("n_risk"),
        round(log((col("n_risk") - col("d")).cast("double") /
          col("n_risk")) * 1000000, 0).cast("long")))
      .withColumn("z", when(col("d") >= col("n_risk"), 1L).otherwise(0L))
      .withColumn("logsurv_u6",
        coalesce(sum("step_u6").over(cumIncl), lit(0L)).cast("long"))
      .withColumn("s_zero", max("z").over(cumIncl).cast("long"))
      .select("t_h", "n_risk", "d", "c", "logsurv_u6", "s_zero")
  }

  final case class CursorState(court: String, lastCursor: String, updatedAt: java.sql.Timestamp)

  /** ST2 — explicit checkpoint table (fixes reference quirk Q1: cursor
    * read/write field + format mismatch made resume a silent no-op). */
  object CursorCheckpoint {
    def save(spark: SparkSession, path: String, state: CursorState): Unit = {
      import spark.implicits._
      Seq(state).toDS().write.mode("overwrite").parquet(path)
    }
    def load(spark: SparkSession, path: String): Option[CursorState] = {
      import spark.implicits._
      try spark.read.parquet(path).as[CursorState].collect().headOption
      catch { case _: Exception => None }
    }
  }
}
