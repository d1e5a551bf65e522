package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.EventsPipeline

import graft.SparkEntry.auxPath
import graft.queries.QuerySupport._

/** Event streams and time series: windows, sessions, funnels, as-of and
  * stream joins, CDC and SCD2, and sequential statistics over events. */
private[graft] object EventQueries extends QueryFamily {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2 — argmax-by-timestamp (deterministic window formulation).
    "q09_latest_event" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
    }),

    // ST/event-time — tumbling-window aggregation (batch form of the
    // streaming groupBy(window(...)) plan).
    "q11_tumbling_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
    }),

    // sessionization — gap-based sessions per user (lag + running sum).
    "q12_sessionize" -> ((s, dir) => {
      EventsPipeline.sessionize(events(s, dir), gapMin = 30)
        .groupBy("user_id")
        .agg(max(col("session_seq")).as("n_sessions"), count(lit(1)).as("n_events"))
    }),

    // ST1 — true Structured Streaming run of the tumbling-window agg
    // (memory sink, AvailableNow trigger, complete mode), then read back.
    "q34_stream_window" -> ((s, dir) => {
      EventsPipeline.drained(s) {
        EventsPipeline.streamWindowedCountsComplete(s, dir, "q34_sink")
      }
      s.table("q34_sink")
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"), col("n"))
    }),

    // Spark-native session_window aggregation (batch form of the
    // streaming sessionization) — oracle is the µs-exact lag-based
    // formulation, proving the two sessionization paths agree.
    "q37_session_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n").as("n_events"))
    }),

    // as-of join (operator Spark lacks; union+LOCF formulation, one
    // shuffle) — each purchase gets the latest click at-or-before it per
    // user. Oracle: DuckDB's native ASOF LEFT JOIN.
    "q42_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(count(lit(1)).as("n_clicks_at"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      graft.ops.Joins.asofJoin(purchases, clicks, "user_id", "ts",
          Seq(("ts", "click_ts"), ("n_clicks_at", "n_clicks_at")))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts_str"),
          col("n_clicks_at"))
    }),

    // ST — custom-state streaming (flatMapGroupsWithState): per-user
    // running counts through the state store; the final state must equal
    // the batch aggregate, which is exactly what the oracle asserts.
    // (Counts are monotone, so max over emitted updates = final state.)
    "q46_stream_stateful" -> ((s, dir) => {
      EventsPipeline.drained(s) {
        EventsPipeline.streamStatefulUserCounts(s, dir, "q46_sink")
      }
      s.table("q46_sink")
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          max(col("n_purchases")).as("n_purchases"))
    }),

    // ST — stream-static enrichment join (events stream ⋈ customer dim)
    // aggregated per nation; must equal the batch join+aggregate.
    "q48_stream_static_join" -> ((s, dir) => {
      EventsPipeline.drained(s) {
        EventsPipeline.streamEnrichedCounts(s, dir, "q48_sink")
      }
      s.table("q48_sink")
    }),

    // ST — stream-stream inner join with event-time range condition:
    // click→purchase attribution pairs; complete once drained, so the
    // oracle is the equivalent batch self-join.
    "q53_stream_stream_join" -> ((s, dir) => {
      EventsPipeline.drained(s) {
        EventsPipeline.streamStreamJoin(s, dir, "q53_sink")
      }
      s.table("q53_sink")
    }),

    // Interval-RANGE trailing window: per-user 1-hour trailing event
    // value sum at each event (the time-decayed-feature shape). RANGE
    // frame on exact micros, inclusive both ends in both engines; value
    // sums in integer cents so accumulation order cannot ulp-drift.
    "q87_trailing_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("value_cents", cents(col("value")))
        .withColumn("trail_cents", sum("value_cents").over(w))
        .select(col("event_id"), col("user_id"), col("trail_cents"))
    }),

    // Sliding event-time windows (1 h length, 15 min slide): every event
    // lands in exactly 4 overlapping windows. Spark's window() slides are
    // epoch-aligned; the oracle rebuilds them from 15-minute buckets.
    "q89_sliding_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"))),

    // CDC changelog apply (merge-on-read): fold ordered I/U/D ops onto a
    // snapshot — superseded versions (seq 1 under seq 2), deletes beating
    // earlier updates (ids ≡ 0 mod 15 get U@2 then D@3 → gone), and
    // fresh inserts all exercised. Latest-wins is re-derived in DuckDB
    // with an independent window formulation.
    "q96_cdc_apply" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      def ch(f: Column, seq: Long, op: String, text: Column, shift: Long = 0) =
        d.filter(f).select((col("doc_id") + shift).as("doc_id"),
          lit(seq).as("seq"), lit(op).as("op"), text.as("text"))
      val changes = ch(col("doc_id") % 3 === 0, 1, "U", concat(col("text"), lit(" [v1]")))
        .unionByName(ch(col("doc_id") % 3 === 0, 2, "U", concat(col("text"), lit(" [v2]"))))
        .unionByName(ch(col("doc_id") % 5 === 0, 3, "D", lit(null).cast("string")))
        .unionByName(ch(col("doc_id") < 10, 1, "I", col("text"), shift = 20000))
      graft.index.IndexWriter.applyChangelog(d, changes, "doc_id", "seq", "op")
    }),

    // Stream-stream LEFT OUTER join: click→purchase attribution that
    // also emits never-converted clicks (null p_id) once the watermark
    // proves no match can arrive. Sentinel flush rows drain the tail
    // state; they are filtered HERE, outside the streaming query —
    // inside it the predicate would push below the watermark operator
    // and defeat the flush (see streamStreamLeftJoin). Result must
    // equal the batch left join (the oracle).
    "q94_stream_left_join" -> ((s, dir) => {
      EventsPipeline.drained(s) {
        EventsPipeline.streamStreamLeftJoin(s, dir, "q94_sink")
      }
      s.table("q94_sink").filter(col("user_id") >= 0)
    }),

    // Streaming per-key quota admission (streaming domainCap): at most 5
    // events per user admitted through one long of state per key; the
    // single-batch drain is ordered by (ts, id) within each group, so it
    // equals the batch rank-by-event-time oracle exactly.
    "q99_stream_quota" -> ((s, dir) => {
      EventsPipeline.drained(s) {
        EventsPipeline.streamQuotaAdmission(s, dir, "q99_sink", cap = 5)
      }
      s.table("q99_sink")
    }),

    // Ordered funnel: users reaching signup → click → purchase with each
    // step strictly after the previous (one user-keyed walk vs the
    // oracle's chained min-after-stage joins).
    "q103_funnel" -> ((s, dir) =>
      EventsPipeline.funnelCounts(events(s, dir),
        Seq("signup", "click", "purchase"))),

    // Rolling 7-day distinct users per day: (day, user) pairs collapse
    // FIRST (the big reduction), then a tiny day-grid range join fans
    // each pair into its ≤ 7 windows and a distinct count per day
    // finishes. The corpus never joins at event grain.
    "q112_rolling_distinct" -> ((s, dir) => {
      val pairs = events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val days = pairs.select("day").distinct()
      days.join(pairs.select(col("day").as("pday"), col("user_id")),
          col("pday").between(date_sub(col("day"), 6), col("day")))
        .groupBy("day")
        .agg(countDistinct(col("user_id")).as("users_7d"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("users_7d"))
    }),

    // Exponentially-decayed activity feature (EWMA, alpha = 1/2) over
    // each user's last 8 events, in EXACT integer arithmetic: weight
    // 2^(7-k) on lag k means the weighted sum is a plain bigint — no
    // libm pow, no float accumulation order, bit-identical everywhere.
    // The decayed numerator is the feature (fixed-point; dividing by
    // the weight total is a constant scale both engines could apply).
    "q116_ewma_feature" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val decayed = (0 until 8).map(k =>
          coalesce(lag(cents(col("value")), k).over(w), lit(0L)) *
            lit(1L << (7 - k)))
        .reduce(_ + _)
      events(s, dir)
        .withColumn("decayed_cents", decayed)
        .select(col("user_id"), col("event_id"), col("decayed_cents"))
    }),

    // Forward fill over a dense time grid (LOCF): per-user hourly value
    // sums land on a generated hour grid from the user's first to last
    // event; grid hours with no events carry the last observed sum
    // forward. Money through cents; hours emitted as strings.
    "q119_gap_fill" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(sum(cents(col("value"))).as("c"))
      val grid = graft.ops.Cleaning.timeGrid(hourly, Seq("user_id"), "h",
        step = "1 hour", gridCol = "h")
      graft.ops.Cleaning.forwardFill(
          grid.join(hourly, Seq("user_id", "h"), "left"),
          Seq("user_id"), "h", Seq("c"))
        .select(col("user_id"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("c").as("filled_cents"))
    }),

    // Gaps-and-islands interval coalescing: each event spans 10 minutes;
    // overlapping/touching spans merge per user into islands with
    // (start, end, count) in exact epoch micros. The running-max
    // construction (not lag) is what lets one long span swallow short
    // contained ones — the oracle re-derives the identical islands.
    "q131_interval_merge" -> ((s, dir) =>
      graft.ops.Cleaning.mergeIntervals(
        events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + 600000000L).as("end_us")),
        "user_id", "start_us", "end_us")),

    // Cohort retention: users cohort by first-activity day; integer
    // active/size counts per day offset (rates are the caller's
    // division). Activity collapses to (user, day) before any join.
    "q139_cohort_retention" -> ((s, dir) =>
      EventsPipeline.cohortRetention(events(s, dir))),

    // Event-type transition counts — the Markov view of user behavior
    // (the event-stream sibling of q121's token bigrams).
    "q140_event_transitions" -> ((s, dir) =>
      EventsPipeline.eventTransitions(events(s, dir))),

    // Time-weighted value integral (TWAP numerator): cents x hold-
    // seconds summed per user, last observation open-ended — exact
    // integers, the average is the caller's division.
    "q144_twap" -> ((s, dir) =>
      EventsPipeline.timeWeightedSum(
        events(s, dir).withColumn("value_cents", cents(col("value"))))),

    // Streaming Count-Min maintenance: per-batch sketches merge
    // cell-wise into the running grid (bounded at depth x width rows by
    // construction); the drained stream equals the batch sketch — which
    // the oracle re-derives from scratch, md5 buckets and all.
    "q146_stream_countmin" -> ((s, dir) => {
      EventsPipeline.drained(s) {
        EventsPipeline.streamCountMinMaintain(s, dir, "q146_sink",
          "event_type", depth = 4, width = 32)
      }
      s.table("q146_sink")
    }),

    // Running-max drawdown: per user, peak value so far minus current
    // (the decline-from-peak feature) in exact cents.
    "q147_drawdown" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("value_cents", cents(col("value")))
        .select(col("user_id"), col("event_id"),
          (max("value_cents").over(w) - col("value_cents")).as("drawdown_cents"))
    }),

    // Streaming KLL maintenance: drained stream → merged sketch →
    // quantile cuts aux-dumped; DuckDB recounts EXACT ranks of every
    // cut over the events table and re-derives the ε-bound verdict
    // (the q177 integer-rank pattern on the streaming path).
    "q185_stream_quantile" -> ((s, dir) => {
      val k = 256
      EventsPipeline.drained(s) {
        EventsPipeline.streamQuantileMaintain(s, dir, "q185_sketch", k = k)
      }
      val sk = graft.ops.Profile.quantileSketchMerge(s.table("q185_sketch"), k)
      val cuts = Seq(250, 500, 900)
        .map(q => (q, sk.quantile(q / 1000.0).toLong))
      import s.implicits._
      val cutsDf = cuts.toDF("q_mille", "cut")
      writeAux(cutsDf, dir, "q185_cuts")
      quantileGateCheck(t(s, dir, "events")
        .select(round(col("value") * 100, 0).cast("long").as("v")), cutsDf, k)
    }),

    // Type-2 SCD dimension build: orders as a per-customer status
    // change log → effective intervals. One window pass partitioned by
    // the dimension key; DuckDB replays the change-collapse, interval
    // close, and versioning with the same window functions.
    "q224_scd2_dim" -> ((s, dir) => {
      val log = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"), col("o_orderdate").as("ts"),
        col("o_orderkey").as("seq"), col("o_orderstatus").as("status"))
      graft.ops.Scd.scd2Build(log, "custkey", "ts", "seq", Seq("status"))
        .select(col("custkey"), col("status"),
          date_format(col("effective_from"), "yyyy-MM-dd HH:mm:ss")
            .as("eff_from"),
          date_format(col("effective_to"), "yyyy-MM-dd HH:mm:ss")
            .as("eff_to"),
          col("version"), col("is_current"))
        .orderBy("custkey", "version")
    }),

    // Point-in-time join against the q224 dimension: every lineitem
    // picks the status its customer's latest order-status change held
    // AT SHIP TIME (not today's value — the leakage-free feature
    // lookup). Equi-join on custkey with the interval residual; a
    // key's intervals are disjoint, so no post-dedup. DuckDB replays
    // dimension build and interval lookup.
    "q225_pit_join" -> ((s, dir) => {
      val log = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"), col("o_orderdate").as("ts"),
        col("o_orderkey").as("seq"), col("o_orderstatus").as("status"))
      val dim = graft.ops.Scd.scd2Build(log, "custkey", "ts", "seq",
        Seq("status"))
      val fact = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("o_custkey").as("custkey"), col("l_shipdate").as("ship_ts"))
      graft.ops.Scd.pitJoin(fact, dim, "custkey", "ship_ts", Seq("status"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long"),
          col("custkey"),
          date_format(col("ship_ts"), "yyyy-MM-dd HH:mm:ss").as("ship_ts"),
          col("status").as("status_at_ship"))
        // (orderkey, linenumber) is not unique in the synthetic
        // lineitem — ship_ts completes the total order
        .orderBy("l_orderkey", "l_linenumber", "ship_ts")
    }),

    // Per-key watermark lateness audit: events ≡ 3 mod 7 get their
    // EVENT time shifted 1 h earlier (arrival order untouched) — the
    // out-of-order tail every real ingest has; the audit measures each
    // late event's lag behind its user's running high-water mark and
    // grades two candidate watermark delays. DuckDB replays the
    // running max, the exact micro lags, and both drop verdicts.
    "q232_lateness_audit" -> ((s: SparkSession, dir: String) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts")
        .withColumn("ts", when(col("event_id") % 7 === 3,
          col("ts") - expr("INTERVAL 1 HOUR")).otherwise(col("ts")))
      graft.streaming.EventsPipeline.latenessAudit(ev, "user_id",
          "event_id", "ts", Seq(1800L, 7200L))
        .select(col("user_id"), col("event_id"), col("late_us"),
          col("dropped_1800s"), col("dropped_7200s"))
        .orderBy("user_id", "event_id")
    }),

    // Two-sided CUSUM drift alarms: value blocks ≡ 2 mod 3 (by
    // arrival id) carry a planted +100.00 level shift — small per
    // event, unmistakable accumulated. Per-user sorted fold with
    // crossing-reset; DuckDB replays the recurrence row-by-row through
    // a recursive CTE and emits the identical alarm rows.
    "q255_cusum" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        (cents(col("value")) +
          when(expr("(event_id div 1000) % 3") === 2, 10000L)
            .otherwise(0L)).as("v"))
      graft.streaming.EventsPipeline.cusumFlags(ev, "user_id",
          "event_id", "v", ref = 5000L, slack = 2000L, h = 30000L)
        .orderBy("user_id", "event_id", "side")
    }),

    // First/last-touch conversion attribution with a 24 h lookback:
    // one range-framed window pass per user (no events×events
    // self-join). DuckDB re-derives both credits per purchase with an
    // explicit in-window argmax/argmin.
    "q256_attribution" -> ((s, dir) =>
      graft.streaming.EventsPipeline.attributeConversions(
          events(s, dir), "user_id", "ts", "event_id", "event_type",
          touchType = "click", convType = "purchase",
          lookbackSec = 86400L)
        .orderBy("user_id", "conversion_id")),

    // Additive seasonal decomposition of per-user event values:
    // centered 7-wide moving-average trend (full windows only),
    // per-(user, phase) seasonal means of the detrended series,
    // residual remainder — all exact truncating micro arithmetic.
    // DuckDB replays the windows, the phase means, and the remainder.
    "q261_seasonal_decompose" -> ((s, dir) =>
      graft.streaming.EventsPipeline.seasonalDecompose(
        t(s, dir, "events")
          .withColumn("us", unix_micros(col("ts").cast("timestamp")))
          .select("user_id", "us", "event_id", "value"),
        "user_id", Seq("us", "event_id"), "value", period = 7)
        .orderBy("user_id", "idx")),

    // Kaplan-Meier retention over user lifetimes (right-censored in
    // the final 24 h of the window): integer risk sets, one micro-
    // rounded ln step per lifetime, integer cumulative log-survival.
    // DuckDB re-derives lifetimes, censoring, risk sets, and the curve.
    "q272_kaplan_meier" -> ((s, dir) =>
      graft.streaming.EventsPipeline.kaplanMeier(
        t(s, dir, "events"), "user_id", "ts", censorHours = 24L)
        .orderBy("t_h")),

    // UCB1 off-policy replay over 32 cohort streams (256-step
    // horizon): deterministic policy walk (unpulled-first init,
    // micro-rounded exploration bonus, replay-matched updates only).
    // DuckDB replays every decision in a recursive CTE with per-arm
    // state columns.
    "q281_ucb1_replay" -> ((s, dir) =>
      graft.streaming.EventsPipeline.ucb1Replay(
        t(s, dir, "events").withColumn("k32", col("user_id") % 32),
        "k32", "ts", "event_id", "event_type", "value",
        rewardThreshold = 100.0, maxSteps = 256)
        .orderBy("key", "arm")),

    // Markov next-event baseline: transition argmaxes trained on even
    // users, per-state held-out accuracy on odd users. DuckDB
    // re-derives transitions, the model, and every prediction.
    "q288_markov_accuracy" -> ((s, dir) =>
      graft.streaming.EventsPipeline.markovAccuracy(t(s, dir, "events"))
        .orderBy("prev_type")),

    // COEC position-normalized engagement: ppm position priors from
    // the whole log (position = event_id % 10, click = value >= 100),
    // per-item expected-click sums, one truncating ratio. DuckDB
    // re-derives priors, sums, and every ratio.
    "q292_coec" -> ((s, dir) =>
      graft.streaming.EventsPipeline.coec(
        t(s, dir, "events")
          .withColumn("pos", col("event_id") % 10)
          .withColumn("clk", (col("value") >= 100.0).cast("long")),
        "event_type", "pos", "clk")
        .orderBy("item")),

    // Holt double exponential smoothing over 16 cohort streams
    // (256-step horizon, alpha 0.3 / beta 0.1 in ppm): exact integer
    // level/trend recurrences + in-sample SAE. DuckDB replays every
    // step of every walk in a recursive CTE.
    "q296_holt_smoothing" -> ((s, dir) =>
      graft.streaming.EventsPipeline.holtSmoothing(
        t(s, dir, "events").withColumn("k16", col("user_id") % 16),
        "k16", "ts", "event_id", "value",
        alphaPpm = 300000L, betaPpm = 100000L, maxSteps = 256)
        .orderBy("key")),

    // TPC-H Q22 shape: customers above the GLOBAL mean balance (exact
    // integer cents threshold — no float-mean boundary flake) with no
    // order in the final 90 days, rolled up per nation. Two broadcast
    // scalars + anti-join + nation-dimension aggregate — the
    // optimizer shape the plan should pick for free.
    "q310_dormant_accounts" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("cents",
          expr("CAST(floor(c_acctbal * 100) AS BIGINT)"))
      val thr = c.agg(
        expr("CAST(sum(cents) div count(1) AS BIGINT)").as("thr"))
      val o = t(s, dir, "orders")
      val cut = o.agg(date_sub(max(col("o_orderdate")), 90).as("cut"))
      val recent = o.crossJoin(broadcast(cut))
        .filter(col("o_orderdate") > col("cut"))
        .select(col("o_custkey").as("c_custkey"))
      c.crossJoin(broadcast(thr))
        .filter(col("cents") > col("thr"))
        .join(recent, Seq("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"), sum("cents").as("sum_cents"))
        .orderBy("c_nationkey")
    }),

    // Lag-k autocorrelation of each event type's hourly count series
    // (lags 1, 2, 24 over a 256-hour grid): exact centered products
    // with the n² factors cancelled, one DECIMAL(38) widening for the
    // ppm scale, constant series null. DuckDB re-derives the grid,
    // centering, and every quotient.
    "q313_acf" -> ((s, dir) =>
      graft.streaming.EventsPipeline.acf(t(s, dir, "events"), "ts",
        "event_type", gridLen = 256, lags = Seq(1, 2, 24))
        .orderBy("event_type", "lag")),

    // Wald SPRT replay per event type: H0 p=0.4 vs H1 p=0.6 on
    // P(value >= 100), alpha = beta = 0.05. The four log constants
    // arrive as pre-fixed micro literals (ln 1.5 = 0.405465,
    // ln 19 = 2.944439), so the whole walk is exact integer
    // arithmetic both engines replay identically.
    "q314_sprt" -> ((s, dir) =>
      graft.streaming.EventsPipeline.sprtReplay(t(s, dir, "events"),
        "event_type", "ts", "event_id", col("value") >= 100.0,
        lnSuccU6 = 405465L, lnFailU6 = -405465L,
        upperU6 = 2944439L, lowerU6 = -2944439L)
        .orderBy("event_type")),

    // Kleinberg burst detection per event type (first 600 events per
    // key, s = 2, ln 2 and γ as pre-fixed micro literals): maximal
    // state-1 intervals of the 2-state gap automaton with Kleinberg
    // weights. DuckDB replays the d-recurrence forward, the backward
    // state walk, and the gaps-and-islands rollup.
    "q321_kleinberg_bursts" -> ((s, dir) =>
      graft.streaming.EventsPipeline.kleinbergBursts(t(s, dir, "events"),
        "event_type", "ts", "event_id", sFactor = 2,
        lnSU6 = 693147L, gammaU6 = 1000000L, maxSteps = 600)
        .orderBy("event_type", "start_n")),

    // Markov removal-effect attribution over user event journeys
    // (conversion = purchase, paths truncated at first conversion):
    // every channel's credit = conversion probability lost when its
    // visits redirect to NULL — all scenarios share one ppm transition
    // matrix, removal is just a clamp. DuckDB replays journey
    // construction, the matrix, and all 12 value-iteration rounds.
    "q323_markov_attribution" -> ((s, dir) =>
      graft.streaming.EventsPipeline.markovAttribution(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        convType = "purchase", iters = 12)
        .orderBy("channel")),

    // Pettitt change-point localization per event type over the
    // 256-hour grid: tie-broken integer ranks, U_m = 2W_m − m(L+1),
    // earliest argmax |U| — where the level shifted, rank-robustly.
    // DuckDB re-derives the grid, every rank, and the tie-broken pick.
    "q329_pettitt_change" -> ((s, dir) =>
      graft.streaming.EventsPipeline.pettittChangePoint(
        t(s, dir, "events"), "ts", "event_type", gridLen = 256)
        .orderBy("event_type")),

    // BITEMPORAL lookup — valid time × transaction time, the two-axis
    // question lakehouse history must answer ("what did we BELIEVE at
    // commit T about the state at time V?"): the SCD2 dimension
    // commits TWICE into a versioned snapshot — tx 1 from pre-1998
    // observations only, tx 2 after the remaining orders arrive — and
    // every probe customer asks for its status as of valid-time
    // 2000-06-15 under BOTH transaction versions. Where late data
    // changed the answer, `revised` = 1 — the audit view a governance
    // review needs when features were trained against tx 1. DuckDB
    // rebuilds both dimension states and replays both as-of lookups.
    "q355_bitemporal" -> ((s, dir) => {
      val log = t(s, dir, "orders").select(
        col("o_custkey").as("custkey"), col("o_orderdate").as("ts"),
        col("o_orderkey").as("seq"), col("o_orderstatus").as("status"))
      def dim(l: DataFrame) = graft.ops.Scd
        .scd2Build(l, "custkey", "ts", "seq", Seq("status"))
        .withColumn("id", concat_ws("|", col("custkey"), col("version")))
      val path = auxPath(dir) + "/q355_dim"
      graft.ops.Joins.deleteRecursively(new java.io.File(path))
      graft.index.Snapshots.replaceVersioned(s,
        dim(log.filter(col("ts") < "1998-01-01")), path)
      graft.index.Snapshots.replaceVersioned(s, dim(log), path)
      val probes = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"))
        .filter(col("custkey") % 10 === 7)
        .withColumn("asof", to_timestamp(lit("2000-06-15 00:00:00")))
      def lookup(v: Long, out: String) = graft.ops.Scd.pitJoin(probes,
          graft.index.Snapshots.readVersion(s, path, v),
          "custkey", "asof", Seq("status"))
        .select(col("custkey"), col("status").as(out))
      lookup(1, "status_tx1").join(lookup(2, "status_tx2"), Seq("custkey"))
        .select(col("custkey"),
          coalesce(col("status_tx1"), lit("none")).as("status_tx1"),
          coalesce(col("status_tx2"), lit("none")).as("status_tx2"),
          when(!(col("status_tx1") <=> col("status_tx2")), 1L)
            .otherwise(0L).as("revised"))
        .orderBy("custkey")
    }),
  )

  /** q224/q225's SCD2 dimension (orders as a per-customer status change
    * log) as a DuckDB CTE body ending in
    * `sv(custkey, status, f, t, version)` — the change-collapse, the
    * lead() interval close, and the per-key versioning, mirroring
    * [[graft.ops.Scd.scd2Build]]'s single window pass. */
  private def scd2DimCtes: String =
    """log AS (SELECT o_custkey AS custkey, o_orderdate AS ts,
      |    o_orderkey AS seq, o_orderstatus AS status FROM orders),
      |d AS (SELECT *, lag(status) OVER (PARTITION BY custkey
      |    ORDER BY ts, seq) AS pv FROM log),
      |c AS (SELECT custkey, ts, seq, status FROM d
      |  WHERE pv IS NULL OR status <> pv),
      |sv AS (SELECT custkey, status, ts AS f,
      |    lead(ts) OVER (PARTITION BY custkey ORDER BY ts, seq) AS t,
      |    CAST(row_number() OVER (PARTITION BY custkey
      |      ORDER BY ts, seq) AS BIGINT) AS version
      |  FROM c)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q09_latest_event" ->
      """SELECT user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        |FROM (
        |  SELECT user_id, event_type, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "q11_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q12_sessionize" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL
        |              OR CAST(epoch(ts) AS BIGINT) - CAST(epoch(prev_ts) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts,
        |          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events))
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM g GROUP BY 1""".stripMargin,

    "q34_stream_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
        |  COUNT(*) AS n FROM events GROUP BY 1, 2""".stripMargin,

    "q37_session_window" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL
        |              OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts,
        |          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events))
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY 1""".stripMargin,

    "q42_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, COUNT(*) AS n_clicks_at FROM events
        |  WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts_str,
        |  c.n_clicks_at
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    "q46_stream_stateful" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases
        |FROM events GROUP BY 1""".stripMargin,

    "q48_stream_static_join" ->
      """SELECT c_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin,

    "q53_stream_stream_join" ->
      """SELECT c.user_id, c.event_id AS c_id, p.event_id AS p_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE""".stripMargin,

    "q87_trailing_window" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS trail_cents
        |FROM events""".stripMargin,

    "q89_sliding_window" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n
        |FROM (SELECT time_bucket(INTERVAL 15 MINUTE, ts)
        |             - TO_MICROSECONDS(j * 900000000) AS ws, event_type
        |      FROM events, UNNEST(range(4)) AS t(j))
        |GROUP BY 1, 2""".stripMargin,

    "q96_cdc_apply" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |ch AS (
        |  SELECT doc_id, 1 AS seq, 'U' AS op, text || ' [v1]' AS text
        |  FROM d WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, 2, 'U', text || ' [v2]' FROM d WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, 3, 'D', NULL FROM d WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 20000, 1, 'I', text FROM d WHERE doc_id < 10),
        |w AS (SELECT doc_id, op, text,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC, op DESC) AS rn
        |  FROM ch),
        |win AS (SELECT doc_id, op, text FROM w WHERE rn = 1)
        |SELECT d.doc_id, d.text FROM d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM win)
        |UNION ALL
        |SELECT doc_id, text FROM win WHERE op <> 'D'""".stripMargin,

    "q94_stream_left_join" ->
      """SELECT c.user_id, c.event_id AS c_id, p.event_id AS p_id
        |FROM events c LEFT JOIN events p
        |  ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |WHERE c.event_type = 'click'""".stripMargin,

    "q99_stream_quota" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 5""".stripMargin,

    "q103_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT 1 AS step_index, 'signup' AS step,
        |  (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin,

    "q112_rolling_distinct" ->
      """WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM pairs)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS users_7d
        |FROM days d JOIN pairs p
        |  ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |GROUP BY d.day""".stripMargin,

    "q116_ewma_feature" -> {
      val terms = (0 until 8).map(k =>
        s"coalesce(lag(CAST(round(value * 100) AS BIGINT), $k) OVER " +
          s"(PARTITION BY user_id ORDER BY ts, event_id), 0) * ${1L << (7 - k)}")
        .mkString(" + ")
      s"""SELECT user_id, event_id, $terms AS decayed_cents
         |FROM events""".stripMargin
    },

    "q119_gap_fill" ->
      """WITH hourly AS (SELECT user_id, date_trunc('hour', ts) AS h,
        |    CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (SELECT user_id,
        |    unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        |  FROM hourly GROUP BY user_id),
        |j AS (SELECT g.user_id, g.h, hourly.c
        |  FROM grid g LEFT JOIN hourly USING (user_id, h))
        |SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(last_value(c IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS filled_cents
        |FROM j""".stripMargin,

    "q131_interval_merge" ->
      """WITH iv AS (SELECT user_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS start_us,
        |    CAST(epoch_us(ts) + 600000000 AS BIGINT) AS end_us
        |  FROM events),
        |flagged AS (SELECT user_id, start_us, end_us,
        |    CASE WHEN max(end_us) OVER (PARTITION BY user_id
        |        ORDER BY start_us, end_us
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR start_us > max(end_us) OVER (PARTITION BY user_id
        |        ORDER BY start_us, end_us
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    THEN 1 ELSE 0 END AS new_island
        |  FROM iv),
        |isl AS (SELECT user_id, start_us, end_us,
        |    CAST(SUM(new_island) OVER (PARTITION BY user_id
        |      ORDER BY start_us, end_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM flagged)
        |SELECT user_id, island, min(start_us) AS start_us,
        |  max(end_us) AS end_us, count(*) AS n_rows
        |FROM isl GROUP BY 1, 2""".stripMargin,

    "q139_cohort_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS d0 FROM e GROUP BY 1),
        |s AS (SELECT d0, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM f GROUP BY 1)
        |SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', f.d0, e.d) AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users,
        |  s.cohort_size
        |FROM e JOIN f USING (user_id) JOIN s ON s.d0 = f.d0
        |GROUP BY 1, 2, 4""".stripMargin,

    "q140_event_transitions" ->
      """SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT event_type AS next_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS prev_type
        |      FROM events)
        |WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "q144_twap" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS s,
        |    CAST(round(value * 100) AS BIGINT) AS value_cents FROM events),
        |l AS (SELECT user_id, value_cents, s,
        |    lead(s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ns
        |  FROM e)
        |SELECT user_id,
        |  CAST(sum(value_cents * (ns - s)) AS BIGINT) AS weighted_cents_s,
        |  CAST(sum(ns - s) AS BIGINT) AS span_s
        |FROM l WHERE ns IS NOT NULL GROUP BY 1""".stripMargin,

    "q146_stream_countmin" ->
      """WITH counts AS (SELECT CAST(event_type AS VARCHAR) AS v,
        |    count(*) AS n FROM events GROUP BY 1),
        |cells AS (SELECT row, v, n,
        |    CAST('0x' || substr(md5(CAST(row AS VARCHAR) || '#' || v), 1, 8)
        |      AS BIGINT) % 32 AS bucket
        |  FROM counts CROSS JOIN (SELECT unnest(range(4)) AS row))
        |SELECT CAST(row AS INT) AS row, bucket,
        |  CAST(sum(n) AS BIGINT) AS cnt
        |FROM cells GROUP BY 1, 2""".stripMargin,

    "q147_drawdown" ->
      """SELECT user_id, event_id,
        |  CAST(max(CAST(round(value * 100) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    - CAST(round(value * 100) AS BIGINT) AS BIGINT) AS drawdown_cents
        |FROM events""".stripMargin,

    "q185_stream_quantile" ->
      s"""WITH cuts AS (SELECT q_mille, cut FROM '__AUX__/q185_cuts/*.parquet'),
        |v AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS v FROM events),
        |${quantileGateSql}""".stripMargin,

    "q224_scd2_dim" ->
      s"""WITH $scd2DimCtes
        |SELECT custkey, status,
        |  strftime(f, '%Y-%m-%d %H:%M:%S') AS eff_from,
        |  strftime(t, '%Y-%m-%d %H:%M:%S') AS eff_to,
        |  version, t IS NULL AS is_current
        |FROM sv ORDER BY custkey, version""".stripMargin,

    "q225_pit_join" ->
      s"""WITH $scd2DimCtes,
        |fact AS (SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT)
        |      AS l_linenumber,
        |    o.o_custkey AS custkey, l.l_shipdate AS ship
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT f.l_orderkey, f.l_linenumber, f.custkey,
        |  strftime(f.ship, '%Y-%m-%d %H:%M:%S') AS ship_ts,
        |  s.status AS status_at_ship
        |FROM fact f LEFT JOIN sv s ON s.custkey = f.custkey
        |  AND f.ship >= s.f AND (s.t IS NULL OR f.ship < s.t)
        |ORDER BY l_orderkey, l_linenumber, ship_ts""".stripMargin,

    "q232_lateness_audit" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CASE WHEN event_id % 7 = 3 THEN ts - INTERVAL 1 HOUR
        |         ELSE ts END AS ts
        |  FROM events),
        |w AS (SELECT user_id, event_id, ts,
        |    max(ts) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |  FROM ev)
        |SELECT user_id, event_id,
        |  CAST(epoch_us(wm) - epoch_us(ts) AS BIGINT) AS late_us,
        |  epoch_us(wm) - epoch_us(ts) > 1800 * CAST(1000000 AS BIGINT)
        |    AS dropped_1800s,
        |  epoch_us(wm) - epoch_us(ts) > 7200 * CAST(1000000 AS BIGINT)
        |    AS dropped_7200s
        |FROM w WHERE ts < wm
        |ORDER BY user_id, event_id""".stripMargin,

    "q255_cusum" ->
      """WITH RECURSIVE ev AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) +
        |      CASE WHEN (event_id // 1000) % 3 = 2 THEN 10000
        |           ELSE 0 END AS x
        |  FROM events),
        |r AS MATERIALIZED (SELECT user_id, event_id, x,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS BIGINT) AS rn
        |  FROM ev),
        |c(user_id, rn, event_id, up_after, down_after, up_raw,
        |  down_raw) AS (
        |  SELECT user_id, rn, event_id,
        |    CASE WHEN greatest(0, x - 7000) > 30000 THEN 0
        |         ELSE greatest(0, x - 7000) END,
        |    CASE WHEN greatest(0, 3000 - x) > 30000 THEN 0
        |         ELSE greatest(0, 3000 - x) END,
        |    greatest(0, x - 7000), greatest(0, 3000 - x)
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.rn, r.event_id,
        |    CASE WHEN greatest(0, c.up_after + r.x - 7000) > 30000
        |         THEN 0 ELSE greatest(0, c.up_after + r.x - 7000) END,
        |    CASE WHEN greatest(0, c.down_after + 3000 - r.x) > 30000
        |         THEN 0 ELSE greatest(0, c.down_after + 3000 - r.x) END,
        |    greatest(0, c.up_after + r.x - 7000),
        |    greatest(0, c.down_after + 3000 - r.x)
        |  FROM c JOIN r ON r.user_id = c.user_id AND r.rn = c.rn + 1)
        |SELECT user_id, event_id, side, stat FROM (
        |  SELECT user_id, event_id, 'up' AS side,
        |    CAST(up_raw AS BIGINT) AS stat FROM c WHERE up_raw > 30000
        |  UNION ALL SELECT user_id, event_id, 'down',
        |    CAST(down_raw AS BIGINT) FROM c WHERE down_raw > 30000)
        |ORDER BY user_id, event_id, side""".stripMargin,

    "q256_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |conv AS (SELECT user_id, event_id AS conversion_id, us
        |  FROM e WHERE event_type = 'purchase'),
        |touch AS (SELECT user_id, event_id, us FROM e
        |  WHERE event_type = 'click'),
        |j AS (SELECT c.user_id, c.conversion_id, c.us AS conv_us,
        |    t.event_id AS tid, t.us AS tus
        |  FROM conv c LEFT JOIN touch t ON t.user_id = c.user_id
        |    AND t.us >= c.us - 86400 * CAST(1000000 AS BIGINT)
        |    AND t.us < c.us)
        |SELECT user_id, conversion_id, conv_us,
        |  CAST((max(CASE WHEN tid IS NULL THEN NULL
        |    ELSE struct_pack(us := tus, id := tid) END)).id AS BIGINT)
        |    AS last_touch_id,
        |  CAST((min(CASE WHEN tid IS NULL THEN NULL
        |    ELSE struct_pack(us := tus, id := tid) END)).id AS BIGINT)
        |    AS first_touch_id
        |FROM j GROUP BY 1, 2, 3
        |ORDER BY user_id, conversion_id""".stripMargin,

    "q261_seasonal_decompose" ->
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us, event_id,
        |    CAST(round(value * 1000000, 0) AS BIGINT) AS v_u6
        |  FROM events),
        |o AS (SELECT *, CAST(row_number() OVER w AS BIGINT) AS idx,
        |    CASE WHEN count(*) OVER c = 7 THEN
        |      CAST(sum(v_u6) OVER c // 7 AS BIGINT) END AS trend_u6
        |  FROM e WINDOW w AS (PARTITION BY k ORDER BY us, event_id),
        |    c AS (PARTITION BY k ORDER BY us, event_id
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |p AS (SELECT *, CAST((idx - 1) % 7 AS BIGINT) AS phase,
        |    v_u6 - trend_u6 AS detr FROM o),
        |s AS (SELECT k, phase, CAST(sum(detr) // count(detr) AS BIGINT)
        |    AS seasonal_u6 FROM p WHERE detr IS NOT NULL GROUP BY 1, 2)
        |SELECT p.k AS user_id, p.idx, p.phase, p.v_u6, p.trend_u6,
        |  CASE WHEN p.trend_u6 IS NOT NULL THEN s.seasonal_u6 END
        |    AS seasonal_u6,
        |  CASE WHEN p.trend_u6 IS NOT NULL
        |    THEN p.v_u6 - p.trend_u6 - s.seasonal_u6 END AS resid_u6,
        |  p.us, p.event_id
        |FROM p LEFT JOIN s ON s.k = p.k AND s.phase = p.phase
        |ORDER BY user_id, idx""".stripMargin,

    "q272_kaplan_meier" ->
      """WITH life AS (SELECT user_id AS entity,
        |    CAST(min(epoch(ts)) AS BIGINT) AS first_s,
        |    CAST(max(epoch(ts)) AS BIGINT) AS last_s
        |  FROM events GROUP BY 1),
        |w AS (SELECT max(last_s) AS w_end,
        |    CAST(count(*) AS BIGINT) AS n_total FROM life),
        |durs AS (SELECT (last_s - first_s) // 3600 AS t_h,
        |    CASE WHEN last_s <= w.w_end - 86400 THEN 1 ELSE 0 END AS obs,
        |    w.n_total FROM life, w),
        |byt AS (SELECT t_h, n_total, CAST(sum(obs) AS BIGINT) AS d,
        |    CAST(sum(1 - obs) AS BIGINT) AS c FROM durs GROUP BY 1, 2),
        |r AS (SELECT t_h, d, c, n_total - coalesce(sum(d + c) OVER (
        |      ORDER BY t_h ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS n_risk
        |  FROM byt),
        |s AS (SELECT t_h, n_risk, d, c,
        |    CASE WHEN d < n_risk THEN CAST(round(ln(
        |      CAST(n_risk - d AS DOUBLE) / n_risk) * 1000000, 0)
        |      AS BIGINT) END AS step_u6,
        |    CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS z FROM r)
        |SELECT t_h, CAST(n_risk AS BIGINT) AS n_risk, d, c,
        |  CAST(coalesce(sum(step_u6) OVER (ORDER BY t_h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
        |    AS BIGINT) AS logsurv_u6,
        |  CAST(max(z) OVER (ORDER BY t_h ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS s_zero
        |FROM s ORDER BY t_h""".stripMargin,

    "q281_ucb1_replay" -> {
      val armz = Seq("click", "error", "purchase", "signup", "view")
      def sc(i: Int) =
        s"""s.r$i * 1000000 // s.n$i
           |        + CAST(round(sqrt(2.0 * ln(CAST(s.matched + 1
           |          AS DOUBLE)) / s.n$i) * 1000000, 0) AS BIGINT)"""
          .stripMargin
      def upd(i: Int, a: String) =
        s"""s.n$i + CASE WHEN p.pick = '$a' AND e.arm = '$a'
           |      THEN 1 ELSE 0 END AS n$i,
           |    s.r$i + CASE WHEN p.pick = '$a' AND e.arm = '$a'
           |      THEN e.rw ELSE 0 END AS r$i""".stripMargin
      def fin(i: Int, a: String) =
        s"""SELECT key, '$a' AS arm, n$i AS pulls, r$i AS rewards,
           |  matched FROM fin""".stripMargin
      s"""WITH RECURSIVE ev AS MATERIALIZED (
        |  SELECT * FROM (
        |  SELECT user_id % 32 AS key, row_number() OVER (
        |      PARTITION BY user_id % 32
        |      ORDER BY epoch(ts), event_id) AS rn,
        |    event_type AS arm,
        |    CASE WHEN value >= 100.0 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS rw
        |  FROM events) WHERE rn <= 256),
        |st AS (
        |  SELECT DISTINCT key, 0 AS t,
        |    ${(1 to 5).map(i => s"CAST(0 AS BIGINT) AS n$i, " +
              s"CAST(0 AS BIGINT) AS r$i").mkString(",\n    ")},
        |    CAST(0 AS BIGINT) AS matched
        |  FROM ev
        |  UNION ALL
        |  SELECT s.key, s.t + 1,
        |    ${armz.zipWithIndex.map { case (a, i) => upd(i + 1, a) }
              .mkString(",\n    ")},
        |    s.matched + CASE WHEN p.pick = e.arm THEN 1 ELSE 0 END
        |  FROM st s JOIN ev e ON e.key = s.key AND e.rn = s.t + 1,
        |  LATERAL (SELECT
        |      ${(1 to 5).map(i =>
                s"CASE WHEN s.n$i = 0 THEN NULL ELSE\n        ${sc(i)}"
                  + s" END AS s$i").mkString(",\n      ")}) q,
        |  LATERAL (SELECT CASE
        |      ${(1 to 5).map(i =>
                s"WHEN s.n$i = 0 THEN '${armz(i - 1)}'")
                .mkString("\n      ")}
        |      WHEN q.s1 >= greatest(q.s2, q.s3, q.s4, q.s5)
        |        THEN 'click'
        |      WHEN q.s2 >= greatest(q.s3, q.s4, q.s5) THEN 'error'
        |      WHEN q.s3 >= greatest(q.s4, q.s5) THEN 'purchase'
        |      WHEN q.s4 >= q.s5 THEN 'signup'
        |      ELSE 'view'
        |    END AS pick) p),
        |fin AS (SELECT * FROM st QUALIFY row_number() OVER (
        |  PARTITION BY key ORDER BY t DESC) = 1)
        |${armz.zipWithIndex.map { case (a, i) => fin(i + 1, a) }
            .mkString("\nUNION ALL\n")}
        |ORDER BY key, arm""".stripMargin
    },

    "q288_markov_accuracy" ->
      """WITH tr AS MATERIALIZED (SELECT user_id AS u, prev_type,
        |    event_type AS next_type FROM (
        |    SELECT user_id, event_type, lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY epoch(ts), event_id)
        |      AS prev_type FROM events)
        |  WHERE prev_type IS NOT NULL),
        |md AS (SELECT prev_type, next_type, count(*) AS c FROM tr
        |  WHERE u % 2 = 0 GROUP BY 1, 2),
        |pr AS (SELECT prev_type, next_type AS pred FROM (
        |    SELECT prev_type, next_type, row_number() OVER (
        |      PARTITION BY prev_type ORDER BY c DESC, next_type) AS rn
        |    FROM md) WHERE rn = 1)
        |SELECT tr.prev_type, pr.pred,
        |  CAST(count(*) AS BIGINT) AS n_trans,
        |  CAST(sum(CASE WHEN tr.next_type IS NOT DISTINCT FROM pr.pred
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |FROM tr LEFT JOIN pr USING (prev_type)
        |WHERE tr.u % 2 = 1
        |GROUP BY 1, 2 ORDER BY prev_type""".stripMargin,

    "q292_coec" ->
      """WITH b AS (SELECT event_type AS item, event_id % 10 AS pos,
        |    CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS clk
        |  FROM events),
        |pr AS (SELECT pos, CAST(sum(clk) AS BIGINT) * 1000000
        |    // count(*) AS ctr_ppm
        |  FROM b GROUP BY 1)
        |SELECT b.item, CAST(count(*) AS BIGINT) AS n_impr,
        |  CAST(sum(b.clk) AS BIGINT) AS n_clicks,
        |  CAST(sum(pr.ctr_ppm) AS BIGINT) AS exp_ppm,
        |  CASE WHEN sum(pr.ctr_ppm) = 0 THEN NULL
        |    ELSE CAST(CAST(sum(b.clk) AS BIGINT) * 1000000000
        |      // CAST(sum(pr.ctr_ppm) AS BIGINT) AS BIGINT)
        |  END AS coec_u3
        |FROM b JOIN pr USING (pos)
        |GROUP BY b.item ORDER BY item""".stripMargin,

    "q296_holt_smoothing" ->
      """WITH RECURSIVE ev AS MATERIALIZED (SELECT * FROM (
        |  SELECT user_id % 16 AS key, row_number() OVER (
        |      PARTITION BY user_id % 16
        |      ORDER BY epoch(ts), event_id) AS rn,
        |    CAST(round(value * 1000, 0) AS BIGINT) AS y
        |  FROM events) WHERE rn <= 256),
        |hw AS (
        |  SELECT key, CAST(1 AS BIGINT) AS t, y AS l,
        |    CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT s.key, s.t + 1,
        |    (300000 * e.y + 700000 * (s.l + s.b)) // 1000000,
        |    (100000 * (((300000 * e.y + 700000 * (s.l + s.b))
        |        // 1000000) - s.l) + 900000 * s.b) // 1000000,
        |    s.sae + abs(e.y - (s.l + s.b))
        |  FROM hw s JOIN ev e ON e.key = s.key AND e.rn = s.t + 1),
        |fin AS (SELECT * FROM hw QUALIFY row_number() OVER (
        |  PARTITION BY key ORDER BY t DESC) = 1)
        |SELECT key, t AS n, CAST(l AS BIGINT) AS level_u3,
        |  CAST(b AS BIGINT) AS trend_u3, CAST(sae AS BIGINT) AS sae_u3,
        |  CAST(l + b AS BIGINT) AS forecast_u3
        |FROM fin ORDER BY key""".stripMargin,

    "q310_dormant_accounts" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) // count(*) AS thr
        |  FROM c),
        |cut AS (SELECT max(o_orderdate) - INTERVAL 90 DAY AS cut
        |  FROM orders)
        |SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(c.cents) AS BIGINT) AS sum_cents
        |FROM c, t, cut
        |WHERE c.cents > t.thr
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate > cut.cut)
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,

    "q313_acf" ->
      """WITH m AS (SELECT CAST(min(epoch_us(ts) // 1000000) AS BIGINT)
        |    AS t0 FROM events),
        |cnt AS (SELECT k, h, CAST(count(*) AS BIGINT) AS x FROM (
        |    SELECT event_type AS k,
        |      (epoch_us(ts) // 1000000 - m.t0) // 3600 AS h
        |    FROM events, m)
        |  WHERE h >= 0 AND h < 256 GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT k FROM cnt),
        |grid AS (SELECT keys.k, r.h, COALESCE(cnt.x, 0) AS x
        |  FROM keys CROSS JOIN (SELECT unnest(range(256)) AS h) r
        |  LEFT JOIN cnt ON cnt.k = keys.k AND cnt.h = r.h),
        |st AS (SELECT k, CAST(sum(x) AS BIGINT) AS s
        |  FROM grid GROUP BY 1),
        |cg AS MATERIALIZED (SELECT g.k, g.h,
        |    CAST(256 * g.x - st.s AS BIGINT) AS c
        |  FROM grid g JOIN st ON st.k = g.k),
        |den AS (SELECT k, CAST(sum(c * c) AS BIGINT) AS den
        |  FROM cg GROUP BY 1),
        |num AS (SELECT a.k, l.lag, CAST(sum(a.c * b.c) AS BIGINT)
        |    AS num
        |  FROM (SELECT unnest([1, 2, 24]) AS lag) l, cg a, cg b
        |  WHERE b.k = a.k AND b.h = a.h - l.lag
        |  GROUP BY 1, 2)
        |SELECT n.k AS event_type, CAST(n.lag AS BIGINT) AS lag,
        |  CAST(CAST(n.num AS HUGEINT) * 1000000 // NULLIF(d.den, 0)
        |    AS BIGINT) AS acf_ppm
        |FROM num n JOIN den d ON d.k = n.k
        |ORDER BY event_type, lag""".stripMargin,

    "q314_sprt" ->
      """WITH obs AS (SELECT event_type AS k, ts, event_id AS seq,
        |    CASE WHEN value >= 100.0 THEN 405465 ELSE -405465 END
        |      AS inc
        |  FROM events),
        |walk AS (SELECT k,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts, seq) AS n,
        |    CAST(SUM(inc) OVER (PARTITION BY k ORDER BY ts, seq
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr
        |  FROM obs),
        |tot AS (SELECT k, CAST(count(*) AS BIGINT) AS total_n,
        |    CAST(sum(inc) AS BIGINT) AS final_llr
        |  FROM obs GROUP BY 1),
        |crs AS (SELECT k, n, llr,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY n) AS rn
        |  FROM walk WHERE llr >= 2944439 OR llr <= -2944439),
        |fc AS (SELECT k, n AS n_cross, llr AS llr_cross
        |  FROM crs WHERE rn = 1)
        |SELECT t.k AS event_type,
        |  CASE WHEN f.n_cross IS NULL THEN 'continue'
        |       WHEN f.llr_cross >= 2944439 THEN 'accept_h1'
        |       ELSE 'accept_h0' END AS decision,
        |  CAST(COALESCE(f.n_cross, t.total_n) AS BIGINT) AS n_obs,
        |  COALESCE(f.llr_cross, t.final_llr) AS llr_u6
        |FROM tot t LEFT JOIN fc f ON f.k = t.k
        |ORDER BY event_type""".stripMargin,

    "q321_kleinberg_bursts" ->
      """WITH RECURSIVE ev AS MATERIALIZED (
        |  SELECT k, ts_s, rn FROM (
        |    SELECT event_type AS k, epoch_us(ts) // 1000000 AS ts_s,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn <= 600),
        |stats AS MATERIALIZED (SELECT k,
        |    CAST(count(*) - 1 AS BIGINT) AS n,
        |    CAST(max(ts_s) - min(ts_s) AS BIGINT) AS tt
        |  FROM ev GROUP BY 1
        |  HAVING count(*) >= 2 AND max(ts_s) > min(ts_s)),
        |gaps AS MATERIALIZED (SELECT a.k, a.rn AS n,
        |    a.ts_s AS t0, b.ts_s AS t1,
        |    (st.n * 1000000 // st.tt) * (b.ts_s - a.ts_s) - 693147
        |      AS dk
        |  FROM ev a JOIN ev b ON b.k = a.k AND b.rn = a.rn + 1
        |  JOIN stats st ON st.k = a.k),
        |mx AS MATERIALIZED (SELECT k, CAST(max(n) AS BIGINT) AS mn
        |  FROM gaps GROUP BY 1),
        |fw(k, n, d) AS (
        |  SELECT k, CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)
        |  FROM stats
        |  UNION ALL
        |  SELECT g.k, g.n, least(1000000, f.d) - least(0, f.d) + g.dk
        |  FROM fw f JOIN gaps g ON g.k = f.k AND g.n = f.n + 1),
        |fwm AS MATERIALIZED (SELECT * FROM fw),
        |bk(k, n, state) AS (
        |  SELECT f.k, f.n, CASE WHEN f.d < 0 THEN 1 ELSE 0 END
        |  FROM fwm f JOIN mx ON mx.k = f.k AND mx.mn = f.n
        |  UNION ALL
        |  SELECT b.k, b.n - 1,
        |    CASE WHEN b.state = 1 THEN
        |        (CASE WHEN f.d >= 1000000 THEN 0 ELSE 1 END)
        |      ELSE (CASE WHEN f.d >= 0 THEN 0 ELSE 1 END) END
        |  FROM bk b JOIN fwm f ON f.k = b.k AND f.n = b.n - 1
        |  WHERE b.n > 1),
        |burst AS (SELECT b.k, b.n, g.t0, g.t1, g.dk,
        |    b.n - ROW_NUMBER() OVER (PARTITION BY b.k ORDER BY b.n)
        |      AS grp
        |  FROM bk b JOIN gaps g ON g.k = b.k AND g.n = b.n
        |  WHERE b.state = 1)
        |SELECT k AS event_type, CAST(min(n) AS BIGINT) AS start_n,
        |  CAST(max(n) AS BIGINT) AS end_n,
        |  CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(min(t0) AS BIGINT) AS burst_start_s,
        |  CAST(max(t1) AS BIGINT) AS burst_end_s,
        |  CAST(sum(-dk) AS BIGINT) AS weight_u6
        |FROM burst GROUP BY k, grp
        |ORDER BY event_type, start_n""".stripMargin,

    "q323_markov_attribution" ->
      s"""WITH ordered AS MATERIALIZED (SELECT user_id AS u,
        |    CASE WHEN event_type = 'purchase' THEN '__conv__'
        |         ELSE event_type END AS st,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |fc AS (SELECT u, min(rn) AS fp FROM ordered
        |  WHERE st = '__conv__' GROUP BY 1),
        |kept AS MATERIALIZED (SELECT o.u, o.st, o.rn
        |  FROM ordered o LEFT JOIN fc ON fc.u = o.u
        |  WHERE fc.fp IS NULL OR o.rn <= fc.fp),
        |mxr AS (SELECT u, max(rn) AS mx,
        |    max(CASE WHEN st = '__conv__' THEN 1 ELSE 0 END) AS conv
        |  FROM kept GROUP BY 1),
        |pairs AS MATERIALIZED (
        |  SELECT a.st AS s, b.st AS t FROM kept a
        |  JOIN kept b ON b.u = a.u AND b.rn = a.rn + 1
        |  UNION ALL SELECT '__start__', st FROM kept WHERE rn = 1
        |  UNION ALL SELECT k.st, '__null__' FROM kept k
        |  JOIN mxr ON mxr.u = k.u AND mxr.conv = 0 AND k.rn = mxr.mx),
        |outs AS (SELECT s, CAST(count(*) AS BIGINT) AS n
        |  FROM pairs GROUP BY 1),
        |ta AS MATERIALIZED (SELECT p.s, p.t,
        |    CAST(CAST(count(*) AS BIGINT) * 1000000 // o.n AS BIGINT)
        |      AS tp
        |  FROM pairs p JOIN outs o ON o.s = p.s GROUP BY p.s, p.t, o.n),
        |tt AS MATERIALIZED (SELECT * FROM ta
        |  WHERE t NOT IN ('__conv__', '__null__')),
        |bb AS MATERIALIZED (SELECT s, tp AS bp FROM ta
        |  WHERE t = '__conv__'),
        |chs AS MATERIALIZED (SELECT DISTINCT s AS ch FROM ta
        |  WHERE s <> '__start__'),
        |trans AS (SELECT DISTINCT s FROM ta),
        |spine AS MATERIALIZED (SELECT sc.scenario, tr.s FROM
        |  (SELECT ch AS scenario FROM chs UNION ALL SELECT 'FULL') sc
        |  CROSS JOIN trans tr WHERE tr.s <> sc.scenario),
        |ap0 AS (SELECT scenario, s, CAST(0 AS BIGINT) AS p FROM spine),
        |${(1 to 12).map(r => attributionRoundCtes(s"ap${r - 1}", r))
            .mkString(",\n")},
        |st AS (SELECT scenario, p FROM ap12 WHERE s = '__start__'),
        |fl AS (SELECT p AS p_full_ppm FROM st WHERE scenario = 'FULL')
        |SELECT c.ch AS channel, fl.p_full_ppm, st.p AS p_removed_ppm,
        |  fl.p_full_ppm - st.p AS effect_ppm
        |FROM chs c JOIN st ON st.scenario = c.ch, fl
        |ORDER BY channel""".stripMargin,

    "q329_pettitt_change" ->
      """WITH m AS (SELECT CAST(min(epoch_us(ts) // 1000000) AS BIGINT)
        |    AS t0 FROM events),
        |cnt AS (SELECT k, h, CAST(count(*) AS BIGINT) AS x FROM (
        |    SELECT event_type AS k,
        |      (epoch_us(ts) // 1000000 - m.t0) // 3600 AS h
        |    FROM events, m)
        |  WHERE h >= 0 AND h < 256 GROUP BY 1, 2),
        |keys AS (SELECT DISTINCT k FROM cnt),
        |grid AS (SELECT keys.k, r.h, COALESCE(cnt.x, 0) AS x
        |  FROM keys CROSS JOIN (SELECT unnest(range(256)) AS h) r
        |  LEFT JOIN cnt ON cnt.k = keys.k AND cnt.h = r.h),
        |rk AS (SELECT k, h, CAST(ROW_NUMBER() OVER (PARTITION BY k
        |      ORDER BY x, h) AS BIGINT) AS r
        |  FROM grid),
        |uu AS (SELECT k, h + 1 AS mm,
        |    2 * CAST(SUM(r) OVER (PARTITION BY k ORDER BY h
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      - (h + 1) * 257 AS u
        |  FROM rk),
        |pick AS (SELECT k, mm, u,
        |    ROW_NUMBER() OVER (PARTITION BY k
        |      ORDER BY abs(u) DESC, mm) AS rn
        |  FROM uu WHERE mm < 256)
        |SELECT k AS event_type, CAST(mm AS BIGINT) AS m_star,
        |  u AS u_star, abs(u) AS abs_u
        |FROM pick WHERE rn = 1
        |ORDER BY event_type""".stripMargin,

    "q355_bitemporal" -> {
      def dimCtes(n: Int, pred: String) =
        s"""log$n AS (SELECT o_custkey AS custkey, o_orderdate AS ts,
           |    o_orderkey AS seq, o_orderstatus AS status
           |  FROM orders $pred),
           |d$n AS (SELECT *, lag(status) OVER (PARTITION BY custkey
           |    ORDER BY ts, seq) AS pv FROM log$n),
           |c$n AS (SELECT custkey, ts, seq, status FROM d$n
           |  WHERE pv IS NULL OR status <> pv),
           |sv$n AS (SELECT custkey, status, ts AS f,
           |    lead(ts) OVER (PARTITION BY custkey ORDER BY ts, seq) AS t
           |  FROM c$n)""".stripMargin
      s"""WITH probes AS (SELECT c_custkey AS custkey FROM customer
         |  WHERE c_custkey % 10 = 7),
         |${dimCtes(1, "WHERE o_orderdate < TIMESTAMP '1998-01-01'")},
         |${dimCtes(2, "")},
         |a1 AS (SELECT p.custkey, s.status FROM probes p
         |  LEFT JOIN sv1 s ON s.custkey = p.custkey
         |    AND TIMESTAMP '2000-06-15' >= s.f
         |    AND (s.t IS NULL OR TIMESTAMP '2000-06-15' < s.t)),
         |a2 AS (SELECT p.custkey, s.status FROM probes p
         |  LEFT JOIN sv2 s ON s.custkey = p.custkey
         |    AND TIMESTAMP '2000-06-15' >= s.f
         |    AND (s.t IS NULL OR TIMESTAMP '2000-06-15' < s.t))
         |SELECT p.custkey,
         |  COALESCE(a1.status, 'none') AS status_tx1,
         |  COALESCE(a2.status, 'none') AS status_tx2,
         |  CAST(CASE WHEN COALESCE(a1.status, 'none')
         |    IS DISTINCT FROM COALESCE(a2.status, 'none')
         |    THEN 1 ELSE 0 END AS BIGINT) AS revised
         |FROM probes p
         |LEFT JOIN a1 ON a1.custkey = p.custkey
         |LEFT JOIN a2 ON a2.custkey = p.custkey
         |ORDER BY p.custkey""".stripMargin
    },
  )

  /** One q323 value-iteration round over tables spine/tt/bb: p'(s) =
    * (Σ_t tp·p(t) + bp·10⁶) div 10⁶ per (scenario, s); rows for the
    * removed channel are absent from spine, which IS the clamp. NOT
    * pre-stripped. */
  private def attributionRoundCtes(prev: String, r: Int): String =
    s"""ap$r AS MATERIALIZED (SELECT sp.scenario, sp.s,
       |    CAST((COALESCE(acc.a, 0) + COALESCE(bb.bp, 0) * 1000000)
       |      // 1000000 AS BIGINT) AS p
       |  FROM spine sp
       |  LEFT JOIN (SELECT p.scenario, t.s,
       |      CAST(sum(t.tp * p.p) AS BIGINT) AS a
       |    FROM tt t JOIN $prev p ON p.s = t.t
       |    GROUP BY 1, 2) acc
       |    ON acc.scenario = sp.scenario AND acc.s = sp.s
       |  LEFT JOIN bb ON bb.s = sp.s)"""
}
