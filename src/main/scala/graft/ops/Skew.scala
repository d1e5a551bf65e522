package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation patterns for 100 TB-scale shuffles.
  *
  * A hot grouping/join key concentrates a shuffle partition on one task.
  * Salting splits each key into `saltBuckets` sub-keys so the heavy key's
  * rows spread across tasks; aggregation then needs two phases (partial
  * per (key, salt), final per key), and a salted join replicates the
  * dimension side once per salt bucket.
  */
object Skew {

  /** SIZE-DERIVED parallelism for explicit repartitions ahead of
    * CPU-heavy/byte-light work (guide §2.2; r15 verdict ask #3):
    * partitions = input bytes / `bytesPerTask`, clamped to
    * [1, defaultParallelism]. The byte estimate is the optimizer's plan
    * statistic; a plan the optimizer cannot size reports "unknown =
    * huge", so the clamp lands on defaultParallelism — exactly the old
    * fixed-count behavior. A 0-byte statistic (an empty frame) is a
    * real size, not the unknown sentinel: it gets one partition. A
    * constant partition count tuned for one machine wastes task
    * launches on small inputs (the sf0.1 suite measured FASTER on 8
    * cores than 32 — pure per-task overhead on 32-way exchanges of
    * kilobyte frames) and never exceeds the
    * cluster's parallelism on big ones; deriving from bytes scales both
    * directions without a config knob. */
  def sizedParallelism(df: DataFrame, bytesPerTask: Long = 2L << 20): Int = {
    val cap = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes > BigInt(Long.MaxValue) / 2) cap
    else math.max(1L, math.min(cap.toLong,
      (bytes.toLong + bytesPerTask - 1) / bytesPerTask)).toInt
  }

  /** Two-phase salted aggregation: exactly `df.groupBy(key).agg(sum)`,
    * but the first shuffle distributes each key over `saltBuckets`
    * sub-partitions. Only algebraic aggregates (sum/count/min/max) can
    * be re-aggregated this way — enforced here by taking sums. */
  def saltedSum(df: DataFrame, keyCol: String, valueCol: String,
      saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt",
      contentSalt(Seq(col(keyCol), col(valueCol)), saltBuckets))
    salted
      .groupBy(col(keyCol), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"), count(lit(1)).as("__n"))
      .groupBy(col(keyCol))
      .agg(sum(col("__partial")).as(s"sum_$valueCol"),
        sum(col("__n")).as("n_rows"))
  }

  /** Salted equi-join for a skewed fact side: fact rows get a random
    * salt in [0, saltBuckets); the (small) dimension side is replicated
    * once per salt value; join on (key, salt). Semantically identical to
    * `fact.join(dim, key)` for 1:1 dim keys. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int = 16, saltCols: Seq[String] = Nil): DataFrame = {
    val spreadCols =
      (if (saltCols.nonEmpty) saltCols else fact.columns.filterNot(_ == key).toSeq)
        .map(col)
    val saltedFact = fact.withColumn("__salt", contentSalt(spreadCols, saltBuckets))
    val explodedDim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    saltedFact.join(explodedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Pre-flight audit for a large equi-join — run BEFORE paying the
    * shuffle: per-key row counts on both sides, each key's output
    * contribution (n_left · n_right), the estimated total join
    * cardinality, and each key's share of it in per-mille. The top
    * keys are exactly the decision input for [[saltedJoin]] /
    * broadcast / bucketing: one dominant key → salt it; a handful of
    * hot keys covering most of the output → handle them separately
    * (AQE's skew-join split, made inspectable).
    *
    * Cost: one count aggregate per side (map-side combinable) + a
    * full-outer merge of the two key-count tables — key-cardinality
    * data only, never the payload rows. Returns the `topN` keys by
    * contribution (desc, key asc), each row also carrying `est_total`
    * and `share_pm`; keys present on only one side contribute 0 (the
    * join would drop them — visible as n_left/n_right = 0). */
  def joinFanoutAudit(left: DataFrame, leftKey: String, right: DataFrame,
      rightKey: String, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val lc = left.groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("n_left"))
    val rc = right.groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("n_right"))
    val merged = lc.join(rc, Seq("key"), "full_outer")
      .select(col("key"),
        coalesce(col("n_left"), lit(0L)).as("n_left"),
        coalesce(col("n_right"), lit(0L)).as("n_right"))
      .withColumn("contrib", col("n_left") * col("n_right"))
    val totalRow = merged.agg(sum(col("contrib"))).first()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    merged
      .withColumn("est_total", lit(total))
      .withColumn("share_pm",
        expr(s"CAST(contrib * 1000 div ${math.max(total, 1L)} AS BIGINT)"))
      .orderBy(desc("contrib"), col("key"))
      .limit(topN)
  }

  /** Two-level salted COUNT DISTINCT — `df.groupBy(keyCols)
    * .agg(countDistinct(distinctCol))` with a skew guarantee: level 1
    * dedupes on (key, distinct-value), so the exchange hashes on ALL
    * the columns and a heavy key's rows spread across tasks by value
    * (the distinct column IS the salt — content-derived, retry-stable,
    * the [[contentSalt]] rule for free); level 2 counts per key with
    * map-side partial combine, so the hot key's final task receives at
    * most one partial row per upstream partition, never the group's
    * row count. Exactly equal to the unsalted aggregate (SuffixArray's
    * skew spec plants a worst-case corpus and asserts it) — use it
    * wherever one group can hold a corpus-scale share of the rows
    * (e.g. boilerplate rank-pair groups in
    * [[SuffixArray.repeatedSpanStatsExact]]). */
  def distinctCountPerKey(df: DataFrame, keyCols: Seq[String],
      distinctCol: String, outCol: String = "n_distinct"): DataFrame =
    df.select((keyCols :+ distinctCol).map(col): _*).distinct()
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as(outCol))

  /** Deterministic per-row salt derived from the columns the operator
    * actually touches (key + value for [[saltedSum]]; `saltCols` or every
    * non-key column for [[saltedJoin]]) — hashing the full row costs one
    * xxhash64 mix per column per row and made q38 11× slower for zero
    * extra retry-safety.
    *
    * NOT `monotonically_increasing_id()`/`rand()`: those change value when
    * a shuffle-map stage is partially recomputed after a fetch failure, so
    * retried rows land in different salt buckets and the two-phase
    * aggregate silently double-counts or drops them (the SPARK-23207
    * class of bug) — precisely the fault-recovery regime salting targets.
    * Content-derived salt is stable across retries; rows identical in the
    * salted columns share a bucket, which still spreads any key whose
    * *values* vary (a hot key with one constant value doesn't need
    * spreading — its partial aggregate is one row either way). */
  private def contentSalt(cols: Seq[Column], saltBuckets: Int): Column =
    pmod(xxhash64(cols: _*), lit(saltBuckets.toLong))

  /** Engine-portable partition bucket: first 8 hex chars of md5(v),
    * mod `partitions` — md5-derived (the [[Profile]] cmBucket
    * discipline) so Spark, DuckDB, and any planner reading the plan
    * table place every key in the SAME simulated partition. */
  private def mdBucket(v: Column, partitions: Int): Column =
    conv(substring(md5(v.cast("binary")), 1, 8), 16, 10)
      .cast("long") % partitions

  /** The salting PLANNER the executors above assume someone ran: per
    * key, its row count and the salt factor that bounds any one
    * sub-key at `maxRows` rows — `ceil(cnt / maxRows)` (1 = cold, no
    * split). This is AQE's skewedPartitionFactor decision surfaced as
    * a queryable table: compute it on yesterday's key histogram, feed
    * the hot list to [[saltedJoin]]/[[saltedSum]] today. One
    * key-dimension aggregate; nothing driver-side. */
  def saltPlan(df: DataFrame, keyCol: String, maxRows: Long): DataFrame = {
    require(maxRows >= 1, s"maxRows must be >= 1, got $maxRows")
    df.select(col(keyCol).cast("string").as("k")).filter(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .withColumn("salt_factor",
        expr(s"(cnt + ${maxRows - 1}L) div ${maxRows}L"))
  }

  /** What the [[saltPlan]] buys, in numbers: per simulated shuffle
    * partition, the row load BEFORE salting (every key hashed whole)
    * and AFTER (each hot key split into salt_factor sub-keys "k#i",
    * replica i carrying cnt div s + (i < cnt mod s) rows — the exact
    * share split, no remainder lost). A planner compares max loads and
    * decides whether the rewrite pays; the md5 bucketing makes the
    * whole simulation re-derivable by any engine.
    *
    * Scale shape: the key histogram is one aggregate; the replica
    * expansion is plan-dimension (Σ salt factors rows, bounded by
    * n/maxRows + #keys); loads are partition-dimension sums against a
    * broadcast range(partitions) spine — empty partitions report 0,
    * they are exactly the skew signal. */
  def saltPlanLoads(df: DataFrame, keyCol: String, partitions: Int,
      maxRows: Long): DataFrame = {
    require(partitions >= 2, s"partitions must be >= 2, got $partitions")
    val spark = df.sparkSession
    val plan = saltPlan(df, keyCol, maxRows)
    val before = plan
      .select(mdBucket(col("k"), partitions).as("partition"), col("cnt"))
      .groupBy("partition").agg(sum("cnt").as("lb"))
    val after = plan
      .select(col("k"), col("cnt"), col("salt_factor"),
        explode(sequence(lit(0L), col("salt_factor") - 1)).as("i"))
      .select(
        mdBucket(concat_ws("#", col("k"), col("i")), partitions)
          .as("partition"),
        expr("cnt div salt_factor + " +
          "CASE WHEN i < cnt % salt_factor THEN 1 ELSE 0 END").as("share"))
      .groupBy("partition").agg(sum("share").as("la"))
    spark.range(partitions).select(col("id").as("partition"))
      .join(before, Seq("partition"), "left")
      .join(after, Seq("partition"), "left")
      .select(col("partition"),
        coalesce(col("lb"), lit(0L)).as("load_before"),
        coalesce(col("la"), lit(0L)).as("load_after"))
  }
}
