package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Streaming SCD2 maintenance over versioned snapshots — the dimension
  * tier's streaming story next to [[GraphStream]] (graph index) and
  * [[Snapshots.streamUpsertVersioned]] (flat upserts): change
  * observations arrive as a stream, each non-empty micro-batch applies
  * incrementally via [[graft.ops.Scd.scd2Apply]] (touched keys only),
  * and every batch commits a pinned dimension version — a training run
  * can point-in-time-join against "the dimension as the stream stood
  * at version N" while ingest keeps flowing.
  *
  * State lives in two [[Snapshots]] tables:
  *  - `dimPath` — the SCD2 dimension, interval rows keyed by
  *    id = key|effective_from (stable across re-applies: an interval's
  *    identity is its key and start, version numbers are derived).
  *    Committed via REPLACE — an upsert could never expire interval
  *    rows a later apply closed or collapsed.
  *  - `logPath` — the applied observations, id = key|ts|seq. The
  *    replay-convergence marker: a batch whose observations are all
  *    logged is dropped.
  *
  * Commit order is crash-minimizing, the [[GraphStream]] discipline:
  * the DIMENSION (idempotent under re-apply — re-applying an
  * already-applied batch reproduces the identical interval set, the
  * collapse rule absorbs the duplicates) commits BEFORE the LOG (the
  * dedupe marker); a crash between the two replays the batch and
  * converges. */
object ScdStream {

  private def obsId(keyCol: String, tsCol: String, seqCol: String) =
    concat_ws("|", col(keyCol), unix_micros(col(tsCol)), col(seqCol))

  /** A pinned dimension version (−1 = latest) back in [[graft.ops.Scd]]
    * shape — feed straight to [[graft.ops.Scd.pitJoin]]. */
  def dimAt(spark: SparkSession, dimPath: String,
      version: Long = -1L): DataFrame =
    Snapshots.readVersion(spark, dimPath, version).drop("id")

  /** Start the maintenance stream: `source` rows carry
    * (keyCol, tsCol, seqCol, attrCols…), drained through
    * [[Streams.eachBatch]]; one (dim, log) version pair per micro-batch with
    * genuinely new observations. Batches must respect
    * [[graft.ops.Scd.scd2Apply]]'s ordering precondition (observations
    * strictly later than the touched keys' open rows) — the natural
    * shape of an append-only change feed. */
  def streamApply(spark: SparkSession, source: DataFrame, dimPath: String,
      logPath: String, checkpoint: String, keyCol: String, tsCol: String,
      seqCol: String, attrCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    Streams.eachBatch(source, checkpoint) { (batch, _) =>
      val cols = Seq(keyCol, tsCol, seqCol) ++ attrCols
      val obs = batch.select(cols.map(col): _*)
        .dropDuplicates(Seq(keyCol, tsCol, seqCol))
      if (!obs.isEmpty) {
        val haveLog = Snapshots.versions(spark, logPath).nonEmpty
        val keyed = obs.withColumn("id", obsId(keyCol, tsCol, seqCol))
        val fresh = (if (!haveLog) keyed else {
          val logged = Snapshots.readVersion(spark, logPath).select("id")
          keyed.join(logged, Seq("id"), "left_anti")
        }).localCheckpoint()
        if (!fresh.isEmpty) {
          val haveDim = Snapshots.versions(spark, dimPath).nonEmpty
          val applied =
            if (!haveDim)
              graft.ops.Scd.scd2Build(fresh.drop("id"), keyCol, tsCol,
                seqCol, attrCols)
            else
              graft.ops.Scd.scd2Apply(dimAt(spark, dimPath),
                fresh.drop("id"), keyCol, tsCol, seqCol, attrCols)
          val encoded = applied.withColumn("id",
            concat_ws("|", col(keyCol), unix_micros(col("effective_from"))))
          Snapshots.replaceVersioned(spark, encoded, dimPath)
          Snapshots.upsertVersioned(spark, fresh.select("id"), logPath)
        }
      }
    }
}
