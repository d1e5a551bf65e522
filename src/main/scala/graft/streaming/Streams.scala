package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The events-file layout and the house micro-batch drain, stated once
  * for every Structured Streaming job (ST1-ST3).
  *
  * Source: `events.parquet` is opened with `nanosAsLong` on, so a
  * TIMESTAMP(NANOS) `ts` reads as a BIGINT of nanoseconds, and every
  * reader normalizes `ts` through [[EventsPipeline.tsToTimestamp]]. The
  * conf is a session-level set, not a scoped one: a stream reads its
  * files during `processAllAvailable`, after the source is built.
  *
  * Sink: every query drains under an `AvailableNow` trigger, into a
  * memory table ([[memorySink]]) or a checkpointed per-batch function
  * ([[eachBatch]]). */
object Streams {

  /** The one `events.parquet` read both the batch and streaming
    * sources start from. */
  private def eventsFile(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
  }

  /** The events table as a batch frame, `ts` a session-zone timestamp. */
  def events(spark: SparkSession, dir: String): DataFrame =
    EventsPipeline.tsToTimestamp(eventsFile(spark, dir))

  /** The events table as a stream over `dir`: the file source needs a
    * directory, so the one file is selected by glob, with the schema
    * probed from a batch read. */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    EventsPipeline.tsToTimestamp(spark.readStream
      .schema(eventsFile(spark, dir).schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))

  /** Drain `df` into the in-memory table `queryName`. */
  def memorySink(df: DataFrame, mode: OutputMode,
      queryName: String): StreamingQuery =
    df.writeStream.outputMode(mode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Drain `source` through `f(batch, batchId)`, with the progress kept
    * under `checkpoint` so a restarted query resumes after the last
    * committed batch. */
  def eachBatch(source: DataFrame, checkpoint: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        f(batch.toDF(), batchId) }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
