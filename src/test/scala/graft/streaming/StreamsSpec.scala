package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** `events.ts` ships as TIMESTAMP(NANOS) or TIMESTAMP(MICROS). The two
  * fixtures under `events_layouts/` hold the same 40 events (the first
  * rows of the sf0.001 events table) in each layout. */
class StreamsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def dir(layout: String): String =
    getClass.getResource(s"/events_layouts/$layout").getPath

  private def rows(df: DataFrame): Seq[(Long, Timestamp)] = {
    assert(df.schema("ts").dataType == TimestampType)
    df.select("event_id", "ts").as[(Long, Timestamp)].collect()
      .sortBy(_._1).toSeq
  }

  test("NANOS events read to the MICROS rows, batch and streamed") {
    val want = rows(Streams.events(spark, dir("micros")))
    assert(want.size == 40)
    // the NANOS file reaches tsToTimestamp as nanoseconds in a BIGINT
    assert(spark.read.parquet(s"${dir("nanos")}/events.parquet")
      .schema("ts").dataType == LongType)
    assert(rows(Streams.events(spark, dir("nanos"))) == want)
    val q = Streams.memorySink(Streams.eventStream(spark, dir("nanos")),
      OutputMode.Append, "streams_spec_nanos")
    q.processAllAvailable()
    q.stop()
    assert(rows(spark.table("streams_spec_nanos")) == want)
  }
}
