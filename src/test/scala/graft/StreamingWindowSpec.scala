package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}

/** Real Structured Streaming: file source → watermark → tumbling window →
  * append-mode memory sink. Two files processed as two micro-batches
  * (maxFilesPerTrigger=1): the second file's event time advances the
  * watermark past the first file's windows, so exactly those windows are
  * finalized and emitted; the tail windows stay open and are withheld —
  * the late-data contract a 100 TB streaming rollup relies on. */
class StreamingWindowSpec extends GraftSpec {

  test("watermarked window finalizes closed windows only, in append mode") {
    val in: Path = tempDir("stream_events")
    val ckpt = tempDir("stream_events_ckpt")

    def line(ts: String, tpe: String) = s"""{"ts": "$ts", "event_type": "$tpe"}"""
    // batch 1: events inside 10:00 and 11:00 windows
    Files.writeString(in.resolve("a.json"), Seq(
      line("2024-03-01T10:05:00", "click"),
      line("2024-03-01T10:45:00", "click"),
      line("2024-03-01T11:10:00", "view")).mkString("\n"))
    // batch 2: 15:00 → watermark = 14:30, far past the 10:00/11:00 windows
    Files.writeString(in.resolve("b.json"), Seq(
      line("2024-03-01T15:00:00", "click")).mkString("\n"))

    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("event_type", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in.toString)

    val q = StreamingIngest.windowedEventCounts(stream)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("win_agg")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.sql("SELECT * FROM win_agg ORDER BY window_start, event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // 10:00 window (2 clicks) and 11:00 window (1 view) finalized;
    // the 15:00 window is still open -> withheld by append mode.
    assert(out.toSeq === Seq(
      ("2024-03-01 10:00:00", "click", 2L),
      ("2024-03-01 11:00:00", "view", 1L)))
  }
}
