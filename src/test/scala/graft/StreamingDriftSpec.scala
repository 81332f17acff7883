package graft

import graft.streaming.StreamingDrift
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Online drift detection as a REAL stream: two day windows arrive as
  * micro-batches — one matching the baseline distribution, one shifted —
  * a third batch advances the watermark past both, and append mode emits
  * exactly the two finalized verdicts. The TV arithmetic is re-derived
  * in-process to pin the integer algebra, not just the flags. */
class StreamingDriftSpec extends GraftSpec {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def line(ts: String, tpe: String, v: Double) =
    s"""{"ts": "$ts", "event_type": "$tpe", "value": $v}"""

  test("streaming drift monitor: matching window passes, shifted window " +
    "flags, append mode emits only finalized windows") {
    val in = tempDir("stream_drift")
    val ckpt = tempDir("stream_drift_ckpt")

    // baseline: clicks historically uniform over buckets 0 and 1
    val base = Map("click:0" -> 500L, "click:1" -> 500L)

    // day 1: 2 events in bucket 0 ($0-49), 2 in bucket 1 ($50-99) -> TV 0
    Files.writeString(in.resolve("a.json"), Seq(
      line("2024-03-01T01:00:00", "click", 10.0),
      line("2024-03-01T02:00:00", "click", 20.0),
      line("2024-03-01T03:00:00", "click", 60.0),
      line("2024-03-01T04:00:00", "click", 70.0)).mkString("\n"))
    // day 2: all 4 events in bucket 9 (>= $450) -> TV = 1000 milli
    Files.writeString(in.resolve("b.json"), Seq(
      line("2024-03-02T01:00:00", "click", 480.0),
      line("2024-03-02T02:00:00", "click", 480.0),
      line("2024-03-02T03:00:00", "click", 480.0),
      line("2024-03-02T04:00:00", "click", 480.0)).mkString("\n"))
    // day 4: advances the watermark (1h delay) past both windows
    Files.writeString(in.resolve("c.json"), Seq(
      line("2024-03-04T12:00:00", "click", 10.0)).mkString("\n"))

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val q = StreamingDrift.monitor(stream, base, thresholdMilli = 50L)
      .writeStream.outputMode("append").format("memory")
      .queryName("drift_stream")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.sql(
      "SELECT window_day, event_type, win_n, tv_milli, is_drifted " +
        "FROM drift_stream ORDER BY window_day")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    // day 4's window is still open -> withheld by append mode
    assert(out.toSeq === Seq(
      // |500-500| + |500-500| = 0
      ("2024-03-01", "click", 4L, 0L, false),
      // |0-500| + |0-500| + |1000-0| = 2000 -> /2 = 1000
      ("2024-03-02", "click", 4L, 1000L, true)))
  }

  test("baseline fit is bounded and covers every (type, bucket) with mass") {
    val base = StreamingDrift.baseline(spark, sfDir)
    assert(base.nonEmpty && base.size <= 5 * 10,
      "baseline must be |types| x 10 bounded")
    assert(base.values.forall(p => p >= 0L && p <= 1000L))
    // per type, floor-divided milli proportions sum to <= 1000
    base.keys.map(_.split(":")(0)).toSet.foreach { t: String =>
      val s = base.collect { case (k, v) if k.startsWith(s"$t:") => v }.sum
      assert(s <= 1000L && s >= 990L, s"$t: milli floors must sum near 1000, got $s")
    }
  }
}
