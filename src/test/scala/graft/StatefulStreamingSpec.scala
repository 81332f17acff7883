package graft

import graft.streaming.StreamingIngest
import graft.multimodal.Multimodal
import graft.ingest.Ingest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Session windows, mapGroupsWithState custom state, resize stub, typed
  * Dataset edge. */
class StatefulStreamingSpec extends GraftSpec {

  test("session_window merges events within the gap, append mode finalizes on watermark") {
    val in = tempDir("sess_in")
    val ckpt = tempDir("sess_ckpt")
    def line(ts: String, uid: Long) = s"""{"ts": "$ts", "user_id": $uid}"""
    // user 1: two events 10 min apart (one session), then one 2h later
    Files.writeString(in.resolve("a.json"), Seq(
      line("2024-03-01T10:00:00", 1),
      line("2024-03-01T10:10:00", 1),
      line("2024-03-01T12:00:00", 1)).mkString("\n"))
    // advance watermark far past everything above
    Files.writeString(in.resolve("b.json"), line("2024-03-01T20:00:00", 2))

    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType)))
    val q = StreamingIngest.sessionWindowCounts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in.toString))
      .writeStream.outputMode("append").format("memory").queryName("sess_agg")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val out = spark.sql(
        "SELECT session_start, user_id, n_events FROM sess_agg ORDER BY session_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      ("2024-03-01 10:00:00", 1L, 2L), // merged pair
      ("2024-03-01 12:00:00", 1L, 1L))) // separate session; 20:00 still open
  }

  test("mapGroupsWithState carries running totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val q = StreamingIngest.runningStoreTotals(input.toDS())
      .toDF("store_id", "running_total")
      .writeStream.outputMode("update").format("memory").queryName("run_tot")
      .start()
    try {
      input.addData(("0001", 10.0), ("0001", 5.0), ("0002", 1.0))
      q.processAllAvailable()
      input.addData(("0001", 2.5), ("0002", 1.5))
      q.processAllAvailable()
      val last = spark.sql(
          """SELECT store_id, running_total FROM (
            |  SELECT *, row_number() OVER (PARTITION BY store_id ORDER BY running_total DESC) rn
            |  FROM run_tot) WHERE rn = 1 ORDER BY store_id""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(last.toSeq === Seq(("0001", 17.5), ("0002", 2.5)))
    } finally q.stop()
  }

  test("streaming anomaly detector matches the batch A11 relation bit-for-bit") {
    import spark.implicits._
    import graft.streaming.{StatefulAnomalies, DailySummary}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.etl.StoreDaily.rollupDec(spark, sfDir)
      .select(col("store_id"), col("sale_date"), col("gross_dec"),
        unix_date(to_date(col("sale_date"))).as("day_idx"))
      .collect()
      .map(r => DailySummary(r.getString(0), r.getInt(3), r.getString(1),
        BigDecimal(r.getDecimal(2))))
      .sortBy(_.sale_date)
    // split mid-corpus by date: per-store arrival order is preserved, and
    // windows spanning the micro-batch boundary must still see their history
    val midDate = rows(rows.length / 2).sale_date
    val (b1, b2) = rows.partition(_.sale_date < midDate)
    val input = MemoryStream[DailySummary]
    val q = StatefulAnomalies.detect(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("anoms").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getString(5))
      val got = spark.sql(
          """SELECT store_id, sale_date, today_sales, hist_avg_sales,
            |  deviation_pct, severity FROM anoms""".stripMargin)
        .collect().map(key).sortBy(t => (t._1, t._2))
      val want = graft.analytics.History.anomalies(spark, sfDir)
        .collect().map(key).sortBy(t => (t._1, t._2))
      assert(want.nonEmpty)
      assert(got.toSeq === want.toSeq,
        "streaming anomalies must equal the batch relation exactly")
    } finally q.stop()
  }

  test("re-delivered (store, day) summary overwrites state, not double-counts") {
    import spark.implicits._
    import graft.streaming.{StatefulAnomalies, DailySummary}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def s(d: Int, g: Int) = DailySummary("0001", d, f"2024-01-${d + 1}%02d", BigDecimal(g))
    val input = MemoryStream[DailySummary]
    val q = StatefulAnomalies.detect(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("anoms_dup").start()
    try {
      input.addData(s(0, 100), s(1, 100), s(2, 100)); q.processAllAvailable()
      // day 2 re-delivered with a corrected total, then the following days:
      // each later trailing-7-day window must see ONE day-2 entry valued
      // 400 (overwrite) — day 3's window is {100,100,400} avg 200;
      // double-counting would make it {100,100,100,400} avg 175 instead
      input.addData(s(2, 400), s(3, 100), s(4, 100), s(5, 100)); q.processAllAvailable()
      val got = spark.sql(
          """SELECT sale_date, hist_avg_sales, deviation_pct, severity
            |FROM anoms_dup ORDER BY sale_date""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
      val want = Seq(
        ("2024-01-04", 200.0, (100.0 - 200.0) / 200.0 * 100, "warning"),
        ("2024-01-05", 175.0, (100.0 - 175.0) / 175.0 * 100, "warning"),
        ("2024-01-06", 160.0, (100.0 - 160.0) / 160.0 * 100, "warning"))
      assert(got.toSeq === want)
    } finally q.stop()
  }

  test("re-delivered day with >=3 history days does not emit a duplicate anomaly") {
    import spark.implicits._
    import graft.streaming.{StatefulAnomalies, DailySummary}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def s(d: Int, g: Int) = DailySummary("0001", d, f"2024-01-${d + 1}%02d", BigDecimal(g))
    val input = MemoryStream[DailySummary]
    val q = StatefulAnomalies.detect(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("anoms_redeliver").start()
    try {
      // days 0-4: day 3 and day 4 both qualify (3+ history days) and emit
      input.addData(s(0, 100), s(1, 100), s(2, 100), s(3, 100), s(4, 100))
      q.processAllAvailable()
      // day 4 re-delivered with a corrected total: it already has 4
      // history days in state, so WITHOUT the already-analyzed guard the
      // analysis branch re-fires and appends a second 2024-01-05 event
      input.addData(s(4, 400), s(5, 100)); q.processAllAvailable()
      val got = spark.sql(
          """SELECT sale_date, today_sales, hist_avg_sales FROM anoms_redeliver
            |ORDER BY sale_date""".stripMargin)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val want = Seq(
        ("2024-01-04", 100.0, 100.0),  // original day-3 analysis
        ("2024-01-05", 100.0, 100.0),  // day-4 analyzed ONCE, at first delivery
        // day 5's trailing-7-day window [-2,4] holds days 0-4: four 100s
        // plus the corrected 400 for day 4 → (4*100 + 400) / 5 = 160
        ("2024-01-06", 100.0, 160.0))
      assert(got.toSeq === want,
        "re-delivered analyzed day must overwrite state without re-emitting")
    } finally q.stop()
  }

  test("streaming top-sellers equals batch sk3 in the exact regime") {
    import spark.implicits._
    import graft.streaming.{SaleLine, StatefulTopSellers}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // real sales lines, replayed in two micro-batches; summary >= key
    // space so both engines are exact and must agree exactly
    val lines = graft.model.Tables.sales(spark, sfDir)
      .select(col("store_id"), col("sku").cast("string").as("sku"))
      .as[SaleLine].collect()
    val (b1, b2) = lines.splitAt(lines.length / 2)
    val input = MemoryStream[SaleLine]
    val q = StatefulTopSellers.topSellers(input.toDS(), summarySize = 100000)
      .writeStream.outputMode("update").format("memory")
      .queryName("top_sellers").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // the final emission per store is the row set with the max n_seen
      val got = spark.sql(
          """SELECT store_id, rank, sku, est_count FROM top_sellers t
            |WHERE n_seen = (SELECT MAX(n_seen) FROM top_sellers
            |                WHERE store_id = t.store_id)""".stripMargin)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
          r.getLong(3))).sortBy(r => (r._1, r._2))
      val want = graft.analytics.Sketches
        .storeTopSellers(spark, sfDir, topK = 5, summarySize = 100000)
        .collect().map(r => (r.getString(0), r.getLong(1).toInt, r.getString(2),
          r.getLong(3))).sortBy(r => (r._1, r._2))
      assert(want.nonEmpty)
      assert(got.toSeq === want.toSeq,
        "exact-regime streaming summary must equal the batch aggregate")
    } finally q.stop()
  }

  test("stream-stream interval join (e9's code path) matches batch exactly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.model.Tables.events(spark, sfDir)
    val vRows = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)].collect()
    val pRows = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)].collect()
    val vIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    // the SAME intervalJoinOf the batch key runs, now over watermarked
    // streams: the event-time range bound is what lets the engine hold
    // only interval+watermark-horizon state per side
    val views = vIn.toDF().toDF("view_id", "v_user", "view_ts")
      .withWatermark("view_ts", "2 hours")
    val purchases = pIn.toDF().toDF("purchase_id", "p_user", "purchase_ts")
      .withWatermark("purchase_ts", "2 hours")
    val q = graft.streaming.EventsBatch.intervalJoinOf(views, purchases)
      .writeStream.outputMode("append").format("memory")
      .queryName("interval_join").start()
    try {
      val (v1, v2) = vRows.splitAt(vRows.length / 2)
      val (p1, p2) = pRows.splitAt(pRows.length / 2)
      vIn.addData(v1.toSeq); pIn.addData(p1.toSeq); q.processAllAvailable()
      vIn.addData(v2.toSeq); pIn.addData(p2.toSeq); q.processAllAvailable()
      val got = spark.sql(
          "SELECT purchase_id, view_id, user_id, gap_us FROM interval_join")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2))
      val want = graft.streaming.EventsBatch.intervalJoin(spark, sfDir)
        .select("purchase_id", "view_id", "user_id", "gap_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2))
      assert(want.nonEmpty)
      assert(got.toSeq === want.toSeq,
        "stream-stream interval join must equal the batch relation")
    } finally q.stop()
  }

  test("streaming latest-state snapshots match batch e12 bit-for-bit") {
    import spark.implicits._
    import graft.streaming.{StatefulLatestState, VersionEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.model.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_type"), col("value"))
      .as[VersionEvent].collect().sortBy(r => (r.us, r.event_id))
    // split mid-stream: snapshots must keep folding across the boundary
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[VersionEvent]
    val q = StatefulLatestState.snapshots(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("snapshots").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // update mode re-emits a user's snapshot each batch it changes in;
      // n_versions grows strictly on every delivered row, so the final
      // snapshot per user is its max-n_versions row
      val got = spark.sql("SELECT * FROM snapshots").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
          r.getAs[String]("last_type"), r.getAs[Double]("last_value"),
          r.getAs[Long]("last_ts_us"), r.getAs[Long]("first_ts_us"),
          r.getAs[Long]("n_versions")))
        .groupBy(_._1).map(_._2.maxBy(_._7)).toSeq.sortBy(_._1)
      val want = graft.streaming.EventsBatch.latestState(spark, sfDir)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
          r.getAs[String]("last_type"), r.getAs[Double]("last_value"),
          r.getAs[Long]("last_ts_us"), r.getAs[Long]("first_ts_us"),
          r.getAs[Long]("n_versions"))).toSeq.sortBy(_._1)
      assert(want.nonEmpty)
      assert(got === want,
        "streaming snapshots must equal the batch compaction exactly")
    } finally q.stop()
  }

  test("streaming nearest-event matches the batch e29 relation after flush") {
    import spark.implicits._
    import graft.streaming.{StatefulNearest, TouchEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.model.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), expr("unix_micros(ts)").as("us"),
        when(col("event_type") === "view", 0).otherwise(1).as("kind"))
      .as[TouchEvent].collect().sortBy(r => (r.us, r.kind))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    // flush: one view per user past every purchase's +horizon — it can
    // only EXPIRE pending purchases (never match: expiry runs first),
    // so decisions are unchanged and the stream drains completely
    val flushUs = rows.map(_.us).max + StatefulNearest.DefaultHorizonUs + 1
    val flush = rows.map(_.user_id).distinct.zipWithIndex.map {
      case (u, i) => TouchEvent(-1L - i, u, flushUs, 0)
    }
    val input = MemoryStream[TouchEvent]
    val q = StatefulNearest.nearest(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("nearest").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      input.addData(flush.toSeq); q.processAllAvailable()
      val got = spark.sql(
          "SELECT event_id, purchase_us, view_us, gap_us, direction FROM nearest")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).sortBy(_._1)
      val want = graft.streaming.EventsBatch.nearestEvent(spark, sfDir)
        .collect().map { r =>
          if (r.isNullAt(3)) (r.getLong(0), r.getLong(2), -1L, 0L, "none")
          else (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getString(5))
        }.sortBy(_._1)
      assert(want.nonEmpty)
      assert(got.toSeq === want.toSeq,
        "streaming nearest-event must equal the batch e29 relation exactly")
    } finally q.stop()
  }

  test("streaming attribution matches the batch e8 relation bit-for-bit") {
    import spark.implicits._
    import graft.streaming.{StatefulAttribution, TouchEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.model.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), expr("unix_micros(ts)").as("us"),
        when(col("event_type") === "view", 0).otherwise(1).as("kind"))
      .as[TouchEvent].collect().sortBy(r => (r.us, r.kind))
    // split mid-stream on global time: per-user order is preserved, and
    // attributions spanning the boundary must still see their last view
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[TouchEvent]
    val q = StatefulAttribution.attribute(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("attrib").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.sql(
          "SELECT event_id, user_id, purchase_us, view_us, latency_us FROM attrib")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1)
      val want = graft.streaming.EventsBatch.asOfAttribution(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1)
      assert(want.nonEmpty)
      assert(got.toSeq === want.toSeq,
        "streaming attribution must equal the batch as-of relation exactly")
    } finally q.stop()
  }

  test("resizeMedia: resized payloads RE-DECODE to the resized dims " +
      "(real codec round trip, schema contract preserved)") {
    import graft.multimodal.{AudioCodec, ImageCodec, VideoCodec}
    val media = Multimodal.mediaFromDocs(spark, sfDir)
    val resized = Multimodal.resizeMedia(media, maxDim = 64)
    assert(resized.count() === media.count())
    val bad = resized.filter { r =>
      val boundsOk = r.width <= 64 && r.height <= 64 &&
        r.width >= 1 && r.height >= 1 && r.bytes.length >= 1
      val decodeOk = r.kind match {
        case "image" => ImageCodec.pngPixels(r.bytes).exists {
          case (w, h, _) => w == r.width && h == r.height
        }
        case "audio" => AudioCodec.pcm8(r.bytes).isDefined
        case _ => VideoCodec.parseY4m(r.bytes).exists(h =>
          h.width == r.width && h.height == r.height &&
            h.nFrames == r.n_frames)
      }
      !(boundsOk && decodeOk)
    }
    assert(bad.count() === 0)
  }

  test("m4: frame dedup has d1's keeper algebra over frame hashes") {
    val fd = Multimodal.frameDedup(spark, sfDir).cache()
    try {
      assert(fd.count() > 0)
      // keeper is never itself a duplicate; group members share the hash
      assert(fd.filter(col("media_id") === col("keeper_media_id") &&
        col("frame_idx") === col("keeper_frame_idx") &&
        col("is_duplicate")).count() === 0)
      // group_size matches the actual hash group cardinality
      val sizes = fd.groupBy("frame_hash").count()
      assert(fd.join(sizes, "frame_hash")
        .filter(col("group_size") =!= col("count")).count() === 0)
      // keeper is the group's minimal (media_id, frame_idx)
      val bad = fd.groupBy("frame_hash")
        .agg(min(struct(col("media_id"), col("frame_idx"))).as("mn"),
          first(col("keeper_media_id")).as("km"),
          first(col("keeper_frame_idx")).as("kf"))
        .filter(col("mn.media_id") =!= col("km") ||
          col("mn.frame_idx") =!= col("kf"))
      assert(bad.count() === 0)
      // every frame row of the sample appears exactly once
      val expected = Multimodal.frameSample(
        Multimodal.mediaFromDocs(spark, sfDir))
        .filter(col("kind") === "video").count()
      assert(fd.count() === expected)
    } finally fd.unpersist()
  }

  test("typed Dataset[SalesRecord] edge compiles the schema and round-trips values") {
    val in = tempDir("typed_in")
    val rec =
      """{"transaction_id": "TXN-1", "transaction_timestamp": "2024-01-02T09:15:00",
        | "item_sku": "S-1", "item_name": "N", "quantity": 3, "unit_price": 2.50,
        | "line_total": 7.50, "discount_amount": 0.50, "payment_method": "cash",
        | "customer_id": "C-1"}""".stripMargin.replaceAll("\n", "")
    Files.writeString(in.resolve("store_0009_2024-01-02.json"), s"[$rec]")
    val ds = Ingest.typedRecords(Ingest.withErrors(Ingest.readUploads(spark, in.toString)))
    val r = ds.head()
    assert(r.store_id === "0009")
    assert(r.quantity === 3)
    assert(r.line_total === BigDecimal("7.50"))
    // typed transforms compose with compile-time fields
    import spark.implicits._
    val net = ds.map(x => (x.line_total - x.discount_amount).toDouble).head()
    assert(net === 7.0)
  }

  test("streaming hourly anomalies match the batch e10 relation bit-for-bit") {
    import spark.implicits._
    import graft.streaming.{StatefulHourlyAnomalies, HourlyCount}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("window_start")
    val rows = graft.streaming.EventsBatch.hourlyWindow(spark, sfDir)
      .withColumn("hour_idx", row_number().over(w))
      .select("event_type", "hour_idx", "window_start", "n_events")
      .collect()
      .map(r => HourlyCount(r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(_.window_start)
    // split mid-stream: baselines spanning the micro-batch boundary must
    // still see their trailing 24 observed hours from carried state
    val mid = rows(rows.length / 2).window_start
    val (b1, b2) = rows.partition(_.window_start < mid)
    val input = MemoryStream[HourlyCount]
    val q = StatefulHourlyAnomalies.detect(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("hourly_anoms").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getString(6))
      val got = spark.sql(
          """SELECT window_start, event_type, n_events, hist_hours,
            |  hist_avg, deviation_pct, severity FROM hourly_anoms""".stripMargin)
        .collect().map(key).sortBy(t => (t._1, t._2))
      val want = graft.streaming.EventsBatch.hourlyAnomalies(spark, sfDir)
        .collect().map(key).sortBy(t => (t._1, t._2))
      assert(want.nonEmpty)
      assert(got.toSeq === want.toSeq,
        "streaming hourly anomalies must equal the batch e10 relation exactly")
    } finally q.stop()
  }

  test("streaming growth classification aggregates to the batch e13 " +
    "relation exactly, and re-delivery is idempotent") {
    import spark.implicits._
    import graft.streaming.{StatefulGrowth, ActivityEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.model.Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("datediff(to_date(date_format(ts, 'yyyy-MM-dd')), " +
          "to_date('1970-01-01'))").cast("long").as("epoch_day"))
      .as[ActivityEvent].collect().sortBy(r => (r.epoch_day, r.user_id))
    // split mid-stream on day order; re-deliver a slice of b1 inside b2
    // (classification must not double-count an already-seen day)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val redelivered = b2 ++ b1.takeRight(50)
    val input = MemoryStream[ActivityEvent]
    val q = StatefulGrowth.classify(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("growth").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(redelivered.toSeq); q.processAllAvailable()
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
      val got = spark.sql("SELECT * FROM growth").collect()
        .map(r => (java.time.LocalDate.ofEpochDay(
            r.getAs[Long]("epoch_day")).format(fmt),
          r.getAs[String]("status")))
        .groupBy(_._1).map { case (d, rs) =>
          d -> (rs.length.toLong,
            rs.count(_._2 == "new").toLong,
            rs.count(_._2 == "retained").toLong,
            rs.count(_._2 == "resurrected").toLong)
        }
      val want = graft.streaming.EventsBatch.growthAccounting(spark, sfDir)
        .collect()
        .map(r => r.getAs[String]("event_date") ->
          (r.getAs[Long]("n_active"), r.getAs[Long]("n_new"),
            r.getAs[Long]("n_retained"), r.getAs[Long]("n_resurrected")))
        .toMap
      assert(want.nonEmpty)
      assert(got === want,
        "streamed per-day growth counts must equal the batch e13 rollup")
    } finally q.stop()
  }

  test("streaming burst snapshots converge to the batch e17 relation " +
    "bit-for-bit across a mid-stream split") {
    import spark.implicits._
    import graft.streaming.{StatefulBursts, PulseEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.model.Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"))
      .as[PulseEvent].collect().sortBy(r => (r.us, r.event_id))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[PulseEvent]
    val q = StatefulBursts.detect(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("bursts").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // update mode re-emits; the final snapshot per user is max-n_gaps
      val got = spark.sql("SELECT * FROM bursts").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_gaps"),
          r.getAs[Long]("min_gap_us"), r.getAs[Long]("n_runs"),
          r.getAs[Long]("longest_run"), r.getAs[Long]("n_burst_pairs"),
          r.getAs[Boolean]("is_suspect")))
        .groupBy(_._1).map(_._2.maxBy(_._2)).toSeq.sortBy(_._1)
      val want = graft.streaming.EventsBatch.burstDetection(spark, sfDir)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_gaps"),
          r.getAs[Long]("min_gap_us"), r.getAs[Long]("n_runs"),
          r.getAs[Long]("longest_run"), r.getAs[Long]("n_burst_pairs"),
          r.getAs[Boolean]("is_suspect"))).toSeq.sortBy(_._1)
      assert(want.nonEmpty)
      assert(got === want,
        "streaming burst stats must equal the batch e17 relation exactly")
    } finally q.stop()
  }

  test("streaming transitions replayed over a micro-batch split aggregate " +
    "to the batch e14 matrix exactly") {
    import graft.streaming.{StatefulTransitions, TransEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rows = graft.model.Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))
      .as[TransEvent].collect().sortBy(r => (r.us, r.event_id))
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val input = MemoryStream[TransEvent]
    val q = StatefulTransitions.transitions(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("transitions").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // append mode: each bigram emitted exactly once — count them up
      val gotCounts = spark.sql(
        "SELECT from_type, to_type, COUNT(*) AS n FROM transitions GROUP BY 1, 2")
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
      val batch = graft.streaming.EventsBatch.eventTransitions(spark, sfDir)
        .collect()
      assert(batch.nonEmpty)
      assert(gotCounts.size === batch.length)
      batch.foreach { r =>
        val key = (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
        assert(gotCounts(key) === r.getAs[Long]("n_trans"),
          s"transition count mismatch for $key")
        // p_trans re-derives from the streamed counts the same way
        val fromTotal = gotCounts.filter(_._1._1 == key._1).values.sum
        assert(r.getAs[Double]("p_trans") ===
          gotCounts(key).toDouble / fromTotal.toDouble)
      }
    } finally q.stop()
  }

  test("streaming CUSUM replayed over a micro-batch split is bit-identical " +
    "to batch e23 under the batch-fitted means") {
    import graft.streaming.{StatefulCusum, DailyCount}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val batch = graft.streaming.EventsBatch.cusumChangepoint(spark, sfDir)
      .collect()
    assert(batch.nonEmpty)
    val mus = batch.map(r =>
      r.getAs[String]("event_type") -> r.getAs[Long]("mu_milli")).toMap
    val daily = batch.map(r => DailyCount(r.getAs[String]("event_type"),
      r.getAs[String]("d"), r.getAs[Long]("n_events")))
      .sortBy(r => (r.d, r.event_type))
    // split mid-series so state genuinely crosses the batch boundary
    val (b1, b2) = daily.splitAt(daily.length / 2)
    val input = MemoryStream[DailyCount]
    val q = StatefulCusum.cusum(input.toDS(), mus)
      .writeStream.outputMode("append").format("memory")
      .queryName("cusum_stream").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val got = spark.sql("SELECT * FROM cusum_stream").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[String]("d")) ->
          (r.getAs[Long]("cusum_pos_milli"), r.getAs[Long]("cusum_neg_milli"),
            r.getAs[Boolean]("is_alarm"))).toMap
      assert(got.size === batch.length)
      batch.foreach { r =>
        val key = (r.getAs[String]("event_type"), r.getAs[String]("d"))
        assert(got(key) === ((r.getAs[Long]("cusum_pos_milli"),
          r.getAs[Long]("cusum_neg_milli"), r.getAs[Boolean]("is_alarm"))),
          s"cusum mismatch at $key")
      }
    } finally q.stop()
  }

  test("streaming SCD2 intervals match batch e33 bit-for-bit under " +
    "last-write-wins on (user, version), split mid-stream") {
    import spark.implicits._
    import graft.streaming.{ScdEvent, StatefulScd2}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.model.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"),
        col("event_type"))
      .as[ScdEvent].collect().sortBy(r => (r.us, r.event_id))
    // in-order replay (the documented delivery contract), split mid-stream:
    // open versions must carry across the boundary and close correctly
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[ScdEvent]
    val q = StatefulScd2.intervals(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("scd2").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // a version may emit open (per batch) then closed (once): keep the
      // final word per (user, version) — closed beats open, else max n
      val got = spark.sql("SELECT * FROM scd2").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
          r.getAs[String]("state"), r.getAs[Long]("valid_from_us"),
          Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
          r.getAs[Long]("n_events"), r.getAs[Boolean]("is_current")))
        .groupBy(t => (t._1, t._2))
        .map(_._2.maxBy(t => (t._5.isDefined, t._6)))
        .toSeq.sortBy(t => (t._1, t._2))
      val want = graft.streaming.EventsBatch.scd2Intervals(spark, sfDir)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
          r.getAs[String]("state"), r.getAs[Long]("valid_from_us"),
          Option(r.getAs[java.lang.Long]("valid_to_us")).map(_.toLong),
          r.getAs[Long]("n_events"), r.getAs[Boolean]("is_current")))
        .toSeq.sortBy(t => (t._1, t._2))
      assert(want.nonEmpty)
      assert(got === want,
        "streaming SCD2 history must equal the batch interval build exactly")
    } finally q.stop()
  }

  test("streaming sampler reservoirs equal the batch hash-draw prefix " +
    "per stratum, independent of micro-batch split and re-delivery") {
    import spark.implicits._
    import graft.streaming.{StatefulSampler, DocArrival}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val budget = 40
    val rows = graft.model.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .as[DocArrival].collect()
    // adversarial order: interleave strata, split mid-stream, re-deliver
    // a slice of b1 inside b2 (the draw must not move or duplicate)
    val shuffled = rows.sortBy(d => StatefulSampler.hrank(d.doc_id * 7 + 3))
    val (b1, b2) = shuffled.splitAt(shuffled.length / 3)
    val input = MemoryStream[DocArrival]
    val q = StatefulSampler.sample(input.toDS(), budget)
      .writeStream.outputMode("update").format("memory")
      .queryName("sampler").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData((b2 ++ b1.take(25)).toSeq); q.processAllAvailable()
      val got = spark.sql("SELECT * FROM sampler").collect()
        .map(r => ((r.getString(0), r.getString(1)),
          (r.getAs[Long]("n_seen"), r.getAs[Long]("doc_id"),
            r.getAs[Long]("n_chars"), r.getAs[Long]("draw_rank"))))
        .groupBy(_._1)
        .map { case (k, rs) =>
          val latest = rs.map(_._2).maxBy(_._1)._1
          k -> rs.map(_._2).filter(_._1 == latest)
            .map(t => (t._4, t._2, t._3)).sortBy(_._1).toSeq
        }
      val want = rows.groupBy(d => (d.lang, d.source))
        .map { case (k, ds) =>
          k -> ds.sortBy(d => (StatefulSampler.hrank(d.doc_id), d.doc_id))
            .take(budget).zipWithIndex
            .map { case (d, i) => (i + 1L, d.doc_id, d.n_chars) }.toSeq
        }
      assert(want.nonEmpty && want.keySet == got.keySet)
      want.foreach { case (k, w) =>
        assert(got(k) === w, s"stratum $k reservoir diverged from batch draw")
      }
    } finally q.stop()
  }

  test("streaming bitmap distinct sums to the batch sk17 relation " +
    "exactly, independent of split and re-delivery, and the JVM bucket " +
    "split matches Spark's bitmap functions") {
    import spark.implicits._
    import graft.streaming.{StatefulBitmapDistinct, SkuSale}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the bucket split is Spark's own: the operator groups by
    // graft.etl.Fold.bucketOf (bitmap_bucket_number)
    val rows = graft.model.Tables.sales(spark, sfDir)
      .select(col("store_id"), col("sku")).as[SkuSale].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[SkuSale]
    val q = StatefulBitmapDistinct.count(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("bmdist").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData((b2 ++ b1.take(200)).toSeq); q.processAllAvailable()
      val got = spark.sql("SELECT * FROM bmdist").collect()
        .map(r => ((r.getString(0), r.getLong(1)),
          (r.getAs[Long]("n_seen"), r.getAs[Long]("n_distinct"))))
        .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)._2)
        .toSeq.groupBy(_._1._1).view
        .mapValues(_.map(_._2).sum).toMap
      val want = graft.analytics.Sketches.bitmapDistinct(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(want.nonEmpty)
      assert(got === want,
        "streamed bucket-bitmap sums must equal the batch sk17 per-store counts")
    } finally q.stop()
  }

  test("streaming quality gate sums to the batch k18 mergeable metrics " +
      "exactly, independent of micro-batch split") {
    import spark.implicits._
    import graft.streaming.{OrderObs, QualityCounters, StatefulQualityGate}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val obs = graft.model.Tables.orders(spark, sfDir)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("month"),
        col("o_custkey").as("custkey"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("totalprice"))
      .as[OrderObs].collect()
    val batch = graft.analytics.Expectations.expectationSuite(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    def run(name: String, batches: Seq[Seq[OrderObs]]): Map[Long, QualityCounters] = {
      val input = MemoryStream[OrderObs]
      val q = StatefulQualityGate.gate(input.toDS())
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.sql(s"SELECT * FROM $name").as[QualityCounters].collect()
          .groupBy(_.month).view.mapValues(_.maxBy(_.n)).toMap
      } finally q.stop()
    }

    val splitA = Seq(obs.take(obs.length / 3).toSeq,
      obs.slice(obs.length / 3, 2 * obs.length / 3).toSeq,
      obs.drop(2 * obs.length / 3).toSeq)
    val splitB = Seq(obs.zipWithIndex.filter(_._2 % 2 == 0).map(_._1).toSeq,
      obs.zipWithIndex.filter(_._2 % 2 == 1).map(_._1).toSeq)
    val a = run("qgate_a", splitA)
    val b = run("qgate_b", splitB)
    assert(a === b, "counters must be split-invariant")

    val n = a.values.map(_.n).sum
    assert(n == obs.length.toLong)
    assert(a.values.map(_.custkey_nonnull).sum * 1000L / n ==
      batch("ord_custkey_complete"))
    assert(a.values.map(_.status_ok).sum * 1000L / n ==
      batch("ord_status_domain"))
    assert(a.values.map(_.total_pos).sum * 1000L / n ==
      batch("ord_total_positive"))
    val months = a.keySet
    assert(months.size.toLong * 1000L / (months.max - months.min + 1) ==
      batch("ord_month_continuity"))
  }

  test("streaming funnel replayed over a micro-batch split is " +
      "bit-identical to the batch e22 windowed funnel") {
    import spark.implicits._
    import graft.streaming.{StatefulFunnel, FunnelEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.model.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"))
      .as[FunnelEvent].collect().sortBy(r => (r.us, r.event_id))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[FunnelEvent]
    val q = StatefulFunnel.funnel(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel_tw").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // n_seen grows strictly per delivered row → final snapshot per
      // user is its max-n_seen emission
      val got = spark.sql("SELECT * FROM funnel_tw").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Boolean]("reached_view"),
          r.getAs[Boolean]("reached_click"),
          r.getAs[Boolean]("reached_purchase"),
          Option(r.getAs[Any]("view_to_click_us")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("click_to_purchase_us"))
            .map(_.asInstanceOf[Long]),
          r.getAs[Long]("n_seen")))
        .groupBy(_._1).map(_._2.maxBy(_._7)).toSeq
        .map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).sortBy(_._1)
      val want = graft.streaming.EventsBatch.windowedFunnel(spark, sfDir)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Boolean]("reached_view"),
          r.getAs[Boolean]("reached_click"),
          r.getAs[Boolean]("reached_purchase"),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5))))
        .toSeq.sortBy(_._1)
      assert(want.nonEmpty)
      assert(got === want,
        "streaming funnel snapshots must equal the batch windowed funnel")
    } finally q.stop()
  }

  test("streaming retention increments aggregated over a micro-batch " +
      "split equal the batch e7 triangle") {
    import spark.implicits._
    import graft.streaming.{StatefulRetention, RetEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.model.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"))
      .as[RetEvent].collect().sortBy(r => (r.us, r.event_id))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[RetEvent]
    val q = StatefulRetention.increments(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ret_inc").start()
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val incs = spark.sql("SELECT * FROM ret_inc").collect()
        .map(r => (r.getAs[String]("cohort_week"),
          r.getAs[Long]("week_offset"), r.getAs[Long]("user_id")))
      // exactly one increment per (user, offset)
      assert(incs.distinct.length === incs.length)
      val active = incs.groupBy(t => (t._1, t._2)).view
        .mapValues(_.length.toLong).toMap
      val sizes = active.collect { case ((cw, 0L), n) => cw -> n }
      val got = active.toSeq.map { case ((cw, off), n) =>
        val size = sizes.toMap.apply(cw)
        (cw, off, n, size, n.toDouble / size.toDouble)
      }.sortBy(t => (t._1, t._2))
      val want = graft.streaming.EventsBatch.retention(spark, sfDir)
        .collect()
        .map(r => (r.getAs[String]("cohort_week"),
          r.getAs[Long]("week_offset"), r.getAs[Long]("active_users"),
          r.getAs[Long]("cohort_size"), r.getAs[Double]("retention")))
        .toSeq.sortBy(t => (t._1, t._2))
      assert(want.nonEmpty)
      assert(got === want,
        "aggregated retention increments must equal the batch triangle")
    } finally q.stop()
  }
}
