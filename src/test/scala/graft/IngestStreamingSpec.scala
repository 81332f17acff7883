package graft

import graft.ingest.Ingest
import graft.streaming.StreamingIngest
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** The non-SQL surfaces: S1–S7 ingest with quarantine, the Structured
  * Streaming wrapper, and the multimodal binary-column plumbing. */
class IngestStreamingSpec extends GraftSpec {

  private val goodRecord =
    """{"transaction_id": "TXN-0001-20240102-0001",
      | "transaction_timestamp": "2024-01-02T09:15:00",
      | "item_sku": "SMURF-FIG-001", "item_name": "Papa Smurf Figurine",
      | "quantity": 2, "unit_price": 12.99, "line_total": 25.98,
      | "discount_amount": 0.0, "payment_method": "credit",
      | "customer_id": "CUST-00042"}""".stripMargin.replaceAll("\n", "")

  private def writeUpload(dir: Path, name: String, body: String): Unit =
    Files.writeString(dir.resolve(name), body)

  test("ingest: valid file lands in Hive-partitioned lake; bad rows quarantined") {
    val in = tempDir("uploads")
    val lake = tempDir("lake")
    val rej = tempDir("rejected")
    val badQuantity = goodRecord.replace("\"quantity\": 2", "\"quantity\": 0")
    val badPayment = goodRecord.replace("credit", "bitcoin")
    writeUpload(in, "store_0001_2024-01-02.json", s"[$goodRecord, $goodRecord]")
    writeUpload(in, "store_0002_2024-01-02.json", s"[$goodRecord, $badQuantity, $badPayment]")
    writeUpload(in, "not_a_valid_name.json", s"[$goodRecord]")

    val (valid, rejected) = Ingest.processUploads(
      spark, in.toString, lake.toString, rej.toString)
    assert(valid === 3)    // 2 from store 1 + 1 good from store 2
    assert(rejected === 3) // bad quantity + bad payment + bad-filename row

    val lakeDf = Ingest.readLake(spark, lake.toString)
    // partition columns recovered from the path
    assert(lakeDf.columns.toSet.contains("store_id"))
    assert(lakeDf.filter(col("store_id") === "0001").count() === 2)
    assert(lakeDf.filter(col("year") === "2024" && col("month") === "01").count() === 3)
    // money is decimal-typed in the lake
    assert(lakeDf.schema("line_total").dataType.typeName.startsWith("decimal"))

    val rejDf = spark.read.json(s"$rej")
    assert(rejDf.filter(col("errors").contains("quantity_lt_1")).count() === 1)
    assert(rejDf.filter(col("errors").contains("bad_payment_method")).count() === 1)
    assert(rejDf.filter(col("errors").contains("invalid_filename")).count() === 1)
  }

  test("ingest: CSV source runs the SAME validation core — routing parity " +
    "with the JSON path on equivalent content") {
    val in = tempDir("uploads_csv")
    val header = "transaction_id,transaction_timestamp,item_sku,item_name," +
      "quantity,unit_price,line_total,discount_amount,payment_method,customer_id"
    def row(qty: String, pay: String) =
      s"TXN-0001-20240102-0001,2024-01-02T09:15:00,SMURF-FIG-001," +
        s"Papa Smurf Figurine,$qty,12.99,25.98,0.0,$pay,CUST-00042"
    // good, quantity 0 (constraint reject), malformed (type-parse reject)
    writeUpload(in, "store_0001_2024-01-02.csv", Seq(header,
      row("2", "credit"), row("0", "credit"),
      "this,is,not,,a,,valid,,csv-row-for-the-schema,NaNsense,extra").mkString("\n"))
    writeUpload(in, "bad_name.csv", Seq(header, row("2", "credit")).mkString("\n"))

    val validated = Ingest.withErrors(
      Ingest.readUploadsCsv(spark, in.toString), Ingest.filenamePatternCsv)
    val valid = Ingest.normalize(validated, Ingest.filenamePatternCsv)
    val bad = Ingest.rejects(validated)
    assert(valid.count() === 1)
    assert(valid.select("store_id", "year", "month", "day").collect().head
      .toSeq === Seq("0001", "2024", "01", "02"))
    // money decimal-typed exactly like the JSON path
    assert(valid.schema("line_total").dataType.typeName.startsWith("decimal"))
    val tags = bad.collect().map(_.getAs[String]("errors")).toSeq
    assert(tags.count(_.contains("quantity_lt_1")) === 1)
    assert(tags.count(_.contains("invalid_filename")) === 1)
    assert(bad.count() === 3, s"expected 3 rejects, got: $tags")
  }

  test("ingest: malformed JSON file routes to quarantine, not the lake") {
    val in = tempDir("uploads2")
    val lake = tempDir("lake2")
    val rej = tempDir("rejected2")
    writeUpload(in, "store_0003_2024-01-05.json", "this is not json at all {]")
    writeUpload(in, "store_0004_2024-01-05.json", s"[$goodRecord]")
    val (valid, rejected) = Ingest.processUploads(
      spark, in.toString, lake.toString, rej.toString)
    assert(valid === 1)
    assert(rejected === 1)
    val rejDf = spark.read.json(s"$rej")
    assert(rejDf.filter(col("errors").contains("malformed_json")).count() === 1)
  }

  test("streaming: AvailableNow ingests, upserts summaries, writes completeness ledger") {
    val in = tempDir("stream_in")
    val lake = tempDir("stream_lake")
    val summ = tempDir("stream_summary")
    val ledger = tempDir("stream_ledger")
    val ckpt = tempDir("stream_ckpt")
    writeUpload(in, "store_0001_2024-02-01.json", s"[$goodRecord, $goodRecord]")
    writeUpload(in, "store_0002_2024-02-01.json", s"[$goodRecord]")

    // the sinks ask for dynamic partition overwrite per write; the
    // caller's session conf (shared by every later overwrite) is untouched
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.get(overwriteMode)
    StreamingIngest.runAvailableNow(spark, in.toString, lake.toString,
      summ.toString, ledger.toString, ckpt.toString, expectedStores = 2)
    assert(spark.conf.get(overwriteMode) === modeBefore)

    val summary = spark.read.parquet(summ.toString)
    assert(summary.count() === 2) // one row per (store, date)
    val s1 = summary.filter(col("store_id") === "0001").head()
    assert(s1.getAs[Long]("transaction_count") === 2)

    val led = spark.read.parquet(ledger.toString)
    assert(led.filter(col("sale_date") === "2024-02-01" && col("complete")).count() === 1)

    // idempotent re-run: a second AvailableNow pass over a re-uploaded file
    // overwrites the same (store,date) partition instead of duplicating it
    writeUpload(in, "store_0001_2024-02-01b.json", "[]") // triggers new batch; empty array -> corrupt row quarantined upstream
    StreamingIngest.runAvailableNow(spark, in.toString, lake.toString,
      summ.toString, ledger.toString, ckpt.toString, expectedStores = 2)
    assert(spark.read.parquet(summ.toString).count() === 2)
  }

  test("streaming: a micro-batch leaves its session's overwrite mode alone") {
    // the stream runs batches in its own cloned session; a direct call
    // runs in the caller's, which later overwrites (static by default)
    // share — the sinks must ask for dynamic overwrite per write
    val in = tempDir("batch_in")
    val (lake, summ, ledger) = (tempDir("batch_lake"), tempDir("batch_summary"), tempDir("batch_ledger"))
    writeUpload(in, "store_0001_2024-03-01.json", s"[$goodRecord]")
    val s2 = spark.newSession()
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = s2.conf.get(overwriteMode)
    StreamingIngest.processBatch(Ingest.readUploads(s2, in.toString),
      lake.toString, summ.toString, ledger.toString, expectedStores = 1)
    assert(s2.conf.get(overwriteMode) === modeBefore)
    assert(s2.read.parquet(ledger.toString).filter(col("complete")).count() === 1)
  }

  /** Every data file under `dir` (relative path -> modification time);
    * the `_SUCCESS` marker a write leaves is not data. */
  private def dataFiles(dir: Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .map(p => dir.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally walk.close()
  }

  private def batch(files: (String, String)*): org.apache.spark.sql.DataFrame = {
    val in = tempDir("wave_in")
    files.foreach { case (name, body) => writeUpload(in, name, body) }
    Ingest.readUploads(spark, in.toString)
  }

  test("ingest: processUploads takes both counts from its two writes (2 jobs)") {
    val in = tempDir("uploads_jobs")
    writeUpload(in, "store_0001_2024-01-02.json", s"[$goodRecord, $goodRecord]")
    writeUpload(in, "store_0002_2024-01-02.json",
      s"[$goodRecord, ${goodRecord.replace("credit", "bitcoin")}]")
    val (counts, jobs) = JobLog.during(spark) {
      Ingest.processUploads(spark, in.toString, tempDir("lake_jobs").toString,
        tempDir("rejected_jobs").toString)
    }
    assert(counts === ((3L, 1L)))
    assert(jobs.size === 2, s"one job per sink, no counting pass: $jobs")
  }

  test("streaming: a wave rewrites only its own dates' ledger partitions") {
    val (lake, summ, ledger) = (tempDir("gate_lake"), tempDir("gate_summary"), tempDir("gate_ledger"))
    def wave(files: (String, String)*): Unit = StreamingIngest.processBatch(
      batch(files: _*), lake.toString, summ.toString, ledger.toString, expectedStores = 2)
    wave("store_0001_2024-04-01.json" -> s"[$goodRecord]")
    val first = dataFiles(ledger.resolve("sale_date=2024-04-01"))
    assert(first.size === 1)
    Thread.sleep(20) // a rewrite would show a later modification time
    wave("store_0001_2024-04-02.json" -> s"[$goodRecord]",
      "store_0002_2024-04-02.json" -> s"[$goodRecord]")
    assert(dataFiles(ledger.resolve("sale_date=2024-04-01")) === first)

    val led = spark.read.parquet(ledger.toString)
      .select(col("sale_date").cast("string"), col("stores_reported"), col("expected"),
        col("complete"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(led === Set(("2024-04-01", 1L, 2L, false), ("2024-04-02", 2L, 2L, true)))
    // a late store completes the first date; the second stays as it was
    val second = dataFiles(ledger.resolve("sale_date=2024-04-02"))
    wave("store_0002_2024-04-01.json" -> s"[$goodRecord]")
    assert(spark.read.parquet(ledger.toString).filter(col("complete")).count() === 2)
    assert(dataFiles(ledger.resolve("sale_date=2024-04-02")) === second)
  }

  test("streaming: a batch whose every row is rejected leaves lake, summary and ledger unchanged") {
    val (lake, summ, ledger) = (tempDir("rej_lake"), tempDir("rej_summary"), tempDir("rej_ledger"))
    def wave(files: (String, String)*): Unit = StreamingIngest.processBatch(
      batch(files: _*), lake.toString, summ.toString, ledger.toString, expectedStores = 1)
    wave("store_0001_2024-05-01.json" -> s"[$goodRecord, $goodRecord]")
    val dirs = Seq(lake, summ, ledger)
    def rows = dirs.map(d => spark.read.parquet(d.toString).collect().map(_.toString).sorted.toSeq)
    val (filesBefore, rowsBefore) = (dirs.map(dataFiles), rows)
    assert(filesBefore.forall(_.nonEmpty))
    Thread.sleep(20)
    wave("store_0001_2024-05-02.json" -> s"[${goodRecord.replace("credit", "bitcoin")}]",
      "not_an_upload.json" -> s"[$goodRecord]",
      "store_0002_2024-05-02.json" -> "this is not json")
    assert(dirs.map(dataFiles) === filesBefore)
    assert(rows === rowsBefore)
  }

  test("streaming: one direct processBatch runs a fixed number of jobs") {
    val (lake, summ, ledger) = (tempDir("jobs_lake"), tempDir("jobs_summary"), tempDir("jobs_ledger"))
    def wave(day: String) = JobLog.during(spark) {
      StreamingIngest.processBatch(batch(s"store_0001_2024-06-$day.json" -> s"[$goodRecord]"),
        lake.toString, summ.toString, ledger.toString, expectedStores = 1)
    }._2
    val (first, later) = (wave("01"), wave("02"))
    // lake write, summary write (its shuffle stage and the write), ledger
    // write — whatever history the tables already hold
    assert(first.size === 4, s"jobs: $first")
    assert(later.size === 4, s"jobs: $later")
  }

  test("streaming: a wave reads the same input bytes however many dates the lake holds") {
    val (lake, summ, ledger) = (tempDir("bytes_lake"), tempDir("bytes_summary"), tempDir("bytes_ledger"))
    def wave(day: String): Long = {
      val read = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.bytesRead))
      }
      spark.sparkContext.addSparkListener(listener)
      // JobLog's closing marker is delivered after every task end of the wave
      try JobLog.during(spark) {
        StreamingIngest.processBatch(batch(
            s"store_0001_2024-07-$day.json" -> s"[$goodRecord, $goodRecord]",
            s"store_0002_2024-07-$day.json" -> s"[$goodRecord]"),
          lake.toString, summ.toString, ledger.toString, expectedStores = 2)
      } finally spark.sparkContext.removeSparkListener(listener)
      read.get
    }
    val first = wave("01")
    Seq("02", "03", "04").foreach(wave)
    val later = wave("05")
    assert(first > 0)
    assert(later <= first, s"the fifth wave read $later bytes, the first $first")
  }

  test("multimodal: feature extraction is deterministic, partition-parallel, typed") {
    val media = Multimodal.mediaFromDocs(spark, sfDir)
    val n = media.count()
    assert(n > 0)
    val feats = Multimodal.extractFeatures(media)
    val f1 = feats.orderBy("media_id").head()
    val f2 = Multimodal.extractFeatures(media).orderBy("media_id").head()
    assert(f1.checksum === f2.checksum, "decode stub must be deterministic")
    assert(f1.features.length === 8)
    assert(feats.count() === n)
    // binary payload survives the round trip with its byte length
    val m1 = media.orderBy("media_id").head()
    assert(f1.n_bytes === m1.bytes.length.toLong)
  }

  test("multimodal: frame sampling explodes only video rows") {
    val media = Multimodal.mediaFromDocs(spark, sfDir)
    val frames = Multimodal.frameSample(media, step = 10)
    val videoIds = media.filter(col("kind") === "video").count()
    val videoFrames = frames.filter(col("kind") === "video")
    assert(videoFrames.count() >= videoIds, "each video yields >= 1 frame")
    assert(frames.filter(col("kind") =!= "video" && col("frame_idx") =!= 0).count() === 0)
    assert(videoFrames.filter(col("frame_idx") % 10 =!= 0).count() === 0)
  }

  test("ndjson export: line-delimited json round-trips") {
    val out = tempDir("ndjson")
    val df = graft.etl.StoreDaily.rollup(spark, sfDir).limit(20)
    Ingest.exportNdjson(df, out.toString)
    val back = spark.read.json(out.toString)
    assert(back.count() === 20)
    assert(back.columns.toSet.contains("store_id"))
  }

  test("ndjson export writes the BI manifest sidecar next to the dataset") {
    val out = tempDir("ndjson_manifest")
    val df = graft.etl.StoreDaily.rollup(spark, sfDir).limit(20)
    val manifestPath = Ingest.exportNdjsonWithManifest(df, out.toString, parts = 2)
    assert(manifestPath.endsWith("manifest.json"))
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new java.net.URI(manifestPath).getPath)), "UTF-8")
    // the reference's exact manifest shape (export-to-quicksight:364-388)
    val parsed = ujsonLite(body)
    val uris = parsed("fileLocations")(0)("URIs").v
      .asInstanceOf[scala.collection.Seq[Any]].map(_.toString)
    assert(uris.nonEmpty, "manifest must list the exported data files")
    assert(uris.forall(_.contains("part-")))
    uris.foreach { u =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(new java.net.URI(u).getPath)), s"listed file missing: $u")
    }
    assert(parsed("globalUploadSettings")("format").toString === "JSON")
    // every data line in the listed files is readable NDJSON (glob skips
    // the sidecar itself — consumers address data via the manifest's URIs)
    assert(spark.read.option("pathGlobFilter", "part-*")
      .json(out.toString).count() === 20)
  }

  /** Minimal JSON reader for the manifest assertion (no extra deps):
    * delegates to Spark's own JSON parser over a one-line dataset. */
  private def ujsonLite(body: String): JsonNav = {
    import scala.jdk.CollectionConverters._
    val df = spark.read.json(
      spark.createDataset(Seq(body.replaceAll("\n", " ")))(
        org.apache.spark.sql.Encoders.STRING))
    JsonNav(df.head())
  }
  private case class JsonNav(v: Any) {
    def apply(field: String): JsonNav = v match {
      case r: org.apache.spark.sql.Row => JsonNav(r.getAs[Any](field))
      case other => fail(s"not a struct at $field: $other")
    }
    def apply(i: Int): JsonNav = v match {
      case s: scala.collection.Seq[_] => JsonNav(s(i))
      case other => fail(s"not an array: $other")
    }
    override def toString: String = String.valueOf(v)
  }

  test("m2: multimodal features x frames relation is nonempty and consistent") {
    val rel = graft.multimodal.Multimodal.multimodalFeatures(spark, sfDir)
    val media = Multimodal.mediaFromDocs(spark, sfDir)
    assert(rel.count() >= media.count(), "every media row yields >= 1 frame row")
    // per-media feature values are constant across that media's frame rows
    val inconsistent = rel.groupBy("media_id")
      .agg(countDistinct(col("checksum")).as("n_ck"), countDistinct(col("f0")).as("n_f0"))
      .filter(col("n_ck") =!= 1 || col("n_f0") =!= 1)
    assert(inconsistent.count() === 0)
  }
}
