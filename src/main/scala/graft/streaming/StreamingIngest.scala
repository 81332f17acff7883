package graft.streaming

import graft.ingest.Ingest
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The live Structured Streaming wrapper over the batch ingest pieces
  * (SURVEY.md §2.7): file-arrival source → per-batch validate/convert/
  * aggregate/upsert → completeness gate, i.e. the reference's
  * S3→EventBridge→Step Functions upload-processor state machine
  * (infrastructure/eventbridge.tf:1-78, upload-processor.json:13-171)
  * re-expressed as `readStream → foreachBatch → idempotent overwrite`.
  *
  * Semantics preserved:
  *  - one upload file = one unit of work (micro-batch may carry several;
  *    each (store, day) partition is overwritten whole = the reference's
  *    unconditional put_item, write-metrics:104 — late/re-uploaded files
  *    just overwrite their own partition, exactly-once-ish);
  *  - completeness gate: after each batch, every date the batch touched
  *    gets a run-ledger row with its reported-store count and whether it
  *    reached the expected count — the `check-all-stores` →
  *    `states:startExecution` trigger (check-all-stores:45-92); the
  *    ledger is an idempotent parquet overwrite per date, which also
  *    gives the scheduled-fallback "analysis already ran" dedupe
  *    (eventbridge.tf:100-127).
  *
  * Scale posture: state is carried by the summary table itself (parquet
  *  partitions), not by mapGroupsWithState — restart-safe via the
  *  checkpoint + idempotent sinks, no state-store growth. A batch's work
  *  is proportional to the batch, not to the history: its dates come
  *  from a metric observed on the summary write, and each date's store
  *  count is a directory listing of that date's summary partition, so no
  *  batch rescans the summary table or rewrites another date's ledger.
  */
object StreamingIngest {

  /** Start the ingest stream over `inDir`. Trigger.AvailableNow processes
    * everything present and stops — the event-driven batch shape (and the
    * testable one). Returns after the stream finishes. */
  def runAvailableNow(spark: SparkSession, inDir: String, lakeDir: String,
                      summaryDir: String, ledgerDir: String,
                      checkpointDir: String, expectedStores: Long): Unit = {
    val stream = Ingest.withFilename(spark.readStream
      .schema(Ingest.uploadReadSchema).options(Ingest.uploadJsonOptions)
      .json(inDir))

    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, lakeDir, summaryDir, ledgerDir, expectedStores)
      }
      .start()
    query.awaitTermination()
  }

  /** Watermarked tumbling-window event counts — the genuinely-streaming
    * aggregation shape (late events beyond 30 min are dropped; append mode
    * emits a window only once its watermark passes, giving exactly-once
    * finalized rows downstream). Works on any streaming DataFrame with
    * (ts timestamp, event_type string); the batch twin is
    * [[EventsBatch.hourlyWindow]] — same plan minus the watermark node. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))

  /** Watermarked SESSION windows (dynamic-gap analogue of [[EventsBatch.
    * sessionize]]'s fixed 30-min rule): Spark merges events closer than
    * the gap into one window per key, with watermark-driven finalization
    * in append mode. */
  def sessionWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("user_id"), col("n_events"))

  /** Arbitrary stateful streaming: running per-store cumulative sales via
    * `mapGroupsWithState` — the KeyValueGroupedDataset custom-state shape
    * for logic that windowed aggregation can't express (here: a monotone
    * running total carried across micro-batches in a typed state cell).
    * GroupStateTimeout.NoTimeout: store keys are a fixed dimension, state
    * is one Double per store — bounded regardless of stream length. */
  def runningStoreTotals(updates: org.apache.spark.sql.Dataset[(String, Double)])
  : org.apache.spark.sql.Dataset[(String, Double)] = {
    import updates.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => _}
    updates
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (store: String, rows: Iterator[(String, Double)], state: GroupState[Double]) =>
          val sum = rows.map(_._2).sum + state.getOption.getOrElse(0.0)
          state.update(sum)
          (store, sum)
      }
  }

  /** One micro-batch: validate → lake write → (store, day) summary
    * upsert → completeness ledger for the batch's dates. Visible for
    * direct batch tests. A batch with no valid row writes no partition
    * and no ledger row (dynamic overwrite leaves every existing
    * partition in place), so it needs no emptiness probe. */
  private[graft] def processBatch(batch: DataFrame, lakeDir: String,
                                  summaryDir: String, ledgerDir: String,
                                  expectedStores: Long): Unit = {
    val spark = batch.sparkSession
    val valid = Ingest.normalize(Ingest.withErrors(batch)).cache()
    try {
      Ingest.writeLake(valid, lakeDir)

      // A1-shaped (store, day) summary, overwritten per partition — the
      // write-metrics upsert. The batch's dates are a metric observed by
      // the write itself, not a further job.
      val dates = Observation("wave_dates")
      valid
        .withColumn("sale_date",
          concat_ws("-", col("year"), col("month"), col("day")))
        .groupBy(col("store_id"), col("sale_date"))
        .agg(
          sum(col("line_total")).as("total_sales_dec"),
          sum(col("discount_amount")).as("total_discount_dec"),
          count(lit(1)).as("transaction_count"),
          sum(col("quantity")).as("item_count"))
        .observe(dates, collect_set(col("sale_date")).as("dates"))
        .write
        .partitionBy("sale_date", "store_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(summaryDir)

      // Completeness gate over the batch's dates only: no other date's
      // summary partitions changed, so no other ledger row can. A date's
      // reported stores are its `store_id=` partition directories — the
      // summary is partitioned by exactly (sale_date, store_id) and a
      // partition directory exists only when it holds rows, so the
      // listing equals countDistinct(store_id) over the date's rows.
      val touched = dates.get("dates").asInstanceOf[scala.collection.Seq[String]]
      if (touched.nonEmpty) {
        val root = new Path(summaryDir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val reported = touched.toSeq.map { d =>
          d -> fs.listStatus(new Path(root, s"sale_date=$d"))
            .count(s => s.isDirectory && s.getPath.getName.startsWith("store_id=")).toLong
        }
        spark.createDataFrame(reported).toDF("sale_date", "stores_reported")
          .withColumn("expected", lit(expectedStores))
          .withColumn("complete", col("stores_reported") === expectedStores)
          .write
          .partitionBy("sale_date")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(ledgerDir)
      }
    } finally valid.unpersist()
  }
}
