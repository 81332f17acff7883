package graft

import graft.streaming.{ArrivingVec, DeltaDoc, StreamingIndexMaintenance => SIM}
import graft.dedup.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The 21st streaming twin: d30's dedup-index appends and v39's vector
  * fold executed per micro-batch. After k UNEVEN batches (with
  * re-delivery), the maintained physical tables must be row-identical
  * to the batch keys' post-append indexes, and the arrival-time
  * verdicts must equal batch d30's snapshot-probe verdicts — the
  * snapshot/delta boundary as a watermark, not a modulus. */
class StreamingIndexMaintenanceSpec extends GraftSpec {

  private def assertSameRows(a: org.apache.spark.sql.DataFrame,
                             b: org.apache.spark.sql.DataFrame,
                             what: String): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what diverged from the batch index")
  }

  test("dedup index maintained per micro-batch is row-identical to " +
      "batch d30's post-append index; arrival verdicts equal the " +
      "snapshot-probe verdicts under uneven splits + re-delivery") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the batch reference: d30 builds + appends in one pass
    val d30 = Dedup.indexMaintenance(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val batchRoot = Dedup.d30Index(spark, sfDir)
    // the streaming index, same frozen snapshot
    val root = SIM.buildSnapshotIndex(spark, sfDir)
    val snapTexts = Dedup.snapshotTexts(spark, sfDir)
      .collect().map(_.getString(0)).toSet
    val snapBands = Dedup.snapshotBandIndex(spark, sfDir)
    val dict = Dedup.shingleDictMap(spark, sfDir)
    val delta = graft.text.Corpus.docs(spark, sfDir)
      .filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("text"), col("source"))
      .collect()
      .map(r => DeltaDoc(r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id)
    assert(delta.length > 5)
    val verdicts = scala.collection.mutable.Map[Long, String]()
    val input = MemoryStream[DeltaDoc]
    val q = input.toDS().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[DeltaDoc], _: Long) =>
        val rows = SIM.maintainBatch(spark, root, df.collect().toSeq,
          snapTexts, snapBands, dict).collect()
        rows.foreach { r =>
          val (id, v) = (r.getLong(0), r.getString(2))
          // re-delivery must re-derive the identical verdict
          verdicts.get(id).foreach(prev => assert(prev === v))
          verdicts(id) = v
        }
      }
      .start()
    try {
      val (b1, rest) = delta.splitAt(2)
      val (b2, b3) = rest.splitAt(math.max(rest.length / 3, 1))
      input.addData(b1.toIndexedSeq); q.processAllAvailable()
      // re-deliver batch 1 alongside batch 2 (at-least-once delivery)
      input.addData((b2 ++ b1).toIndexedSeq); q.processAllAvailable()
      input.addData(b3.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    // arrival verdicts == batch d30's verdict_before, doc for doc
    assert(verdicts.toMap === d30)
    // maintained physical tables row-identical to the batch index
    assertSameRows(spark.read.parquet(s"$root/texts"),
      spark.read.parquet(s"$batchRoot/texts"), "texts")
    assertSameRows(spark.read.parquet(s"$root/bands"),
      spark.read.parquet(s"$batchRoot/bands"), "bands")
  }

  test("vector cells folded per micro-batch are row-identical to the " +
      "batch v39 folded index under uneven splits + re-delivery") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // batch reference: force the v39 fold, then read its physical cells
    graft.vector.IndexCompaction.compactionApplied(spark, sfDir).count()
    val batchRoot = graft.vector.IndexCompaction.foldedIndex(spark, sfDir, 8).root
    val root = graft.etl.Scratch.tempDir("stream-vec-index")
    val cents = SIM.buildSnapshotCells(spark, sfDir, root)
    val delta = graft.model.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 10 >= 8).collect()
      .map(r => ArrivingVec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    assert(delta.nonEmpty)
    val input = MemoryStream[ArrivingVec]
    val q = input.toDS().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[ArrivingVec], _: Long) =>
        SIM.foldVectorBatch(spark, root, df.collect().toSeq, cents)
      }
      .start()
    try {
      val (b1, rest) = delta.splitAt(3)
      val (b2, b3) = rest.splitAt(math.max(rest.length / 2, 1))
      input.addData(b1.toIndexedSeq); q.processAllAvailable()
      input.addData((b2 ++ b1.take(2)).toIndexedSeq); q.processAllAvailable()
      input.addData(b3.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    assertSameRows(
      spark.read.parquet(s"$root/cells")
        .select(col("vec_id"), col("cell").cast("int").as("cell")),
      spark.read.parquet(s"$batchRoot/cells")
        .select(col("vec_id"), col("cell").cast("int").as("cell")),
      "cells")
  }
}
