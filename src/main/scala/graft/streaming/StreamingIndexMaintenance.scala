package graft.streaming

import graft.dedup.Dedup
import graft.vector.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INDEX MAINTENANCE AT ARRIVAL TIME — the 21st streaming twin: d30's
  * dedup-index appends and v39's vector-index fold executed per
  * micro-batch in `foreachBatch`, so the snapshot/delta boundary becomes
  * a WATERMARK (whatever has arrived) instead of a modulus.
  *
  * Batch-equivalence argument (StreamingIndexMaintenanceSpec replays
  * it): arrivals are classified against the FROZEN snapshot identity
  * sets — d30's own rule, whose one probe round judges the whole delta
  * against the snapshot, never delta-vs-delta — so each document's
  * verdict is a pure function of (document, snapshot), independent of
  * how arrivals are batched. The appends are made idempotent and
  * batching-proof by anti-joining against the CURRENT physical index
  * before writing (the KV PutIfAbsent): a text arriving in two batches
  * lands exactly one identity row, and after any uneven k-batch split
  * the maintained tables are row-identical to batch d30's post-append
  * index. The vector fold is per-row pure (frozen centroids), so its
  * cells table composes the same way.
  *
  * Scale seams, same as the other twins: the shingle dictionary and the
  * frozen snapshot band set ride broadcast maps (the documented KV-store
  * stand-in — at 100 TB these are point lookups against a shared state
  * store); the appends are bounded by the batch's novel identities. */
object StreamingIndexMaintenance {

  /** Build the frozen snapshot index (d30's step 1) under a fresh
    * scratch root; returns the root. The texts/bands parquet tables are
    * the MAINTAINED physical index the batches append to; the frozen
    * probe sets are captured separately so later appends can never leak
    * into classification. */
  def buildSnapshotIndex(spark: SparkSession, dir: String): String = {
    val root = graft.etl.Scratch.tempDir("stream-index")
    Dedup.snapshotTexts(spark, dir)
      .write.mode("overwrite").parquet(s"$root/texts")
    val bands = Dedup.snapshotBandIndex(spark, dir).toSeq.sorted
    import spark.implicits._
    bands.map(k => (k >> 48, k & ((1L << 48) - 1)))
      .toDF("band", "bandkey")
      .write.mode("overwrite").parquet(s"$root/bands")
    root
  }

  /** Classify one micro-batch against the FROZEN snapshot sets and
    * append its novel identities to the physical index, PutIfAbsent
    * style. Returns the batch's verdict rows (doc_id, source, verdict).
    * Pure function of (batch, snapshot) — safe under re-delivery and
    * any batch split. */
  def maintainBatch(spark: SparkSession, root: String,
                    batch: Seq[DeltaDoc],
                    snapTexts: Set[String],
                    snapBands: Set[Long],
                    dict: Map[String, Long]): DataFrame = {
    import spark.implicits._
    val verdicts = batch.map { d =>
      val sids = d.text.split("\\s+", -1).toSeq.sliding(3)
        .filter(_.size == 3).map(_.mkString(" "))
        .toSet[String].flatMap(s => dict.get(s))
      val keys = Dedup.bandKeysOf(sids)
      val verdict =
        if (snapTexts.contains(d.text)) "exact"
        else if (keys.exists(snapBands.contains)) "near"
        else "novel"
      (d.doc_id, d.text, d.source, verdict,
        keys.map(k => (k >> 48, k & ((1L << 48) - 1))).toSeq)
    }.toDF("doc_id", "text", "source", "verdict", "band_keys")
      .localCheckpoint() // pin BEFORE the appends change the files below
    // PutIfAbsent appends: novel identities not already in the index
    val novel = verdicts.filter(col("verdict") === "novel")
    novel.select(col("text")).distinct()
      .join(spark.read.parquet(s"$root/texts"), Seq("text"), "left_anti")
      .write.mode("append").parquet(s"$root/texts")
    novel.select(explode(col("band_keys")).as("bk"))
      .select(col("bk._1").as("band"), col("bk._2").as("bandkey"))
      .distinct()
      .join(spark.read.parquet(s"$root/bands"),
        Seq("band", "bandkey"), "left_anti")
      .write.mode("append").parquet(s"$root/bands")
    verdicts.select(col("doc_id"), col("source"), col("verdict"))
  }

  /** v39's snapshot half for the streaming twin: frozen centroids from
    * the first nCentroids snapshot vectors, snapshot vectors assigned
    * and written as the initial cells table under `root`. Returns the
    * frozen centroid relation (checkpointed — the quantizer never moves
    * as arrivals stream). */
  def buildSnapshotCells(spark: SparkSession, dir: String, root: String,
                         nCentroids: Int = 8): DataFrame = {
    val snap = Similarity.withNorm(spark, dir).filter(
      col("vec_id") % 10 < graft.vector.IndexCompaction.SnapshotMod)
    val cents = Similarity.donorCents(snap, nCentroids).localCheckpoint()
    Similarity.assign(snap, cents)
      .write.mode("overwrite").parquet(s"$root/cells")
    cents
  }

  /** The v39 leg: fold one micro-batch of arriving vectors into the
    * physical cells table against FROZEN centroids (centroid_id, c_emb,
    * c_norm2). Assignment is per-row pure, so the fold composes
    * identically under any batching; the anti-join keeps re-delivery
    * from duplicating a vector's cell row. */
  def foldVectorBatch(spark: SparkSession, root: String,
                      batch: Seq[ArrivingVec],
                      cents: DataFrame): Unit = {
    import spark.implicits._
    if (batch.isEmpty) return
    val vecs = batch.map(v => (v.vec_id, v.embedding))
      .toDF("vec_id", "embedding")
      .withColumn("norm2", Similarity.dotCol(col("embedding"), col("embedding")))
    val assigned = Similarity.assign(vecs, cents).localCheckpoint()
    assigned
      .join(spark.read.parquet(s"$root/cells"), Seq("vec_id"), "left_anti")
      .write.mode("append").parquet(s"$root/cells")
  }
}
