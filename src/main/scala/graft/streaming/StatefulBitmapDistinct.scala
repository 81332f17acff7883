package graft.streaming

import graft.etl.Fold
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.{col, lit}

/** One (store, sku) sale observation on the ingest stream — the sk17
  * distinct-counting domain. */
case class SkuSale(store_id: String, sku: Long)

/** One per-(store, bucket) distinct snapshot: how many distinct skus of
  * this 32 768-key bucket the store has sold so far. `n_seen` is the
  * bucket's monotone arrival counter — consumers take the max-`n_seen`
  * emission per (store, bucket) and SUM buckets for the store total,
  * exactly the batch sk17 read-off. */
case class BucketDistinct(store_id: String, bucket: Long, n_seen: Long,
                          n_distinct: Long)

/** sk17's EXACT distinct counting as a LIVE streaming operator: a
  * streaming aggregation over [[Fold]]'s page algebra, whose state per
  * (store, sku-bucket) is one 4 KiB page and an arrival count; in Update
  * mode each batch emits every touched bucket's cumulative count. Bitmap
  * OR is idempotent, commutative and associative, so the count is
  * independent of delivery order, micro-batch split and re-delivery,
  * with NO retraction logic (HLL twins buy that with error).
  *
  * Scale posture: state is bounded by stores × occupied buckets, not by
  * the stream; the store (or company) total is a downstream bucket-sum —
  * the same re-fold the batch key does, never a rescan. */
object StatefulBitmapDistinct {

  def count(ds: Dataset[SkuSale]): Dataset[BucketDistinct] = {
    import ds.sparkSession.implicits._
    ds.groupBy(col("store_id"), Fold.bucketOf(col("sku")).as("bucket"))
      .agg(functions.count(lit(1)).as("n_seen"), Fold.pageOf(col("sku")).as("bm"))
      .select(col("store_id"), col("bucket"), col("n_seen"),
        Fold.bitsOf(col("bm")).as("n_distinct"))
      .as[BucketDistinct]
  }
}
