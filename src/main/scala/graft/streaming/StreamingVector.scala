package graft.streaming

import graft.vector.Similarity
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One embedding arriving on the vector ingest stream (v38's delta). */
case class ArrivingVec(vec_id: Long, embedding: Array[Float])

/** v38's index freshness at ARRIVAL time — the 20th streaming twin,
  * the StreamingDelta pattern applied to vectors: every arriving
  * embedding becomes searchable the MOMENT it lands, instead of after
  * the next index rebuild (or even the next nightly v38 batch).
  *
  * Like StreamingDelta this twin is deliberately STATELESS: v38's delta
  * leg is a cross score of (standing queries × arrivals), so each
  * arrival's contribution is a pure function of (vector, query set) —
  * re-delivery is idempotent (same rows re-emitted, no state store) and
  * any micro-batch split composes to the same relation. The streaming
  * surface exercised is a stream-static broadcast join against the
  * standing query relation; Spark plans the static side once per
  * micro-batch.
  *
  * Ranks are NOT assigned per batch: top-k is non-monotonic as
  * arrivals accumulate, so the stream publishes SCORES (append-only)
  * and the rank-time merge with the static snapshot main leg happens at
  * read — exactly v38's merge, and StreamingVectorSpec certifies the
  * composition is bit-identical to batch v38 once the window has fully
  * arrived. At 100 TB the published scores land in the serving store's
  * delta side-table; compaction (v39) later folds the window into the
  * main index. */
object StreamingVector {

  /** Score an arrival stream against the standing queries. `queries`
    * must be the STATIC relation [[Similarity.deltaIndexQueries]]
    * (query_id, q_emb, q_norm2). Append-mode safe: no aggregation, no
    * watermark, |queries| output rows per arriving vector. */
  def scoreArrivals(stream: Dataset[ArrivingVec],
                    queries: DataFrame): DataFrame =
    Similarity.scorePairs(stream.toDF()
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
        .withColumn("n_norm2", Similarity.dotCol(col("n_emb"), col("n_emb")))
        .join(broadcast(queries)))
      .select(col("query_id"), col("neighbor_id"),
        lit(true).as("from_delta"), col("cosine"))
}
