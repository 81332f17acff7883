package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TopKByCount

/** The incremental-maintenance algebra of the nightly close: the three
  * mergeable partials every maintained gold folds with, their merges
  * and reads, and the one generation chain that persists each fold.
  *
  * The reference upserts per-(store, day) metrics as uploads arrive and
  * rebuilds the golds once every store has reported (write-metrics:77-104,
  * check-all-stores:45-92). Here a gold is a fold of partials: each
  * earlier generation is PHYSICALLY persisted to parquet, the newest
  * slice of facts is aggregated alone (work ∝ delta), and the merge
  * combines the re-read generation with it. Every merge below is exact,
  * so a folded gold equals a full recompute from the raw facts — which
  * is what each caller's DuckDB oracle computes.
  *
  *  - [[rollup]]: the sum/count monoid at (store, month), merged by
  *    re-aggregation; decimal partials keep the sums exact.
  *  - [[pages]]: OR-bitmap pages at (store, bucket), one fixed 4 KB page
  *    per 32 768-key sku bucket, merged by `bitmap_or_agg` and read as a
  *    distinct count. COUNT(DISTINCT) is not a sum monoid — partials
  *    double-count keys seen on both sides of a boundary; OR does not.
  *  - [[sketches]]: one Misra-Gries sketch row per store
  *    ([[graft.functions.TopKSketch]]'s binary wire format), merged by
  *    APPENDING rows — the late-merge discipline: partials accumulate
  *    and the read combines them ([[graft.functions.TopKMergeSketch]]).
  *    At [[graft.analytics.Sketches.exactSummarySize]] (≥ per-store
  *    distinct skus) the merged summary is exact, max_err 0.
  *
  * Callers: a66–a68 ([[Materialize]], two slices), a69/a70
  * ([[DayClose]], three slices), sk17's page build and company re-fold
  * ([[graft.analytics.Sketches.bitmapDistinct]]), and its streaming face
  * ([[graft.streaming.StatefulBitmapDistinct]]). */
object Fold {

  /** A mergeable partial over sales facts: `partial` aggregates one
    * slice, `merge` folds a union of partials back into one. */
  final case class Partial(partial: DataFrame => DataFrame,
                           merge: DataFrame => DataFrame)

  val rollup: Partial = Partial(
    facts => facts
      .groupBy(col("store_id"), substring(col("sale_date"), 1, 7).as("month"))
      .agg(sum(col("line_total")).as("gross_dec"), count(lit(1)).as("n_lines")),
    parts => parts
      .groupBy(col("store_id"), col("month"))
      .agg(sum(col("gross_dec")).as("gross_dec"),
        sum(col("n_lines")).as("n_lines")))

  /** Rollup read: (store_id, month, total_sales double, n_lines). */
  def rollupOf(parts: DataFrame): DataFrame =
    parts.select(col("store_id"), col("month"),
      col("gross_dec").cast("double").as("total_sales"), col("n_lines"))

  val pages: Partial = Partial(
    facts => facts
      .groupBy(col("store_id"), bucketOf(col("sku")).as("bucket"))
      .agg(pageOf(col("sku")).as("bm")),
    parts => orPages(parts, "store_id"))

  /** Page columns: a sku's 32 768-key bucket, a group's page, a page's count. */
  def bucketOf(sku: Column): Column = bitmap_bucket_number(sku)
  def pageOf(sku: Column): Column = bitmap_construct_agg(bitmap_bit_position(sku))
  def bitsOf(page: Column): Column = bitmap_count(page)

  /** OR-merges pages per (`keys`, bucket); with no keys, every store's
    * page of a bucket folds into one company page. */
  def orPages(parts: DataFrame, keys: String*): DataFrame =
    parts.groupBy((keys :+ "bucket").map(col): _*)
      .agg(expr("bitmap_or_agg(bm)").as("bm"))

  /** Distinct read: the pages' bit counts summed per `keys`, as column
    * `as`. Exact when no two pages share (`keys`, bucket). */
  def distinctOf(pagesDf: DataFrame, as: String, keys: String*): DataFrame =
    pagesDf.groupBy(keys.map(col): _*)
      .agg(sum(bitsOf(col("bm"))).as(as))

  val sketches: Partial = Partial(
    facts => facts
      .groupBy(col("store_id"))
      .agg(TopKByCount.topKSketch(col("sku").cast("string"),
        graft.analytics.Sketches.exactSummarySize).as("sketch")),
    identity)

  /** Top-k read: merges each store's sketch rows and ranks the first
    * `k` items — (store_id, rank, sku, est_count, max_err). */
  def topKOf(sketchRows: DataFrame, k: Int): DataFrame =
    sketchRows
      .groupBy(col("store_id"))
      .agg(TopKByCount.topKMergeSketch(col("sketch"),
        graft.analytics.Sketches.exactSummarySize).as("mg"))
      .select(col("store_id"), col("mg.max_err").as("max_err"),
        posexplode(slice(col("mg.items"), 1, k)).as(Seq("idx", "item")))
      .select(col("store_id"), (col("idx") + 1).cast("long").as("rank"),
        col("item.sku").as("sku"), col("item.est_count").as("est_count"),
        col("max_err"))

  /** The generation chain: folds `p` over `facts` one slice at a time.
    * For every slice but the last, fold i is written to
    * `$root/<name><i>` and the next fold starts from those re-read bytes,
    * so each close's input is the previous close's physical output.
    * Returns the fold of the last slice on the re-read previous
    * generation, NOT persisted (it is the caller's gold). */
  def chain(spark: SparkSession, root: String, name: String,
            facts: DataFrame, p: Partial, slices: Seq[Column]): DataFrame = {
    require(slices.nonEmpty, s"generation chain $name has no slices")
    def fold(prev: Option[DataFrame], slice: Column): DataFrame = {
      val next = p.partial(facts.filter(slice))
      prev.fold(next)(g => p.merge(g.unionByName(next)))
    }
    val prev = slices.init.zipWithIndex.foldLeft(Option.empty[DataFrame]) {
      case (prev, (slice, i)) =>
        val path = s"$root/$name$i"
        fold(prev, slice).write.mode("overwrite").parquet(path)
        Some(spark.read.parquet(path))
    }
    fold(prev, slices.last)
  }
}
