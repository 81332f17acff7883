package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** a69/a70: the COMPOSED incremental day-close — every maintained gold
  * folds the same day of arrivals in ONE commit, twice in a row.
  *
  * Each gold's fold algebra lives in [[Fold]] (rollup, bitmap pages,
  * Misra-Gries sketches) and each runs through [[Fold.chain]] with three
  * slices: close 0 (≤ [[Close1]]) and close 1 ((Close1, Close2]) PERSIST
  * their generations (`roll0`/`roll1`, `pages0`/`pages1`, `sk0`/`sk1`
  * under the session's close root), close 2 folds the rest on top of the
  * RE-READ generation-1 bytes — each close's input is the previous
  * close's physical output, how a nightly pipeline compounds. The
  * dedup-index (d30) and vector-index (v39) legs join the same commit
  * via their snapshot/delta boundaries (doc_id/vec_id mod 10 — those
  * tables carry no dates).
  *
  * a69 ([[dayClose]]) delivers every fact on time; a70
  * ([[restatedClose]]) withholds a late slice until close 2. Both are
  * one close body over different slice predicates and index legs.
  * Output is ONE long-form relation (component, key1, key2, metric,
  * value) over all five maintained golds; the DuckDB oracle recomputes
  * every component FROM THE RAW TABLES and projects the same long form
  * — a single hash certifying the whole close. R13OpsSpec/R14OpsSpec
  * replay the generation-1 bytes against direct recomputes (the
  * mid-generation contract the end-to-end hash cannot see). */
object DayClose {

  /** First close boundary — [[Materialize.IngestBoundary]], mid-corpus
    * so the boundary month straddles it. */
  val Close1: String = Materialize.IngestBoundary

  /** Second close: the NEXT day's arrivals (nonempty at every test SF). */
  val Close2: String = "1995-06-16"

  /** Generation roots per (session, sfDir), exposed for the spec's
    * mid-generation assertions. */
  private[graft] val closeDirs =
    new graft.model.SessionMemo[String, String]()

  private def saleDate: Column = col("sale_date")
  private def day0: Column = saleDate <= Close1
  private def day1: Column = saleDate > Close1 && saleDate <= Close2
  private def day2: Column = saleDate > Close2

  private def longForm(component: String, key1: Column, key2: Column,
                       metric: String, value: Column): Column =
    struct(lit(component).as("component"), key1.as("key1"),
      key2.as("key2"), lit(metric).as("metric"),
      value.cast("double").as("value"))

  /** `df` projected to long-form rows, one per `rows` entry. */
  private def longRows(df: DataFrame, rows: Column*): DataFrame =
    df.select(explode(array(rows: _*)).as("r")).select(col("r.*"))

  /** The one close body: the three dated golds folded through
    * [[Fold.chain]] over `slices` (close 0, close 1, close 2) under a
    * session-scoped root kept in `dirs`, then the index legs, all
    * projected to one long-form relation. */
  private def close(spark: SparkSession, dir: String, memo: String,
                    dirs: graft.model.SessionMemo[String, String],
                    tag: String, slices: Seq[Column])(
                    legs: => Seq[DataFrame]): DataFrame =
    graft.model.Silver.memoize(spark, memo, dir) {
      val root = dirs.getOrElseUpdate((spark, dir), Scratch.tempDir(tag))
      val sales = Tables.sales(spark, dir)
      def gold(name: String, p: Fold.Partial): DataFrame =
        Fold.chain(spark, root, name, sales, p, slices)
      val roll = Fold.rollupOf(gold("roll", Fold.rollup))
      val distinct = Fold.distinctOf(gold("pages", Fold.pages),
        "n_distinct_skus", "store_id")
      val topk = Fold.topKOf(gold("sk", Fold.sketches), 5)
      val golds = Seq(
        longRows(roll,
          longForm("rollup", col("store_id"), col("month"),
            "total_sales", col("total_sales")),
          longForm("rollup", col("store_id"), col("month"),
            "n_lines", col("n_lines"))),
        longRows(distinct,
          longForm("distinct", col("store_id"), lit(""),
            "n_distinct_skus", col("n_distinct_skus"))),
        longRows(topk,
          longForm("topk", col("store_id"),
            concat(col("rank").cast("string"), lit(":"), col("sku")),
            "est_count", col("est_count"))))
      (golds ++ legs).reduce(_ unionByName _)
        .orderBy(col("component"), col("key1"), col("key2"), col("metric"))
    }

  /** a69: two consecutive on-time closes over [[Close1]]/[[Close2]]. */
  def dayClose(spark: SparkSession, dir: String): DataFrame =
    close(spark, dir, "a69DayClose", closeDirs, "a69-closes",
        Seq(day0, day1, day2)) {
      Seq(
        longRows(graft.dedup.Dedup.indexMaintenance(spark, dir),
          longForm("dedup_index", col("doc_id").cast("string"),
            concat(col("verdict_before"), lit("->"), col("verdict_after")),
            "maintained", lit(1.0))),
        longRows(graft.vector.IndexCompaction.compactionApplied(spark, dir),
          longForm("vector_index", col("query_id").cast("string"),
            concat(col("rank").cast("string"), lit(":"),
              col("neighbor_id").cast("string")),
            "cosine", col("cosine"))))
    }

  /** The one close oracle: full recompute of the dated golds (the
    * a66–a68 oracles) plus the index legs' CTEs `dd`/`vx` and their
    * long-form rows. */
  private def closeSql(legs: String, ddRows: String, vxRows: String): String =
    s"""WITH roll AS (${Materialize.incrementalRollupSql()}),
       |dist AS (${Materialize.incrementalDistinctSql()}),
       |tk AS (${Materialize.incrementalTopKSql(5)}),
       |$legs
       |SELECT * FROM (
       |  SELECT 'rollup' AS component, store_id AS key1, month AS key2,
       |    'total_sales' AS metric, total_sales AS value FROM roll
       |  UNION ALL
       |  SELECT 'rollup', store_id, month, 'n_lines',
       |    CAST(n_lines AS DOUBLE) FROM roll
       |  UNION ALL
       |  SELECT 'distinct', store_id, '', 'n_distinct_skus',
       |    CAST(n_distinct_skus AS DOUBLE) FROM dist
       |  UNION ALL
       |  SELECT 'topk', store_id,
       |    CAST(rank AS VARCHAR) || ':' || sku, 'est_count',
       |    CAST(est_count AS DOUBLE) FROM tk
       |  UNION ALL
       |  $ddRows
       |  UNION ALL
       |  $vxRows
       |) ORDER BY component, key1, key2, metric""".stripMargin

  /** Full recompute of all five golds from the raw tables, same long
    * form — the one-hash certification of the whole close. */
  def dayCloseSql(): String =
    closeSql(
      s"""dd AS (${graft.dedup.Dedup.indexMaintenanceSql()}),
         |vx AS (${graft.vector.IndexCompaction.compactionAppliedSql()})""".stripMargin,
      """SELECT 'dedup_index', CAST(doc_id AS VARCHAR),
        |    verdict_before || '->' || verdict_after, 'maintained',
        |    CAST(1 AS DOUBLE) FROM dd""".stripMargin,
      """SELECT 'vector_index', CAST(query_id AS VARCHAR),
        |    CAST(rank AS VARCHAR) || ':' || CAST(neighbor_id AS VARCHAR),
        |    'cosine', cosine FROM vx""".stripMargin)

  // ---------------------------------------------------------------- a70

  /** a70's late-slice rule — k13's late feed: l_orderkey % 10 == 7,
    * restricted to facts DATED in the closed period (≤ [[Close2]]).
    * These rows miss their natural close and arrive only with close 2,
    * as a CORRECTION to already-closed days. */
  val LateMod = 10
  val LateRes = 7

  private def late: Column =
    pmod(col("l_orderkey"), lit(LateMod)) === lit(LateRes) && saleDate <= Close2

  /** a70 generation roots per (session, sfDir) — spec hook. */
  private[graft] val restateDirs =
    new graft.model.SessionMemo[String, String]()

  /** a70: the RESTATED day-close — the one nightly-pipeline event a69
    * does not exercise: a LATE fact for an ALREADY-CLOSED day. The
    * late slice (k13's feed, dated ≤ [[Close2]]) is WITHHELD from
    * close 0 and close 1 — both generations persist WITHOUT it — and
    * close 2 delivers it alongside the normal > [[Close2]] arrivals.
    * Every dated gold folds the correction through the SAME [[Fold]]
    * algebra and the same close body as its on-time arrivals —
    * restatement is a delivery-schedule change (different slice
    * predicates), never a special case — and the golds must equal full
    * recompute on the corrected facts (k13's merge-equals-recompute
    * contract, composed through two persisted generations).
    *
    * The index legs join the commit as measured RE-DELIVERY probes: the
    * restated close re-delivers the delta batch, and the PutIfAbsent
    * discipline must make that a no-op — no delta doc re-probes 'novel'
    * against the maintained dedup index ([[graft.dedup.Dedup
    * .redeliveryProbe]]), every delta vector present EXACTLY once in
    * the fold commit's live files ([[graft.vector.IndexCompaction
    * .redeliveryProbe]]). Zero loss, zero double-ingest — measured from
    * the physical bytes, predicted trivially by the oracle.
    *
    * Reference analogue: the unconditional (store, date) overwrite on
    * re-delivery, write-metrics/lambda_function.py:104. R14OpsSpec
    * replays correction-before (generation 1 must equal an on-time-only
    * recompute — the late rows are really absent) and correction-after
    * (the gold equals the full recompute). */
  def restatedClose(spark: SparkSession, dir: String): DataFrame =
    close(spark, dir, "a70RestatedClose", restateDirs, "a70-closes",
        Seq(day0 && !late, day1 && !late, day2 || late)) {
      Seq(
        longRows(graft.dedup.Dedup.redeliveryProbe(spark, dir),
          longForm("dedup_index", col("doc_id").cast("string"),
            lit("redelivered"), "not_novel", col("not_novel"))),
        longRows(graft.vector.IndexCompaction.redeliveryProbe(spark, dir),
          longForm("vector_index", col("vec_id").cast("string"),
            lit("redelivered"), "present_once", col("present_once"))))
    }

  /** Full recompute of the dated golds from the raw tables plus the
    * trivial re-delivery predictions — the one-hash certification that
    * the correction landed and the indexes did not double-ingest. */
  def restatedCloseSql(): String =
    closeSql(
      s"""dd AS (SELECT doc_id FROM documents
         |       WHERE doc_id % 10 >= ${graft.dedup.Dedup.SnapshotMod}),
         |vx AS (SELECT vec_id FROM embeddings
         |       WHERE vec_id % 10 >= ${graft.vector.IndexCompaction.SnapshotMod})""".stripMargin,
      """SELECT 'dedup_index', CAST(doc_id AS VARCHAR), 'redelivered',
        |    'not_novel', CAST(1 AS DOUBLE) FROM dd""".stripMargin,
      """SELECT 'vector_index', CAST(vec_id AS VARCHAR), 'redelivered',
        |    'present_once', CAST(1 AS DOUBLE) FROM vx""".stripMargin)
}
