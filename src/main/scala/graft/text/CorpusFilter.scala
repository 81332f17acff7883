package graft.text

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** c1: the end-to-end training-data corpus filter — the composition the
  * individual operators exist for: per document, the quality score (t2),
  * predicted language (t3), exact-dup verdict (d1) and near-dup cluster
  * verdict (d6, the transitive-closure-correct keeper decision), folded
  * into one kept/rejected decision with reasons.
  *
  * Scale posture: every input is a (doc_id, …) relation hash-partitioned
  * on doc_id — the composition is 4 equi-joins on the same key, which
  * Catalyst plans as one exchange reused across joins. At 100 TB this is
  * the nightly corpus-refresh job; the per-operator tables double as its
  * audit trail (why was this document dropped?). */
object CorpusFilter {

  /** The exact-dup verdict as a window over the text partition: d1's
    * min-id-keeper rule in one shuffle instead of groupBy + self-join —
    * same values, used by the fused c1/c2 compositions. */
  private def isExactDupCol = {
    import org.apache.spark.sql.expressions.Window
    col("doc_id") =!= min(col("doc_id")).over(Window.partitionBy("text"))
  }

  def corpusFilter(spark: SparkSession, dir: String,
                   minQuality: Long = 50L): DataFrame = {
    // FUSED single-pass form of the audit-trail composition: the quality
    // rubric (t2) and language argmax (t3) are per-row expressions, so
    // they compute inline on the tokenize-once silver — no joins, no
    // re-scans; the exact-dup verdict (d1) is one min-over-text window;
    // only the near-dup cluster verdict (d6) joins a precomputed
    // relation (the memoized CC labels — doc-count-sized). Values are
    // identical to the per-operator relations; the unchanged oracle SQL
    // (which still composes the t2/t3/d1/d6 CTEs) is the proof.
    val clusters = Dedup.dupClusters(spark, dir)
      .select(col("doc_id"),
        (col("cluster_id") =!= col("doc_id")).as("is_near_dup_loser"))
    Corpus.docsTok(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.qualityScoreColOf(col("words")).as("quality_score"),
        TextAnalysis.langPredCol.as("lang_pred"),
        isExactDupCol.as("is_exact_dup"))
      .join(clusters, Seq("doc_id"))
      .withColumn("kept",
        col("quality_score") >= minQuality &&
          !col("is_exact_dup") && !col("is_near_dup_loser"))
      .select(col("doc_id"), col("quality_score"), col("lang_pred"),
        col("is_exact_dup"), col("is_near_dup_loser"), col("kept"))
      .orderBy(col("doc_id"))
  }

  def corpusFilterSql(minQuality: Long = 50L): String =
    s"""WITH quality AS (
       |  SELECT doc_id, quality_score FROM (${TextAnalysis.qualityScoreSql})),
       |lang AS (
       |  SELECT doc_id, lang_pred FROM (${TextAnalysis.langIdSql})),
       |exact AS (
       |  SELECT doc_id, is_duplicate AS is_exact_dup FROM (${Dedup.exactDedupSql})),
       |clusters AS (
       |  SELECT doc_id, cluster_id <> doc_id AS is_near_dup_loser
       |  FROM (${Dedup.dupClustersSql()}))
       |SELECT q.doc_id, q.quality_score, l.lang_pred,
       |  e.is_exact_dup, c.is_near_dup_loser,
       |  (q.quality_score >= $minQuality AND NOT e.is_exact_dup
       |    AND NOT c.is_near_dup_loser) AS kept
       |FROM quality q
       |JOIN lang l USING (doc_id)
       |JOIN exact e USING (doc_id)
       |JOIN clusters c USING (doc_id)
       |ORDER BY q.doc_id""".stripMargin

  /** c2: the full corpus ASSEMBLY line as one relation — quality gate
    * (t2), exact dedup (d1), benchmark decontamination (d12), then for
    * every kept document the train/val/test split (p7) and the
    * concat-and-chunk packing offsets (p8). This is the end-to-end
    * "documents in, training shards out" job; the per-operator keys
    * double as its audit trail. Same scale shape as c1 (equi-joins on
    * doc_id, one exchange) plus p8's bounded (split, lang, shard)
    * packing windows. Non-kept docs carry '' / -1 sentinels (never
    * nulls — deterministic hash compare). */
  def corpusBuild(spark: SparkSession, dir: String,
                  minQuality: Long = 50L, budget: Long = 512L): DataFrame = {
    val base = corpusBase(spark, dir, minQuality)
    val packed = packedKeptFrom(base, budget)
      .select("doc_id", "split", "offset_start", "window_id")
    base.join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_score"), col("n_tokens"),
        col("is_exact_dup"), col("is_contaminated"), col("is_benchmark"),
        col("kept"),
        coalesce(col("split"), lit("")).as("split"),
        coalesce(col("offset_start"), lit(-1L)).as("offset_start"),
        coalesce(col("window_id"), lit(-1L)).as("window_id"))
      .orderBy(col("doc_id"))
  }

  /** c2's verdict base: per-doc quality/dup/contamination/benchmark
    * flags and the kept decision. Fused like [[corpusFilter]]: quality
    * inline, exact-dup as a window; only the decontamination verdict
    * (d12, a shingle-level aggregate) remains a join. */
  private def corpusBase(spark: SparkSession, dir: String,
                         minQuality: Long): DataFrame =
    graft.model.Silver.memoize(spark, s"corpusBase:$minQuality", dir) {
      val contam = CorpusPrep.contamination(spark, dir)
        .select(col("doc_id"), col("is_contaminated"))
      Corpus.docsTok(spark, dir)
        .select(col("doc_id"), col("lang"),
          size(col("words")).cast("long").as("n_tokens"),
          TextAnalysis.qualityScoreColOf(col("words")).as("quality_score"),
          isExactDupCol.as("is_exact_dup"))
        .join(contam, Seq("doc_id"), "left")
        .withColumn("is_contaminated", coalesce(col("is_contaminated"), lit(false)))
        .withColumn("is_benchmark", col("doc_id") % 97 === 0)
        .withColumn("kept",
          col("quality_score") >= minQuality && !col("is_exact_dup") &&
            !col("is_contaminated") && !col("is_benchmark"))
    }

  /** The kept-and-packed relation — THE single definition of the shard
    * layout (split rule, shard = doc_id div 64, running pack offsets,
    * window ids), consumed by [[corpusBuild]] (projected), by
    * [[writeShards]] (the directory layout), and by [[shardManifest]]
    * (the loader contract) so the three can never drift. */
  private def packedKeptFrom(base: org.apache.spark.sql.DataFrame,
                             budget: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = CorpusPrep.splitBucket(col("doc_id"))
    val w = Window.partitionBy("split", "lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.filter(col("kept"))
      .withColumn("split",
        when(bucket < 900L, "train").when(bucket < 950L, "val").otherwise("test"))
      .withColumn("shard", expr("doc_id div 64"))
      .withColumn("offset_start", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("window_id", expr(s"offset_start div $budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("split"),
        col("shard"), col("offset_start"), col("window_id"))
  }

  private[text] def corpusBuildKept(spark: SparkSession, dir: String,
                                    minQuality: Long = 50L,
                                    budget: Long = 512L): org.apache.spark.sql.DataFrame =
    // the shard-layout silver: x7/x9/p16/writeShards all consume it, so
    // the handle is registered once per params —
    // the same planning-cost class the rollupDec/trendDirection
    // memoization closed in round 5
    graft.model.Silver.memoize(spark,
        s"corpusBuildKept:$minQuality:$budget", dir) {
      packedKeptFrom(corpusBase(spark, dir, minQuality), budget)
    }

  def corpusBuildSql(minQuality: Long = 50L, budget: Long = 512L): String =
    s"""WITH quality AS (
       |  SELECT doc_id, quality_score FROM (${TextAnalysis.qualityScoreSql})),
       |exact AS (
       |  SELECT doc_id, is_duplicate AS is_exact_dup FROM (${Dedup.exactDedupSql})),
       |contam AS (
       |  SELECT doc_id, is_contaminated FROM (${CorpusPrep.contaminationSql})),
       |base AS (
       |  SELECT d.doc_id, d.lang,
       |    CAST(len(${Corpus.wordsSqlExpr}) AS BIGINT) AS n_tokens,
       |    q.quality_score, e.is_exact_dup,
       |    COALESCE(c.is_contaminated, false) AS is_contaminated,
       |    d.doc_id % 97 = 0 AS is_benchmark,
       |    (q.quality_score >= $minQuality AND NOT e.is_exact_dup
       |      AND NOT COALESCE(c.is_contaminated, false)
       |      AND NOT (d.doc_id % 97 = 0)) AS kept
       |  FROM documents d
       |  JOIN quality q USING (doc_id)
       |  JOIN exact e USING (doc_id)
       |  LEFT JOIN contam c USING (doc_id)),
       |keptd AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CASE WHEN ${CorpusPrep.splitBucketSql} < 900 THEN 'train'
       |         WHEN ${CorpusPrep.splitBucketSql} < 950 THEN 'val'
       |         ELSE 'test' END AS split,
       |    doc_id // 64 AS shard
       |  FROM base WHERE kept),
       |packed AS (
       |  SELECT doc_id, split,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY split, lang, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS offset_start
       |  FROM keptd)
       |SELECT b.doc_id, b.quality_score, b.n_tokens, b.is_exact_dup,
       |  b.is_contaminated, b.is_benchmark, b.kept,
       |  COALESCE(p.split, '') AS split,
       |  CAST(COALESCE(p.offset_start, -1) AS BIGINT) AS offset_start,
       |  CAST(COALESCE(p.offset_start // $budget, -1) AS BIGINT) AS window_id
       |FROM base b LEFT JOIN packed p USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** The corpus-build SINK: write the kept documents as Hive-partitioned
    * training shards (`split=/lang=` directories), each file sorted by
    * (shard, window_id, offset) so a trainer reads context windows
    * sequentially. `repartition(split, lang)` puts one partition-dir's
    * data in one task (no small-file explosion across 32 writers);
    * at 100 TB you'd widen the key with p8's shard column — already in
    * the data — to bound task size. Dynamic partition overwrite keeps
    * re-runs idempotent per partition (same contract as
    * [[graft.ingest.Ingest.writeLake]]). */
  def writeShards(spark: SparkSession, dir: String, outDir: String): Unit = {
    val docs = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), col("text"))
    corpusBuildKept(spark, dir)
      .withColumn("lang_part", col("lang"))
      .join(docs, Seq("doc_id"))
      .select(col("split"), col("lang_part"), col("doc_id"), col("shard"),
        col("window_id"), col("offset_start"), col("n_tokens"), col("text"))
      .repartition(col("split"), col("lang_part"))
      .sortWithinPartitions(col("shard"), col("window_id"), col("offset_start"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("split", "lang_part")
      .parquet(outDir)
  }

  /** x7: the TRAINING-SHARD MANIFEST — what a trainer's data loader
    * reads before touching any shard: one row per (split, lang, shard)
    * with document/window/token counts and the doc-id range, composed
    * from c2's build relation (same kept rule, same packing windows).
    * This is the ops contract of [[writeShards]]'s directory layout as
    * an oracle-checked relation: a loader can size its prefetch and
    * validate shard completeness from this table alone. Shard-count-
    * bounded output; one aggregate over the kept docs. */
  def shardManifest(spark: SparkSession, dir: String,
                    minQuality: Long = 50L, budget: Long = 512L): DataFrame = {
    corpusBuildKept(spark, dir, minQuality, budget)
      .groupBy("split", "lang", "shard")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("window_id")).as("n_windows"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("split", "lang", "shard")
  }

  def shardManifestSql(minQuality: Long = 50L, budget: Long = 512L): String =
    s"""WITH c2 AS (${corpusBuildSql(minQuality, budget)}),
       |k AS (
       |  SELECT c.doc_id, c.n_tokens, c.split, c.window_id, d.lang,
       |    c.doc_id // 64 AS shard
       |  FROM c2 c JOIN documents d USING (doc_id)
       |  WHERE c.kept)
       |SELECT split, lang, shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT window_id) AS BIGINT) AS n_windows,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS first_doc,
       |  MAX(doc_id) AS last_doc
       |FROM k GROUP BY split, lang, shard
       |ORDER BY split, lang, shard""".stripMargin

  /** p16: SHARD-REBALANCE PLANNER — given x7's manifest, the minimal
    * token-movement plan that equalizes shard sizes within each split:
    * the re-shard job a 100 TB corpus runs when organic growth has
    * skewed its shards (straggler tasks, uneven prefetch) without
    * rewriting the balanced majority. Tokens are modeled as one global
    * sequence in shard order; shard i currently owns the interval
    * [cum_{i-1}, cum_i) and SHOULD own [total·i/n, total·(i+1)/n) (exact
    * integer bounds that sum to total by construction — no rounding
    * drift); every (current, desired) interval OVERLAP that crosses
    * shards is a move row. This is the optimal one-dimensional plan:
    * each token moves at most once, contiguity is preserved, and rows
    * where from = to (flagged stay) are the untouched majority.
    *
    * Scale shape: two |shards|-bounded window passes (cumsum + index,
    * riding one split exchange) and an interval self-join on the
    * |shards|-sized relation — the plan is metadata-sized however big
    * the corpus; executing it is writeShards' job. */
  def shardRebalance(spark: SparkSession, dir: String,
                     minQuality: Long = 50L, budget: Long = 512L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perShard = shardManifest(spark, dir, minQuality, budget)
      .groupBy(col("split"), col("shard"))
      .agg(sum(col("n_tokens")).as("n_tokens"))
    val w = Window.partitionBy(col("split")).orderBy(col("shard"))
    val cur = perShard
      .withColumn("cur_end", sum(col("n_tokens")).over(w))
      .withColumn("cur_start", col("cur_end") - col("n_tokens"))
      .withColumn("idx", row_number().over(w) - 1)
      .withColumn("n_shards",
        count(lit(1)).over(Window.partitionBy(col("split"))))
      .withColumn("total",
        sum(col("n_tokens")).over(Window.partitionBy(col("split"))))
    val des = cur.select(col("split"), col("shard").as("to_shard"),
      expr("total * idx div n_shards").as("des_start"),
      expr("total * (idx + 1) div n_shards").as("des_end"))
    cur.select(col("split"), col("shard").as("from_shard"),
        col("cur_start"), col("cur_end"))
      .join(des, Seq("split"))
      .filter(col("cur_start") < col("des_end") &&
        col("des_start") < col("cur_end"))
      .select(col("split"), col("from_shard"), col("to_shard"),
        (least(col("cur_end"), col("des_end")) -
          greatest(col("cur_start"), col("des_start"))).as("n_tokens"),
        (col("from_shard") =!= col("to_shard")).as("is_move"))
      .orderBy(col("split"), col("from_shard"), col("to_shard"))
  }

  def shardRebalanceSql(minQuality: Long = 50L, budget: Long = 512L): String =
    s"""WITH m AS (${shardManifestSql(minQuality, budget)}),
       |per_shard AS (
       |  SELECT split, shard, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |  FROM m GROUP BY split, shard),
       |cur AS (
       |  SELECT split, shard, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY split ORDER BY shard
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cur_end,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY split ORDER BY shard
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS cur_start,
       |    ROW_NUMBER() OVER (PARTITION BY split ORDER BY shard) - 1 AS idx,
       |    COUNT(*) OVER (PARTITION BY split) AS n_shards,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY split) AS BIGINT) AS total
       |  FROM per_shard),
       |des AS (
       |  SELECT split, shard AS to_shard,
       |    total * idx // n_shards AS des_start,
       |    total * (idx + 1) // n_shards AS des_end
       |  FROM cur)
       |SELECT c.split, c.shard AS from_shard, d.to_shard,
       |  CAST(LEAST(c.cur_end, d.des_end)
       |    - GREATEST(c.cur_start, d.des_start) AS BIGINT) AS n_tokens,
       |  c.shard <> d.to_shard AS is_move
       |FROM cur c JOIN des d
       |  ON c.split = d.split
       |  AND c.cur_start < d.des_end AND d.des_start < c.cur_end
       |ORDER BY c.split, from_shard, to_shard""".stripMargin
}
