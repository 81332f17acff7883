package graft.text

import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CORPUS SAMPLING — the draw step of training-data assembly (the mix
  * planners m1/m5/p9 compute *rates*; these keys materialize the actual
  * sample, deterministically, so both engines agree row-for-row).
  *
  *  - smp1: STRATIFIED sample with EXACT largest-remainder (Hamilton)
  *    apportionment: per-(lang, source) stratum quotas n_h summing to
  *    exactly `budget` (floor share + the largest fractional remainders
  *    get the leftovers — the apportionment rule that never strands
  *    budget and never rounds a stratum past its share by more than 1),
  *    then the n_h hash-smallest docs of each stratum. "k smallest of a
  *    uniform hash" IS a uniform random sample — and unlike rand() it
  *    is reproducible, engine-portable, and MERGEABLE: the k smallest
  *    of a union are found among the k smallest of each part, so
  *    per-partition partial top-k composes to the global sample with no
  *    second scan (SamplingSpec certifies the merge identity; the same
  *    argument that makes sk13's KMV sketch mergeable).
  *  - smp2: WEIGHTED sample without replacement by INTEGER VIRTUAL
  *    TICKETS: a doc of weight w holds tickets j ∈ [0, w); its draw key
  *    is the min ticket hash, and the global k smallest keys win.
  *    P(doc in sample) rises with w exactly as in
  *    Efraimidis–Spirakis A-ES (key = u^(1/w)) — but the ticket form
  *    stays in INTEGER arithmetic end-to-end, so the oracle hash-match
  *    certifies it (A-ES's pow/log doubles would diverge in the last
  *    ulp across libm implementations). Weights here are the doc-length
  *    band GREATEST(1, LEAST(16, n_chars DIV 64)); any integer weight
  *    (dup count, quality tier, domain boost) plugs in unchanged.
  *
  * Scale posture: smp1's per-stratum ranking is the row_number window
  * form GroupTopKRewrite lifts into the bounded heap operator (state ≤
  * budget per stratum, never a full stratum sort); the apportionment
  * runs on the |strata|-sized rollup and broadcasts back. smp2's ticket
  * min is a per-row map (w ≤ 16 hash evals fused into whole-stage
  * codegen — never an explode) and the global draw is
  * TakeOrderedAndProject: per-partition k-heaps merged on the driver,
  * no global sort, no shuffle of non-winners. Both samples are
  * idempotent under re-runs and stable under repartitioning because the
  * randomness is a pure function of doc_id.
  *
  * Reference analogue: none (the reference pipeline has no sampling
  * stage) — this extends the curation-pipeline family (p7 splits, m1/p9
  * mixing) with the draw primitives a 100 TB corpus needs.
  */
object Sampling {

  private val P = 1000000007L // house modulus (see CorpusPrep.splitBucket)
  private val A = 2654435761L // Knuth multiplicative constant
  private val M = 999999937L  // rank modulus, coprime to P

  /** Uniform draw rank of a doc id: integer, engine-portable, dense
    * enough that ties are broken by doc_id only pathologically. */
  private def hrank(docId: Column): Column =
    pmod(pmod(docId, lit(P)) * lit(A), lit(M))

  private def hrankSql(idCol: String): String =
    s"(($idCol % $P) * $A) % $M"

  /** smp1: exact-quota stratified sample, `budget` docs total. The
    * apportionment table is a memoized leaf: quotas/leftover/extra all
    * derive from ONE strata rollup (without the leaf, each crossJoin
    * branch would re-aggregate — three full corpus scans at 100 TB). */
  def stratifiedSample(spark: SparkSession, dir: String,
                       budget: Int = 150): DataFrame =
    apportionedDraw(spark, dir, budget, sqrtWeight = false)

  /** Shared machinery of smp1/smp3: Hamilton-apportion `budget` over the
    * strata by the rollup's `n_docs` (by its [[isqrt]] under
    * `sqrtWeight`), then draw each stratum's quota of hash-smallest
    * docs. */
  private def apportionedDraw(spark: SparkSession, dir: String, budget: Int,
                              sqrtWeight: Boolean): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val alloc = graft.model.Silver.memoize(spark, s"samplingAlloc:$budget:$sqrtWeight", dir) {
      val strata = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w", if (sqrtWeight) isqrt(col("n_docs")) else col("n_docs"))
      val tot = strata.agg(sum(col("w")).as("w_total"))
      val quotas = strata.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"$budget * w DIV w_total"))
        .withColumn("rem", expr(s"($budget * w) % w_total"))
      val leftover = quotas.agg((lit(budget.toLong) - sum(col("base"))).as("leftover"))
      quotas.crossJoin(broadcast(leftover))
        .withColumn("rrank", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"), col("source"))))
        .withColumn("n_alloc",
          col("base") + when(col("rrank") <= col("leftover"), 1L).otherwise(0L))
        .select(col("lang"), col("source"), col("n_alloc"))
    }
    val ranked = docs
      .withColumn("draw_rank", row_number().over(
        Window.partitionBy(col("lang"), col("source"))
          .orderBy(hrank(col("doc_id")), col("doc_id"))))
      .filter(col("draw_rank") <= budget) // constant bound -> heap regime
    ranked.join(broadcast(alloc), Seq("lang", "source"))
      .filter(col("draw_rank") <= col("n_alloc"))
      .select(col("lang"), col("source"), col("doc_id"), col("n_chars"),
        col("draw_rank").cast("long").as("draw_rank"))
      .orderBy(col("lang"), col("source"), col("draw_rank"))
  }

  /** Exact integer square root: floor(sqrt(n)) from the double sqrt with
    * a ±1 correction, so the boundary cases (perfect squares, doubles
    * rounding up) can never disagree across engines. */
  private def isqrt(n: Column): Column = {
    val f = floor(sqrt(n.cast("double"))).cast("long")
    f + when((f + 1) * (f + 1) <= n, 1L).otherwise(0L) -
      when(f * f > n, 1L).otherwise(0L)
  }

  private def isqrtSql(n: String): String = {
    val f = s"CAST(FLOOR(SQRT(CAST($n AS DOUBLE))) AS BIGINT)"
    s"($f + (CASE WHEN ($f + 1) * ($f + 1) <= $n THEN 1 ELSE 0 END)" +
      s" - (CASE WHEN $f * $f > $n THEN 1 ELSE 0 END))"
  }

  /** smp3: TEMPERATURE-BALANCED mixture draw, τ = 1/2 — the multilingual
    * up-sampling rule (rates ∝ n_h^τ; mT5/XLM-R's low-resource boost)
    * with the exponent computed in EXACT INTEGER arithmetic: the stratum
    * weight is isqrt(n_docs) (double sqrt + ±1 correction = true floor
    * square root, never an engine-divergent ulp), apportioned by the
    * same Hamilton rule as smp1. Head strata shrink relative to their
    * proportional share, tail strata grow — SamplingSpec asserts the
    * crossover against smp1 on the same budget. Scale shape identical to
    * smp1: dimension-sized alloc leaf, per-stratum bounded heap, no
    * full-stratum sort. */
  def temperatureMix(spark: SparkSession, dir: String,
                     budget: Int = 150): DataFrame =
    apportionedDraw(spark, dir, budget, sqrtWeight = true)

  def stratifiedSampleSql(budget: Int = 150): String =
    apportionedDrawSql(budget, "n_docs")

  def temperatureMixSql(budget: Int = 150): String =
    apportionedDrawSql(budget, isqrtSql("n_docs"))

  private def apportionedDrawSql(budget: Int, weight: String): String =
    s"""WITH strata AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1, 2),
       |wstrata AS (
       |  SELECT lang, source, $weight AS w FROM strata),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS n_total FROM wstrata),
       |quotas AS (
       |  SELECT lang, source, w,
       |    ($budget * w) // n_total AS base,
       |    ($budget * w) % n_total AS rem
       |  FROM wstrata CROSS JOIN tot),
       |l AS (SELECT $budget - CAST(SUM(base) AS BIGINT) AS leftover FROM quotas),
       |alloc AS (
       |  SELECT lang, source,
       |    base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang, source)
       |      <= leftover THEN 1 ELSE 0 END AS n_alloc
       |  FROM quotas CROSS JOIN l),
       |ranked AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY lang, source
       |      ORDER BY ${hrankSql("doc_id")}, doc_id) AS draw_rank
       |  FROM documents)
       |SELECT r.lang, r.source, r.doc_id, r.n_chars,
       |  CAST(r.draw_rank AS BIGINT) AS draw_rank
       |FROM ranked r JOIN alloc a ON r.lang = a.lang AND r.source = a.source
       |WHERE r.draw_rank <= a.n_alloc
       |ORDER BY r.lang, r.source, draw_rank""".stripMargin

  /** smp2: weighted ticket sample — k global winners by min ticket hash. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 200): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .withColumn("weight", expr("GREATEST(1L, LEAST(16L, n_chars DIV 64))"))
    val ticket = transform(
      sequence(lit(0L), col("weight") - 1),
      j => pmod(pmod(pmod(col("doc_id"), lit(P)) * lit(1000003L) + j, lit(P)) *
        lit(A), lit(M)))
    docs.withColumn("draw_key", array_min(ticket))
      .orderBy(col("draw_key"), col("doc_id")) // TakeOrderedAndProject with the limit
      .limit(k)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("weight"), col("draw_key"))
  }

  def weightedSampleSql(k: Int = 200): String =
    s"""SELECT doc_id, lang, source, n_chars, weight,
       |  list_min(list_transform(range(0, weight),
       |    j -> (((doc_id % $P) * 1000003 + j) % $P * $A) % $M)) AS draw_key
       |FROM (
       |  SELECT doc_id, lang, source, n_chars,
       |    GREATEST(1, LEAST(16, n_chars // 64)) AS weight
       |  FROM documents)
       |ORDER BY draw_key, doc_id LIMIT $k""".stripMargin
}
