package graft.vector

import graft.model.{Silver, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** v34: LEADING PRINCIPAL COMPONENT by distributed power iteration —
  * the PCA/whitening step real curation pipelines run on embedding
  * corpora (SemDeDup's clustering and OOD scoring both standardly
  * follow a PCA projection; the dominant direction is also the
  * de-biasing target in "all-but-the-top" embedding post-processing).
  * Computes the dominant eigenvector of the CENTERED covariance
  * direction via v ← Xᶜᵀ(Xᶜ v), `iters` rounds, WITHOUT ever
  * materializing the d×d Gram matrix — the two matrix-vector products
  * per round are plain join+agg over the long-form (row, dim, value)
  * relation, which is exactly how power iteration distributes at
  * 100 TB (the e27 PageRank kernel on a dense bipartite graph).
  *
  * ENGINE-PORTABLE FIXED POINT (the e27/t13 discipline — no doubles
  * anywhere past the input quantization):
  *  - inputs quantize to milli units: xq = FLOOR(x·1000) — both
  *    engines compute the identical double (exact float→double, one
  *    IEEE multiply) so the floor agrees bit-for-bit;
  *  - per-dim mean in milli by truncating division (sign/abs form, so
  *    Spark's truncating DIV and DuckDB's flooring // agree on
  *    negatives — the Flatten money-rendering lesson);
  *  - the iterate and the row-projection are rescaled to 1e4 fixed
  *    point after every half-step via a 1-row max-|·| aggregate
  *    (q = max DIV 1e4 + 1, value DIV q): every intermediate stays
  *    inside BIGINT for any corpus size (|c·s| ≤ 1e3·1e4·n), every
  *    division is on non-negative operands;
  *  - sum-of-BIGINT aggregates are exact and order-independent, so
  *    partition layout can never change a digit.
  *  - sign fixed deterministically: the lowest-indexed nonzero
  *    component is made positive (eigenvectors are sign-ambiguous).
  *
  * Scale shape: the long form is fact-sized and a session silver
  * (8 reuses across 4 iterations — one materialization, shallow
  * consumer plans); the iterate v (d rows), the rescale quotients
  * (1 row each) and the sign (1 row) broadcast; s is row-count-sized
  * and meets the long form in a key-partitioned join. Each HALF-step
  * is one [[Silver.iterate]] round whose leaf is the raw product (sraw
  * per row, then wraw per dim): the next half-step reads it twice (its
  * rescale max and its quotient), so a leaf pays each fact pass once.
  * Per iteration: two fact-relation joins + two aggregates — the
  * minimum any distributed implementation pays. The component is a
  * silver keyed by `iters`. PcaSpec certifies the direction
  * against an in-process double-precision power iteration (cosine)
  * and the oracle re-runs the whole fixed-point chain in DuckDB. */
object Pca {

  /** Truncating (toward-zero) integer division as a portable SQL
    * fragment. Both Spark `DIV` and DuckDB `//` already truncate toward
    * zero (verified: -7 // 2 = -3 in DuckDB); the explicit sign/abs form
    * is kept for clarity and as defense against engines that floor. */
  private def truncDiv(num: String, den: String, div: String): String =
    s"CASE WHEN $num < 0 THEN -((-($num)) $div $den) ELSE ($num) $div $den END"

  def leadingComponent(spark: SparkSession, dir: String,
                       iters: Int = 4): DataFrame =
    Silver.memoize(spark, s"pcaComponent:$iters", dir) {
      val xl = Tables.embeddings(spark, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)").as("xq"))
      val mu = xl.groupBy(col("pos"))
        .agg(sum(col("xq")).as("sx"), count(lit(1)).as("n"))
        .select(col("pos"), expr(truncDiv("sx", "n", "DIV")).as("mu"))
      // the centered long form, hash-partitioned by vec_id BEFORE it
      // becomes a silver leaf: the leaf keeps its outputPartitioning, so
      // each iteration's groupBy(vec_id) and the long⋈s vec_id join reuse
      // this ONE exchange instead of re-shuffling the fact relation twice
      // per round (guide §2.4: operations keyed the same way share one
      // exchange) — 8 fact exchanges drop to 1 at iters = 4
      val long = Silver.memoize(spark, "pcaCentered", dir) {
        xl.join(broadcast(mu), "pos")
          .select(col("vec_id"), col("pos"), (col("xq") - col("mu")).as("c"))
          .repartition(col("vec_id"))
      }
      // `key`-keyed raw values rescaled to 1e4 fixed point as `out`
      def rescaled(raw: DataFrame, key: String, out: String): DataFrame =
        raw.crossJoin(broadcast(raw.agg(expr("MAX(ABS(raw)) DIV 10000 + 1").as("q"))))
          .select(col(key), expr(truncDiv("raw", "q", "DIV")).as(out))
      val v0 = long.select(col("pos")).distinct()
        .select(col("pos"), lit(10000L).as("v"))
      // odd rounds project the rows on v (sraw per vec_id), even rounds
      // fold the rescaled projections back onto the dims (wraw per pos);
      // v0 is 1e4 in every dim, so round 1 needs no join
      val halves = Silver.iterate(v0, 2 * iters) { (prev, i) =>
        if (i % 2 == 1) {
          val proj = if (i == 1) long.withColumn("v", lit(10000L))
            else long.join(broadcast(rescaled(prev, "pos", "v")), "pos")
          proj.groupBy(col("vec_id")).agg(sum(col("c") * col("v")).as("raw"))
        } else {
          long.join(rescaled(prev, "vec_id", "s"), "vec_id")
            .groupBy(col("pos")).agg(sum(col("c") * col("s")).as("raw"))
        }
      }()
      val v = if (iters == 0) halves.last else rescaled(halves.last, "pos", "v")
      val sgn = v.where(col("v") =!= 0L)
        .agg(coalesce(min(struct(col("pos"), col("v"))).getField("v"), lit(1L)).as("lead"))
        .select(when(col("lead") < 0L, -1L).otherwise(1L).as("f"))
      v.crossJoin(broadcast(sgn))
        .select(col("pos"), (col("f") * col("v")).as("component_e4"))
    }.orderBy(col("pos"))

  def leadingComponentSql(iters: Int = 4): String = {
    def iterCte(prev: String, k: Int): String =
      s"""sr$k AS (
         |  SELECT vec_id, CAST(SUM(c * v) AS BIGINT) AS sraw
         |  FROM long JOIN $prev USING (pos) GROUP BY vec_id),
         |qs$k AS (SELECT MAX(ABS(sraw)) // 10000 + 1 AS q FROM sr$k),
         |s$k AS (
         |  SELECT vec_id, ${truncDiv("sraw", "q", "//")} AS s
         |  FROM sr$k CROSS JOIN qs$k),
         |wr$k AS (
         |  SELECT pos, CAST(SUM(c * s) AS BIGINT) AS wraw
         |  FROM long JOIN s$k USING (vec_id) GROUP BY pos),
         |qw$k AS (SELECT MAX(ABS(wraw)) // 10000 + 1 AS q FROM wr$k),
         |v$k AS (
         |  SELECT pos, ${truncDiv("wraw", "q", "//")} AS v
         |  FROM wr$k CROSS JOIN qw$k)""".stripMargin
    val chain = (1 to iters).map(k => iterCte(if (k == 1) "v0" else s"v${k - 1}", k))
      .mkString(",\n")
    s"""WITH xl AS (
       |  SELECT vec_id, CAST(pos AS BIGINT) AS pos,
       |    CAST(FLOOR(CAST(embedding[pos + 1] AS DOUBLE) * 1000.0) AS BIGINT) AS xq
       |  FROM (SELECT vec_id, embedding,
       |          unnest(range(0, len(embedding))) AS pos
       |        FROM embeddings)),
       |mu AS (
       |  SELECT pos, ${truncDiv("sx", "n", "//")} AS mu FROM (
       |    SELECT pos, CAST(SUM(xq) AS BIGINT) AS sx,
       |      CAST(COUNT(*) AS BIGINT) AS n
       |    FROM xl GROUP BY pos)),
       |long AS (
       |  SELECT vec_id, xl.pos, xq - mu AS c
       |  FROM xl JOIN mu ON xl.pos = mu.pos),
       |v0 AS (SELECT DISTINCT pos, CAST(10000 AS BIGINT) AS v FROM long),
       |$chain,
       |sgn AS (
       |  SELECT CASE WHEN COALESCE(arg_min(v, pos), 1) < 0
       |    THEN -1 ELSE 1 END AS f
       |  FROM v$iters WHERE v <> 0)
       |SELECT pos, CAST(f * v AS BIGINT) AS component_e4
       |FROM v$iters CROSS JOIN sgn
       |ORDER BY pos""".stripMargin
  }
}
