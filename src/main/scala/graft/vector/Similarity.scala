package graft.vector

import graft.model.{Silver, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector-similarity operators over the `embeddings` table (vec_id,
  * embedding: array<float>, label): brute-force cosine top-k, an
  * LSH-bucketed ANN variant, and embedding-cosine near-dup.
  *
  * FLOAT-PARITY DESIGN: every dot product is a strict left-to-right fold
  * over the element list in double precision — Spark `aggregate(zip_with)`
  * and DuckDB `list_reduce` both evaluate sequentially in list order, so
  * the IEEE result is bit-identical (see [[graft.model.Tables]] doc: never
  * a SUM over rows of doubles, and never an engine-internal vectorized
  * summation whose accumulation order we don't control).
  *
  * Scale posture:
  *  - v1 broadcast: the query set is small by construction; brute force is
  *    a broadcast nested loop — scan-speed over any number of candidate
  *    vectors, no shuffle of the big side.
  *  - v2 buckets both sides by deterministic sign-bit LSH (axis-aligned
  *    hyperplanes): candidates shrink ~2^nbits-fold and the join is a hash
  *    join on the bucket key — the IVF-style cell-local search pattern.
  *  - v3 near-dup partitions by the coarse label (IVF cell): pairwise work
  *    is cell-local, never corpus-quadratic.
  */
object Similarity {

  /** Query-set size for the ANN/recall/ADC family: queries are the
    * first `nQueries` vec_ids. Parameterized everywhere (no literal
    * query-set predicates); the harness keys use this default. */
  val defaultNQueries = 10

  /** Strict sequential dot product of two float vectors, in double —
    * the native codegen'd [[graft.functions.VectorDot]] expression (one
    * fused loop per row inside WholeStageCodegen). Bit-identical to
    * [[dotColHof]], which stays as the built-ins-only reference
    * implementation (their equality is a unit test). */
  def dotCol(x: Column, y: Column): Column =
    graft.functions.VectorDot.vectorDot(x, y)

  /** Higher-order-function formulation (`aggregate(zip_with(...))`) —
    * same fold order, kept for cross-checking the native expression. */
  def dotColHof(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** DuckDB twin of [[dotCol]]: index comprehension + sequential
    * list_reduce (NOT list_sum / list_dot_product — their accumulation
    * order is an implementation detail). */
  def dotSql(x: String, y: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) for i in range(1, len($x) + 1)]), " +
      "(acc, v) -> acc + v)"

  /** Per-dimension (min, max) over the embedding corpus, collected ONCE
    * per (session, dir) — the shared quantizer statistics. Four keys
    * (the int8 reconstruction silver, v5's quantizer, v19's sign codes,
    * v29's geometry grid) previously re-ran this identical
    * dimension-sized posexplode aggregate; the collect is bounded by
    * |dims| rows, and at 100 TB it is a persisted stats table computed
    * at index-build time, not a per-query pass. */
  private val dimStatsMemo =
    new graft.model.SessionMemo[String, Array[(Double, Double)]]()

  private[vector] def dimStats(spark: SparkSession,
                               dir: String): Array[(Double, Double)] =
    dimStatsMemo.getOrElseUpdate((spark, dir),
      Tables.embeddings(spark, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(min(col("x").cast("double")).as("dmin"),
          max(col("x").cast("double")).as("dmax"))
        .orderBy("pos")
        .collect()
        .map(r => (r.getDouble(1), r.getDouble(2))))

  /** Embeddings with the precomputed squared norm (one pass, reused by
    * every pairwise cosine — norms are never recomputed per pair). */
  private[vector] def withNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .withColumn("norm2", dotCol(col("embedding"), col("embedding")))

  private[vector] val withNormSql: String =
    s"""SELECT vec_id, embedding, label,
       |  ${dotSql("embedding", "embedding")} AS norm2
       |FROM embeddings""".stripMargin

  private[vector] def cosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot / sqrt(n2a * n2b)

  /** v1: brute-force cosine top-k — query vectors (vec_id < $nQueries) broadcast
    * against every candidate; row_number window per query. The exhaustive
    * baseline every ANN variant is measured against. */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = 5,
                 nQueries: Int = defaultNQueries): DataFrame = {
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("norm2").as("q_norm2"))
    val pairs = broadcast(q).crossJoin(
        e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
          col("norm2").as("n_norm2")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosine(dotCol(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def cosineTopKSql(k: Int = 5, nQueries: Int = defaultNQueries): String =
    s"""WITH e AS ($withNormSql),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    ${dotSql("q.embedding", "n.embedding")}
       |      / sqrt(q.norm2 * n.norm2) AS cosine
       |  FROM e q JOIN e n ON q.vec_id < $nQueries AND q.vec_id <> n.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, cosine
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** v30: ROCCHIO pseudo-relevance-feedback expansion — the classic
    * query-refinement loop run fully relationally: take v1's top-k as
    * presumed-relevant, move each query toward their centroid
    * (q′ = q + β·centroid), and rerank the corpus under q′. The list
    * a retrieval team reads to judge whether one feedback round helps
    * (the `in_feedback` flag separates re-confirmed seeds from newly
    * surfaced neighbors).
    *
    * FP determinism: the centroid fold is ORDER-FIXED — neighbor
    * vectors are folded in rank order (collect → sort by rank → strict
    * left fold per dimension), and the expansion is one fixed op chain
    * per dimension (`q + β·(sum/k)`), so doubles hash-compare across
    * engines exactly like v1's strict-fold dots. Scale shape: feedback
    * relations are (nQueries·k)-sized and broadcast; the rerank is
    * v1's broadcast loop — the corpus is scanned once, never joined to
    * itself. */
  def rocchioExpand(spark: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = defaultNQueries,
                    beta: Double = 0.5): DataFrame = {
    val e = withNorm(spark, dir)
    val base = cosineTopK(spark, dir, k, nQueries)
    val nb = base
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        col("neighbor_id") === col("vec_id"))
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("rank"), col("embedding"))))
        .as("rv"))
      .select(col("query_id"),
        expr("transform(rv, s -> s.embedding)").as("vecs"))
      .withColumn("sum_vec",
        expr("aggregate(vecs, transform(element_at(vecs, 1), " +
          "x -> cast(0.0 as double)), " +
          "(acc, v) -> zip_with(acc, v, (a, b) -> a + cast(b as double)))"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val expanded = q.join(nb, "query_id")
      .withColumn("q2",
        expr(s"zip_with(q_emb, sum_vec, (a, b) -> " +
          s"cast(a as double) + cast($beta as double) * (b / cast($k as double)))"))
      .withColumn("q2_norm2", dotColHof(col("q2"), col("q2")))
      .select(col("query_id"), col("q2"), col("q2_norm2"))
    val pairs = broadcast(expanded)
      .crossJoin(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"), col("norm2").as("n_norm2")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosine(dotColHof(col("q2"), col("n_emb")),
          col("q2_norm2"), col("n_norm2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(broadcast(base.select(col("query_id"),
        col("neighbor_id"), lit(true).as("in_feedback"))),
        Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"),
        coalesce(col("in_feedback"), lit(false)).as("in_feedback"))
      .orderBy(col("query_id"), col("rank"))
  }

  def rocchioExpandSql(k: Int = 5, nQueries: Int = defaultNQueries,
                       beta: Double = 0.5): String =
    s"""WITH e AS ($withNormSql),
       |bpairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    ${dotSql("q.embedding", "n.embedding")}
       |      / sqrt(q.norm2 * n.norm2) AS cosine
       |  FROM e q JOIN e n ON q.vec_id < $nQueries AND q.vec_id <> n.vec_id),
       |base AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |    FROM bpairs)
       |  WHERE rank <= $k),
       |nb AS (
       |  SELECT b.query_id,
       |    list(emb.embedding ORDER BY b.rank) AS vecs
       |  FROM base b JOIN embeddings emb ON b.neighbor_id = emb.vec_id
       |  GROUP BY b.query_id),
       |ctr AS (
       |  SELECT query_id,
       |    [list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |       list_transform(vecs, v -> CAST(v[i] AS DOUBLE))),
       |       (acc, x) -> acc + x)
       |     for i in range(1, len(vecs[1]) + 1)] AS sum_vec
       |  FROM nb),
       |q2 AS (
       |  SELECT e.vec_id AS query_id,
       |    [CAST(e.embedding[i] AS DOUBLE) + CAST($beta AS DOUBLE) *
       |       (c.sum_vec[i] / CAST($k AS DOUBLE))
       |     for i in range(1, len(e.embedding) + 1)] AS q2
       |  FROM e JOIN ctr c ON e.vec_id = c.query_id),
       |q2n AS (
       |  SELECT query_id, q2, ${dotSql("q2", "q2")} AS q2_norm2 FROM q2),
       |pairs AS (
       |  SELECT q.query_id, n.vec_id AS neighbor_id,
       |    ${dotSql("q.q2", "n.embedding")}
       |      / sqrt(q.q2_norm2 * n.norm2) AS cosine
       |  FROM q2n q JOIN e n ON q.query_id <> n.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT r.query_id, r.rank, r.neighbor_id, r.cosine,
       |  b.neighbor_id IS NOT NULL AS in_feedback
       |FROM ranked r
       |LEFT JOIN base b
       |  ON r.query_id = b.query_id AND r.neighbor_id = b.neighbor_id
       |WHERE r.rank <= $k
       |ORDER BY r.query_id, r.rank""".stripMargin

  /** Deterministic sign-bit LSH bucket: bit i of the bucket is the sign of
    * dimension 4i+1 (1-based), i = 0..7 — 8 axis-aligned hyperplanes, 256
    * buckets. Data-independent and engine-exact (float > 0 compare). */
  private def bucketCol(e: Column): Column =
    (0 until 8).map(i =>
      when(element_at(e, i * 4 + 1) > 0f, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  private def bucketSql(e: String): String =
    (0 until 8).map(i =>
      s"CASE WHEN $e[${i * 4 + 1}] > 0 THEN ${1L << i} ELSE 0 END")
      .mkString("(", " + ", ")")

  /** v2: LSH-bucketed ANN — same queries/k as v1 but candidates restricted
    * to the query's bucket (the scale path: a hash join on bucket instead
    * of a full cross product; recall traded for a ~256× candidate cut). */
  def annLsh(spark: SparkSession, dir: String, k: Int = 5,
             nQueries: Int = defaultNQueries): DataFrame = {
    val e = withNorm(spark, dir).withColumn("bucket", bucketCol(col("embedding")))
    val q = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("bucket"),
      col("embedding").as("q_emb"), col("norm2").as("q_norm2"))
    val cand = e.select(col("vec_id").as("neighbor_id"), col("bucket"),
      col("embedding").as("n_emb"), col("norm2").as("n_norm2"))
    val pairs = broadcast(q).join(cand, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosine(dotCol(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("bucket"), col("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def annLshSql(k: Int = 5, nQueries: Int = defaultNQueries): String =
    s"""WITH e AS (
       |  SELECT *, ${bucketSql("embedding")} AS bucket FROM ($withNormSql)),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, q.bucket, n.vec_id AS neighbor_id,
       |    ${dotSql("q.embedding", "n.embedding")}
       |      / sqrt(q.norm2 * n.norm2) AS cosine
       |  FROM e q JOIN e n ON q.bucket = n.bucket AND q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $nQueries),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, bucket, rank, neighbor_id, cosine
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** v31: MULTI-PROBE LSH — the standard recall lever for a bucketed
    * sign-bit index (Lv et al.'s observation: a near neighbor that
    * misses the query's bucket almost always sits in a bucket ONE BIT
    * away): each query probes its own bucket plus all 8 one-bit-flip
    * neighbors, 9× the candidate work of v2 for recall that
    * (spec-asserted) can only improve — WITHOUT building more hash
    * tables or re-indexing. Buckets partition the corpus, so probe
    * hits are naturally duplicate-free. `probe_flips` records which
    * tier surfaced each survivor (0 = v2 would have found it too).
    * Scale shape: probes are a 9×-queries broadcast against the
    * bucket-hash-joined corpus — same join topology as v2, candidate
    * set 9/256 of the corpus in expectation, never all-pairs. */
  def multiProbeLsh(spark: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = defaultNQueries): DataFrame = {
    val e = withNorm(spark, dir)
      .withColumn("bucket", bucketCol(col("embedding")))
    val q = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("bucket").as("q_bucket"),
      col("embedding").as("q_emb"), col("norm2").as("q_norm2"))
    val probeArr = array(
      col("q_bucket") +: (0 until 8).map(i =>
        expr(s"q_bucket ^ ${1L << i}")): _*)
    val probes = q.withColumn("p", explode(probeArr))
    val cand = e.select(col("vec_id").as("neighbor_id"), col("bucket"),
      col("embedding").as("n_emb"), col("norm2").as("n_norm2"))
    val pairs = broadcast(probes).join(cand, col("p") === col("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosine(dotCol(col("q_emb"), col("n_emb")),
          col("q_norm2"), col("n_norm2")))
      .withColumn("probe_flips",
        expr("bit_count(q_bucket ^ bucket)").cast("long"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"), col("probe_flips"))
      .orderBy(col("query_id"), col("rank"))
  }

  def multiProbeLshSql(k: Int = 5, nQueries: Int = defaultNQueries): String = {
    val flips = (0 until 8).map(i => s"xor(q_bucket, ${1L << i})")
      .mkString(", ")
    s"""WITH e AS (
       |  SELECT *, ${bucketSql("embedding")} AS bucket FROM ($withNormSql)),
       |q AS (
       |  SELECT vec_id AS query_id, bucket AS q_bucket,
       |    embedding AS q_emb, norm2 AS q_norm2
       |  FROM e WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT q.*, t.p
       |  FROM q CROSS JOIN UNNEST([q_bucket, $flips]) AS t(p)),
       |pairs AS (
       |  SELECT pr.query_id, n.vec_id AS neighbor_id,
       |    ${dotSql("pr.q_emb", "n.embedding")}
       |      / sqrt(pr.q_norm2 * n.norm2) AS cosine,
       |    CAST(bit_count(xor(pr.q_bucket, n.bucket)) AS BIGINT)
       |      AS probe_flips
       |  FROM probes pr JOIN e n
       |    ON pr.p = n.bucket AND pr.query_id <> n.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, cosine, probe_flips
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Cell-local rank-1 cosine near-dup at DISTINCT-EMBEDDING grain —
    * the shared engine of v3 (cell = ground-truth label) and v12
    * (cell = LSH bucket). The r10 sf1.0 audit showed the naive
    * member-grain pairwise squares in the duplication factor (v3:
    * 27 s warm at 10× data — replicated corpora carry exact-dup
    * vector groups), so the pairwise pass runs over one REPRESENTATIVE
    * per distinct (cell, embedding) and member results are
    * reconstructed exactly:
    *  - every member of an identical-embedding group shares one
    *    cross-group rank-1 (cosine is a function of the values; the
    *    tie-break neighbor is the best group's smallest member id);
    *  - the within-group candidate is cosine(v, v) (the SAME double
    *    expression the member-grain join evaluated) with neighbor =
    *    the group's smallest other id;
    *  - the winner per member is the max by (cosine, neighbor_id asc)
    *    of the two — exactly the naive window's rank-1 order.
    * Output is bit-identical (oracles re-certify); the quadratic work
    * now scales with DISTINCT vectors per cell, not members. */
  private def cellNearDup(e: DataFrame, cellCol: String,
                          threshold: Double): DataFrame = {
    val wg = Window.partitionBy(col(cellCol), col("embedding"))
      .orderBy(col("vec_id"))
    val members = e
      .withColumn("grp_rn", row_number().over(wg))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(col(cellCol), col("embedding"))))
    val reps = members.filter(col("grp_rn") === 1)
      .select(col(cellCol), col("embedding"), col("norm2"),
        col("vec_id").as("min_id"), col("m"))
    val seconds = members.filter(col("grp_rn") === 2)
      .select(col(cellCol), col("embedding"), col("vec_id").as("second_id"))
    val a = reps.select(col(cellCol), col("embedding").as("a_emb"),
      col("norm2").as("a_norm2"), col("min_id").as("a_min"))
    val b = reps.select(col(cellCol), col("embedding").as("b_emb"),
      col("norm2").as("b_norm2"), col("min_id").as("b_min"))
    val wCross = Window.partitionBy(col(cellCol), col("a_min"))
      .orderBy(col("cosine").desc, col("b_min").asc)
    val bestCross = a.join(b, Seq(cellCol))
      .filter(col("a_emb") =!= col("b_emb"))
      .withColumn("cosine",
        cosine(dotCol(col("a_emb"), col("b_emb")), col("a_norm2"), col("b_norm2")))
      .withColumn("rank", row_number().over(wCross))
      .filter(col("rank") === 1)
      .select(col(cellCol), col("a_emb").as("embedding"),
        col("cosine").as("cross_cos"), col("b_min").as("cross_nb"))
    val selfCos = cosine(dotCol(col("embedding"), col("embedding")),
      col("norm2"), col("norm2"))
    members
      .join(seconds, Seq(cellCol, "embedding"), "left")
      .join(bestCross, Seq(cellCol, "embedding"), "left")
      .withColumn("self_cos", when(col("m") >= 2, selfCos))
      .withColumn("self_nb", when(col("m") >= 2,
        when(col("grp_rn") === 1, col("second_id"))
          .otherwise(first(col("vec_id")).over(wg.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))))
      .filter(col("self_cos").isNotNull || col("cross_cos").isNotNull)
      .withColumn("use_self",
        col("self_cos").isNotNull && (col("cross_cos").isNull ||
          col("self_cos") > col("cross_cos") ||
          (col("self_cos") === col("cross_cos") &&
            col("self_nb") < col("cross_nb"))))
      .select(col("vec_id"), col(cellCol),
        when(col("use_self"), col("self_nb")).otherwise(col("cross_nb"))
          .as("neighbor_id"),
        when(col("use_self"), col("self_cos")).otherwise(col("cross_cos"))
          .as("cosine"))
      .withColumn("is_near_dup", col("cosine") >= threshold)
      .orderBy(col("vec_id"))
  }

  /** v3/d5: embedding-cosine near-dup — each vector's nearest neighbor
    * within its coarse cluster (label = the IVF cell), flagged when the
    * cosine crosses the near-dup threshold. Pairwise work is cell-local
    * AND distinct-vector-grain (see [[cellNearDup]]). */
  def cosineNearDup(spark: SparkSession, dir: String,
                    threshold: Double = 0.4): DataFrame =
    cellNearDup(withNorm(spark, dir).select(col("label"), col("vec_id"),
      col("embedding"), col("norm2")), "label", threshold)
      .select(col("vec_id"), col("label"), col("neighbor_id"), col("cosine"),
        col("is_near_dup"))
      .orderBy(col("vec_id"))

  /** v12: label-free scale twin of v3 — embedding-cosine near-dup with
    * candidates from the SIGN-BIT LSH BUCKETS (v2's hash) instead of the
    * ground-truth label cell. v3's cell is a luxury a raw corpus doesn't
    * have; the LSH bucket is what an unlabeled 100 TB embedding lake can
    * actually partition by: the pairwise pass is bucket-local (a hash
    * join on the 8-bit bucket key, ~256× candidate cut), never
    * corpus-quadratic. Same output shape and rank-1 semantics as v3, so
    * the two keys are directly comparable; recall loss vs the label cell
    * is the LSH trade, measured the same way v6 measures v2's. */
  def lshNearDup(spark: SparkSession, dir: String,
                 threshold: Double = 0.4): DataFrame =
    cellNearDup(withNorm(spark, dir)
      .withColumn("bucket", bucketCol(col("embedding")))
      .select(col("bucket"), col("vec_id"), col("embedding"), col("norm2")),
      "bucket", threshold)
      .select(col("vec_id"), col("bucket"), col("neighbor_id"), col("cosine"),
        col("is_near_dup"))
      .orderBy(col("vec_id"))

  def lshNearDupSql(threshold: Double = 0.4): String =
    s"""WITH e AS (
       |  SELECT *, ${bucketSql("embedding")} AS bucket FROM ($withNormSql)),
       |pairs AS (
       |  SELECT a.vec_id, a.bucket, b.vec_id AS neighbor_id,
       |    ${dotSql("a.embedding", "b.embedding")}
       |      / sqrt(a.norm2 * b.norm2) AS cosine
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT vec_id, bucket, neighbor_id, cosine,
       |  cosine >= $threshold AS is_near_dup
       |FROM ranked WHERE rank = 1
       |ORDER BY vec_id""".stripMargin

  /** v4: IVF ANN — the inverted-file index pattern (coarse quantizer +
    * cell-local probe), completing the ANN pair next to v2's LSH variant:
    *  1. coarse centroids = the embeddings of the `nCentroids` smallest
    *     vec_ids (data-sampled, deterministic — a seeded k-means would add
    *     iterations, not semantics, and its FP update order isn't
    *     oracle-reproducible);
    *  2. every vector is assigned to its max-cosine centroid (argmax over
    *     a broadcast centroid table — one narrow pass over the corpus, no
    *     shuffle of the big side);
    *  3. a query probes its `nProbe` nearest cells and ranks only those
    *     cells' members — candidate count drops ~|cells|/nProbe-fold while
    *     the big side is touched via a hash join on the cell id.
    * At 100 TB the assignment pass is the IVF build (persist it
    * partitioned by cell); probing reads only the probed cells' partitions. */
  /** The IVF coarse quantizer: every vector ranked against every centroid
    * (cosine, broadcast centroid table), crank 1 = its cell. Shared by v4
    * and the composed IVF-PQ index (v11). */
  private[vector] def ivfRanked(spark: SparkSession, dir: String,
                        nCentroids: Int,
                        trainedIters: Int = 0): DataFrame = {
    val e = withNorm(spark, dir)
    val cents =
      if (trainedIters > 0) {
        // Lloyd-trained centroids arrive as literals (codebook-sized),
        // through the FIT-ONCE memo — v28's two legs, repeated bench
        // iterations and any later consumer share one fit instead of
        // re-running the iteration passes per invocation; norm2 is
        // computed by the same HOF fold the donor path uses. The
        // codebook is materialized as an ORACLE SILVER (the m12
        // discipline) so DuckDB replays the trained ANN leg over the
        // same float bytes — v28 joined the hash gate in r13.
        import spark.implicits._
        graft.model.OracleSilver.materialize(spark,
          s"trained_centroids_${nCentroids}_$trainedIters", dir) {
          Lloyd.ivfTrainedOnce(spark, dir, nCentroids, trainedIters).zipWithIndex
            .map { case (c, i) => (i, c.map(_.toFloat)) }.toSeq
            .toDF("centroid_id", "c_emb")
        }.withColumn("c_norm2", dotColHof(col("c_emb"), col("c_emb")))
      } else e.orderBy(col("vec_id").asc).limit(nCentroids)
        .select(col("vec_id").as("cent_vid"), col("embedding").as("c_emb"),
          col("norm2").as("c_norm2"))
        .withColumn("centroid_id",
          row_number().over(Window.orderBy(col("cent_vid"))) - 1)
        .drop("cent_vid")
    val aff = e.crossJoin(broadcast(cents))
      .withColumn("ccos",
        cosine(dotCol(col("embedding"), col("c_emb")), col("norm2"), col("c_norm2")))
    val wv = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    aff.withColumn("crank", row_number().over(wv))
  }

  def ivfAnn(spark: SparkSession, dir: String, k: Int = 5,
             nQueries: Int = defaultNQueries,
             nCentroids: Int = 8, nProbe: Int = 2,
             trainedIters: Int = 0): DataFrame = {
    val ranked = ivfRanked(spark, dir, nCentroids, trainedIters)
    val assigned = ranked.filter(col("crank") === 1)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id").as("cell"),
        col("embedding").as("n_emb"), col("norm2").as("n_norm2"))
    val probes = ranked.filter(col("vec_id") < nQueries && col("crank") <= nProbe)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("cell"),
        col("embedding").as("q_emb"), col("norm2").as("q_norm2"))
    val pairs = broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosine(dotCol(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cell"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The donor (first-nCentroids) coarse-quantizer CTE body — references
    * the `e` CTE the caller provides. */
  private def donorCentsSql(nCentroids: Int): String =
    s"""SELECT vec_id AS cent_vid, embedding AS c_emb, norm2 AS c_norm2,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id
       |  FROM e ORDER BY vec_id LIMIT $nCentroids""".stripMargin

  /** The Lloyd-trained quantizer CTE body: centroids read from the
    * oracle silver [[ivfRanked]] materializes, norms recomputed by the
    * same fold both engines use. */
  private def trainedCentsSql(nCentroids: Int, trainedIters: Int): String =
    s"""SELECT centroid_id, c_emb,
       |    ${dotSql("c_emb", "c_emb")} AS c_norm2
       |  FROM read_parquet('${graft.model.OracleSilver.sqlGlob(
            s"trained_centroids_${nCentroids}_$trainedIters")}')""".stripMargin

  /** The v4 ANN pipeline over an explicit cents CTE (donor or trained). */
  private def ivfAnnSqlWithCents(centsSql: String, k: Int, nQueries: Int,
                                 nProbe: Int): String =
    s"""WITH e AS ($withNormSql),
       |cents AS ($centsSql),
       |aff AS (
       |  SELECT e.vec_id, e.embedding, e.norm2, c.centroid_id,
       |    ${dotSql("e.embedding", "c.c_emb")}
       |      / sqrt(e.norm2 * c.c_norm2) AS ccos
       |  FROM e CROSS JOIN cents c),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, centroid_id ASC) AS crank
       |  FROM aff),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, centroid_id AS cell,
       |    embedding AS n_emb, norm2 AS n_norm2
       |  FROM ranked WHERE crank = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, centroid_id AS cell,
       |    embedding AS q_emb, norm2 AS q_norm2
       |  FROM ranked WHERE vec_id < $nQueries AND crank <= $nProbe),
       |pairs AS (
       |  SELECT p.query_id, a.cell, a.neighbor_id,
       |    ${dotSql("p.q_emb", "a.n_emb")}
       |      / sqrt(p.q_norm2 * a.n_norm2) AS cosine
       |  FROM probes p JOIN assigned a USING (cell)
       |  WHERE p.query_id <> a.neighbor_id),
       |rankedp AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, cell, cosine
       |FROM rankedp WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  def ivfAnnSql(k: Int = 5, nQueries: Int = defaultNQueries,
                nCentroids: Int = 8, nProbe: Int = 2): String =
    ivfAnnSqlWithCents(donorCentsSql(nCentroids), k, nQueries, nProbe)

  /** v38: DELTA-INDEX ANN — index FRESHNESS, the lifecycle gap every
    * static ANN index has: vectors arriving after the IVF build must be
    * searchable immediately, not after the next rebuild. The
    * FAISS/Lucene refresh pattern: a MAIN inverted-file index over the
    * snapshot (vec_id % 10 < 8, d29's corpus split) plus an UNINDEXED
    * delta side-table (recent arrivals, bounded by the ingest window)
    * that every query scans exhaustively; results merge at rank time
    * and a compaction job later folds the delta into the main index
    * (the d29/k24 plan-to-action loop, vector edition). Query cost =
    * IVF probe (|cells|/nProbe pruning on the big side) + |delta|
    * brute force — the delta leg broadcasts because it is ingest-
    * window-bounded, never corpus-sized. `from_delta` tags each hit's
    * provenance so the freshness SLA is observable per result. */
  /** v38's standing query relation (query_id, q_emb, q_norm2) — shared
    * with the streaming arrival twin so both score against the same
    * bytes. */
  private[graft] def deltaIndexQueries(spark: SparkSession, dir: String,
                                       nQueries: Int = defaultNQueries): DataFrame =
    withNorm(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm2").as("q_norm2"))

  /** v38's STATIC half for the streaming twin: the snapshot IVF main
    * leg, computed once (the index does not move as arrivals stream). */
  private[graft] def deltaIndexMainLeg(spark: SparkSession, dir: String,
                                       nQueries: Int = defaultNQueries,
                                       nCentroids: Int = 8,
                                       nProbe: Int = 2): DataFrame = {
    val e = withNorm(spark, dir)
    val snap = e.filter(col("vec_id") % 10 < 8)
    val cents = snap.orderBy(col("vec_id").asc).limit(nCentroids)
      .select(col("vec_id").as("cent_vid"), col("embedding").as("c_emb"),
        col("norm2").as("c_norm2"))
      .withColumn("centroid_id",
        row_number().over(Window.orderBy(col("cent_vid"))) - 1)
      .drop("cent_vid")
    val assigned = {
      val aff = snap.crossJoin(broadcast(cents))
        .withColumn("ccos", cosine(dotCol(col("embedding"), col("c_emb")),
          col("norm2"), col("c_norm2")))
      val wv = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("centroid_id").asc)
      aff.withColumn("crank", row_number().over(wv))
        .filter(col("crank") === 1)
        .select(col("vec_id").as("neighbor_id"),
          col("centroid_id").as("cell"),
          col("embedding").as("n_emb"), col("norm2").as("n_norm2"))
    }
    val queries = deltaIndexQueries(spark, dir, nQueries)
    val qprobe = {
      val qaff = queries.crossJoin(broadcast(cents))
        .withColumn("ccos", cosine(dotCol(col("q_emb"), col("c_emb")),
          col("q_norm2"), col("c_norm2")))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("ccos").desc, col("centroid_id").asc)
      qaff.withColumn("crank", row_number().over(wq))
        .filter(col("crank") <= nProbe)
        .select(col("query_id"), col("centroid_id").as("cell"),
          col("q_emb"), col("q_norm2"))
    }
    broadcast(qprobe).join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        lit(false).as("from_delta"),
        cosine(dotCol(col("q_emb"), col("n_emb")),
          col("q_norm2"), col("n_norm2")).as("cosine"))
  }

  def deltaIndexAnn(spark: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = defaultNQueries,
                    nCentroids: Int = 8, nProbe: Int = 2): DataFrame = {
    val e = withNorm(spark, dir)
    val delta = e.filter(col("vec_id") % 10 >= 8)
    val queries = deltaIndexQueries(spark, dir, nQueries)
    val mainLeg = deltaIndexMainLeg(spark, dir, nQueries, nCentroids, nProbe)
    val deltaLeg = queries.crossJoin(broadcast(
        delta.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("n_emb"), col("norm2").as("n_norm2"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        lit(true).as("from_delta"),
        cosine(dotCol(col("q_emb"), col("n_emb")),
          col("q_norm2"), col("n_norm2")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    mainLeg.unionByName(deltaLeg)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("from_delta"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def deltaIndexAnnSql(k: Int = 5, nQueries: Int = defaultNQueries,
                       nCentroids: Int = 8, nProbe: Int = 2): String =
    s"""WITH e AS ($withNormSql),
       |snap AS (SELECT * FROM e WHERE vec_id % 10 < 8),
       |delta AS (SELECT * FROM e WHERE vec_id % 10 >= 8),
       |cents AS (
       |  SELECT vec_id AS cent_vid, embedding AS c_emb, norm2 AS c_norm2,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id
       |  FROM snap ORDER BY vec_id LIMIT $nCentroids),
       |aff AS (
       |  SELECT s.vec_id, s.embedding, s.norm2, c.centroid_id,
       |    ${dotSql("s.embedding", "c.c_emb")}
       |      / sqrt(s.norm2 * c.c_norm2) AS ccos
       |  FROM snap s CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, centroid_id AS cell,
       |    embedding AS n_emb, norm2 AS n_norm2
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |          ORDER BY ccos DESC, centroid_id ASC) AS crank FROM aff)
       |  WHERE crank = 1),
       |qaff AS (
       |  SELECT e.vec_id AS query_id, e.embedding AS q_emb,
       |    e.norm2 AS q_norm2, c.centroid_id AS cell,
       |    ${dotSql("e.embedding", "c.c_emb")}
       |      / sqrt(e.norm2 * c.c_norm2) AS ccos
       |  FROM e CROSS JOIN cents c WHERE e.vec_id < $nQueries),
       |qprobe AS (
       |  SELECT query_id, cell, q_emb, q_norm2
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY ccos DESC, cell ASC) AS crank FROM qaff)
       |  WHERE crank <= $nProbe),
       |main_leg AS (
       |  SELECT p.query_id, a.neighbor_id, FALSE AS from_delta,
       |    ${dotSql("p.q_emb", "a.n_emb")}
       |      / sqrt(p.q_norm2 * a.n_norm2) AS cosine
       |  FROM qprobe p JOIN assigned a USING (cell)
       |  WHERE p.query_id <> a.neighbor_id),
       |delta_leg AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
       |    TRUE AS from_delta,
       |    ${dotSql("q.embedding", "d.embedding")}
       |      / sqrt(q.norm2 * d.norm2) AS cosine
       |  FROM e q CROSS JOIN delta d
       |  WHERE q.vec_id < $nQueries AND q.vec_id <> d.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM (SELECT * FROM main_leg UNION ALL SELECT * FROM delta_leg))
       |SELECT query_id, rank, neighbor_id, from_delta, cosine
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  def cosineNearDupSql(threshold: Double = 0.4): String =
    s"""WITH e AS ($withNormSql),
       |pairs AS (
       |  SELECT a.vec_id, a.label, b.vec_id AS neighbor_id,
       |    ${dotSql("a.embedding", "b.embedding")}
       |      / sqrt(a.norm2 * b.norm2) AS cosine
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT vec_id, label, neighbor_id, cosine,
       |  cosine >= $threshold AS is_near_dup
       |FROM ranked WHERE rank = 1
       |ORDER BY vec_id""".stripMargin

  /** v6: ANN recall evaluation — per query, recall@k of the LSH (v2) and
    * IVF (v4) approximate indexes against the brute-force ground truth
    * (v1), the vector twin of d7's LSH confusion eval. This is the harness
    * a production pipeline runs before trusting an index config: the same
    * query keys, hits counted by (query, neighbor) identity. All three
    * relations are query-set-sized — the eval itself is join work over
    * tens of rows regardless of corpus size. */
  def annRecall(spark: SparkSession, dir: String, k: Int = 5,
                nQueries: Int = defaultNQueries): DataFrame = {
    val truth = cosineTopK(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    def eval(method: String, pairs: DataFrame): DataFrame =
      truth.join(pairs.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(lit(method).as("method"), col("query_id"),
          col("n_truth"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_truth").cast("double")).as("recall"))
    eval("ivf", ivfAnn(spark, dir, k, nQueries).select("query_id", "neighbor_id"))
      .union(eval("lsh",
        annLsh(spark, dir, k, nQueries).select("query_id", "neighbor_id")))
      .orderBy("method", "query_id")
  }

  def annRecallSql(k: Int = 5, nQueries: Int = defaultNQueries): String =
    s"""WITH truth AS (
       |  SELECT query_id, neighbor_id FROM (${cosineTopKSql(k, nQueries)})),
       |lshp AS (SELECT query_id, neighbor_id FROM (${annLshSql(k, nQueries)})),
       |ivfp AS (SELECT query_id, neighbor_id FROM (${ivfAnnSql(k, nQueries)})),
       |ev AS (
       |  SELECT 'ivf' AS method, t.query_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_truth,
       |    CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM truth t LEFT JOIN ivfp i
       |    ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
       |  GROUP BY t.query_id
       |  UNION ALL
       |  SELECT 'lsh' AS method, t.query_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_truth,
       |    CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM truth t LEFT JOIN lshp l
       |    ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
       |  GROUP BY t.query_id)
       |SELECT method, query_id, n_truth, n_hits,
       |  CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
       |FROM ev ORDER BY method, query_id""".stripMargin

  /** v7: quantized-retrieval recall — run brute-force cosine top-k over
    * the DEQUANTIZED int8 vectors (v5's codes reconstructed at bucket
    * midpoints) and score recall against the float ground truth (v1).
    * This closes the v5 storage-path argument: it measures exactly what
    * a 4×-smaller index costs in retrieval quality. Reconstruction is
    * fused into one `transform` (scan-speed, zero extra shuffles); the
    * search and eval shapes are v1's broadcast loop and v6's
    * query-set-sized joins. */
  /** Mid-point dequantized int8 reconstruction of the corpus (v5's
    * codes): (vec_id, remb array<double>, rnorm2). Stats are literal
    * arrays (dimension-sized collect); reconstruction is one fused
    * `transform` at scan speed. dotColHof, not the native VectorDot:
    * remb is array<double> and the codegen'd expression is typed
    * array<float>; the HOF fold is the same strict left-to-right order
    * on any numeric element type. Shared by v7 and v14. */
  private def reconQuantized(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val stats = dimStats(spark, dir)
    val mins = array(stats.map(s => lit(s._1)): _*)
    val maxs = array(stats.map(s => lit(s._2)): _*)
    val recon = transform(col("embedding"), (x, i) => {
      val dmin = element_at(mins, i + lit(1))
      val dmax = element_at(maxs, i + lit(1))
      val q = when(dmax === dmin, lit(0L)).otherwise(
        least(lit(255L),
          floor((x.cast("double") - dmin) * lit(255.0) / (dmax - dmin))))
      dmin + (q.cast("double") + lit(0.5)) * ((dmax - dmin) / lit(255.0))
    })
    e.select(col("vec_id"), recon.as("remb"))
      .withColumn("rnorm2", dotColHof(col("remb"), col("remb")))
  }

  def quantizedRecall(spark: SparkSession, dir: String, k: Int = 5,
                      nQueries: Int = defaultNQueries): DataFrame = {
    val r = reconQuantized(spark, dir)
    val q = r.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("remb").as("q_emb"),
      col("rnorm2").as("q_norm2"))
    val pairs = broadcast(q).crossJoin(
        r.select(col("vec_id").as("neighbor_id"), col("remb").as("n_emb"),
          col("rnorm2").as("n_norm2")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_q",
        cosine(dotColHof(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_q").desc, col("neighbor_id").asc)
    val approx = pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    cosineTopK(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
      .join(approx.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  def quantizedRecallSql(k: Int = 5, nQueries: Int = defaultNQueries): String = {
    val qCode = "CASE WHEN d.maxs[i] = d.mins[i] THEN 0 " +
      "ELSE LEAST(255, CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - d.mins[i]) " +
      "* 255.0 / (d.maxs[i] - d.mins[i])) AS BIGINT)) END"
    s"""WITH ex AS (
       |  SELECT unnest([{'pos': i, 'x': CAST(embedding[i] AS DOUBLE)}
       |                 for i in range(1, len(embedding) + 1)],
       |                recursive := true)
       |  FROM embeddings),
       |perdim AS (SELECT pos, MIN(x) AS dmin, MAX(x) AS dmax FROM ex GROUP BY pos),
       |dims AS (SELECT list(dmin ORDER BY pos) AS mins,
       |                list(dmax ORDER BY pos) AS maxs FROM perdim),
       |r AS (
       |  SELECT vec_id,
       |    [d.mins[i] + (CAST($qCode AS DOUBLE) + 0.5)
       |       * ((d.maxs[i] - d.mins[i]) / 255.0)
       |     for i in range(1, len(embedding) + 1)] AS remb
       |  FROM embeddings CROSS JOIN dims d),
       |rn AS (SELECT vec_id, remb, ${dotSql("remb", "remb")} AS rnorm2 FROM r),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    ${dotSql("q.remb", "n.remb")} / sqrt(q.rnorm2 * n.rnorm2) AS cosine_q
       |  FROM rn q JOIN rn n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $nQueries),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine_q DESC, neighbor_id ASC) AS rank
       |    FROM pairs) WHERE rank <= $k),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (${cosineTopKSql(k, nQueries)}))
       |SELECT t.query_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_truth,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
  }

  /** v14: TWO-STAGE retrieval — int8 prefilter, exact float rerank: the
    * production pattern v7 measures but doesn't run. Stage 1 scans ONLY
    * the 4x-compressed representation (v5's codes, midpoint-dequantized
    * map-side) and keeps the top `nCand` per query; stage 2 re-scores
    * just those candidates against the full-precision floats and keeps
    * the top k. At 100 TB the float corpus is touched `nCand`-rows-per-
    * query-at-a-time via an equi-join on vec_id — the full-precision
    * scan never happens, which is the entire point of storing int8.
    * Both stages are deterministic strict-fold arithmetic, so the whole
    * composition is oracle-checkable (unlike most ANN, nothing here is
    * implementation-defined). Output carries both scores: cosine_q
    * (stage-1, the decision evidence) and cosine (stage-2, the answer). */
  def twoStageRetrieval(spark: SparkSession, dir: String, k: Int = 5,
                        nCand: Int = 20,
                        nQueries: Int = defaultNQueries): DataFrame = {
    val r = reconQuantized(spark, dir)
    val q = r.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("remb").as("q_emb"),
      col("rnorm2").as("q_norm2"))
    val pairs = broadcast(q).crossJoin(
        r.select(col("vec_id").as("neighbor_id"), col("remb").as("n_emb"),
          col("rnorm2").as("n_norm2")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_q",
        cosine(dotColHof(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_q").desc, col("neighbor_id").asc)
    val cand = pairs.withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nCand)
      .select(col("query_id"), col("neighbor_id"), col("cosine_q"))
    val e = withNorm(spark, dir)
    val qe = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("embedding").as("fq_emb"),
      col("norm2").as("fq_norm2"))
    val ne = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("fn_emb"), col("norm2").as("fn_norm2"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.join(broadcast(qe), "query_id").join(ne, "neighbor_id")
      .withColumn("cosine",
        cosine(dotCol(col("fq_emb"), col("fn_emb")),
          col("fq_norm2"), col("fn_norm2")))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"), col("cosine_q"))
      .orderBy("query_id", "rank")
  }

  def twoStageRetrievalSql(k: Int = 5, nCand: Int = 20,
                           nQueries: Int = defaultNQueries): String = {
    val qCode = "CASE WHEN d.maxs[i] = d.mins[i] THEN 0 " +
      "ELSE LEAST(255, CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - d.mins[i]) " +
      "* 255.0 / (d.maxs[i] - d.mins[i])) AS BIGINT)) END"
    s"""WITH ex AS (
       |  SELECT unnest([{'pos': i, 'x': CAST(embedding[i] AS DOUBLE)}
       |                 for i in range(1, len(embedding) + 1)],
       |                recursive := true)
       |  FROM embeddings),
       |perdim AS (SELECT pos, MIN(x) AS dmin, MAX(x) AS dmax FROM ex GROUP BY pos),
       |dims AS (SELECT list(dmin ORDER BY pos) AS mins,
       |                list(dmax ORDER BY pos) AS maxs FROM perdim),
       |r AS (
       |  SELECT vec_id,
       |    [d.mins[i] + (CAST($qCode AS DOUBLE) + 0.5)
       |       * ((d.maxs[i] - d.mins[i]) / 255.0)
       |     for i in range(1, len(embedding) + 1)] AS remb
       |  FROM embeddings CROSS JOIN dims d),
       |rn AS (SELECT vec_id, remb, ${dotSql("remb", "remb")} AS rnorm2 FROM r),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    ${dotSql("q.remb", "n.remb")} / sqrt(q.rnorm2 * n.rnorm2) AS cosine_q
       |  FROM rn q JOIN rn n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $nQueries),
       |cand AS (
       |  SELECT query_id, neighbor_id, cosine_q FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine_q DESC, neighbor_id ASC) AS crank
       |    FROM pairs) WHERE crank <= $nCand),
       |e AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS norm2
       |  FROM embeddings),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id, c.cosine_q,
       |    ${dotSql("q.embedding", "n.embedding")} / sqrt(q.norm2 * n.norm2) AS cosine
       |  FROM cand c
       |  JOIN e q ON q.vec_id = c.query_id
       |  JOIN e n ON n.vec_id = c.neighbor_id)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine, cosine_q
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |      FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** v5: per-dimension int8 (0..255) min-max quantization — the embedding
    * STORAGE scale path (a 64-dim float corpus shrinks 4×; at 100 TB of
    * embeddings that is the difference between fitting executor memory for
    * ANN and not). Two phases:
    *   1. stats: a dimension-sized aggregate (min/max per position) —
    *      64 rows, collected into literal arrays (the a20
    *      broadcast-config pattern: driver round-trip of a dimension-sized
    *      relation, never the fact table);
    *   2. quantize: pure map-side `transform` over the embedding against
    *      the literal stats — zero shuffles over the corpus, one
    *      WholeStageCodegen span at parquet-scan speed.
    * Float parity: `(x - min) * 255.0 / (max - min)` is evaluated in that
    * exact operation order in both engines (single IEEE ops on exact
    * doubles-of-floats); constant dimensions quantize to 0. Output arrays
    * go out CSV-joined (the repo's array-parity convention). */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val stats = dimStats(spark, dir)
    val mins = array(stats.map(s => lit(s._1)): _*)
    val maxs = array(stats.map(s => lit(s._2)): _*)
    val qe = transform(col("embedding"), (x, i) => {
      val dmin = element_at(mins, i + lit(1))
      val dmax = element_at(maxs, i + lit(1))
      when(dmax === dmin, lit(0L)).otherwise(
        least(lit(255L),
          floor((x.cast("double") - dmin) * lit(255.0) / (dmax - dmin))))
    })
    e.select(col("vec_id"), col("label"),
        size(col("embedding")).cast("long").as("n_dims"), qe.as("qe"))
      .select(col("vec_id"), col("label"), col("n_dims"),
        concat_ws(",", transform(col("qe"), _.cast("string"))).as("q_csv"),
        aggregate(col("qe"), lit(0L), (acc, v) => acc + v).as("q_sum"))
      .orderBy("vec_id")
  }

  val quantizeSql: String =
    s"""WITH ex AS (
       |  SELECT unnest([{'pos': i, 'x': CAST(embedding[i] AS DOUBLE)}
       |                 for i in range(1, len(embedding) + 1)],
       |                recursive := true)
       |  FROM embeddings),
       |perdim AS (SELECT pos, MIN(x) AS dmin, MAX(x) AS dmax FROM ex GROUP BY pos),
       |dims AS (SELECT list(dmin ORDER BY pos) AS mins,
       |                list(dmax ORDER BY pos) AS maxs FROM perdim),
       |q AS (
       |  SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS n_dims,
       |    [CASE WHEN d.maxs[i] = d.mins[i] THEN 0
       |          ELSE LEAST(255, CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - d.mins[i])
       |                 * 255.0 / (d.maxs[i] - d.mins[i])) AS BIGINT)) END
       |     for i in range(1, len(embedding) + 1)] AS qe
       |  FROM embeddings CROSS JOIN dims d)
       |SELECT vec_id, label, n_dims,
       |  array_to_string(qe, ',') AS q_csv,
       |  CAST(list_reduce(list_prepend(0, qe), (acc, v) -> acc + v) AS BIGINT) AS q_sum
       |FROM q ORDER BY vec_id""".stripMargin

  /** PQ codebooks: for each of `nSub` subspaces, the sub-vectors of the
    * `nCodes` smallest vec_ids (data-sampled, deterministic — the same
    * argument as v4's centroids: trained k-means codebooks add iterations,
    * not semantics, and their FP update order isn't oracle-reproducible).
    * Codebook size = nSub × nCodes × subDim doubles — broadcast-config
    * sized at any corpus scale (the a20/v5 collect pattern). */
  private[vector] def pqCodebook(spark: SparkSession, dir: String,
                                 nSub: Int, nCodes: Int): Array[Array[Array[Double]]] = {
    val full = Tables.embeddings(spark, dir)
      .orderBy(col("vec_id").asc).limit(nCodes)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val subDim = full.head.length / nSub
    Array.tabulate(nSub, nCodes)((s, c) => full(c).slice(s * subDim, (s + 1) * subDim))
  }

  /** v8: PRODUCT QUANTIZATION encode — the ANN compression step beyond
    * v5's scalar int8: the 64-dim vector becomes `nSub` sub-space code
    * ids (4 bytes/vector at nSub=4 — a 64× storage cut), each code the
    * argmin-L2 codebook entry for that sub-vector. This is the IVF-PQ
    * index-build pattern (coarse cells from v4, fine codes from v8).
    *
    * Scale shape (100 TB): the codebook is a literal (see [[pqCodebook]]),
    * so encoding is a PURE MAP-SIDE pass — zero corpus shuffles, one
    * WholeStageCodegen span at parquet-scan speed (the v5 shape; the
    * orderBy is the output-determinism convention, not part of the
    * operator). Float parity: each sub-distance is a strict left-to-right
    * fold of (x−c)·(x−c) terms in double; argmin ties break to the
    * lowest code in both engines (first-index `array_position` here,
    * `ORDER BY d2, code` in the oracle — equal doubles are bitwise equal
    * because both engines run the identical operation sequence). */
  def pqCodes(spark: SparkSession, dir: String,
              nSub: Int = 4, nCodes: Int = 8): DataFrame =
    pqEncode(spark, dir, pqCodebook(spark, dir, nSub, nCodes), nSub, nCodes)

  /** v8 with a Lloyd-trained codebook ([[Lloyd.pqTrain]]) — same encode
    * plan, lower reconstruction error; NOT the oracle path (donor
    * codebooks stay oracle-reproducible). */
  def pqCodesTrained(spark: SparkSession, dir: String, nSub: Int = 4,
                     nCodes: Int = 8, iters: Int = 4): DataFrame =
    pqEncode(spark, dir, Lloyd.pqTrain(spark, dir, nSub, nCodes, iters),
      nSub, nCodes)

  /** The shared PQ encoder: argmin-L2 codes against a literal codebook —
    * pure map-side regardless of where the codebook came from. */
  private def pqEncode(spark: SparkSession, dir: String,
                       cb: Array[Array[Array[Double]]],
                       nSub: Int, nCodes: Int): DataFrame = {
    val subDim = cb(0)(0).length
    val e = Tables.embeddings(spark, dir)
    // bind sub-vectors as plain attributes (HOF-lambda re-eval rule)
    val sub = e.select(col("vec_id") +: col("label") +:
      (0 until nSub).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim).as(s"sub_$s")): _*)
    // native codegen'd fold (one fused loop per sub-distance); codebook
    // entries are exact float round-trips, so the literal array<float>
    // carries the identical values the double fold would see
    def d2(s: Int, c: Int): Column =
      graft.functions.VectorD2.vectorD2(col(s"sub_$s"),
        array(cb(s)(c).map(v => lit(v.toFloat)): _*))
    val withD2 = sub.select(col("vec_id") +: col("label") +:
      (0 until nSub).map(s =>
        array((0 until nCodes).map(c => d2(s, c)): _*).as(s"d2_$s")): _*)
    withD2.select(
      col("vec_id") +: col("label") +:
        ((0 until nSub).map(s =>
          (array_position(col(s"d2_$s"), array_min(col(s"d2_$s"))) - 1)
            .cast("long").as(s"code_$s")) :+
          (0 until nSub).map(s => array_min(col(s"d2_$s")))
            .reduceLeft(_ + _).as("recon_d2")): _*)
      .orderBy("vec_id")
  }

  /** Shared oracle CTEs for the PQ family: codebook, per-(vec, sub, code)
    * strict-fold L2 distances, argmin selection. */
  private def pqSelSql(nSub: Int, nCodes: Int, subDim: Int): String = {
    val diff = s"(CAST(e.embedding[t.s*$subDim + i] AS DOUBLE) " +
      s"- CAST(cb.cemb[t.s*$subDim + i] AS DOUBLE))"
    s"""cb AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, embedding AS cemb
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $nCodes)),
       |dist AS (
       |  SELECT e.vec_id, e.label, t.s, cb.code,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [$diff * $diff for i in range(1, $subDim + 1)]),
       |      (acc, v) -> acc + v) AS d2
       |  FROM embeddings e CROSS JOIN range($nSub) t(s) CROSS JOIN cb),
       |sel AS (
       |  SELECT vec_id, label, s, code, d2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
       |      ORDER BY d2 ASC, code ASC) AS rnk
       |    FROM dist) WHERE rnk = 1)""".stripMargin
  }

  def pqCodesSql(nSub: Int = 4, nCodes: Int = 8, subDim: Int = 16): String = {
    val codeCols = (0 until nSub)
      .map(s => s"MAX(CASE WHEN s = $s THEN code END) AS code_$s").mkString(",\n  ")
    val recon = (0 until nSub)
      .map(s => s"MAX(CASE WHEN s = $s THEN d2 END)").mkString(" + ")
    s"""WITH ${pqSelSql(nSub, nCodes, subDim)}
       |SELECT vec_id, label,
       |  $codeCols,
       |  $recon AS recon_d2
       |FROM sel GROUP BY vec_id, label ORDER BY vec_id""".stripMargin
  }

  /** v9: PQ-retrieval recall — brute-force cosine top-k over the vectors
    * RECONSTRUCTED from their PQ codes (each sub-vector replaced by its
    * codebook entry) scored against the float ground truth (v1): what the
    * 64× compression costs in retrieval quality, closing the v8 argument
    * the way v7 closes v5's. Reconstruction is a literal codebook lookup
    * (map-side); search and eval reuse v1's broadcast loop and v6's
    * query-set-sized join shapes. */
  def pqRecall(spark: SparkSession, dir: String, k: Int = 5,
               nQueries: Int = defaultNQueries,
               nSub: Int = 4, nCodes: Int = 8,
               trainedIters: Int = 0): DataFrame = {
    val cb =
      if (trainedIters > 0) Lloyd.pqTrain(spark, dir, nSub, nCodes, trainedIters)
      else pqCodebook(spark, dir, nSub, nCodes)
    val cbLit = (0 until nSub).map(s =>
      array(cb(s).map(c => array(c.map(lit): _*)): _*))
    val codes = pqEncode(spark, dir, cb, nSub, nCodes)
    val r = codes.select(col("vec_id"),
        flatten(array((0 until nSub).map(s =>
          element_at(cbLit(s), col(s"code_$s").cast("int") + 1)): _*)).as("remb"))
      .withColumn("rnorm2", dotColHof(col("remb"), col("remb")))
    val q = r.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("remb").as("q_emb"),
      col("rnorm2").as("q_norm2"))
    val pairs = broadcast(q).crossJoin(
        r.select(col("vec_id").as("neighbor_id"), col("remb").as("n_emb"),
          col("rnorm2").as("n_norm2")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_q",
        cosine(dotColHof(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_q").desc, col("neighbor_id").asc)
    val approx = pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    cosineTopK(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
      .join(approx.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  def pqRecallSql(k: Int = 5, nQueries: Int = defaultNQueries,
                  nSub: Int = 4, nCodes: Int = 8,
                  subDim: Int = 16): String = {
    val codeCols = (0 until nSub)
      .map(s => s"MAX(CASE WHEN s = $s THEN code END) AS code_$s").mkString(", ")
    val joins = (0 until nSub).map(s =>
      s"JOIN cbsub b$s ON b$s.s = $s AND b$s.code = v.code_$s").mkString("\n  ")
    val concat = (0 until nSub).map(s => s"b$s.sv").mkString(" || ")
    s"""WITH ${pqSelSql(nSub, nCodes, subDim)},
       |codes AS (
       |  SELECT vec_id, $codeCols FROM sel GROUP BY vec_id),
       |cbsub AS (
       |  SELECT cb.code, t.s, list_slice(cb.cemb, t.s*$subDim + 1, t.s*$subDim + $subDim) AS sv
       |  FROM cb CROSS JOIN range($nSub) t(s)),
       |r AS (
       |  SELECT v.vec_id, $concat AS remb
       |  FROM codes v
       |  $joins),
       |rn AS (SELECT vec_id, remb, ${dotSql("remb", "remb")} AS rnorm2 FROM r),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    ${dotSql("q.remb", "n.remb")} / sqrt(q.rnorm2 * n.rnorm2) AS cosine_q
       |  FROM rn q JOIN rn n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $nQueries),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine_q DESC, neighbor_id ASC) AS rank
       |    FROM pairs) WHERE rank <= $k),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (${cosineTopKSql(k, nQueries)}))
       |SELECT t.query_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_truth,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
  }

  /** v10: PQ ASYMMETRIC-DISTANCE search (ADC) — the production PQ query
    * path: the float query is compared against CODES, never against
    * reconstructed vectors. Per query, a lookup table LUT[s][c] =
    * dot(query-sub s, codebook[s][c]) is built once (nSub × nCodes
    * entries — query-set × 32 rows here); a candidate's approximate dot
    * product is then FOUR TABLE LOOKUPS summed in fixed order, and its
    * reconstruction norm is a query-independent code-norm table. No
    * per-pair O(dim) arithmetic and no reconstruction — at 100 TB the
    * scoring pass is a broadcast join of the tiny LUT against the 4-byte
    * code table at scan speed (cheaper than v9's reconstruct-then-fold by
    * a factor of subDim per pair).
    *
    * Float parity: LUT dots are the strict fold; the code-norm table is
    * folded in the same order on both sides (Scala foldLeft here, DuckDB
    * list_reduce there — identical op sequence on identical doubles);
    * the 4-term sums are left-associated in both engines; sqrt is IEEE
    * correctly-rounded everywhere. Asymmetric = better ranking than
    * v9's symmetric reconstruction (the query keeps full precision). */
  def pqAdc(spark: SparkSession, dir: String, k: Int = 5,
            nQueries: Int = defaultNQueries,
            nSub: Int = 4, nCodes: Int = 8): DataFrame = {
    val cb = pqCodebook(spark, dir, nSub, nCodes)
    val subDim = cb(0)(0).length
    // query-independent code norms, folded in oracle order
    val cnorm = Array.tabulate(nSub, nCodes)((s, c) =>
      cb(s)(c).foldLeft(0.0)((acc, x) => acc + x * x))
    val qBase = withNorm(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id") +: col("norm2").as("q_norm2") +:
        (0 until nSub).map(s =>
          slice(col("embedding"), s * subDim + 1, subDim).as(s"q_$s")): _*)
    def lutEntry(s: Int, c: Int): Column =
      dotCol(col(s"q_$s"), array(cb(s)(c).map(v => lit(v.toFloat)): _*))
    val q = qBase.select(col("query_id") +: col("q_norm2") +:
      (0 until nSub).map(s =>
        array((0 until nCodes).map(c => lutEntry(s, c)): _*).as(s"lut_$s")): _*)
    val codes = pqCodes(spark, dir, nSub, nCodes)
      .select(col("vec_id").as("neighbor_id") +:
        (0 until nSub).map(s => col(s"code_$s")): _*)
    val adcDot = (0 until nSub)
      .map(s => element_at(col(s"lut_$s"), col(s"code_$s").cast("int") + 1))
      .reduceLeft(_ + _)
    val reconNorm2 = (0 until nSub)
      .map(s => element_at(array(cnorm(s).map(lit): _*), col(s"code_$s").cast("int") + 1))
      .reduceLeft(_ + _)
    val pairs = broadcast(q).crossJoin(codes)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_adc", adcDot / sqrt(col("q_norm2") * reconNorm2))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_adc").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine_adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  def pqAdcSql(k: Int = 5, nQueries: Int = defaultNQueries,
               nSub: Int = 4, nCodes: Int = 8,
               subDim: Int = 16): String = {
    val codeCols = (0 until nSub)
      .map(s => s"MAX(CASE WHEN s = $s THEN code END) AS code_$s").mkString(", ")
    val lutJoins = (0 until nSub).map(s =>
      s"JOIN lut l$s ON l$s.query_id = q.query_id AND l$s.s = $s AND l$s.code = c.code_$s")
      .mkString("\n  ")
    val normJoins = (0 until nSub).map(s =>
      s"JOIN cnorm n$s ON n$s.s = $s AND n$s.code = c.code_$s").mkString("\n  ")
    val adcDot = (0 until nSub).map(s => s"l$s.d").mkString(" + ")
    val reconNorm = (0 until nSub).map(s => s"n$s.nrm").mkString(" + ")
    s"""WITH ${pqSelSql(nSub, nCodes, subDim)},
       |codes AS (
       |  SELECT vec_id, $codeCols FROM sel GROUP BY vec_id),
       |cbsub AS (
       |  SELECT cb.code, t.s, list_slice(cb.cemb, t.s*$subDim + 1, t.s*$subDim + $subDim) AS sv
       |  FROM cb CROSS JOIN range($nSub) t(s)),
       |cnorm AS (SELECT code, s, ${dotSql("sv", "sv")} AS nrm FROM cbsub),
       |q AS (
       |  SELECT vec_id AS query_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS q_norm2
       |  FROM embeddings WHERE vec_id < $nQueries),
       |qsub AS (
       |  SELECT query_id, q_norm2, t.s,
       |    list_slice(embedding, t.s*$subDim + 1, t.s*$subDim + $subDim) AS qv
       |  FROM q CROSS JOIN range($nSub) t(s)),
       |lut AS (
       |  SELECT qs.query_id, qs.s, cs.code, ${dotSql("qs.qv", "cs.sv")} AS d
       |  FROM qsub qs JOIN cbsub cs ON cs.s = qs.s),
       |pairs AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    ($adcDot) / sqrt(q.q_norm2 * ($reconNorm)) AS cosine_adc
       |  FROM codes c CROSS JOIN q
       |  $lutJoins
       |  $normJoins
       |  WHERE c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine_adc DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, cosine_adc
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** v11: IVF-PQ — the composed production ANN index (the FAISS
    * IVFx,PQy shape): the IVF coarse quantizer (v4) prunes the candidate
    * set to the query's `nProbe` nearest cells, and PQ ADC (v10) scores
    * the survivors with 4 table lookups each. The two compressions are
    * orthogonal: IVF cuts WHICH vectors are touched (~cells/nProbe), PQ
    * cuts the COST PER VECTOR (subDim-fold) — at 100 TB the index is the
    * cell-partitioned code table (4 bytes/vector), probing reads only
    * the probed cells' partitions, and the float corpus is never scanned
    * at query time. (The residual refinement — PQ on x − centroid, which
    * tightens what the code budget must cover — is [[residualPq]], v13.)
    * Every stage reuses a parity-proven parent: the
    * cell assignment is v4's, the LUT/code-norm algebra v10's. */
  def ivfPqAnn(spark: SparkSession, dir: String, k: Int = 5,
               nQueries: Int = defaultNQueries,
               nCentroids: Int = 8, nProbe: Int = 2,
               nSub: Int = 4, nCodes: Int = 8): DataFrame = {
    val cb = pqCodebook(spark, dir, nSub, nCodes)
    val subDim = cb(0)(0).length
    val cnorm = Array.tabulate(nSub, nCodes)((s, c) =>
      cb(s)(c).foldLeft(0.0)((acc, x) => acc + x * x))
    val ranked = ivfRanked(spark, dir, nCentroids)
    val assigned = ranked.filter(col("crank") === 1)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id").as("cell"))
    val codes = pqCodes(spark, dir, nSub, nCodes)
      .select(col("vec_id").as("neighbor_id") +:
        (0 until nSub).map(s => col(s"code_$s")): _*)
    val cellCodes = assigned.join(codes, Seq("neighbor_id"))
    val qlut = withNorm(spark, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id") +: col("norm2").as("q_norm2") +:
        (0 until nSub).map(s =>
          slice(col("embedding"), s * subDim + 1, subDim).as(s"q_$s")): _*)
    def lutEntry(s: Int, c: Int): Column =
      dotCol(col(s"q_$s"), array(cb(s)(c).map(v => lit(v.toFloat)): _*))
    val probes = ranked.filter(col("vec_id") < nQueries && col("crank") <= nProbe)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("cell"))
      .join(qlut.select(col("query_id") +: col("q_norm2") +:
        (0 until nSub).map(s =>
          array((0 until nCodes).map(c => lutEntry(s, c)): _*).as(s"lut_$s")): _*),
        Seq("query_id"))
    val adcDot = (0 until nSub)
      .map(s => element_at(col(s"lut_$s"), col(s"code_$s").cast("int") + 1))
      .reduceLeft(_ + _)
    val reconNorm2 = (0 until nSub)
      .map(s => element_at(array(cnorm(s).map(lit): _*), col(s"code_$s").cast("int") + 1))
      .reduceLeft(_ + _)
    val pairs = broadcast(probes).join(cellCodes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_adc", adcDot / sqrt(col("q_norm2") * reconNorm2))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_adc").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cell"), col("cosine_adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  def ivfPqAnnSql(k: Int = 5, nQueries: Int = defaultNQueries,
                  nCentroids: Int = 8, nProbe: Int = 2,
                  nSub: Int = 4, nCodes: Int = 8, subDim: Int = 16): String = {
    val codeCols = (0 until nSub)
      .map(s => s"MAX(CASE WHEN s = $s THEN code END) AS code_$s").mkString(", ")
    val lutJoins = (0 until nSub).map(s =>
      s"JOIN lut l$s ON l$s.query_id = p.query_id AND l$s.s = $s AND l$s.code = cc.code_$s")
      .mkString("\n  ")
    val normJoins = (0 until nSub).map(s =>
      s"JOIN cnorm n$s ON n$s.s = $s AND n$s.code = cc.code_$s").mkString("\n  ")
    val adcDot = (0 until nSub).map(s => s"l$s.d").mkString(" + ")
    val reconNorm = (0 until nSub).map(s => s"n$s.nrm").mkString(" + ")
    s"""WITH ${pqSelSql(nSub, nCodes, subDim)},
       |codes AS (
       |  SELECT vec_id, $codeCols FROM sel GROUP BY vec_id),
       |cbsub AS (
       |  SELECT cb.code, t.s, list_slice(cb.cemb, t.s*$subDim + 1, t.s*$subDim + $subDim) AS sv
       |  FROM cb CROSS JOIN range($nSub) t(s)),
       |cnorm AS (SELECT code, s, ${dotSql("sv", "sv")} AS nrm FROM cbsub),
       |e AS ($withNormSql),
       |cents AS (
       |  SELECT vec_id AS cent_vid, embedding AS c_emb, norm2 AS c_norm2,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id
       |  FROM e ORDER BY vec_id LIMIT $nCentroids),
       |aff AS (
       |  SELECT e.vec_id, e.embedding, e.norm2, c.centroid_id,
       |    ${dotSql("e.embedding", "c.c_emb")}
       |      / sqrt(e.norm2 * c.c_norm2) AS ccos
       |  FROM e CROSS JOIN cents c),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, centroid_id ASC) AS crank
       |  FROM aff),
       |cellcodes AS (
       |  SELECT r.vec_id AS neighbor_id, r.centroid_id AS cell,
       |    ${(0 until nSub).map(s => s"c.code_$s").mkString(", ")}
       |  FROM ranked r JOIN codes c ON c.vec_id = r.vec_id
       |  WHERE r.crank = 1),
       |qsub AS (
       |  SELECT vec_id AS query_id, norm2 AS q_norm2, t.s,
       |    list_slice(embedding, t.s*$subDim + 1, t.s*$subDim + $subDim) AS qv
       |  FROM e CROSS JOIN range($nSub) t(s)
       |  WHERE vec_id < $nQueries),
       |lut AS (
       |  SELECT qs.query_id, qs.s, cs.code, ${dotSql("qs.qv", "cs.sv")} AS d
       |  FROM qsub qs JOIN cbsub cs ON cs.s = qs.s),
       |probes AS (
       |  SELECT vec_id AS query_id, centroid_id AS cell, norm2 AS q_norm2
       |  FROM ranked WHERE vec_id < $nQueries AND crank <= $nProbe),
       |pairs AS (
       |  SELECT p.query_id, cc.cell, cc.neighbor_id,
       |    ($adcDot) / sqrt(p.q_norm2 * ($reconNorm)) AS cosine_adc
       |  FROM probes p JOIN cellcodes cc USING (cell)
       |  $lutJoins
       |  $normJoins
       |  WHERE p.query_id <> cc.neighbor_id),
       |rankedp AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine_adc DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, cell, cosine_adc
       |FROM rankedp WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** v13: RESIDUAL PQ encode — the refinement v11's scaladoc leaves on
    * the table, modeled: vectors are coded not on their raw coordinates
    * (v8) but on their RESIDUAL x − centroid(cell(x)) after the IVF
    * coarse step. When cells are tight, residuals occupy a far smaller
    * ball than raw vectors and the same code budget quantizes them more
    * finely — the standard two-stage IVF+PQ encoder (coarse id + fine
    * residual codes = the whole stored record). Codebook = the residuals
    * of the `nCodes` smallest vec_ids AFTER the centroid donors (the
    * v4/v8 data-sampling, now applied post-assignment — the centroid
    * donors themselves are excluded because their residual is exactly
    * the zero vector: a centroid's own cell is itself, and a zero
    * codebook is degenerate). Computed driver-side with the identical
    * fold algebra the oracle runs. Residuals are exact double
    * subtractions of float coordinates, so both engines see
    * bit-identical values end to end. */
  def residualPq(spark: SparkSession, dir: String,
                 nCentroids: Int = 8, nSub: Int = 4,
                 nCodes: Int = 8): DataFrame = {
    // driver-side sample: first nCentroids rows are the centroids, the
    // next nCodes rows donate the residual codebook; donor assignment
    // uses the same strict fold + (ccos desc, centroid asc) tie-break
    val sample = Tables.embeddings(spark, dir)
      .orderBy(col("vec_id").asc).limit(nCentroids + nCodes)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val cents = sample.take(nCentroids)
    val donors = sample.slice(nCentroids, nCentroids + nCodes)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val cnorms = cents.map(c => dot(c, c))
    def cellOf(x: Array[Double]): Int = {
      val xn = dot(x, x)
      var best = 0; var bestCos = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val cos = dot(x, cents(c)) / math.sqrt(xn * cnorms(c))
        if (cos > bestCos) { bestCos = cos; best = c } // ties keep lowest c
        c += 1
      }
      best
    }
    val donorResid = donors.map { d =>
      val ce = cents(cellOf(d))
      Array.tabulate(d.length)(i => d(i) - ce(i))
    }
    val dim = donors.head.length
    val subDim = dim / nSub
    val rcb = Array.tabulate(nSub, nCodes)((s, c) =>
      donorResid(c).slice(s * subDim, (s + 1) * subDim))

    // distributed side: v4/v11's SHARED coarse quantizer (one copy of
    // the assignment algebra — its tie-break and fold must stay in
    // bitwise lockstep with this function's driver-side cellOf), then
    // residual as exact double subtraction + the v8 argmin algebra
    val assigned = ivfRanked(spark, dir, nCentroids)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("centroid_id").as("cell"),
        zip_with(col("embedding"), col("c_emb"),
          (a, b) => a.cast("double") - b.cast("double")).as("resid"))
    val sub = assigned.select(col("vec_id") +: col("cell") +:
      (0 until nSub).map(s =>
        slice(col("resid"), s * subDim + 1, subDim).as(s"r_$s")): _*)
    def d2(s: Int, c: Int): Column =
      aggregate(
        zip_with(col(s"r_$s"), array(rcb(s)(c).map(lit): _*),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v)
    val withD2 = sub.select(col("vec_id") +: col("cell") +:
      (0 until nSub).map(s =>
        array((0 until nCodes).map(c => d2(s, c)): _*).as(s"d2_$s")): _*)
    withD2.select(
      col("vec_id") +: col("cell") +:
        ((0 until nSub).map(s =>
          (array_position(col(s"d2_$s"), array_min(col(s"d2_$s"))) - 1)
            .cast("long").as(s"code_$s")) :+
          (0 until nSub).map(s => array_min(col(s"d2_$s")))
            .reduceLeft(_ + _).as("recon_d2")): _*)
      .orderBy("vec_id")
  }

  def residualPqSql(nCentroids: Int = 8, nSub: Int = 4, nCodes: Int = 8,
                    subDim: Int = 16): String = {
    val codeCols = (0 until nSub)
      .map(s => s"MAX(CASE WHEN s = $s THEN code END) AS code_$s").mkString(",\n  ")
    val recon = (0 until nSub)
      .map(s => s"MAX(CASE WHEN s = $s THEN d2 END)").mkString(" + ")
    val diff = s"(r.resid[t.s*$subDim + i] - cb.cresid[t.s*$subDim + i])"
    s"""WITH e AS ($withNormSql),
       |cents AS (
       |  SELECT vec_id AS cent_vid, embedding AS c_emb, norm2 AS c_norm2,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id
       |  FROM e ORDER BY vec_id LIMIT $nCentroids),
       |aff AS (
       |  SELECT e.vec_id, e.embedding, c.centroid_id, c.c_emb,
       |    ${dotSql("e.embedding", "c.c_emb")}
       |      / sqrt(e.norm2 * c.c_norm2) AS ccos
       |  FROM e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, centroid_id AS cell, embedding, c_emb FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, centroid_id ASC) AS crank
       |    FROM aff) WHERE crank = 1),
       |resid AS (
       |  SELECT vec_id, cell,
       |    [CAST(embedding[i] AS DOUBLE) - CAST(c_emb[i] AS DOUBLE)
       |     for i in range(1, len(embedding) + 1)] AS resid
       |  FROM assigned),
       |rcb AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code,
       |    resid AS cresid
       |  FROM (SELECT vec_id, resid FROM resid ORDER BY vec_id
       |        LIMIT $nCodes OFFSET $nCentroids)),
       |dist AS (
       |  SELECT r.vec_id, r.cell, t.s, cb.code,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [$diff * $diff for i in range(1, $subDim + 1)]),
       |      (acc, v) -> acc + v) AS d2
       |  FROM resid r CROSS JOIN range($nSub) t(s) CROSS JOIN rcb cb),
       |sel AS (
       |  SELECT vec_id, cell, s, code, d2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
       |      ORDER BY d2 ASC, code ASC) AS rnk
       |    FROM dist) WHERE rnk = 1)
       |SELECT vec_id, cell,
       |  $codeCols,
       |  $recon AS recon_d2
       |FROM sel GROUP BY vec_id, cell ORDER BY vec_id""".stripMargin
  }

  /** v15: MAX-INNER-PRODUCT top-k (MIPS) — the similarity
    * recommendation / retrieval systems with UNNORMALIZED learned
    * embeddings actually rank by: score = q·x, where the vector norm
    * carries signal (popularity, confidence) that cosine deliberately
    * erases — v1 and v15 return genuinely different neighbor sets.
    * Same broadcast-loop shape as v1, strict-fold dots, ties to the
    * lowest neighbor id.
    *
    * ANN note (spec-anchored, not a separate key): MIPS reduces to
    * cosine by the norm augmentation x → [x, √(M²−|x|²)], q → [q, 0]
    * (Shrivastava & Li, NIPS 2014) — cos of the augmented pair is
    * q·x / (|q|·M), monotone in q·x — so every cosine ANN structure in
    * this file (v2 LSH, v4 IVF, v8-v11 PQ) serves MIPS after one
    * map-side transform; the rank identity is asserted in
    * CompositionSpec. */
  def mipsTopK(spark: SparkSession, dir: String, k: Int = 5,
               nQueries: Int = defaultNQueries): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    broadcast(q).crossJoin(
        e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotCol(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dot"))
      .orderBy("query_id", "rank")
  }

  def mipsTopKSql(k: Int = 5, nQueries: Int = defaultNQueries): String =
    s"""WITH pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    ${dotSql("q.embedding", "n.embedding")} AS dot
       |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $nQueries)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, dot
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY dot DESC, neighbor_id ASC) AS rank
       |      FROM pairs)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** v16: FILTERED vector search — the metadata-constrained top-k modern
    * vector stores treat as first-class: nearest neighbors restricted to
    * a predicate, here the query's OWN label class (same-language /
    * same-tenant retrieval). The filter turns v1's broadcast cross-join
    * into an equi-join ON label: candidates are label-co-located, so at
    * scale this is the PRE-filter strategy — each query only ever meets
    * its label's partition of the corpus — where post-filtering an
    * unfiltered ANN result silently under-fills k whenever the label is
    * selective (the classic filtered-ANN failure). Exact by
    * construction; dot fold order and tie-break are v1's. */
  def filteredTopK(spark: SparkSession, dir: String, k: Int = 5,
                   nQueries: Int = defaultNQueries): DataFrame = {
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("label"),
      col("embedding").as("q_emb"), col("norm2").as("q_norm2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q)
      .join(e.select(col("vec_id").as("neighbor_id"), col("label"),
          col("embedding").as("n_emb"), col("norm2").as("n_norm2")),
        Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosine(dotCol(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("label"), col("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  def filteredTopKSql(k: Int = 5, nQueries: Int = defaultNQueries): String =
    s"""WITH e AS ($withNormSql),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, q.label, n.vec_id AS neighbor_id,
       |    ${dotSql("q.embedding", "n.embedding")}
       |      / sqrt(q.norm2 * n.norm2) AS cosine
       |  FROM e q JOIN e n ON q.label = n.label AND q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $nQueries),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM pairs)
       |SELECT query_id, label, rank, neighbor_id, cosine
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** v17: MIPS-ANN recall — the Shrivastava-Li reduction (the identity
    * v15's spec proves) made OPERATIONAL: augmenting x → [x, √(M²−|x|²)]
    * turns max-inner-product into cosine, and for THIS file's
    * axis-aligned sign-bit LSH the augmented coordinate can never flip a
    * bucket bit — the 8 hyperplanes read dims 1,5,…,29 and the
    * augmentation appends dim 33. So the MIPS index IS v2's bucket
    * table unchanged, and within-bucket augmented-cosine order is
    * rank-identical to raw-dot order: one bucket hash join + a dot
    * ordering, no new index structure, no norms touched at query time.
    * Recall is measured against v15's exact top-k exactly the way v6
    * certifies v2/v4 against v1. */
  def mipsAnnRecall(spark: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = defaultNQueries): DataFrame = {
    val truth = mipsTopK(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    val e = Tables.embeddings(spark, dir)
      .withColumn("bucket", bucketCol(col("embedding")))
    val q = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("bucket"),
      col("embedding").as("q_emb"))
    val cand = e.select(col("vec_id").as("neighbor_id"), col("bucket"),
      col("embedding").as("n_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    val approx = broadcast(q).join(cand, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dotCol(col("q_emb"), col("n_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    truth.join(approx.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
      .orderBy("query_id")
  }

  def mipsAnnRecallSql(k: Int = 5, nQueries: Int = defaultNQueries): String =
    s"""WITH truth AS (
       |  SELECT query_id, neighbor_id FROM (${mipsTopKSql(k, nQueries)})),
       |e AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    ${dotSql("q.embedding", "n.embedding")} AS dot
       |  FROM e q JOIN e n ON q.bucket = n.bucket AND q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $nQueries),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY dot DESC, neighbor_id ASC) AS rank
       |    FROM pairs)
       |  WHERE rank <= $k),
       |ev AS (
       |  SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
       |    CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM truth t LEFT JOIN approx a
       |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |  GROUP BY t.query_id)
       |SELECT query_id, n_truth, n_hits,
       |  CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
       |FROM ev ORDER BY query_id""".stripMargin

  /** h1's document-frequency cap, as an integer percent of the corpus:
    * a term enters the inverted index only if df*100 <= pct*n_docs.
    * 78 binds on the test fixtures (word dfs cluster at 75-80% of docs)
    * so the stopword-exclusion path is oracle-exercised; a production
    * deployment tunes this like a BM25 stopword threshold. */
  val defaultMaxDfPct = 78

  /** h1: HYBRID retrieval — lexical candidate generation, vector rerank:
    * stage 1 finds docs sharing >= `minCommon` distinct INDEXED words
    * with each query doc via the inverted word index (the same
    * never-all-pairs candidate shape as d4's shingle join — at 100 TB
    * the posting-list join IS the lexical index); stage 2 scores ONLY
    * those candidates by embedding cosine (vec_id = doc_id, see
    * TESTDATA) and keeps the top-k. The point vs v1: cosine work is
    * proportional to the candidate set, not the corpus — the pruning
    * every production retrieval stack (BM25 -> rerank) relies on.
    *
    * DF CAP — the candidate bound: a term is indexed only if its
    * document frequency satisfies `df * 100 <= maxDfPct * n_docs`
    * (integer arithmetic, engine-portable). Without it, stopwords have
    * corpus-sized posting lists and the candidate set degenerates
    * toward per-query-full-corpus — the degeneracy a BM25-style
    * candidate stage exists to prevent. With it, each query's candidate
    * set is bounded by the sum of its kept terms' capped posting lists,
    * independent of how skewed the word distribution is. Dropped terms
    * do not count toward `n_common_words` on either side (a query's
    * stopwords carry no lexical evidence). The df is computed as a
    * window count over the word key — NOT a separate agg joined back,
    * and NOT a broadcast of the kept vocabulary (the low-df tail is
    * itself corpus-sized at scale): the word-partitioning it introduces
    * is exactly the partitioning the posting-list join needs, so the
    * filter rides the index's own exchange. Dot products are the
    * strict-fold parity path; ties break on doc_id. */
  /** One row per (doc, distinct word) under the df cap — h1's lexical
    * candidate universe, shared with h4's pseudo-qrels. */
  private def dfCappedWords(spark: SparkSession, dir: String,
                            maxDfPct: Int): DataFrame =
    // memoized like bm25Index: the df-capped posting list is the
    // inverted-index silver a lexical candidate stage persists at
    // ingest; h1/h4 read it as a leaf instead of re-running the
    // explode + df window per call (and per self-join branch)
    graft.model.Silver.memoize(spark, s"dfCappedWords:$maxDfPct", dir) {
      val allWords = graft.text.Corpus.docsTok(spark, dir)
        .select(col("doc_id"), explode(array_distinct(col("words"))).as("word"))
      // one row per (doc, distinct word) -> the per-word window count IS
      // the document frequency
      val nDocs = graft.text.Corpus.docsTok(spark, dir)
        .agg(count(lit(1)).as("n_docs"))
      allWords
        .withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") * lit(100L) <= lit(maxDfPct.toLong) * col("n_docs"))
        .select("doc_id", "word")
    }

  def hybridSearch(spark: SparkSession, dir: String, nQueries: Int = 3,
                   minCommon: Int = 3, k: Int = 5,
                   maxDfPct: Int = defaultMaxDfPct): DataFrame = {
    val words = dfCappedWords(spark, dir, maxDfPct)
    val cands = words.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("word"))
      .join(words, "word")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_common_words"))
      .filter(col("n_common_words") >= minCommon)
    val e = Tables.embeddings(spark, dir)
      .withColumn("norm2", dotCol(col("embedding"), col("embedding")))
    val qe = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("norm2").as("q_norm2"))
    val ne = e.select(col("vec_id").as("doc_id"),
      col("embedding").as("n_emb"), col("norm2").as("n_norm2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id").asc)
    cands.join(broadcast(qe), "query_id").join(ne, "doc_id")
      .withColumn("cosine",
        dotCol(col("q_emb"), col("n_emb")) / sqrt(col("q_norm2") * col("n_norm2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_common_words"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def hybridSearchSql(nQueries: Int = 3, minCommon: Int = 3,
                      k: Int = 5, maxDfPct: Int = defaultMaxDfPct): String =
    s"""WITH wall AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(string_split_regex(text, '\\s+'))) AS word
       |  FROM documents),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |w AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, word, COUNT(*) OVER (PARTITION BY word) AS df
       |    FROM wall) CROSS JOIN nd
       |  WHERE df * 100 <= $maxDfPct * n_docs),
       |cands AS (
       |  SELECT q.doc_id AS query_id, d.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_common_words
       |  FROM w q JOIN w d ON q.word = d.word
       |  WHERE q.doc_id < $nQueries AND d.doc_id <> q.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minCommon),
       |e AS (
       |  SELECT vec_id, embedding,
       |    ${dotSql("embedding", "embedding")} AS norm2
       |  FROM embeddings),
       |scored AS (
       |  SELECT c.query_id, c.doc_id, c.n_common_words,
       |    ${dotSql("q.embedding", "n.embedding")}
       |      / sqrt(q.norm2 * n.norm2) AS cosine
       |  FROM cands c
       |  JOIN e q ON q.vec_id = c.query_id
       |  JOIN e n ON n.vec_id = c.doc_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, doc_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, doc_id, n_common_words, cosine
       |FROM ranked WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** v18: IVF PROBE-SWEEP operating curve — recall@k AND candidate
    * count at every nProbe level in one pass: the tuning table an index
    * operator reads to pick nProbe (the quality/cost dial of v4/v11)
    * instead of guessing. v6 certifies ONE config; this sweeps the dial.
    *
    * One corpus pass however many levels: the coarse ranking (ivfRanked)
    * is computed once; a candidate (query, neighbor) pair's MINIMAL
    * probe level is just the query→cell rank it joined through, so the
    * sweep is a broadcast join of the pairs against the tiny levels
    * relation (probe_rank <= n_probe), not a re-probe per level. Each
    * neighbor lives in exactly one cell ⇒ pairs are already distinct.
    * At the full-probe level every cell is scanned, so recall is exactly
    * 1.0 — the self-certifying end of the curve (spec-pinned). Corpus
    * side is touched via the same cell hash join as v4; everything
    * downstream is query-set × levels sized. */
  def probeSweep(spark: SparkSession, dir: String, k: Int = 5,
                 nQueries: Int = defaultNQueries,
                 nCentroids: Int = 8,
                 probeLevels: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import spark.implicits._
    val ranked = ivfRanked(spark, dir, nCentroids)
    val assigned = ranked.filter(col("crank") === 1)
      .select(col("vec_id").as("neighbor_id"), col("centroid_id").as("cell"),
        col("embedding").as("n_emb"), col("norm2").as("n_norm2"))
    val maxP = probeLevels.max
    val probes = ranked.filter(col("vec_id") < nQueries && col("crank") <= maxP)
      .select(col("vec_id").as("query_id"), col("centroid_id").as("cell"),
        col("crank").as("probe_rank"),
        col("embedding").as("q_emb"), col("norm2").as("q_norm2"))
    val pairs = broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosine(dotCol(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
      .select("query_id", "probe_rank", "neighbor_id", "cosine")
    val levels = probeLevels.map(_.toLong).toDF("n_probe")
    val expanded = pairs.join(broadcast(levels), col("probe_rank") <= col("n_probe"))
    val w = Window.partitionBy(col("n_probe"), col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val topk = expanded.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val truth = cosineTopK(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    val truthCount = truth.groupBy().agg(count(lit(1)).as("n_truth"))
    val cand = expanded.groupBy("n_probe")
      .agg(count(lit(1)).as("n_candidates"))
    val hits = topk.join(truth, Seq("query_id", "neighbor_id"))
      .groupBy("n_probe").agg(count(lit(1)).as("n_hits"))
    cand.join(hits, Seq("n_probe"), "left")
      .crossJoin(broadcast(truthCount))
      .select(col("n_probe"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_candidates"),
        (coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_truth").cast("double")).as("recall"))
      .orderBy("n_probe")
  }

  def probeSweepSql(k: Int = 5, nQueries: Int = defaultNQueries,
                    nCentroids: Int = 8,
                    probeLevels: Seq[Int] = Seq(1, 2, 4, 8)): String = {
    val maxP = probeLevels.max
    val levelValues = probeLevels.map(p => s"($p)").mkString(", ")
    s"""WITH e AS ($withNormSql),
       |cents AS (
       |  SELECT vec_id AS cent_vid, embedding AS c_emb, norm2 AS c_norm2,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id
       |  FROM e ORDER BY vec_id LIMIT $nCentroids),
       |aff AS (
       |  SELECT e.vec_id, e.embedding, e.norm2, c.centroid_id,
       |    ${dotSql("e.embedding", "c.c_emb")}
       |      / sqrt(e.norm2 * c.c_norm2) AS ccos
       |  FROM e CROSS JOIN cents c),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, centroid_id ASC) AS crank
       |  FROM aff),
       |assigned AS (
       |  SELECT vec_id AS neighbor_id, centroid_id AS cell,
       |    embedding AS n_emb, norm2 AS n_norm2
       |  FROM ranked WHERE crank = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, centroid_id AS cell, crank AS probe_rank,
       |    embedding AS q_emb, norm2 AS q_norm2
       |  FROM ranked WHERE vec_id < $nQueries AND crank <= $maxP),
       |pairs AS (
       |  SELECT p.query_id, p.probe_rank, a.neighbor_id,
       |    ${dotSql("p.q_emb", "a.n_emb")}
       |      / sqrt(p.q_norm2 * a.n_norm2) AS cosine
       |  FROM probes p JOIN assigned a USING (cell)
       |  WHERE p.query_id <> a.neighbor_id),
       |levels AS (
       |  SELECT CAST(n_probe AS BIGINT) AS n_probe
       |  FROM (VALUES $levelValues) AS t(n_probe)),
       |expanded AS (
       |  SELECT l.n_probe, pr.query_id, pr.neighbor_id, pr.cosine
       |  FROM pairs pr JOIN levels l ON pr.probe_rank <= l.n_probe),
       |topk AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY n_probe, query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |    FROM expanded)
       |  WHERE rank <= $k),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (${cosineTopKSql(k, nQueries)})),
       |tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
       |cand AS (
       |  SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS n_candidates
       |  FROM expanded GROUP BY 1),
       |hits AS (
       |  SELECT n_probe, CAST(COUNT(*) AS BIGINT) AS n_hits
       |  FROM topk JOIN truth USING (query_id, neighbor_id)
       |  GROUP BY 1)
       |SELECT c.n_probe, tc.n_truth,
       |  COALESCE(h.n_hits, 0) AS n_hits, c.n_candidates,
       |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(tc.n_truth AS DOUBLE) AS recall
       |FROM cand c CROSS JOIN tc LEFT JOIN hits h ON c.n_probe = h.n_probe
       |ORDER BY c.n_probe""".stripMargin
  }

  /** v19: BINARY (1-bit-per-dimension) sign quantization — the most
    * aggressive point on the v5→v8 compression curve: dimension i
    * contributes bit (emb[i] > mid_i) with mid_i the per-dimension
    * min/max midpoint (the same order-independent stats pass v5 uses —
    * never a mean, whose FP summation order isn't reproducible). Codes
    * pack into 32-bit words held in BIGINTs (two words for D = 64; the
    * multi-word layout is the general shape, and it sidesteps the
    * sign-bit of a single 64-bit pack which DuckDB's shift would
    * overflow). Distance is Hamming via codegen'd bit_count(xor) — the
    * d3/d8 machinery — so a 256-byte float vector becomes 8 bytes and
    * the scan does 2 XOR+popcounts per candidate; this is the index
    * layout a 100 TB re-ranking pipeline holds in RAM. Word packing
    * sums disjoint powers of two (< 2^32, no overflow) with identical
    * term order in both engines. Recall is scored against the float
    * truth exactly like v6/v7. */
  private[graft] def signCodesOf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val mids = dimStats(spark, dir).map(s => (s._1 + s._2) / 2.0)
    def word(lo: Int): Column =
      if (lo >= mids.length) lit(0L)
      else (lo until math.min(lo + 32, mids.length)).map { i =>
        when(col("embedding").getItem(i).cast("double") > lit(mids(i)),
          lit(1L << (i - lo))).otherwise(lit(0L))
      }.reduce(_ + _)
    e.select(col("vec_id"), word(0).as("w0"), word(32).as("w1"))
  }

  def signRecall(spark: SparkSession, dir: String, k: Int = 5,
                 nQueries: Int = defaultNQueries): DataFrame = {
    val codes = signCodesOf(spark, dir)
    val q = codes.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("w0").as("q0"), col("w1").as("q1"))
    val pairs = broadcast(q).crossJoin(
        codes.select(col("vec_id").as("neighbor_id"),
          col("w0").as("n0"), col("w1").as("n1")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        (expr("bit_count(q0 ^ n0)") + expr("bit_count(q1 ^ n1)")).cast("long"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val approx = pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    cosineTopK(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
      .join(approx.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  def signRecallSql(k: Int = 5, nQueries: Int = defaultNQueries): String = {
    def wordSql(lo: Int, hi: Int, shiftBase: Int) =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"[CASE WHEN CAST(embedding[i] AS DOUBLE) > d.mids[i] " +
        s"THEN (CAST(1 AS BIGINT) << (i - $shiftBase)) ELSE CAST(0 AS BIGINT) END " +
        s"for i in range($lo, LEAST($hi, len(embedding) + 1))]), (a, v) -> a + v)"
    s"""WITH ex AS (
       |  SELECT unnest([{'pos': i, 'x': CAST(embedding[i] AS DOUBLE)}
       |                 for i in range(1, len(embedding) + 1)],
       |                recursive := true)
       |  FROM embeddings),
       |perdim AS (
       |  SELECT pos, (MIN(x) + MAX(x)) / 2.0 AS mid FROM ex GROUP BY pos),
       |dims AS (SELECT list(mid ORDER BY pos) AS mids FROM perdim),
       |codes AS (
       |  SELECT vec_id,
       |    ${wordSql(1, 33, 1)} AS w0,
       |    ${wordSql(33, 65, 33)} AS w1
       |  FROM embeddings CROSS JOIN dims d),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    CAST(bit_count(xor(q.w0, n.w0)) AS BIGINT)
       |      + CAST(bit_count(xor(q.w1, n.w1)) AS BIGINT) AS hamming
       |  FROM codes q JOIN codes n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $nQueries),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY hamming ASC, neighbor_id ASC) AS rank
       |    FROM pairs) WHERE rank <= $k),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (${cosineTopKSql(k, nQueries)}))
       |SELECT t.query_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_truth,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM truth t LEFT JOIN approx a
       |  ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin
  }

  /** v20: recall@k OPERATING CURVE for the LSH ANN — v6's point
    * estimate swept across k ∈ {1,3,5,10} in ONE pass: both sides are
    * ranked once at max-k, and each level's recall is a filter over the
    * shared (truth_rank, approx_rank) hit relation — the v18 discipline
    * (a sweep is a join against a levels relation, never a re-search
    * per level). recall@k = |truth∩approx in both top-k| / k, the
    * metric an ANN deployment reads before picking its k. Zero-hit
    * (query, k) cells are preserved via the query×level spine — absent
    * rows would silently inflate averages. Everything corpus-sized
    * happens once (the two ranking passes); the sweep is
    * query-set × levels plumbing. */
  def recallCurve(spark: SparkSession, dir: String,
                  ks: Seq[Int] = Seq(1, 3, 5, 10),
                  nQueries: Int = defaultNQueries): DataFrame = {
    val maxK = ks.max
    val truth = cosineTopK(spark, dir, maxK, nQueries)
      .select(col("query_id"), col("rank").as("rt"), col("neighbor_id"))
    val approx = annLsh(spark, dir, maxK, nQueries)
      .select(col("query_id"), col("rank").as("ra"), col("neighbor_id"))
    val levels = truth.sparkSession.range(0, ks.length)
      .select(element_at(lit(ks.toArray),
        (col("id") + 1).cast("int")).cast("long").as("k"))
    val cells = truth.select(col("query_id")).distinct()
      .crossJoin(broadcast(levels))
    val cnt = truth.join(approx, Seq("query_id", "neighbor_id"))
      .crossJoin(broadcast(levels))
      .filter(col("rt") <= col("k") && col("ra") <= col("k"))
      .groupBy(col("query_id"), col("k"))
      .agg(count(lit(1)).as("hits"))
    cells.join(cnt, Seq("query_id", "k"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") /
          col("k").cast("double")).as("recall"))
      .orderBy("query_id", "k")
  }

  def recallCurveSql(ks: Seq[Int] = Seq(1, 3, 5, 10),
                     nQueries: Int = defaultNQueries): String = {
    val maxK = ks.max
    s"""WITH truth AS (
       |  SELECT query_id, rank AS rt, neighbor_id
       |  FROM (${cosineTopKSql(maxK, nQueries)})),
       |approx AS (
       |  SELECT query_id, rank AS ra, neighbor_id
       |  FROM (${annLshSql(maxK, nQueries)})),
       |levels AS (SELECT unnest([${ks.mkString(", ")}]) AS k),
       |cells AS (
       |  SELECT DISTINCT query_id, k FROM truth CROSS JOIN levels),
       |cnt AS (
       |  SELECT t.query_id, l.k, CAST(COUNT(*) AS BIGINT) AS hits
       |  FROM truth t JOIN approx a
       |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
       |  CROSS JOIN levels l
       |  WHERE t.rt <= l.k AND a.ra <= l.k
       |  GROUP BY 1, 2)
       |SELECT c.query_id, CAST(c.k AS BIGINT) AS k,
       |  COALESCE(n.hits, 0) AS n_hits,
       |  CAST(COALESCE(n.hits, 0) AS DOUBLE) / CAST(c.k AS DOUBLE) AS recall
       |FROM cells c LEFT JOIN cnt n
       |  ON c.query_id = n.query_id AND c.k = n.k
       |ORDER BY c.query_id, c.k""".stripMargin
  }

  /** v22: k-NN LABEL CLASSIFICATION — the label-propagation eval a
    * curation pipeline runs over its embedding index: each query's
    * predicted label is the majority vote of its exact top-k cosine
    * neighbors (ties by smallest label — deterministic), scored
    * against the query's own label. Exercises index + metadata join
    * end-to-end: the ranking pass is v1's broadcast loop, the vote is
    * a (query, label) hash agg bounded by k·|queries|, and the argmax
    * is a window over that tiny relation. At scale the expensive part
    * is (and stays) the ranking; classification adds only
    * query-set-sized joins. */
  def knnClassify(spark: SparkSession, dir: String, k: Int = 5,
                  nQueries: Int = defaultNQueries): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = cosineTopK(spark, dir, k, nQueries)
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("n_label").asc)
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("n_label").as("pred_label"),
        col("votes").as("n_votes"))
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("n_votes"),
        (col("true_label") === col("pred_label")).as("is_correct"))
      .orderBy("query_id")
  }

  def knnClassifySql(k: Int = 5, nQueries: Int = defaultNQueries): String =
    s"""WITH topk AS (
       |  SELECT query_id, neighbor_id FROM (${cosineTopKSql(k, nQueries)})),
       |votes AS (
       |  SELECT t.query_id, CAST(e.label AS BIGINT) AS n_label,
       |    CAST(COUNT(*) AS BIGINT) AS votes
       |  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT query_id, n_label AS pred_label, votes AS n_votes FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY votes DESC, n_label ASC) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT p.query_id, CAST(e.label AS BIGINT) AS true_label,
       |  p.pred_label, p.n_votes,
       |  CAST(e.label AS BIGINT) = p.pred_label AS is_correct
       |FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
       |ORDER BY p.query_id""".stripMargin

  /** v23: the COMPRESSION OPERATING TABLE — every quantization level
    * this library implements (float32 reference, v5's int8, v19's
    * 1-bit sign, v8's 4-byte product codes) scored on the same
    * queries against the same float truth, with bytes-per-vector
    * alongside recall: the one relation a capacity-planning decision
    * actually reads (64 GB of floats vs 1 GB of PQ codes vs 2 GB of
    * sign bits — at what recall?). Pure composition of three green
    * recall keys plus the trivially-perfect float row; each member
    * was verified independently, this table just lines them up. */
  def compressionCurve(spark: SparkSession, dir: String, k: Int = 5,
                       nQueries: Int = defaultNQueries): DataFrame = {
    def tag(m: String, bytes: Long, df: DataFrame) =
      df.select(lit(m).as("method"), lit(bytes).as("bytes_per_vec"),
        col("query_id"), col("n_truth"), col("n_hits"), col("recall"))
    val float = cosineTopK(spark, dir, k, nQueries)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
      .select(lit("float32").as("method"), lit(256L).as("bytes_per_vec"),
        col("query_id"), col("n_truth"), col("n_truth").as("n_hits"),
        lit(1.0).as("recall"))
    float
      .unionByName(tag("int8", 64L, quantizedRecall(spark, dir, k, nQueries)))
      .unionByName(tag("sign1bit", 8L, signRecall(spark, dir, k, nQueries)))
      .unionByName(tag("pq4x8", 4L, pqRecall(spark, dir, k, nQueries)))
      .orderBy(col("bytes_per_vec").desc, col("query_id").asc)
  }

  def compressionCurveSql(k: Int = 5,
                          nQueries: Int = defaultNQueries): String =
    s"""WITH fl AS (
       |  SELECT 'float32' AS method, CAST(256 AS BIGINT) AS bytes_per_vec,
       |    query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
       |    CAST(COUNT(*) AS BIGINT) AS n_hits, CAST(1.0 AS DOUBLE) AS recall
       |  FROM (${cosineTopKSql(k, nQueries)}) GROUP BY query_id),
       |i8 AS (
       |  SELECT 'int8' AS method, CAST(64 AS BIGINT) AS bytes_per_vec, *
       |  FROM (${quantizedRecallSql(k, nQueries)})),
       |sb AS (
       |  SELECT 'sign1bit' AS method, CAST(8 AS BIGINT) AS bytes_per_vec, *
       |  FROM (${signRecallSql(k, nQueries)})),
       |pq AS (
       |  SELECT 'pq4x8' AS method, CAST(4 AS BIGINT) AS bytes_per_vec, *
       |  FROM (${pqRecallSql(k, nQueries)}))
       |SELECT * FROM (
       |  SELECT * FROM fl UNION ALL SELECT * FROM i8
       |  UNION ALL SELECT * FROM sb UNION ALL SELECT * FROM pq)
       |ORDER BY bytes_per_vec DESC, query_id ASC""".stripMargin

  /** v21: SEMANTIC dedup clusters — the SemDeDup-style pass a training
    * pipeline runs AFTER lexical dedup (d1–d6): paraphrases and
    * re-renderings share no shingles but sit together in embedding
    * space. Edges are v12's bucket-local nearest-neighbor verdicts (the
    * label-free LSH path — the candidate generator an unlabeled 100 TB
    * embedding lake can actually afford), and the clustering is the
    * SAME distributed min-label components used for d6/d10
    * ([[graft.dedup.Dedup.dupClustersFrom]]: per-round join+agg with
    * localCheckpoint lineage truncation — one engine, three edge
    * relations). One representative per cluster (the min id), the
    * keep/drop verdict every downstream pack/mix stage consumes. */
  def semanticClusters(spark: SparkSession, dir: String,
                       threshold: Double = 0.4): DataFrame = {
    // memoized like d6: the rounds run convergence actions at build time
    Silver.memoize(spark, s"semanticClusters:$threshold", dir) {
      val verts = Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id"))
      val edges = lshNearDup(spark, dir, threshold)
        .filter(col("is_near_dup"))
        .select(col("vec_id").as("doc_a"), col("neighbor_id").as("doc_b"))
      graft.dedup.Dedup.dupClustersFrom(verts, edges)
    }.select(col("doc_id").as("vec_id"), col("cluster_id"),
      col("cluster_size"),
      (col("doc_id") === col("cluster_id")).as("is_representative"))
      .orderBy("vec_id")
  }

  def semanticClustersSql(threshold: Double = 0.4): String =
    s"""WITH RECURSIVE nd AS (
       |  SELECT vec_id, neighbor_id FROM (${lshNearDupSql(threshold)})
       |  WHERE is_near_dup),
       |edges AS (
       |  SELECT vec_id AS doc_a, neighbor_id AS doc_b FROM nd
       |  UNION ALL SELECT neighbor_id, vec_id FROM nd),
       |reach AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.doc_b AS dst
       |  FROM reach r JOIN edges e ON r.dst = e.doc_a),
       |labels AS (
       |  SELECT emb.vec_id,
       |    LEAST(emb.vec_id, COALESCE(MIN(r.dst), emb.vec_id)) AS cluster_id
       |  FROM embeddings emb LEFT JOIN reach r ON r.src = emb.vec_id
       |  GROUP BY emb.vec_id),
       |sizes AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size FROM labels
       |  GROUP BY cluster_id)
       |SELECT l.vec_id, l.cluster_id, s.cluster_size,
       |  l.vec_id = l.cluster_id AS is_representative
       |FROM labels l JOIN sizes s USING (cluster_id)
       |ORDER BY l.vec_id""".stripMargin

  /** v25: COSINE-HISTOGRAM calibration curve — the distribution of
    * pairwise cosine over the LSH-bucket candidate space, in 20 fixed
    * 0.1-wide bins with running admission counts from the TOP bin down:
    * the operating curve that calibrates v3/v12's near-dup threshold
    * the way d22's Hamming profile calibrates d8's (cum_pairs at bin b =
    * how many candidate pairs a threshold at that bin's floor admits).
    * Bin edges are fixed, not data-derived, so curves from different
    * corpus snapshots compare directly; the cosine is the strict-fold
    * double both engines compute bit-identically, and floor() on
    * identical doubles bins identically — fully oracle-checked. Shape:
    * the v12 bucket join (never all-pairs) + a 20-row rollup; the
    * running sum is a window over ≤ 20 rows. */
  def cosineHistogram(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir).withColumn("bucket", bucketCol(col("embedding")))
    val a = e.select(col("bucket"), col("vec_id"),
      col("embedding").as("a_emb"), col("norm2").as("a_norm2"))
    val b = e.select(col("bucket"), col("vec_id").as("neighbor_id"),
      col("embedding").as("b_emb"), col("norm2").as("b_norm2"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("vec_id") < col("neighbor_id"))
      .withColumn("cosine",
        cosine(dotCol(col("a_emb"), col("b_emb")), col("a_norm2"), col("b_norm2")))
      .withColumn("bin", least(lit(19L),
        greatest(lit(0L), floor((col("cosine") + 1) * 10).cast("long"))))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs.groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
      .withColumn("cum_from_top", sum(col("n_pairs")).over(w))
      .select(col("bin"),
        (col("bin").cast("double") / 10 - 1).as("bin_floor"),
        col("n_pairs"), col("cum_from_top"))
      .orderBy(col("bin"))
  }

  val cosineHistogramSql: String =
    s"""WITH e AS (
       |  SELECT *, ${bucketSql("embedding")} AS bucket FROM ($withNormSql)),
       |pairs AS (
       |  SELECT LEAST(19, GREATEST(0, CAST(FLOOR(
       |      (${dotSql("a.embedding", "b.embedding")}
       |        / sqrt(a.norm2 * b.norm2) + 1) * 10) AS BIGINT))) AS bin
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |counts AS (
       |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |  FROM pairs GROUP BY 1)
       |SELECT bin, CAST(bin AS DOUBLE) / 10 - 1 AS bin_floor, n_pairs,
       |  CAST(SUM(n_pairs) OVER (ORDER BY bin DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_from_top
       |FROM counts ORDER BY bin""".stripMargin

  /** v24: HARD-NEGATIVE MINING for contrastive training — for each query
    * vector, the top-k most-cosine-similar candidates whose label DIFFERS
    * from the query's: the "confusable but wrong" examples a
    * contrastive/embedding trainer pairs with each anchor (the mining
    * pass behind every triplet-loss / InfoNCE data loader; the positives
    * are same-label, the hard negatives are exactly this relation).
    * Same exhaustive v1 shape — broadcast query set against the corpus,
    * one row_number window per query — plus the label-mismatch predicate,
    * which is applied BEFORE ranking so the top-k is over negatives only
    * (a post-filter of v1's top-k would under-fill k). At 100 TB the
    * exhaustive scan swaps for any of the ANN candidate generators
    * (v2/v4/v11) feeding the same label-exclusion rerank; this is the
    * recall-1.0 certifier for those, like v1 is for v6. */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = defaultNQueries): DataFrame = {
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("label").as("query_label"),
      col("embedding").as("q_emb"), col("norm2").as("q_norm2"))
    val cand = e.select(col("vec_id").as("neighbor_id"),
      col("label").as("neighbor_label"), col("embedding").as("n_emb"),
      col("norm2").as("n_norm2"))
    val pairs = broadcast(q).crossJoin(cand)
      .filter(col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine",
        cosine(dotCol(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label").cast("long").as("query_label"),
        col("rank"), col("neighbor_id"),
        col("neighbor_label").cast("long").as("neighbor_label"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def hardNegativesSql(k: Int = 5, nQueries: Int = defaultNQueries): String =
    s"""WITH e AS ($withNormSql),
       |pairs AS (
       |  SELECT q.vec_id AS query_id,
       |    CAST(q.label AS BIGINT) AS query_label,
       |    n.vec_id AS neighbor_id,
       |    CAST(n.label AS BIGINT) AS neighbor_label,
       |    ${dotSql("q.embedding", "n.embedding")}
       |      / sqrt(q.norm2 * n.norm2) AS cosine
       |  FROM e q JOIN e n
       |    ON q.vec_id < $nQueries AND q.label <> n.label),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, query_label, rank, neighbor_id, neighbor_label, cosine
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** v28: TRAINED-vs-DONOR IVF RECALL — the Lloyd codebook path
    * ([[Lloyd.ivfTrain]], round-6's deterministic trainer) made
    * driver-visible: the SAME ivfAnn query shape evaluated against
    * v1's exact truth under donor centroids (first-N rows — the
    * oracle-parity configuration every other IVF key ships) and under
    * `trainedIters` rounds of decimal-exact Lloyd, side by side per
    * query. This is the go/no-go table for re-training an index when
    * v26's balance audit drifts: what recall does training actually
    * buy on THIS corpus. Rows-only by design — the trainer's
    * fixed-point iteration has no single-expression SQL form (t20's
    * argument); determinism across runs and the donor row's equality
    * with v6's ivf row are spec-asserted. */
  def trainedRecall(spark: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = defaultNQueries,
                    trainedIters: Int = 5): DataFrame = {
    val truth = cosineTopK(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    def eval(method: String, pairs: DataFrame): DataFrame =
      truth.join(pairs.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(lit(method).as("method"), col("query_id"),
          col("n_truth"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_truth").cast("double"))
            .as("recall"))
    eval("donor", ivfAnn(spark, dir, k, nQueries)
        .select("query_id", "neighbor_id"))
      .union(eval("trained",
        ivfAnn(spark, dir, k, nQueries, trainedIters = trainedIters)
          .select("query_id", "neighbor_id")))
      .orderBy("method", "query_id")
  }

  /** v28's oracle: both ANN legs replayed end-to-end in SQL — the donor
    * leg from first-nCentroids rows, the trained leg from the Lloyd
    * codebook silver [[ivfRanked]] materializes — each scored against
    * the brute-force truth. The Lloyd ITERATION itself stays out of SQL
    * (t20's argument); what the gate certifies is that the trained
    * centroids, once fit, drive the same assignment/probe/rank/recall
    * algebra in both engines. */
  def trainedRecallSql(k: Int = 5, nQueries: Int = defaultNQueries,
                       nCentroids: Int = 8, nProbe: Int = 2,
                       trainedIters: Int = 5): String = {
    def evalSql(method: String, annSql: String): String =
      s"""SELECT '$method' AS method, t.query_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_truth,
         |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
         |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS recall
         |FROM truth t LEFT JOIN ($annSql) a
         |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id""".stripMargin
    s"""WITH truth AS (
       |  SELECT query_id, neighbor_id FROM (${cosineTopKSql(k, nQueries)}))
       |SELECT * FROM (
       |${evalSql("donor", ivfAnnSql(k, nQueries, nCentroids, nProbe))}
       |UNION ALL
       |${evalSql("trained", ivfAnnSqlWithCents(
            trainedCentsSql(nCentroids, trainedIters), k, nQueries, nProbe))}
       |) ORDER BY method, query_id""".stripMargin
  }

  /** h2: RECIPROCAL-RANK FUSION — the standard hybrid-retrieval merge
    * (Cormack et al.'s RRF, the default fusion in every production
    * lexical+vector stack): t15's BM25 ranking and v1's exact cosine
    * ranking over the SAME query ids (doc_id ≡ vec_id in this corpus)
    * fused by score(d) = Σ_systems 60000/(60 + rank_s(d)) in EXACT
    * integer milli-arithmetic — rank-only fusion needs no score
    * calibration between systems, which is precisely why it wins in
    * practice. Documents surfacing in only one system still score
    * (full outer join semantics); final order (fused desc, doc asc)
    * is total. Where h1 fuses by candidate-generation + rerank, h2
    * fuses two COMPLETE rankings — both compose from independently
    * oracle-checked relations, and the whole key is oracle-checked.
    * Cost: two query-set-sized top-k relations + query-set-sized
    * joins; corpus-sized work stays inside the two parents. */
  def rrfFusion(spark: SparkSession, dir: String, nQueries: Int = 3,
                kIn: Int = 10, kOut: Int = 5): DataFrame =
    rrfFrom(
      graft.text.TextAnalysis.bm25(spark, dir, nQueries, kIn),
      cosineTopK(spark, dir, kIn, nQueries), kOut)

  /** [[rrfFusion]] over PREBUILT parent rankings — lets a composite
    * consumer (h4) compute each parent once and fuse from the shared
    * relations instead of re-running the parents inside the fusion. */
  private[graft] def rrfFrom(bm25In: DataFrame, cosineIn: DataFrame,
                             kOut: Int): DataFrame = {
    val lex = bm25In
      .select(col("query_id"), col("doc_id").as("doc"),
        col("rank").as("lex_rank"))
    val sem = cosineIn
      .select(col("query_id"), col("neighbor_id").as("doc"),
        col("rank").cast("long").as("sem_rank"))
    val fused = lex.join(sem, Seq("query_id", "doc"), "full_outer")
      .withColumn("rrf_milli",
        coalesce(expr("60000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("60000 div (60 + sem_rank)"), lit(0L)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_milli").desc, col("doc").asc)
    fused.withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= kOut)
      .select(col("query_id"), col("fused_rank"), col("doc"),
        col("rrf_milli"), col("lex_rank"), col("sem_rank"))
      .orderBy(col("query_id"), col("fused_rank"))
  }

  def rrfFusionSql(nQueries: Int = 3, kIn: Int = 10, kOut: Int = 5): String =
    s"""WITH lex AS (
       |  SELECT query_id, doc_id AS doc, rank AS lex_rank
       |  FROM (${graft.text.TextAnalysis.bm25Sql(nQueries, kIn)})),
       |sem AS (
       |  SELECT query_id, neighbor_id AS doc, CAST(rank AS BIGINT) AS sem_rank
       |  FROM (${cosineTopKSql(kIn, nQueries)})),
       |fused AS (
       |  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
       |    COALESCE(l.doc, s.doc) AS doc,
       |    l.lex_rank, s.sem_rank,
       |    COALESCE(60000 // (60 + l.lex_rank), 0)
       |      + COALESCE(60000 // (60 + s.sem_rank), 0) AS rrf_milli
       |  FROM lex l FULL OUTER JOIN sem s
       |    ON l.query_id = s.query_id AND l.doc = s.doc),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_milli DESC, doc ASC) AS BIGINT) AS fused_rank
       |  FROM fused)
       |SELECT query_id, fused_rank, doc, rrf_milli, lex_rank, sem_rank
       |FROM ranked WHERE fused_rank <= $kOut
       |ORDER BY query_id, fused_rank""".stripMargin

  /** v37: PARTITION AGREEMENT (Adjusted Rand Index) — the clustering-
    * evaluation operator (Hubert & Arabie 1985): do two independent
    * coarse quantizations of the SAME corpus carve it up the same way?
    * Compared here: v4's 8-cell IVF donor assignment vs an 8-bucket
    * axis-aligned sign-LSH partition (3 hyperplanes — v2's family).
    * ARI is computed EXACTLY from the pair-counting contingency:
    * with Sij = Σ C(n_ij, 2), Sa = Σ C(a_i, 2), Sb = Σ C(b_j, 2),
    * T = C(n, 2),
    *
    *   ARI = (2T·Sij − 2·Sa·Sb) / (T·(Sa + Sb) − 2·Sa·Sb)
    *
    * (the textbook form multiplied through by 2T so everything stays
    * integer), in DECIMAL(38,0)/HUGEINT — T is corpus-quadratic, so
    * the products overflow BIGINT long before 100 TB — with the
    * sign-explicit milli division (ARI can be negative). Beside it:
    * the bucket→cell purity (Σ_b max_cell n_bc, milli). Near-zero ARI
    * on isotropic synthetic embeddings is the calibration readout
    * (the k5-matrix argument); the operator exists for the drift case
    * — re-run after re-training (v28) to quantify how far the new
    * partition moved.
    *
    * Scale shape: both assignments are narrow broadcast passes over
    * the corpus (no shuffle of the big side); the contingency is ONE
    * (cell, bucket) aggregate — ≤64 rows; everything after is
    * cell-count-sized arithmetic. */
  def partitionAri(spark: SparkSession, dir: String,
                   nCentroids: Int = 8): DataFrame = {
    val dec38 = "decimal(38,0)"
    val cellOf = ivfRanked(spark, dir, nCentroids)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("centroid_id").as("cell"),
        col("embedding"))
    val both = cellOf.withColumn("bucket",
      (0 until 3).map(i =>
        when(element_at(col("embedding"), i * 4 + 1) > 0f, lit(1L << i))
          .otherwise(lit(0L))).reduce(_ + _))
    val cont = both.groupBy(col("cell"), col("bucket"))
      .agg(count(lit(1)).as("nij"))
    val sij = cont.agg(sum(expr("CAST(nij AS decimal(38,0)) * (nij - 1)" +
      " DIV 2")).cast(dec38).as("sij"),
      count(lit(1)).as("n_joint"))
    val sa = cont.groupBy(col("cell")).agg(sum(col("nij")).as("a"))
      .agg(sum(expr("CAST(a AS decimal(38,0)) * (a - 1) DIV 2"))
        .cast(dec38).as("sa"), count(lit(1)).as("n_cells"))
    val sb = cont.groupBy(col("bucket")).agg(sum(col("nij")).as("b"))
      .agg(sum(expr("CAST(b AS decimal(38,0)) * (b - 1) DIV 2"))
        .cast(dec38).as("sb"), count(lit(1)).as("n_buckets"))
    val purity = cont.groupBy(col("bucket"))
      .agg(max(col("nij")).as("mx"))
      .agg(sum(col("mx")).as("pure_n"))
    val n = both.agg(count(lit(1)).as("n"))
    n.crossJoin(sij).crossJoin(sa).crossJoin(sb).crossJoin(purity)
      .select(col("n"), col("n_cells"), col("n_buckets"), col("n_joint"),
        expr("CAST(pure_n * 1000 DIV n AS BIGINT)").as("purity_milli"),
        expr(s"CAST(CASE WHEN (CAST(n AS $dec38) * (n - 1) DIV 2)" +
          s" * (sa + sb) - 2 * sa * sb = 0 THEN NULL ELSE" +
          s" (CASE WHEN (2 * (CAST(n AS $dec38) * (n - 1) DIV 2) * sij" +
          s" - 2 * sa * sb) < 0 THEN -1 ELSE 1 END) *" +
          s" (abs(2 * (CAST(n AS $dec38) * (n - 1) DIV 2) * sij" +
          s" - 2 * sa * sb) * 1000 DIV" +
          s" abs((CAST(n AS $dec38) * (n - 1) DIV 2) * (sa + sb)" +
          s" - 2 * sa * sb)) END AS BIGINT)").as("ari_milli"))
  }

  def partitionAriSql(nCentroids: Int = 8): String = {
    val bucket3 = (0 until 3).map(i =>
      s"CASE WHEN embedding[${i * 4 + 1}] > 0 THEN ${1L << i} ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""WITH e AS ($withNormSql),
       |cents AS (
       |  SELECT vec_id AS cent_vid, embedding AS c_emb, norm2 AS c_norm2,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id
       |  FROM e ORDER BY vec_id LIMIT $nCentroids),
       |aff AS (
       |  SELECT e.vec_id, e.embedding, c.centroid_id,
       |    ${dotSql("e.embedding", "c.c_emb")}
       |      / sqrt(e.norm2 * c.c_norm2) AS ccos
       |  FROM e CROSS JOIN cents c),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, centroid_id ASC) AS crank
       |  FROM aff),
       |pb AS (
       |  SELECT centroid_id AS cell, $bucket3 AS bucket
       |  FROM ranked WHERE crank = 1),
       |cont AS (
       |  SELECT cell, bucket, CAST(COUNT(*) AS HUGEINT) AS nij
       |  FROM pb GROUP BY 1, 2),
       |sij AS (
       |  SELECT CAST(SUM(nij * (nij - 1) // 2) AS HUGEINT) AS sij,
       |    CAST(COUNT(*) AS BIGINT) AS n_joint
       |  FROM cont),
       |sa AS (
       |  SELECT CAST(SUM(a * (a - 1) // 2) AS HUGEINT) AS sa,
       |    CAST(COUNT(*) AS BIGINT) AS n_cells
       |  FROM (SELECT cell, CAST(SUM(nij) AS HUGEINT) AS a
       |        FROM cont GROUP BY 1) q),
       |sb AS (
       |  SELECT CAST(SUM(b * (b - 1) // 2) AS HUGEINT) AS sb,
       |    CAST(COUNT(*) AS BIGINT) AS n_buckets
       |  FROM (SELECT bucket, CAST(SUM(nij) AS HUGEINT) AS b
       |        FROM cont GROUP BY 1) q),
       |pur AS (
       |  SELECT CAST(SUM(mx) AS HUGEINT) AS pure_n
       |  FROM (SELECT bucket, MAX(nij) AS mx FROM cont GROUP BY 1) q),
       |nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM pb)
       |SELECT CAST(n AS BIGINT) AS n, n_cells, n_buckets, n_joint,
       |  CAST(pure_n * 1000 // n AS BIGINT) AS purity_milli,
       |  CAST(CASE WHEN (n * (n - 1) // 2) * (sa + sb) - 2 * sa * sb = 0
       |    THEN NULL ELSE
       |    (CASE WHEN (2 * (n * (n - 1) // 2) * sij - 2 * sa * sb) < 0
       |      THEN -1 ELSE 1 END) *
       |    (abs(2 * (n * (n - 1) // 2) * sij - 2 * sa * sb) * 1000 //
       |     abs((n * (n - 1) // 2) * (sa + sb) - 2 * sa * sb))
       |  END AS BIGINT) AS ari_milli
       |FROM nn CROSS JOIN sij CROSS JOIN sa CROSS JOIN sb CROSS JOIN pur"""
      .stripMargin
  }

  /** Milli DCG discounts floor(1000 / log2(i + 1)) for ranks 1..k —
    * precomputed here and injected as LITERALS into both engines, so
    * no runtime libm call can diverge. */
  private def dcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(i => (1000.0 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** h4: RANKER EVALUATION — the IR-metrics harness the h-family was
    * missing: BM25 (t15), exact cosine (v1), and their RRF fusion (h2)
    * scored per query against deterministic PSEUDO-QRELS — graded
    * relevance = df-capped distinct-word overlap with the query doc
    * (h1's own candidate feature; the standard trick when no human
    * judgments exist, and fully engine-reproducible). Per (system,
    * query): hits@k, DCG@k and the ideal DCG in milli (discount
    * literals from [[dcgDiscounts]] — no runtime log), nDCG, MRR
    * (1000 DIV first-relevant rank), precision@k — all exact integers
    * the oracle hash-matches.
    *
    * Scale shape: the three rankings are query-set-sized top-k
    * relations (corpus-sized work stays inside the independently
    * oracle-checked parents); the qrels join is (queries × corpus)
    * word-overlap — the same df-capped inverted-index shape as
    * h1/t15, never all-pairs; metrics are 9-row aggregates. */
  def rankerEval(spark: SparkSession, dir: String, nQueries: Int = 3,
                 k: Int = 5, maxDfPct: Int = defaultMaxDfPct): DataFrame = {
    val words = dfCappedWords(spark, dir, maxDfPct)
    // the query side is nQueries docs' capped words — broadcast it so
    // the corpus-sized posting list is never shuffled for the qrels join
    val rel = broadcast(words.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("query_id"), col("word")))
      .join(words, "word")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("gain"))
    val disc = dcgDiscounts(k)
    def discOf(rankCol: Column): Column =
      disc.zipWithIndex.foldLeft(lit(0L)) { case (acc, (d, i)) =>
        when(rankCol === (i + 1).toLong, lit(d)).otherwise(acc)
      }
    // each parent ranking computed ONCE at depth 2k as a silver
    // (query-set-sized): bm25@k / cosine@k are rank-prefix filters of
    // the same deterministic total order, and the fusion runs over the
    // shared relations via rrfFrom — the r13 shape re-ran bm25 and
    // cosine a second time inside rrfFusion
    val lex2k = Silver.memoize(spark, s"bm25TopK:$nQueries:${2 * k}", dir)(
      graft.text.TextAnalysis.bm25(spark, dir, nQueries, 2 * k))
    val sem2k = Silver.memoize(spark, s"cosineTopK:${2 * k}:$nQueries", dir)(
      cosineTopK(spark, dir, 2 * k, nQueries))
    val systems =
      lex2k.filter(col("rank") <= k)
        .select(lit("bm25").as("system"), col("query_id"),
          col("doc_id"), col("rank"))
      .unionByName(sem2k.filter(col("rank") <= k)
        .select(lit("cosine").as("system"), col("query_id"),
          col("neighbor_id").as("doc_id"), col("rank").cast("long").as("rank")))
      .unionByName(rrfFrom(lex2k, sem2k, kOut = k)
        .select(lit("rrf").as("system"), col("query_id"),
          col("doc").as("doc_id"), col("fused_rank").as("rank")))
    val scored = systems.join(rel, Seq("query_id", "doc_id"), "left")
      .withColumn("g", coalesce(col("gain"), lit(0L)))
    val perSys = scored.groupBy(col("system"), col("query_id"))
      .agg(sum(when(col("g") > 0, 1L).otherwise(0L)).as("hits"),
        sum(col("g") * discOf(col("rank"))).as("dcg_milli"),
        coalesce(max(when(col("g") > 0, expr("1000 DIV rank"))), lit(0L))
          .as("mrr_milli"))
      .withColumn("p_at_k_milli", expr(s"hits * 1000 DIV $k"))
    val wIdeal = Window.partitionBy(col("query_id"))
      .orderBy(col("gain").desc, col("doc_id").asc)
    val ideal = rel.withColumn("rn", row_number().over(wIdeal))
      .filter(col("rn") <= k)
      .groupBy(col("query_id"))
      .agg(sum(col("gain") * discOf(col("rn").cast("long")))
        .as("idcg_milli"))
    perSys.join(broadcast(ideal), Seq("query_id"))
      .select(col("system"), col("query_id"), col("hits"),
        col("dcg_milli"), col("idcg_milli"),
        when(col("idcg_milli") > 0,
          expr("dcg_milli * 1000 DIV idcg_milli")).as("ndcg_milli"),
        col("mrr_milli"), col("p_at_k_milli"))
      .orderBy(col("system"), col("query_id"))
  }

  def rankerEvalSql(nQueries: Int = 3, k: Int = 5,
                    maxDfPct: Int = defaultMaxDfPct): String = {
    val disc = dcgDiscounts(k)
    def discOf(r: String): String =
      disc.zipWithIndex
        .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }
        .mkString(s"CASE $r ", " ", " ELSE 0 END")
    s"""WITH wall AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(string_split_regex(text, '\\s+'))) AS word
       |  FROM documents),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |w AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, word, COUNT(*) OVER (PARTITION BY word) AS df
       |    FROM wall) CROSS JOIN nd
       |  WHERE df * 100 <= $maxDfPct * n_docs),
       |rel AS (
       |  SELECT q.doc_id AS query_id, d.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS gain
       |  FROM w q JOIN w d ON q.word = d.word
       |  WHERE q.doc_id < $nQueries AND d.doc_id <> q.doc_id
       |  GROUP BY 1, 2),
       |systems AS (
       |  SELECT 'bm25' AS system, query_id, doc_id,
       |    CAST(rank AS BIGINT) AS rank
       |  FROM (${graft.text.TextAnalysis.bm25Sql(nQueries, k)})
       |  UNION ALL
       |  SELECT 'cosine', query_id, neighbor_id, CAST(rank AS BIGINT)
       |  FROM (${cosineTopKSql(k, nQueries)})
       |  UNION ALL
       |  SELECT 'rrf', query_id, doc, fused_rank
       |  FROM (${rrfFusionSql(nQueries, 2 * k, k)})),
       |scored AS (
       |  SELECT s.system, s.query_id, s.rank, COALESCE(r.gain, 0) AS g
       |  FROM systems s LEFT JOIN rel r
       |    ON s.query_id = r.query_id AND s.doc_id = r.doc_id),
       |per_sys AS (
       |  SELECT system, query_id,
       |    CAST(SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |    CAST(SUM(g * ${discOf("rank")}) AS BIGINT) AS dcg_milli,
       |    CAST(COALESCE(MAX(CASE WHEN g > 0 THEN 1000 // rank END), 0)
       |      AS BIGINT) AS mrr_milli
       |  FROM scored GROUP BY 1, 2),
       |ideal AS (
       |  SELECT query_id,
       |    CAST(SUM(gain * ${discOf("rn")}) AS BIGINT) AS idcg_milli
       |  FROM (
       |    SELECT query_id, gain, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY gain DESC, doc_id ASC) AS rn
       |    FROM rel) q
       |  WHERE rn <= $k
       |  GROUP BY 1)
       |SELECT p.system, p.query_id, p.hits, p.dcg_milli, i.idcg_milli,
       |  CASE WHEN i.idcg_milli > 0
       |    THEN p.dcg_milli * 1000 // i.idcg_milli END AS ndcg_milli,
       |  p.mrr_milli, p.hits * 1000 // $k AS p_at_k_milli
       |FROM per_sys p JOIN ideal i USING (query_id)
       |ORDER BY p.system, p.query_id""".stripMargin
  }

  /** v26: IVF CELL-BALANCE AUDIT — k2's skew diagnostic applied to the
    * vector index: per cell, the assigned-vector count, its share of
    * the corpus (milli), the deviation from the uniform ideal (milli,
    * signed), and the corpus-wide expected scan fraction at nProbe=1
    * for a corpus-distributed query — Σ share_c² (probability the
    * query lands in cell c × the cost of scanning its n_c rows). An
    * imbalanced IVF quietly degrades to brute force on hot cells (the
    * vector-index version of a hot join key); this is the number to
    * check BEFORE shipping v4/v11's index layout, and the case for
    * re-training centroids (Lloyd) when it drifts. The assignment is
    * v4's own window (same donor centroids, so the audit describes
    * exactly the shipped index); everything after is a |cells|-sized
    * rollup. Integer arithmetic throughout. */
  /** v32: EMBEDDING OUT-OF-DISTRIBUTION scores — the data-quality gate
    * run before trusting new embeddings: each vector's distance to its
    * BEST coarse centroid (v4's own assignment — no new index), as
    * `ood_milli` = 1000 − floor(best_cos·1000). A vector far from every
    * cell is a distribution outlier: an encoder regression, a corrupted
    * row, or genuinely novel content — exactly what v26's cell-balance
    * audit can't see per-row. floor() before the integer cast on BOTH
    * engines (a bare double→BIGINT cast rounds in DuckDB but truncates
    * in Spark); the cosine itself is the strict-fold double, so the
    * floor boundary is bit-identical. Shape: v4's broadcast-quantizer
    * assignment window, then a pure map. */
  def oodScores(spark: SparkSession, dir: String,
                nCentroids: Int = 8): DataFrame =
    ivfRanked(spark, dir, nCentroids)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("centroid_id").as("cell"),
        col("ccos").as("best_cos"))
      .withColumn("ood_milli",
        lit(1000L) - floor(col("best_cos") * 1000).cast("long"))
      .withColumn("is_outlier", col("ood_milli") > 900L)
      .orderBy(col("vec_id"))

  def oodScoresSql(nCentroids: Int = 8): String =
    s"""WITH e AS ($withNormSql),
       |cents AS (
       |  SELECT vec_id AS cent_vid, embedding AS c_emb, norm2 AS c_norm2,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id
       |  FROM e ORDER BY vec_id LIMIT $nCentroids),
       |aff AS (
       |  SELECT e.vec_id, c.centroid_id,
       |    ${dotSql("e.embedding", "c.c_emb")}
       |      / sqrt(e.norm2 * c.c_norm2) AS ccos
       |  FROM e CROSS JOIN cents c),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, centroid_id ASC) AS crank
       |  FROM aff)
       |SELECT vec_id, centroid_id AS cell, ccos AS best_cos,
       |  1000 - CAST(FLOOR(ccos * 1000) AS BIGINT) AS ood_milli,
       |  (1000 - CAST(FLOOR(ccos * 1000) AS BIGINT)) > 900 AS is_outlier
       |FROM ranked WHERE crank = 1
       |ORDER BY vec_id""".stripMargin

  def cellBalance(spark: SparkSession, dir: String,
                  nCentroids: Int = 8): DataFrame = {
    val cells = ivfRanked(spark, dir, nCentroids)
      .filter(col("crank") === 1)
      .groupBy(col("centroid_id").as("cell"))
      .agg(count(lit(1)).as("n_vectors"))
    val total = Window.partitionBy(lit(1))
    cells
      .withColumn("total_vectors", sum(col("n_vectors")).over(total))
      .withColumn("sq_sum", sum(col("n_vectors") * col("n_vectors")).over(total))
      .select(col("cell"), col("n_vectors"),
        expr("n_vectors * 1000 div total_vectors").as("share_milli"),
        expr(s"n_vectors * $nCentroids * 1000 div total_vectors - 1000")
          .as("dev_from_uniform_milli"),
        expr("sq_sum * 1000 div (total_vectors * total_vectors)")
          .as("expected_scan_milli"))
      .orderBy(col("cell"))
  }

  def cellBalanceSql(nCentroids: Int = 8): String =
    s"""WITH e AS ($withNormSql),
       |cents AS (
       |  SELECT vec_id AS cent_vid, embedding AS c_emb, norm2 AS c_norm2,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id
       |  FROM e ORDER BY vec_id LIMIT $nCentroids),
       |aff AS (
       |  SELECT e.vec_id, c.centroid_id,
       |    ${dotSql("e.embedding", "c.c_emb")}
       |      / sqrt(e.norm2 * c.c_norm2) AS ccos
       |  FROM e CROSS JOIN cents c),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, centroid_id ASC) AS crank
       |  FROM aff),
       |cells AS (
       |  SELECT centroid_id AS cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
       |  FROM ranked WHERE crank = 1 GROUP BY 1)
       |SELECT cell, n_vectors,
       |  n_vectors * 1000 // CAST(SUM(n_vectors) OVER () AS BIGINT) AS share_milli,
       |  n_vectors * $nCentroids * 1000
       |    // CAST(SUM(n_vectors) OVER () AS BIGINT) - 1000 AS dev_from_uniform_milli,
       |  CAST(SUM(n_vectors * n_vectors) OVER () * 1000
       |    // (SUM(n_vectors) OVER () * SUM(n_vectors) OVER ()) AS BIGINT)
       |    AS expected_scan_milli
       |FROM cells ORDER BY cell""".stripMargin

  /** v27: DIMENSION-TRUNCATION RECALL — the Matryoshka operating curve:
    * recall@k when ranking on only the FIRST d dimensions of each
    * embedding (d ∈ 8/16/32/64), scored against the full-dimension
    * exact top-k. This is the capacity menu along the DIMENSION axis
    * the way v23 is along the bytes-per-value axis: an MRL-style index
    * keeps the d-prefix hot (d/64ths of the scan bytes) and reranks
    * survivors on the full vector, and this table says what each
    * prefix costs in retrieval quality. One broadcast-query pass per
    * level over the corpus (the levels relation is a 4-row literal);
    * truncated dots are strict left-to-right folds over the prefix in
    * BOTH engines, so the table is oracle-checked. The d=64 row is
    * self-certifying (recall exactly 1000 milli — asserted in spec,
    * v18's discipline). */
  def dimTruncationRecall(spark: SparkSession, dir: String, k: Int = 5,
                          nQueries: Int = defaultNQueries,
                          dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val fullDim = dims.max
    val levels = broadcast(dims.toDF("dim"))
    val e = Tables.embeddings(spark, dir)
    val eLvl = e.crossJoin(levels)
      .withColumn("t_emb", slice(col("embedding"), lit(1), col("dim")))
      .withColumn("t_norm2", dotCol(col("t_emb"), col("t_emb")))
    val q = eLvl.filter(col("vec_id") < nQueries).select(
      col("dim"), col("vec_id").as("query_id"),
      col("t_emb").as("q_emb"), col("t_norm2").as("q_norm2"))
    val cand = eLvl.select(col("dim"), col("vec_id").as("neighbor_id"),
      col("t_emb").as("n_emb"), col("t_norm2").as("n_norm2"))
    val pairs = broadcast(q).join(cand, Seq("dim"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosine(dotCol(col("q_emb"), col("n_emb")), col("q_norm2"), col("n_norm2")))
    val w = Window.partitionBy(col("dim"), col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val ranked = pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("dim"), col("query_id"), col("neighbor_id"))
    val truth = ranked.filter(col("dim") === fullDim)
      .select(col("query_id"), col("neighbor_id"))
    ranked.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("dim").cast("long").as("dim"), col("n_hits"),
        expr(s"n_hits * 1000 div (${k.toLong} * $nQueries)").as("recall_milli"))
      .orderBy(col("dim"))
  }

  def dimTruncationRecallSql(k: Int = 5, nQueries: Int = defaultNQueries,
                             dims: Seq[Int] = Seq(8, 16, 32, 64)): String = {
    val fullDim = dims.max
    def tdot(x: String, y: String, d: String) =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) " +
        s"for i in range(1, $d + 1)]), (acc, v) -> acc + v)"
    s"""WITH levels AS (SELECT unnest([${dims.mkString(", ")}]) AS dim),
       |e AS (
       |  SELECT l.dim, v.vec_id, v.embedding,
       |    ${tdot("v.embedding", "v.embedding", "l.dim")} AS t_norm2
       |  FROM embeddings v CROSS JOIN levels l),
       |pairs AS (
       |  SELECT q.dim, q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    ${tdot("q.embedding", "n.embedding", "q.dim")}
       |      / sqrt(q.t_norm2 * n.t_norm2) AS cosine
       |  FROM e q JOIN e n ON q.dim = n.dim
       |    AND q.vec_id < $nQueries AND q.vec_id <> n.vec_id),
       |ranked AS (
       |  SELECT dim, query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY dim, query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
       |  FROM pairs),
       |topk AS (SELECT * FROM ranked WHERE rank <= $k),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM topk WHERE dim = $fullDim)
       |SELECT CAST(a.dim AS BIGINT) AS dim,
       |  CAST(COUNT(*) AS BIGINT) AS n_hits,
       |  CAST(COUNT(*) AS BIGINT) * 1000 // (${k} * $nQueries) AS recall_milli
       |FROM topk a
       |WHERE EXISTS (SELECT 1 FROM truth t
       |  WHERE t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id)
       |GROUP BY a.dim ORDER BY dim""".stripMargin
  }

  /** v29: LABEL-CENTROID GEOMETRY over the quantized tier — the
    * pairwise separation of class centroids in embedding space, the
    * audit a training set's labels get before anyone trusts v22's kNN
    * or v24's hard negatives: centroid pairs that sit on top of each
    * other mean label noise or duplicate classes; the matrix is also
    * the confusion-structure prior for classifier design. Floating
    * means are partition-order-dependent, so the geometry runs on
    * v5's 0..255 integer grid where EVERYTHING except the final
    * division is exact 64-bit arithmetic: per-label per-dim integer
    * sums s_d (map-side combinable, order-free), centroid difference
    * per dim = (s_aᵈ·n_b − s_bᵈ·n_a)/(n_a·n_b), and squared L2
    * distance = Σ num_d² / (n_a·n_b)² with ONE IEEE division at the
    * end — bit-identical in both engines. Shape: one (label, dim)
    * agg over the exploded grid, then a |labels|²·dims-bounded join;
    * nothing vector-count-sized past the first agg. (At extreme
    * cardinalities the num² sum approaches 2⁶³ — a 100 TB deployment
    * divides per-dim first or widens to DECIMAL(38).) */
  def centroidGeometry(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val stats = dimStats(spark, dir)
    val mins = array(stats.map(s => lit(s._1)): _*)
    val maxs = array(stats.map(s => lit(s._2)): _*)
    val qe = transform(col("embedding"), (x, i) => {
      val dmin = element_at(mins, i + lit(1))
      val dmax = element_at(maxs, i + lit(1))
      when(dmax === dmin, lit(0L)).otherwise(
        least(lit(255L),
          floor((x.cast("double") - dmin) * lit(255.0) / (dmax - dmin))))
    })
    val sums = e.select(col("label"), posexplode(qe).as(Seq("pos", "qv")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("qv")).cast("long").as("s"), count(lit(1)).as("n"))
    val a = sums.select(col("label").as("label_a"), col("pos"),
      col("s").as("s_a"), col("n").as("n_a"))
    val b = sums.select(col("label").as("label_b"), col("pos"),
      col("s").as("s_b"), col("n").as("n_b"))
    a.join(b, Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .withColumn("num", col("s_a") * col("n_b") - col("s_b") * col("n_a"))
      .groupBy(col("label_a"), col("label_b"), col("n_a"), col("n_b"))
      .agg(sum(col("num") * col("num")).cast("long").as("l2_num"))
      .withColumn("den", (col("n_a") * col("n_b")) * (col("n_a") * col("n_b")))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("l2_num"),
        (col("l2_num").cast("double") / col("den").cast("double"))
          .as("centroid_dist2"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val centroidGeometrySql: String =
    s"""WITH ex AS (
       |  SELECT unnest([{'pos': i, 'x': CAST(embedding[i] AS DOUBLE)}
       |                 for i in range(1, len(embedding) + 1)],
       |                recursive := true)
       |  FROM embeddings),
       |perdim AS (SELECT pos, MIN(x) AS dmin, MAX(x) AS dmax FROM ex GROUP BY pos),
       |dims AS (SELECT list(dmin ORDER BY pos) AS mins,
       |                list(dmax ORDER BY pos) AS maxs FROM perdim),
       |q AS (
       |  SELECT label,
       |    [CASE WHEN d.maxs[i] = d.mins[i] THEN 0
       |          ELSE LEAST(255, CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - d.mins[i])
       |                 * 255.0 / (d.maxs[i] - d.mins[i])) AS BIGINT)) END
       |     for i in range(1, len(embedding) + 1)] AS qe
       |  FROM embeddings CROSS JOIN dims d),
       |qx AS (
       |  SELECT label, unnest([{'pos': i, 'qv': qe[i]}
       |    for i in range(1, len(qe) + 1)], recursive := true)
       |  FROM q),
       |sums AS (
       |  SELECT label, pos, CAST(SUM(qv) AS BIGINT) AS s,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM qx GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a,
       |    b.n AS n_b, a.s * b.n - b.s * a.n AS num
       |  FROM sums a JOIN sums b ON a.pos = b.pos AND a.label < b.label)
       |SELECT label_a, label_b, n_a, n_b,
       |  CAST(SUM(num * num) AS BIGINT) AS l2_num,
       |  CAST(SUM(num * num) AS DOUBLE)
       |    / CAST((n_a * n_b) * (n_a * n_b) AS DOUBLE) AS centroid_dist2
       |FROM pairs GROUP BY 1, 2, 3, 4
       |ORDER BY label_a, label_b""".stripMargin

  /** v33: MMR DIVERSIFIED top-k — Maximal Marginal Relevance
    * (Carbonell–Goldstein), the re-rank every production retrieval
    * stack runs between ANN and the consumer so the k results aren't
    * k copies of the same nearest cluster: greedily pick
    * argmax[ λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) ] over the
    * candidate pool, k times. Run fully relationally, NO driver
    * loop over data: the pool is v1's top-`nCand` per query, the
    * pool-internal similarity matrix `psim` is (nQueries·nCand²)-
    * bounded, and each greedy step is one (pool ⟕ max-sim-to-
    * selected) join + an argmax window over ≤ nCand rows per query —
    * all relations query-set-sized and checkpoint-truncated, the
    * corpus itself touched only by the v1 pool scan.
    *
    * FP determinism: rel and sim are the strict-fold cosines; MAX of
    * bit-identical doubles is order-independent; the score is one
    * fixed op chain (λ·rel − (1−λ)·maxsim) — so scores hash-compare
    * exactly and the argmax (ties to lowest id) picks the same
    * element in both engines. */
  def mmrDiversify(spark: SparkSession, dir: String, k: Int = 5,
                   nCand: Int = 10,
                   nQueries: Int = defaultNQueries): DataFrame = {
    val pool = Silver.memoize(spark, s"mmrPool:$nCand:$nQueries", dir) {
      cosineTopK(spark, dir, nCand, nQueries)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("cosine").as("rel"))
    }
    val emb = withNorm(spark, dir)
      .select(col("vec_id"), col("embedding"), col("norm2"))
    val poolE = pool
      .join(emb, col("cand_id") === col("vec_id"))
      .select(col("query_id"), col("cand_id"), col("embedding"),
        col("norm2"))
    val a = poolE.select(col("query_id"), col("cand_id").as("a_id"),
      col("embedding").as("a_emb"), col("norm2").as("a_n2"))
    val b = poolE.select(col("query_id").as("qb"),
      col("cand_id").as("b_id"), col("embedding").as("b_emb"),
      col("norm2").as("b_n2"))
    val psim = Silver.memoize(spark, s"mmrPoolSim:$nCand:$nQueries", dir) {
      a.join(b, col("query_id") === col("qb") && col("a_id") =!= col("b_id"))
        .select(col("query_id"), col("a_id"), col("b_id"),
          cosine(dotCol(col("a_emb"), col("b_emb")),
            col("a_n2"), col("b_n2")).as("sim"))
    }
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cand_id").asc)
    var all = pool.withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cand_id"), col("rel"),
        lit(1).as("step"), col("rel").as("score"))
      .localCheckpoint()
    (2 to k).foreach { i =>
      val seld = all.select(col("query_id").as("s_q"),
        col("cand_id").as("s_id"))
      val ms = psim
        .join(seld, col("query_id") === col("s_q") &&
          col("b_id") === col("s_id"))
        .groupBy(col("query_id"), col("a_id"))
        .agg(max(col("sim")).as("maxsim"))
        .select(col("query_id").as("m_q"), col("a_id"), col("maxsim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cand_id").asc)
      val sel = pool
        .join(seld, col("query_id") === col("s_q") &&
          col("cand_id") === col("s_id"), "left_anti")
        .join(ms, col("query_id") === col("m_q") &&
          col("cand_id") === col("a_id"))
        .withColumn("score",
          lit(0.5) * col("rel") - lit(0.5) * col("maxsim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cand_id"), col("rel"),
          lit(i).as("step"), col("score"))
      all = all.union(sel).localCheckpoint()
    }
    all.select(col("query_id"), col("step").cast("long").as("step"),
      col("cand_id").as("vec_id"), col("rel"), col("score"))
      .orderBy(col("query_id"), col("step"))
  }

  def mmrDiversifySql(k: Int = 5, nCand: Int = 10,
                      nQueries: Int = defaultNQueries): String = {
    val steps = (2 to k).map { i =>
      val seld = (1 until i)
        .map(j => s"SELECT query_id, cand_id FROM sel$j")
        .mkString(" UNION ALL ")
      s"""seld$i AS ($seld),
         |ms$i AS (
         |  SELECT ps.query_id, ps.a_id AS cand_id, MAX(ps.sim) AS maxsim
         |  FROM psim ps JOIN seld$i s
         |    ON s.query_id = ps.query_id AND s.cand_id = ps.b_id
         |  GROUP BY 1, 2),
         |sel$i AS (
         |  SELECT query_id, cand_id, rel, $i AS step, score FROM (
         |    SELECT r.query_id, r.cand_id, r.rel,
         |      0.5 * r.rel - 0.5 * m.maxsim AS score,
         |      ROW_NUMBER() OVER (PARTITION BY r.query_id
         |        ORDER BY 0.5 * r.rel - 0.5 * m.maxsim DESC,
         |          r.cand_id ASC) AS rn
         |    FROM pool r
         |    ANTI JOIN seld$i sd USING (query_id, cand_id)
         |    JOIN ms$i m
         |      ON m.query_id = r.query_id AND m.cand_id = r.cand_id)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val sels = (1 to k).map(j => s"SELECT * FROM sel$j")
      .mkString(" UNION ALL ")
    s"""WITH e AS ($withNormSql),
       |pr AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS cand_id,
       |    ${dotSql("q.embedding", "n.embedding")}
       |      / sqrt(q.norm2 * n.norm2) AS rel
       |  FROM e q JOIN e n
       |    ON q.vec_id < $nQueries AND q.vec_id <> n.vec_id),
       |pool AS (
       |  SELECT query_id, cand_id, rel FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cand_id ASC) AS rn FROM pr)
       |  WHERE rn <= $nCand),
       |psim AS (
       |  SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
       |    ${dotSql("ea.embedding", "eb.embedding")}
       |      / sqrt(ea.norm2 * eb.norm2) AS sim
       |  FROM pool a
       |  JOIN pool b
       |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
       |  JOIN e ea ON ea.vec_id = a.cand_id
       |  JOIN e eb ON eb.vec_id = b.cand_id),
       |sel1 AS (
       |  SELECT query_id, cand_id, rel, 1 AS step, rel AS score FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cand_id ASC) AS rn FROM pool)
       |  WHERE rn = 1),
       |$steps
       |SELECT query_id, CAST(step AS BIGINT) AS step,
       |  cand_id AS vec_id, rel, score
       |FROM ($sels)
       |ORDER BY query_id, step""".stripMargin
  }

  /** d26: SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023) — dedup by
    * EMBEDDING geometry instead of text shingles: within each IVF
    * cell (the paper's k-means cluster), a document is DROPPED when a
    * strictly higher-priority near-neighbor sits inside its cosine
    * ε-ball — priority = (t2 quality desc, doc id asc), exactly d16's
    * keeper rule, so the kept copy is the best-written one. This is
    * the greedy one-representative-per-ball rule, which needs NO
    * connected components: one cell-local pairwise join + a per-doc
    * existence aggregate decides every verdict — the shuffle key is
    * the cell id, candidates are cell-bounded, never corpus-quadratic
    * (v3/v12's shape with d16's semantics). Catches paraphrase/
    * translation-style duplicates that shingle dedup (d2/d4) cannot
    * see. On this isotropic synthetic corpus the demo threshold is
    * v3's 0.4 near-dup bar; production embedding spaces sit near
    * 0.95. vec_id ≡ doc_id by fixture contract (FIXTURES.md §3). */
  def semDedup(spark: SparkSession, dir: String, tau: Double = 0.4,
               nCentroids: Int = 8): DataFrame = {
    val assigned = ivfRanked(spark, dir, nCentroids)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("centroid_id").as("cell"),
        col("embedding"), col("norm2"))
    val q = graft.text.TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val a = Silver.memoize(spark, s"semDedupCells:$nCentroids", dir) {
      assigned.join(q, col("vec_id") === col("doc_id"))
        .select(col("doc_id"), col("cell"), col("embedding"),
          col("norm2"), col("quality_score"))
    }
    val x = a.select(col("doc_id"), col("cell"), col("embedding"),
      col("norm2"), col("quality_score"))
    val y = a.select(col("doc_id").as("y_id"), col("cell").as("y_cell"),
      col("embedding").as("y_emb"), col("norm2").as("y_n2"),
      col("quality_score").as("y_q"))
    val beaten = x
      .join(y, col("cell") === col("y_cell") &&
        col("doc_id") =!= col("y_id"))
      .filter(cosine(dotCol(col("embedding"), col("y_emb")),
        col("norm2"), col("y_n2")) >= tau)
      .filter(col("y_q") > col("quality_score") ||
        (col("y_q") === col("quality_score") &&
          col("y_id") < col("doc_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_better_close"))
    a.join(beaten, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cell").cast("long").as("cell"),
        col("quality_score"),
        coalesce(col("n_better_close"), lit(0L)).as("n_better_close"),
        when(coalesce(col("n_better_close"), lit(0L)) > 0, "drop")
          .otherwise("keep").as("action"))
      .orderBy(col("doc_id"))
  }

  def semDedupSql(tau: Double = 0.4, nCentroids: Int = 8): String =
    s"""WITH e AS ($withNormSql),
       |cents AS (
       |  SELECT vec_id AS cent_vid, embedding AS c_emb, norm2 AS c_norm2,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id
       |  FROM e ORDER BY vec_id LIMIT $nCentroids),
       |aff AS (
       |  SELECT e.vec_id, e.embedding, e.norm2, c.centroid_id,
       |    ${dotSql("e.embedding", "c.c_emb")}
       |      / sqrt(e.norm2 * c.c_norm2) AS ccos
       |  FROM e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, embedding, norm2, centroid_id AS cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY ccos DESC, centroid_id ASC) AS crank
       |    FROM aff) WHERE crank = 1),
       |q AS (
       |  SELECT doc_id, quality_score
       |  FROM (${graft.text.TextAnalysis.qualityScoreSql})),
       |a AS (
       |  SELECT q.doc_id, assigned.cell, assigned.embedding,
       |    assigned.norm2, q.quality_score
       |  FROM assigned JOIN q ON assigned.vec_id = q.doc_id),
       |beaten AS (
       |  SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_better_close
       |  FROM a x JOIN a y
       |    ON x.cell = y.cell AND x.doc_id <> y.doc_id
       |  WHERE ${dotSql("x.embedding", "y.embedding")}
       |      / sqrt(x.norm2 * y.norm2) >= $tau
       |    AND (y.quality_score > x.quality_score OR
       |         (y.quality_score = x.quality_score
       |          AND y.doc_id < x.doc_id))
       |  GROUP BY x.doc_id)
       |SELECT a.doc_id, CAST(a.cell AS BIGINT) AS cell, a.quality_score,
       |  COALESCE(b.n_better_close, 0) AS n_better_close,
       |  CASE WHEN COALESCE(b.n_better_close, 0) > 0
       |    THEN 'drop' ELSE 'keep' END AS action
       |FROM a LEFT JOIN beaten b ON a.doc_id = b.doc_id
       |ORDER BY a.doc_id""".stripMargin
}
