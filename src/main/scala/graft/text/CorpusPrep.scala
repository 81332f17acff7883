package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Silver

/** Training-corpus preparation operators — the steps between "raw scraped
  * documents" and "training mix" that every large-scale LLM data pipeline
  * runs after quality/dedup (t2/d1..d11): PII scrubbing, deterministic
  * train/val/test splitting, source-mix planning, and benchmark
  * decontamination. All are oracle-checked (pure integer / single-division
  * arithmetic, see [[graft.model.Tables]] parity conventions).
  *
  * SCALE POSTURE (100 TB): t9 and p7 are pure map-side projections (no
  * shuffle — they run at parquet-scan speed in one WholeStageCodegen span);
  * m1 is a two-level aggregate whose second level is group-count-sized;
  * d12 is a semi-join against a BENCHMARK set, which is fixed-size by
  * nature (eval suites don't grow with the corpus) and broadcasts.
  */
object CorpusPrep {

  // Patterns chosen to mean the same thing in Java regex (Spark) and RE2
  // (DuckDB): no backrefs, no lookaround, ASCII classes only.
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlPat = "https?://[^\\s]+"
  private val PhonePat = "\\d{3}[-.]\\d{3}[-.]\\d{4}"
  private val NumberPat = "\\b\\d+\\b"

  /** t9: PII detection + redaction — counts of email/URL/phone/number
    * matches per document and the redacted text (placeholders substituted
    * in a fixed pass order so overlapping patterns resolve identically in
    * both engines). Map-side only. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailPat, "<EMAIL>"),
        UrlPat, "<URL>"),
      PhonePat, "<PHONE>")
    Corpus.docsTok(spark, dir).select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailPat)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(UrlPat)).cast("long").as("n_urls"),
      regexp_count(col("text"), lit(PhonePat)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(NumberPat)).cast("long").as("n_numbers"),
      length(redacted).cast("long").as("n_chars_redacted"),
      substring(redacted, 1, 60).as("redacted_prefix")
    ).orderBy("doc_id")
  }

  val piiScrubSql: String = {
    def cnt(pat: String) = s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT)"
    val red = s"regexp_replace(regexp_replace(regexp_replace(text, " +
      s"'$EmailPat', '<EMAIL>', 'g'), '$UrlPat', '<URL>', 'g'), '$PhonePat', '<PHONE>', 'g')"
    s"""SELECT doc_id,
       |  ${cnt(EmailPat)} AS n_emails,
       |  ${cnt(UrlPat)} AS n_urls,
       |  ${cnt(PhonePat)} AS n_phones,
       |  ${cnt(NumberPat)} AS n_numbers,
       |  CAST(length($red) AS BIGINT) AS n_chars_redacted,
       |  substr($red, 1, 60) AS redacted_prefix
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** p7: deterministic train/val/test split assignment — Knuth
    * multiplicative hash of doc_id into 1000 buckets, 90/5/5. Deterministic
    * and engine-portable (pure 64-bit integer arithmetic, unlike
    * rand(seed), whose sequence is engine- and partitioning-dependent);
    * a re-run or a retry of a lost partition assigns identically, so the
    * split is stable under speculative execution — same argument as
    * [[graft.etl.Skew]]'s hash salting. Reported as per-(split, lang)
    * counts; the per-doc assignment is the bucket expression itself. */
  /** Split bucket in [0, 1000): Knuth multiplicative hash, overflow-safe —
    * doc_id is reduced mod a ~1e9 prime BEFORE the multiply so the product
    * stays below 2^63 for any 64-bit doc_id (1e9 × 2.65e9 ≈ 2.6e18).
    * Without the reduction, ids past ~3.5e9 (reachable in a 100 TB corpus)
    * would wrap in Spark but ERROR in DuckDB — silent engine divergence. */
  def splitBucket(docId: Column): Column =
    pmod(pmod(docId, lit(1000000007L)) * lit(2654435761L), lit(1000L))

  /** The 90/5/5 split label as a pure expression of the doc id — no join
    * needed to know any document's split (d14 leans on this). */
  def splitOf(docId: Column): Column = {
    val bucket = splitBucket(docId)
    when(bucket < 900L, "train").when(bucket < 950L, "val").otherwise("test")
  }

  def splitBucketSqlOf(idCol: String): String =
    s"(($idCol % 1000000007) * 2654435761) % 1000"

  def splitSqlOf(idCol: String): String =
    s"""CASE WHEN ${splitBucketSqlOf(idCol)} < 900 THEN 'train'
       |     WHEN ${splitBucketSqlOf(idCol)} < 950 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  val splitBucketSql: String = splitBucketSqlOf("doc_id")

  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = splitBucket(col("doc_id"))
    val split = when(bucket < 900L, "train").when(bucket < 950L, "val").otherwise("test")
    Corpus.docsTok(spark, dir)
      .select(split.as("split"), col("lang"), col("n_chars"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_total"))
      .orderBy("split", "lang")
  }

  val splitAssignSql: String =
    s"""SELECT CASE WHEN $splitBucketSql < 900 THEN 'train'
       |            WHEN $splitBucketSql < 950 THEN 'val'
       |            ELSE 'test' END AS split,
       |  lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
       |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  /** m1: source-mix planner — per (lang, source) domain: corpus share and
    * the down-sampling rate that equalizes char mass across domains under
    * a fixed total budget (the "domain mixing" step of corpus assembly;
    * target = uniform here, the rate algebra is what matters). Two-level
    * aggregate; level two is |domains|-sized and broadcasts back. Doubles
    * follow the parity conventions: exact longs into single IEEE
    * divisions, identical operation order in both engines. */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    val groups = Corpus.docsTok(spark, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_group"))
    val totals = groups.agg(
      sum("n_chars_group").as("total_chars"), count(lit(1)).as("n_domains"))
    val target = totals("total_chars").cast("double") / totals("n_domains").cast("double")
    groups.join(broadcast(totals))
      .withColumn("target_chars", target)
      .withColumn("sampling_rate",
        least(lit(1.0), col("target_chars") / col("n_chars_group").cast("double")))
      .withColumn("n_sample_docs",
        floor(col("sampling_rate") * col("n_docs").cast("double")).cast("long"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_chars_group"),
        col("target_chars"), col("sampling_rate"), col("n_sample_docs"))
      .orderBy("lang", "source")
  }

  val sourceMixSql: String =
    s"""WITH groups AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(n_chars) AS BIGINT) AS n_chars_group
       |  FROM documents GROUP BY lang, source),
       |totals AS (
       |  SELECT CAST(SUM(n_chars_group) AS BIGINT) AS total_chars,
       |         CAST(COUNT(*) AS BIGINT) AS n_domains FROM groups)
       |SELECT g.lang, g.source, g.n_docs, g.n_chars_group,
       |  CAST(t.total_chars AS DOUBLE) / CAST(t.n_domains AS DOUBLE) AS target_chars,
       |  LEAST(1.0, (CAST(t.total_chars AS DOUBLE) / CAST(t.n_domains AS DOUBLE))
       |        / CAST(g.n_chars_group AS DOUBLE)) AS sampling_rate,
       |  CAST(FLOOR(LEAST(1.0, (CAST(t.total_chars AS DOUBLE) / CAST(t.n_domains AS DOUBLE))
       |        / CAST(g.n_chars_group AS DOUBLE)) * CAST(g.n_docs AS DOUBLE)) AS BIGINT)
       |    AS n_sample_docs
       |FROM groups g CROSS JOIN totals t ORDER BY g.lang, g.source""".stripMargin

  /** p9: source-mix APPLIER — materialize m1's plan as a per-document
    * keep/drop verdict. The planner alone is half the operator: what runs
    * at scale is this map-side pass. Each doc draws a deterministic
    * bucket in [0, 1e6) from a second Knuth multiplicative hash
    * (different prime+multiplier than p7's split bucket, so sampling is
    * independent of split assignment) and is kept iff
    * bucket < floor(rate·1e6). Hash-Bernoulli instead of rand(seed) for
    * the same reason as p7: a retried or speculatively re-run partition
    * keeps exactly the same docs. The plan side is |domains|-sized and
    * broadcasts; the doc side never shuffles — at 100 TB this is one
    * codegen'd scan. Rate doubles are m1's (hash-verified identical in
    * both engines), and bucket/threshold compare as BIGINTs. */
  def sampleBucket(docId: Column): Column =
    pmod(pmod(docId, lit(998244353L)) * lit(2654435769L), lit(1000000L))

  val sampleBucketSql: String = "((doc_id % 998244353) * 2654435769) % 1000000"

  def mixApply(spark: SparkSession, dir: String): DataFrame = {
    val plan = sourceMix(spark, dir)
      .select(col("lang"), col("source"),
        floor(col("sampling_rate") * lit(1000000.0)).as("keep_below"))
    Corpus.docsTok(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(broadcast(plan), Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        sampleBucket(col("doc_id")).as("sample_bucket"),
        (sampleBucket(col("doc_id")) < col("keep_below")).as("kept"))
      .orderBy("doc_id")
  }

  val mixApplySql: String =
    s"""WITH groups AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(n_chars) AS BIGINT) AS n_chars_group
       |  FROM documents GROUP BY lang, source),
       |totals AS (
       |  SELECT CAST(SUM(n_chars_group) AS BIGINT) AS total_chars,
       |         CAST(COUNT(*) AS BIGINT) AS n_domains FROM groups),
       |plan AS (
       |  SELECT g.lang, g.source,
       |    CAST(FLOOR(LEAST(1.0, (CAST(t.total_chars AS DOUBLE) / CAST(t.n_domains AS DOUBLE))
       |          / CAST(g.n_chars_group AS DOUBLE)) * 1000000.0) AS BIGINT) AS keep_below
       |  FROM groups g CROSS JOIN totals t)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars,
       |  CAST($sampleBucketSql AS BIGINT) AS sample_bucket,
       |  CAST($sampleBucketSql AS BIGINT) < p.keep_below AS kept
       |FROM documents d JOIN plan p USING (lang, source)
       |ORDER BY d.doc_id""".stripMargin

  /** p10: deterministic corpus SHUFFLE ORDER — the reproducible "shuffle
    * the corpus before sharding" step every training run needs: a third
    * independent Knuth-style hash decorrelates training order from
    * doc_id (ingest order ≈ crawl order ≈ topic order — training on it
    * unshuffled is a curriculum nobody asked for), then shard = key mod
    * nShards and position = rank within shard. Hash-deterministic like
    * p7/p9: a re-run, retry, or speculative task produces the identical
    * order — rand() cannot. The rank is a window per shard: shard count
    * is the parallelism knob (p8's argument — pick nShards so one shard
    * sorts inside one executor; tens of thousands at 100 TB). */
  def shuffleOrder(spark: SparkSession, dir: String,
                   nShards: Int = 32): DataFrame = {
    val key = pmod(pmod(col("doc_id"), lit(999999937L)) * lit(2862933555L),
      lit(999999937L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("shuffle_key"), col("doc_id"))
    Corpus.docsTok(spark, dir)
      .select(col("doc_id"), key.as("shuffle_key"))
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("shuffle_key"), col("pos"))
      .orderBy("shard", "pos")
  }

  def shuffleOrderSql(nShards: Int = 32): String =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |    ((doc_id % 999999937) * 2862933555) % 999999937 AS shuffle_key
       |  FROM documents)
       |SELECT doc_id, shuffle_key % $nShards AS shard, shuffle_key,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shuffle_key % $nShards
       |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
       |FROM keyed ORDER BY shard, pos""".stripMargin

  /** p11: CURRICULUM ordering — the quality-staged training order
    * (easy/clean text first, noisier text later): documents are bucketed
    * by their t2 quality score (the 0/25/50/75/100 rubric levels ARE the
    * curriculum stages, highest first), and within a (bucket, shard) the
    * order is p10's deterministic shuffle — curriculum BETWEEN stages,
    * decorrelated order WITHIN a stage (ordering a stage by quality
    * would re-introduce ingest correlations; the shuffle key is the
    * anti-correlation device). The training reader consumes tuples in
    * (stage, shard, pos) order. Same bounded-group window shape as
    * p8/p10 — shard width is the parallelism knob, no global sort of the
    * corpus — and every input is a shared silver (tokenize-once quality
    * projection, the p10 hash). Retry/speculation-stable like its
    * parents: pure hash arithmetic, no rand(). */
  def curriculum(spark: SparkSession, dir: String,
                 nShards: Int = 32): DataFrame = {
    val key = pmod(pmod(col("doc_id"), lit(999999937L)) * lit(2862933555L),
      lit(999999937L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stage"), col("shard"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    Corpus.docsTok(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.qualityScoreColOf(col("words")).as("quality_score"),
        key.as("shuffle_key"))
      .withColumn("stage", -col("quality_score")) // highest quality = stage -100 sorts first
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("quality_score"), col("stage"),
        col("shard"), col("shuffle_key"), col("pos"))
      .orderBy("stage", "shard", "pos")
  }

  def curriculumSql(nShards: Int = 32): String =
    s"""WITH q AS (
       |  SELECT doc_id, quality_score
       |  FROM (${TextAnalysis.qualityScoreSql})),
       |keyed AS (
       |  SELECT doc_id, quality_score,
       |    -quality_score AS stage,
       |    ((doc_id % 999999937) * 2862933555) % 999999937 AS shuffle_key
       |  FROM q)
       |SELECT doc_id, quality_score, stage,
       |  shuffle_key % $nShards AS shard, shuffle_key,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY stage, shuffle_key % $nShards
       |    ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
       |FROM keyed ORDER BY stage, shard, pos""".stripMargin

  /** m3: epoch planner — the UP-sampling half of mixing that m1's capped
    * rate (LEAST 1.0) deliberately leaves out: a domain under target is
    * repeated `full_epochs` whole times plus a `sample_frac` partial pass
    * (the standard repeat-and-sample mixing move). rate_raw shares m1's
    * exact-integer-division parity; epochs are FLOOR arithmetic on that
    * double, identical in both engines. Same two-level aggregate shape as
    * m1 — domain-sized, broadcasts. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val groups = Corpus.docsTok(spark, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_group"))
    val totals = groups.agg(
      sum("n_chars_group").as("total_chars"), count(lit(1)).as("n_domains"))
    val target = totals("total_chars").cast("double") / totals("n_domains").cast("double")
    groups.crossJoin(broadcast(totals))
      .withColumn("rate_raw", target / col("n_chars_group").cast("double"))
      .withColumn("full_epochs", floor(col("rate_raw")))
      .withColumn("sample_frac", col("rate_raw") - col("full_epochs"))
      .withColumn("n_epochs",
        (col("full_epochs") + when(col("sample_frac") > 0.0, 1L).otherwise(0L))
          .cast("long"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_chars_group"),
        col("rate_raw"), col("full_epochs"), col("sample_frac"), col("n_epochs"))
      .orderBy("lang", "source")
  }

  val epochPlanSql: String =
    s"""WITH groups AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(n_chars) AS BIGINT) AS n_chars_group
       |  FROM documents GROUP BY lang, source),
       |totals AS (
       |  SELECT CAST(SUM(n_chars_group) AS BIGINT) AS total_chars,
       |         CAST(COUNT(*) AS BIGINT) AS n_domains FROM groups),
       |rated AS (
       |  SELECT g.lang, g.source, g.n_docs, g.n_chars_group,
       |    (CAST(t.total_chars AS DOUBLE) / CAST(t.n_domains AS DOUBLE))
       |      / CAST(g.n_chars_group AS DOUBLE) AS rate_raw
       |  FROM groups g CROSS JOIN totals t)
       |SELECT lang, source, n_docs, n_chars_group, rate_raw,
       |  CAST(FLOOR(rate_raw) AS BIGINT) AS full_epochs,
       |  rate_raw - FLOOR(rate_raw) AS sample_frac,
       |  CAST(FLOOR(rate_raw) + CASE WHEN rate_raw - FLOOR(rate_raw) > 0.0
       |    THEN 1 ELSE 0 END AS BIGINT) AS n_epochs
       |FROM rated ORDER BY lang, source""".stripMargin

  /** p14: epoch-plan APPLIER — materialize m3's repeat-and-sample plan
    * into the per-(doc, epoch) roster a training reader consumes: every
    * doc appears once in each of its domain's `full_epochs` whole
    * passes, and in the final partial pass iff its p9 sample bucket
    * clears the plan's `sample_frac` (same hash, so a retried run packs
    * the identical roster). p14 is to m3 what p9 is to m1 — and for a
    * purely down-sampled domain (full_epochs = 0) the two COINCIDE:
    * m1's capped rate equals m3's sample_frac there, so p14's partial
    * epoch is exactly p9's kept set (spec-asserted). Bounded linear
    * expansion (n_epochs per domain), plan side domain-sized and
    * broadcast, doc side never shuffles — one codegen'd scan at scale. */
  def epochApply(spark: SparkSession, dir: String): DataFrame = {
    val plan = epochPlan(spark, dir)
      .select(col("lang"), col("source"), col("full_epochs"),
        floor(col("sample_frac") * lit(1000000.0)).cast("long").as("keep_below"))
    val nTotal = col("full_epochs") +
      when(col("keep_below") > 0L, 1L).otherwise(0L)
    Corpus.docsTok(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(broadcast(plan), Seq("lang", "source"))
      .withColumn("epoch",
        explode(when(nTotal >= 1L, sequence(lit(1L), nTotal))
          .otherwise(array().cast("array<bigint>"))))
      .filter(col("epoch") <= col("full_epochs") ||
        sampleBucket(col("doc_id")) < col("keep_below"))
      .select(col("doc_id"), col("lang"), col("source"), col("epoch"),
        (col("epoch") > col("full_epochs")).as("is_partial"))
      .orderBy("doc_id", "epoch")
  }

  // NOTE the joined/exploded CTE split: DuckDB's binder (1.x) hits an
  // INTERNAL assertion when an unnest whose range bound comes from a JOIN
  // is referenced together with join columns in a downstream filter;
  // unnesting FROM a plain already-joined CTE binds fine.
  val epochApplySql: String =
    s"""WITH plan AS (
       |  SELECT lang, source, full_epochs,
       |    CAST(FLOOR(sample_frac * 1000000.0) AS BIGINT) AS keep_below
       |  FROM ($epochPlanSql)),
       |joined AS (
       |  SELECT d.doc_id, d.lang, d.source, p.full_epochs, p.keep_below
       |  FROM documents d JOIN plan p USING (lang, source)),
       |exploded AS (
       |  SELECT doc_id, lang, source, full_epochs, keep_below,
       |    unnest(range(1, full_epochs
       |      + CASE WHEN keep_below > 0 THEN 1 ELSE 0 END + 1)) AS epoch
       |  FROM joined)
       |SELECT doc_id, lang, source, CAST(epoch AS BIGINT) AS epoch,
       |  epoch > full_epochs AS is_partial
       |FROM exploded
       |WHERE epoch <= full_epochs OR $sampleBucketSql < keep_below
       |ORDER BY doc_id, epoch""".stripMargin

  /** m5: TEMPERATURE-scaled source mixing — the `mass^α` sampling rule
    * multilingual corpus assembly uses (mC4 / XLM-R style: a domain's
    * mix share ∝ its char mass raised to α = 1/T; this is α = 0.5, i.e.
    * temperature T = 2). α = 1 keeps the natural distribution, α = 0 is
    * m1's uniform target — temperature interpolates: tail domains are
    * boosted without letting head domains drown them. The weight is
    * isqrt(n_chars_group) = mass^0.5 in EXACT integer arithmetic: an
    * IEEE-sqrt candidate corrected by one integer CASE, so both engines
    * agree to the last bit where pow() parity would be a gamble.
    *
    * Shares m1's two-level shape (domain-sized agg, 1-row totals
    * broadcast back — nothing here scales with the corpus, only with
    * |domains|); doubles follow the Tables parity conventions: exact
    * longs into single IEEE divisions, identical operation order both
    * engines. `rate` is uncapped like m3's rate_raw — >1 means the
    * domain up-samples (m3's repeat-and-sample executes it), <1
    * down-samples (p9's hash-Bernoulli executes it). */
  private def isqrtCol(x: Column): Column = {
    val cand = floor(sqrt(x.cast("double"))).cast("long")
    when((cand + 1) * (cand + 1) <= x, cand + 1)
      .when(cand * cand <= x, cand)
      .otherwise(cand - 1)
  }

  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val groups = Corpus.docsTok(spark, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_group"))
      .withColumn("weight", isqrtCol(col("n_chars_group")))
    val totals = groups.agg(
      sum("n_chars_group").as("total_chars"), sum("weight").as("total_weight"))
    val rate = col("target_chars").cast("double") / col("n_chars_group").cast("double")
    groups.join(broadcast(totals))
      .withColumn("mix_share",
        col("weight").cast("double") / col("total_weight").cast("double"))
      .withColumn("target_chars",
        floor(col("mix_share") * col("total_chars").cast("double")).cast("long"))
      .withColumn("rate", rate)
      .withColumn("direction",
        when(rate > 1.0, "up").when(rate < 1.0, "down").otherwise("keep"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_chars_group"),
        col("weight"), col("mix_share"), col("target_chars"), col("rate"),
        col("direction"))
      .orderBy("lang", "source")
  }

  val temperatureMixSql: String =
    s"""WITH groups AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(n_chars) AS BIGINT) AS n_chars_group
       |  FROM documents GROUP BY lang, source),
       |cand AS (
       |  SELECT *, CAST(FLOOR(SQRT(CAST(n_chars_group AS DOUBLE))) AS BIGINT) AS c
       |  FROM groups),
       |weighted AS (
       |  SELECT lang, source, n_docs, n_chars_group,
       |    CASE WHEN (c+1)*(c+1) <= n_chars_group THEN c+1
       |         WHEN c*c <= n_chars_group THEN c
       |         ELSE c-1 END AS weight
       |  FROM cand),
       |totals AS (
       |  SELECT CAST(SUM(n_chars_group) AS BIGINT) AS total_chars,
       |         CAST(SUM(weight) AS BIGINT) AS total_weight FROM weighted),
       |planned AS (
       |  SELECT w.lang, w.source, w.n_docs, w.n_chars_group, w.weight,
       |    CAST(w.weight AS DOUBLE) / CAST(t.total_weight AS DOUBLE) AS mix_share,
       |    CAST(FLOOR((CAST(w.weight AS DOUBLE) / CAST(t.total_weight AS DOUBLE))
       |         * CAST(t.total_chars AS DOUBLE)) AS BIGINT) AS target_chars
       |  FROM weighted w CROSS JOIN totals t)
       |SELECT lang, source, n_docs, n_chars_group, weight, mix_share, target_chars,
       |  CAST(target_chars AS DOUBLE) / CAST(n_chars_group AS DOUBLE) AS rate,
       |  CASE WHEN CAST(target_chars AS DOUBLE) / CAST(n_chars_group AS DOUBLE) > 1.0
       |         THEN 'up'
       |       WHEN CAST(target_chars AS DOUBLE) / CAST(n_chars_group AS DOUBLE) < 1.0
       |         THEN 'down'
       |       ELSE 'keep' END AS direction
       |FROM planned ORDER BY lang, source""".stripMargin

  /** d14: train/val/test LEAKAGE audit — near-duplicate pairs (d4's exact
    * Jaccard at the 0.5 dup threshold) whose two docs land in DIFFERENT
    * splits. Exact-dup leakage is prevented by construction (identical
    * text can still differ in doc_id and split — this is the check that
    * catches it via near-dup; jaccard 1.0 rows are exact dups), but
    * near-dup leakage silently inflates eval scores — the audit every
    * pipeline should run between splitting and training. Because p7's
    * split is a pure expression of doc_id, this is a FILTER over the
    * cached 0.5 pair silver (shared with d6/d7) — no join with an
    * assignment table, no new shuffle. */
  def splitLeakage(spark: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame =
    graft.dedup.Dedup.ngramJaccard(spark, dir, threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        splitOf(col("doc_a")).as("split_a"),
        splitOf(col("doc_b")).as("split_b"))
      .filter(col("split_a") =!= col("split_b"))
      .orderBy("doc_a", "doc_b")

  def splitLeakageSql(threshold: Double = 0.5): String =
    s"""SELECT doc_a, doc_b, jaccard, split_a, split_b FROM (
       |  SELECT doc_a, doc_b, jaccard,
       |    ${splitSqlOf("doc_a")} AS split_a,
       |    ${splitSqlOf("doc_b")} AS split_b
       |  FROM (${graft.dedup.Dedup.ngramJaccardSql(threshold)}))
       |WHERE split_a <> split_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** p15: LEAKAGE REPAIR — the action d14's audit demands: every doc
    * sitting on a NON-train side of a cross-split near-dup pair is
    * QUARANTINED (removed from its held-out split). Quarantine, not
    * move-to-train: reassigning a leaked val doc to train would turn
    * its same-split near-dup partners into NEW cross-split pairs (the
    * repair would cascade); removing it from the eval pool can never
    * create a pair, so one pass reaches the fixpoint — the rule is
    * idempotent, and [[CorpusPrepSpec]] asserts no leaked pair
    * survives among non-quarantined docs. Emits the full repaired
    * assignment so downstream pack/mix stages consume one relation.
    * Scale: a projection of the cached d4 pair silver (d14's shape)
    * plus one distinct + left join against the doc spine. */
  def leakageRepair(spark: SparkSession, dir: String,
                    threshold: Double = 0.5): DataFrame = {
    val leaked = splitLeakage(spark, dir, threshold)
    val movers = leaked
      .select(col("doc_a").as("doc_id"), col("split_a").as("split"))
      .unionByName(leaked
        .select(col("doc_b").as("doc_id"), col("split_b").as("split")))
      .filter(col("split") =!= "train")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(true))
    Corpus.docsTok(spark, dir)
      .select(col("doc_id"), splitOf(col("doc_id")).as("orig_split"))
      .join(movers, Seq("doc_id"), "left")
      .select(col("doc_id"), col("orig_split"),
        when(col("hit"), "quarantined").otherwise(col("orig_split"))
          .as("final_split"),
        coalesce(col("hit"), lit(false)).as("is_quarantined"))
      .orderBy("doc_id")
  }

  def leakageRepairSql(threshold: Double = 0.5): String =
    s"""WITH leaked AS (${splitLeakageSql(threshold)}),
       |movers AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id, split_a AS split FROM leaked
       |    UNION ALL SELECT doc_b AS doc_id, split_b AS split FROM leaked)
       |  WHERE split <> 'train')
       |SELECT d.doc_id,
       |  ${splitSqlOf("d.doc_id")} AS orig_split,
       |  CASE WHEN m.doc_id IS NOT NULL THEN 'quarantined'
       |    ELSE ${splitSqlOf("d.doc_id")} END AS final_split,
       |  m.doc_id IS NOT NULL AS is_quarantined
       |FROM documents d LEFT JOIN movers m ON d.doc_id = m.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** p19: CLUSTER-AWARE SPLIT — leakage prevented BY CONSTRUCTION
    * instead of repaired after the fact (p15's quarantine): every
    * member of a near-dup cluster is assigned the split of the
    * cluster's canonical minimum doc (= its d6 label), so a
    * cross-split near-dup pair is IMPOSSIBLE — the property d14 audits
    * and p15 patches holds identically-zero here, spec-re-derived.
    * Singleton docs keep p7's hash split (label = own id ⇒ identical
    * assignment), so only clustered docs can move and the 90/5/5
    * proportions drift by at most the clustered-doc share. Shape: the
    * memoized label relation joined once onto the doc stream; both
    * splits are pure expressions of ids. */
  def clusterSplit(spark: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame = {
    val labels = graft.dedup.Dedup.dupClusters(spark, dir, threshold)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    labels
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        splitOf(col("doc_id")).as("orig_split"),
        splitOf(col("cluster_id")).as("final_split"))
      .withColumn("moved", col("orig_split") =!= col("final_split"))
      .orderBy("doc_id")
  }

  def clusterSplitSql(threshold: Double = 0.5): String =
    s"""WITH clusters AS (${graft.dedup.Dedup.dupClustersSql(threshold)})
       |SELECT doc_id, cluster_id, cluster_size,
       |  ${splitSqlOf("doc_id")} AS orig_split,
       |  ${splitSqlOf("cluster_id")} AS final_split,
       |  (${splitSqlOf("doc_id")}) <> (${splitSqlOf("cluster_id")}) AS moved
       |FROM clusters ORDER BY doc_id""".stripMargin

  /** t10: corpus vocabulary statistics — the dashboard row a corpus
    * pipeline tracks per snapshot: total token count, vocabulary size,
    * hapax legomena (frequency-1 types, the long-tail health signal),
    * type-token ratio, and the modal token. One hash aggregate over the
    * exploded tokens, then a vocabulary-sized re-aggregate — fully
    * map-side-combinable at any corpus size. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val counts = Corpus.docsTok(spark, dir)
      .select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("word").asc).limit(1)
      .select(col("word").as("top_word"), col("n").as("top_word_count"))
    counts.agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .crossJoin(top)
      .select(col("n_tokens"), col("vocab_size"), col("n_hapax"),
        (col("vocab_size").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"),
        col("top_word"), col("top_word_count"))
  }

  val corpusStatsSql: String =
    s"""WITH counts AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(${Corpus.wordsSqlExpr}) AS word FROM documents)
       |  GROUP BY word),
       |top AS (
       |  SELECT word AS top_word, n AS top_word_count FROM counts
       |  ORDER BY n DESC, word ASC LIMIT 1),
       |agg AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS vocab_size,
       |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
       |  FROM counts)
       |SELECT a.n_tokens, a.vocab_size, a.n_hapax,
       |  CAST(a.vocab_size AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) AS type_token_ratio,
       |  t.top_word, t.top_word_count
       |FROM agg a CROSS JOIN top t""".stripMargin

  /** d12: benchmark decontamination — per candidate document, the fraction
    * of its distinct 3-shingles that also occur in a held-out benchmark
    * set (docs with doc_id % 97 == 0 stand in for the eval suite); flagged
    * at >= 30% overlap (integer-exact comparison). The benchmark shingle
    * set is fixed-size in production (eval suites don't scale with the
    * corpus) — broadcast semi-side, so the scan-side never shuffles. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val ds = Corpus.docShingles(spark, dir)
    val bench = ds.filter(col("doc_id") % 97 === 0)
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1L))
    ds.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_common"))
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        (col("n_common").cast("double") / col("n_shingles").cast("double"))
          .as("contamination_ratio"),
        (col("n_common") * lit(10L) >= col("n_shingles") * lit(3L))
          .as("is_contaminated"))
      .orderBy("doc_id")
  }

  /** d18: longest CONTAMINATED SPAN — d12 answers "is this doc
    * contaminated?" (shingle-overlap fraction); this answers "how BADLY?"
    * with the metric decontamination reports actually publish: the
    * longest contiguous run of benchmark 3-shingles per document,
    * converted to tokens (a run of r overlapping 3-shingles covers
    * r + 2 tokens). The 13-token flag is the GPT-3-style n-gram
    * threshold: a 13-token verbatim benchmark substring is memorization
    * risk, scattered single-shingle hits are not. Positions make runs:
    * matched positions minus their per-doc rank collapse each contiguous
    * stretch to one group key — two bounded aggregates, no self-join.
    *
    * Scale shape: the positional explode is linear; the benchmark side is
    * eval-suite-sized and broadcasts (d12's argument); runs/aggregates
    * all ride ONE doc_id exchange (grp refines doc_id, so the window's
    * partitioning satisfies both groupBys), plus the zero-fill join. */
  def contaminationSpan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Corpus.docsTok(spark, dir)
    val shing = tok
      .select(col("doc_id"), posexplode(Corpus.shinglesOf(col("words"))))
      .select(col("doc_id"), (col("pos") + lit(1L)).as("pos"),
        col("col").as("shingle"))
    val bench = Corpus.docShingles(spark, dir)
      .filter(col("doc_id") % 97 === 0)
      .select("shingle").distinct()
    val matched = shing.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("shingle"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val perDoc = matched
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_runs"),
        sum("run").as("n_matched"), max("run").as("longest_run"))
    val span = when(col("longest_run").isNull, lit(0L))
      .otherwise(col("longest_run") + lit(2L))
    tok.filter(col("doc_id") % 97 =!= 0).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        span.as("longest_span_tokens"),
        (span >= lit(13L)).as("flagged"))
      .orderBy("doc_id")
  }

  val contaminationSpanSql: String = {
    val ws = Corpus.wordsSqlExpr
    s"""WITH docs AS (
       |  SELECT doc_id, $ws AS ws FROM documents),
       |positioned AS (
       |  SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS pos FROM docs),
       |shing AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |    list_extract(ws, pos) || ' ' || list_extract(ws, pos + 1)
       |      || ' ' || list_extract(ws, pos + 2) AS shingle
       |  FROM positioned),
       |bench AS (
       |  SELECT DISTINCT shingle FROM shing WHERE doc_id % 97 = 0),
       |matched AS (
       |  SELECT s.doc_id, s.pos FROM shing s JOIN bench b USING (shingle)
       |  WHERE s.doc_id % 97 <> 0),
       |runs AS (
       |  SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run
       |  FROM (SELECT doc_id,
       |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |        FROM matched)
       |  GROUP BY doc_id, grp),
       |per_doc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
       |    CAST(SUM(run) AS BIGINT) AS n_matched,
       |    CAST(MAX(run) AS BIGINT) AS longest_run
       |  FROM runs GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(p.n_matched, 0) AS n_matched,
       |  COALESCE(p.n_runs, 0) AS n_runs,
       |  COALESCE(p.longest_run, 0) AS longest_run,
       |  CASE WHEN p.longest_run IS NULL THEN 0
       |       ELSE p.longest_run + 2 END AS longest_span_tokens,
       |  (CASE WHEN p.longest_run IS NULL THEN 0
       |        ELSE p.longest_run + 2 END) >= 13 AS flagged
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
       |LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** p8: sequence-packing planner — assign each document an offset and a
    * context-window id under concat-and-chunk packing (concatenate docs in
    * a canonical order, split at `budget`-token boundaries — the layout
    * step before writing pre-tokenized training shards). Packing runs
    * WITHIN (lang, shard) groups: a running sum is inherently sequential,
    * so the shard width (here `doc_id div 64`) is the parallelism knob —
    * groups are bounded and independent, and at 100 TB you size the shard
    * to the target training-file size instead of running one global
    * cumulative sum (which would be a single-partition window — the exact
    * scale-killer the rank-dictionary note in [[Corpus]] warns about).
    * Pure integer arithmetic (`div`), exact in both engines. */
  def packPlan(spark: SparkSession, dir: String, budget: Long = 512L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTokens = size(col("words")).cast("long")
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Corpus.docsTok(spark, dir)
      .select(col("doc_id"), col("lang"),
        expr("doc_id div 64").as("shard"), nTokens.as("n_tokens"))
      .withColumn("offset_start", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("window_id", expr(s"offset_start div $budget"))
      .select("doc_id", "lang", "shard", "n_tokens", "offset_start", "window_id")
      .orderBy("doc_id")
  }

  /** p12: pack-window MATERIALIZATION — p8 plans the offsets, this
    * produces the training rows: each (lang, shard, window) context
    * window as its packed token text, with documents SPLIT across window
    * boundaries exactly as concat-and-chunk dictates (a doc starting at
    * offset 500 in a 512 budget contributes its first 12 tokens to one
    * window and the rest to the next). Per doc: explode to the windows
    * it covers (bounded by ⌈n_tokens/budget⌉, almost always 1–2), slice
    * the covered token range, then one aggregate per (lang, shard,
    * window) stitches contributions in offset order. The output IS the
    * fixed-context pretraining input; every window except each shard's
    * last is exactly `budget` tokens (spec-asserted).
    *
    * Scale shape: the explode is bounded linear expansion; the stitch is
    * one hash aggregate keyed by (lang, shard, window) — groups are
    * budget-bounded, never corpus-sized; the join with the token silver
    * rides doc_id. */
  def packWindows(spark: SparkSession, dir: String, budget: Long = 512L): DataFrame = {
    val plan = packPlan(spark, dir, budget)
    val words = Corpus.docsTok(spark, dir).select(col("doc_id"), col("words"))
    val contrib = plan.join(words, Seq("doc_id"))
      .withColumn("window_id",
        explode(sequence(expr(s"offset_start div $budget"),
          expr(s"(offset_start + n_tokens - 1) div $budget"))))
      .withColumn("local_start",
        greatest(lit(0L), col("window_id") * budget - col("offset_start")))
      .withColumn("local_end",
        least(col("n_tokens"), (col("window_id") + 1) * budget - col("offset_start")))
      .withColumn("chunk",
        slice(col("words"), (col("local_start") + 1).cast("int"),
          (col("local_end") - col("local_start")).cast("int")))
    contrib.groupBy(col("lang"), col("shard"), col("window_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("local_end") - col("local_start")).as("n_tokens_window"),
        concat_ws(" ", flatten(transform(
          array_sort(collect_list(struct(col("offset_start"), col("chunk")))),
          s => s.getField("chunk")))).as("packed_text"))
      .select(col("lang"), col("shard"), col("window_id"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_tokens_window").cast("long").as("n_tokens_window"),
        col("packed_text"),
        (col("n_tokens_window") === budget).as("is_full"))
      .orderBy("lang", "shard", "window_id")
  }

  def packWindowsSql(budget: Long = 512L): String =
    s"""WITH plan AS (${packPlanSql(budget)}),
       |toks AS (SELECT doc_id, ${Corpus.wordsSqlExpr} AS ws FROM documents),
       |contrib AS (
       |  SELECT p.lang, p.shard, p.offset_start,
       |    unnest(range(p.offset_start // $budget,
       |                 (p.offset_start + p.n_tokens - 1) // $budget + 1)) AS window_id,
       |    p.n_tokens, t.ws
       |  FROM plan p JOIN toks t USING (doc_id)),
       |sliced AS (
       |  SELECT lang, shard, window_id, offset_start,
       |    GREATEST(0, window_id * $budget - offset_start) AS local_start,
       |    LEAST(n_tokens, (window_id + 1) * $budget - offset_start) AS local_end,
       |    ws
       |  FROM contrib)
       |SELECT lang, shard, window_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(local_end - local_start) AS BIGINT) AS n_tokens_window,
       |  string_agg(array_to_string(list_slice(ws, local_start + 1, local_end), ' '),
       |             ' ' ORDER BY offset_start) AS packed_text,
       |  CAST(SUM(local_end - local_start) AS BIGINT) = $budget AS is_full
       |FROM sliced
       |GROUP BY lang, shard, window_id
       |ORDER BY lang, shard, window_id""".stripMargin

  // DuckDB SUM(BIGINT) yields HUGEINT — CAST every window sum back to
  // BIGINT or the dtype diverges from Spark's LONG (same lesson as
  // pivotWideSql in graft.analytics.Trends; enforced by OracleSqlLintSpec).
  def packPlanSql(budget: Long = 512L): String =
    s"""SELECT doc_id, lang, shard, n_tokens,
       |  CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS offset_start,
       |  CAST((SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // $budget AS BIGINT) AS window_id
       |FROM (SELECT doc_id, lang, doc_id // 64 AS shard,
       |        CAST(len(${Corpus.wordsSqlExpr}) AS BIGINT) AS n_tokens
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  val contaminationSql: String =
    s"""WITH ds AS (${Corpus.docShinglesSql}),
       |bench AS (SELECT DISTINCT shingle FROM ds WHERE doc_id % 97 = 0),
       |agg AS (
       |  SELECT c.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |    CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common
       |  FROM (SELECT * FROM ds WHERE doc_id % 97 <> 0) c
       |  LEFT JOIN bench b ON c.shingle = b.shingle
       |  GROUP BY c.doc_id)
       |SELECT doc_id, n_shingles, n_common,
       |  CAST(n_common AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination_ratio,
       |  n_common * 10 >= n_shingles * 3 AS is_contaminated
       |FROM agg ORDER BY doc_id""".stripMargin

  /** p13: deterministic uniform corpus SAMPLE — the subsampling every
    * ablation/debug/eval workflow needs, as a pure per-row predicate on
    * a FOURTH independent multiplicative hash (p7's split, p9's mix
    * draw and p10's shuffle key each use their own constants, so the
    * sample is uncorrelated with all of them). `rand(seed)` is
    * partitioning- and retry-dependent; this hash selects the IDENTICAL
    * sample on any re-run, any cluster layout, any engine — and the
    * sample is consistent ACROSS scale factors (a doc keeps its verdict
    * as the corpus grows, so sampled pipelines are comparable
    * run-over-run). Map-side filter at scan speed; `perMille` is the
    * kept fraction in [0, 1000]. */
  def uniformSampleBucket(docId: Column): Column =
    pmod(pmod(docId, lit(999999893L)) * lit(2246822519L), lit(1000L))

  def sampleDocs(spark: SparkSession, dir: String,
                 perMille: Int = 100): DataFrame =
    Corpus.docsTok(spark, dir)
      .filter(uniformSampleBucket(col("doc_id")) < perMille)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        uniformSampleBucket(col("doc_id")).as("sample_bucket"))
      .orderBy("doc_id")

  def sampleDocsSql(perMille: Int = 100): String =
    s"""SELECT doc_id, lang, source, n_chars,
       |  ((doc_id % 999999893) * 2246822519) % 1000 AS sample_bucket
       |FROM documents
       |WHERE ((doc_id % 999999893) * 2246822519) % 1000 < $perMille
       |ORDER BY doc_id""".stripMargin

  /** Admission bucket in [0, 1e6) for p17's boundary-level fill — a
    * FIFTH independent multiplicative hash (distinct constants from
    * p7/p9/p10/p13, same overflow-safe reduce-then-multiply shape), so
    * budget admission is uncorrelated with split, mix, shuffle and
    * sample decisions. */
  def budgetBucket(docId: Column): Column =
    pmod(pmod(docId, lit(999999937L)) * lit(3266489917L), lit(1000000L))

  val budgetBucketSql: String =
    "((doc_id % 999999937) * 3266489917) % 1000000"

  /** p17: QUALITY-BUDGET SELECTION — "spend a token budget on the best
    * data": each language gets `budgetMilli`/1000 of its own token
    * mass, filled from the top of t2's quality rubric down. Whole
    * quality LEVELS are kept while they fit (the rubric's 0/25/50/75/
    * 100 domain makes the level relation ≤5 rows per lang — bounded,
    * never a per-doc rank window over the corpus), and the single
    * BOUNDARY level that straddles the budget line is filled by a
    * deterministic hash-Bernoulli draw at rate (remaining budget /
    * level mass) — m1/p9's sampling algebra, so the expected fill hits
    * the budget and the draw is retry/engine/layout-stable. Per-doc
    * verdicts are a broadcast plan join + pure map (p9's shape); the
    * only data-sized exchange is the (lang, level) token aggregate.
    * This is the curation step between d16's dedup verdicts and p8's
    * packing: what a team runs when the compute budget, not the
    * corpus, is the binding constraint. */
  /** p17's fitted plan relation — (lang, quality level) → level verdict
    * + per-million admission bound; ≤5 rows per language. Shared by the
    * batch [[budgetSelect]] and the streaming gate's collect
    * ([[graft.streaming.StreamingCorpus.budgetPlan]]) so batch/stream
    * parity is by construction. */
  def budgetPlanDf(spark: SparkSession, dir: String,
                   budgetMilli: Long = 500L): DataFrame = {
    val docs = Corpus.docsTok(spark, dir)
      .select(col("lang"),
        graft.text.TextAnalysis.qualityScoreColOf(col("words")).as("q"),
        size(col("words")).cast("long").as("n_tokens"))
    val byLangDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("q").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val byLang = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    docs.groupBy(col("lang"), col("q"))
      .agg(sum(col("n_tokens")).as("level_tokens"))
      .withColumn("cum_tokens", sum(col("level_tokens")).over(byLangDesc))
      .withColumn("total_tokens", sum(col("level_tokens")).over(byLang))
      .withColumn("budget", expr(s"total_tokens * $budgetMilli div 1000"))
      .withColumn("prev_cum", col("cum_tokens") - col("level_tokens"))
      .withColumn("level_verdict",
        when(col("cum_tokens") <= col("budget"), "full")
          .when(col("prev_cum") >= col("budget"), "drop")
          .otherwise("partial"))
      .withColumn("fill_below",
        when(col("level_verdict") === "full", lit(1000000L))
          .when(col("level_verdict") === "drop", lit(0L))
          .otherwise(expr("(budget - prev_cum) * 1000000 div level_tokens")))
      .select(col("lang"), col("q"), col("level_verdict"), col("fill_below"))
  }

  def budgetSelect(spark: SparkSession, dir: String,
                   budgetMilli: Long = 500L): DataFrame = {
    val docs = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.text.TextAnalysis.qualityScoreColOf(col("words")).as("q"),
        size(col("words")).cast("long").as("n_tokens"))
    val plan = budgetPlanDf(spark, dir, budgetMilli)
    docs.join(broadcast(plan), Seq("lang", "q"))
      .select(col("doc_id"), col("lang"), col("q").as("quality_score"),
        col("n_tokens"), col("level_verdict"),
        budgetBucket(col("doc_id")).as("budget_bucket"),
        (col("level_verdict") === "full" ||
          (col("level_verdict") === "partial" &&
            budgetBucket(col("doc_id")) < col("fill_below"))).as("kept"))
      .orderBy("doc_id")
  }

  def budgetSelectSql(budgetMilli: Long = 500L): String = {
    val nw = s"CAST(len(${Corpus.wordsSqlExpr}) AS BIGINT)"
    val nc = "CAST(length(text) AS BIGINT)"
    val wc = s"($nc - ($nw - 1))"
    val nstop = s"CAST(len(list_filter(${Corpus.wordsSqlExpr}, " +
      "w -> w = 'the' OR w = 'a')) AS BIGINT)"
    val nalpha = "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)"
    val score =
      s"""(CASE WHEN $nw BETWEEN 20 AND 90 THEN 25 ELSE 0 END
         |   + CASE WHEN $wc * 10 > $nw * 30 AND $wc * 10 < $nw * 100 THEN 25 ELSE 0 END
         |   + CASE WHEN $nstop > 0 THEN 25 ELSE 0 END
         |   + CASE WHEN $nalpha * 10 >= $nc * 7 THEN 25 ELSE 0 END)::BIGINT""".stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id, lang, $score AS q, $nw AS n_tokens
       |  FROM documents),
       |levels AS (
       |  SELECT lang, q, CAST(SUM(n_tokens) AS BIGINT) AS level_tokens
       |  FROM docs GROUP BY 1, 2),
       |plan AS (
       |  SELECT lang, q, level_tokens,
       |    CAST(SUM(level_tokens) OVER (PARTITION BY lang ORDER BY q DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |    CAST(SUM(level_tokens) OVER (PARTITION BY lang) AS BIGINT) AS total_tokens
       |  FROM levels),
       |verdicts AS (
       |  SELECT lang, q,
       |    CASE WHEN cum_tokens <= total_tokens * $budgetMilli // 1000 THEN 'full'
       |      WHEN cum_tokens - level_tokens >= total_tokens * $budgetMilli // 1000
       |        THEN 'drop'
       |      ELSE 'partial' END AS level_verdict,
       |    CASE WHEN cum_tokens <= total_tokens * $budgetMilli // 1000 THEN 1000000
       |      WHEN cum_tokens - level_tokens >= total_tokens * $budgetMilli // 1000
       |        THEN 0
       |      ELSE (total_tokens * $budgetMilli // 1000 - (cum_tokens - level_tokens))
       |        * 1000000 // level_tokens END AS fill_below
       |  FROM plan)
       |SELECT d.doc_id, d.lang, d.q AS quality_score, d.n_tokens,
       |  v.level_verdict,
       |  CAST($budgetBucketSql AS BIGINT) AS budget_bucket,
       |  (v.level_verdict = 'full' OR (v.level_verdict = 'partial'
       |    AND CAST($budgetBucketSql AS BIGINT) < v.fill_below)) AS kept
       |FROM docs d JOIN verdicts v USING (lang, q)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** p20: INTERLEAVED READER ORDER — the deterministic global data
    * order a multi-source training reader actually consumes: domains
    * (lang, source) advance ROUND-ROBIN, one document each in turn,
    * and within a domain documents arrive in p10's hash-shuffled
    * order (decorrelated from ingest). interleave_key =
    * (pos−1)·n_domains + (domain_idx−1) is the strided global rank:
    * unique, dense per round while every domain still has documents,
    * gapped after a domain exhausts (the reader just skips — the KEY
    * is the contract, not contiguity). Why round-robin and not
    * concatenation: gradient batches sample every domain at every
    * training step instead of consuming sources serially — the
    * standard multi-corpus mixing discipline, made retry-stable by
    * deriving everything from hashes (no rand(), no wall clock).
    *
    * Scale shape: the domain dimension (|langs|·|sources| rows) is
    * broadcast; the within-domain rank is a bounded-group window
    * (domains here play p10's shard role — a deployment with giant
    * domains composes the two: partition by (domain, p10-shard) and
    * interleave (shard, pos) tuples). One data-sized exchange. */
  def interleaveOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = pmod(pmod(col("doc_id"), lit(999999937L)) * lit(2862933555L),
      lit(999999937L))
    val docs = graft.model.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"))
    val domains = docs.select(col("lang"), col("source")).distinct()
      .withColumn("domain_idx",
        row_number().over(Window.orderBy(col("lang"), col("source")))
          .cast("long"))
    val nd = domains.agg(count(lit(1)).cast("long").as("n_domains"))
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("source"),
        key.as("shuffle_key"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .join(broadcast(domains), Seq("lang", "source"))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("lang"), col("source"),
        col("domain_idx"), col("pos"),
        ((col("pos") - 1) * col("n_domains") + (col("domain_idx") - 1))
          .as("interleave_key"))
      .orderBy(col("interleave_key"))
  }

  val interleaveOrderSql: String =
    """WITH domains AS (
      |  SELECT lang, source,
      |    CAST(ROW_NUMBER() OVER (ORDER BY lang, source) AS BIGINT)
      |      AS domain_idx
      |  FROM (SELECT DISTINCT lang, source FROM documents)),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_domains FROM domains),
      |pos AS (
      |  SELECT doc_id, lang, source,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
      |      ORDER BY ((doc_id % 999999937) * 2862933555) % 999999937,
      |        doc_id) AS BIGINT) AS pos
      |  FROM documents)
      |SELECT doc_id, p.lang, p.source, d.domain_idx, p.pos,
      |  (p.pos - 1) * n_domains + (d.domain_idx - 1) AS interleave_key
      |FROM pos p
      |JOIN domains d ON p.lang = d.lang AND p.source = d.source
      |CROSS JOIN nd
      |ORDER BY interleave_key""".stripMargin

  /** p21: DSIR — Domain-Specific Importance Resampling (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): select raw documents that LOOK LIKE a target domain
    * by the log-likelihood ratio of two hashed-feature bag-of-words
    * models. Feature space = unigrams hashed into `nBuckets` buckets
    * (the hashing trick bounds model size regardless of vocabulary);
    * target model = token-bucket counts over the target slice (here
    * `lang = 'en'` — the curated domain), raw model = counts over the
    * whole corpus; both add-one smoothed. A document's importance
    * weight is Σ_tokens [log2 p_target(bucket) − log2 p_raw(bucket)],
    * and the deterministic variant of DSIR's resampling keeps the top
    * `quotaPct`% by weight (total order: weight desc, doc_id asc).
    *
    * ENGINE-PORTABLE ARITHMETIC: each log2 is t15's milli-log2
    * (floor-log2 by binary length + linear mantissa — no libm), so a
    * bucket's weight is the exact integer
    * mlog2(cnt_t+1) − mlog2(tot_t+B) − mlog2(cnt_r+1) + mlog2(tot_r+B)
    * and a doc's weight an exact Σ tf·w — no float accumulation
    * anywhere. Buckets come from wordDict rank ids through a SIXTH
    * independent multiplicative hash (999999929, 2654435789 — distinct
    * from p7/p13/p14's constants), so the feature map is reproducible
    * by any engine.
    *
    * Scale shape: ONE pass over the token long-form builds both models
    * (conditional sums in the same bucket aggregate — the e34 move);
    * the model is `nBuckets`-bounded and BROADCASTS to the per-doc
    * scoring join; ranking rides GlobalRank's range-partitioned
    * two-phase shape (never a single-partition global window); the
    * quota bound is a 1-row broadcast. At 100 TB: two corpus passes
    * (model fit + scoring), everything else dimension-sized — the
    * published DSIR recipe is exactly this shape on Hadoop. */
  def dsirSelect(spark: SparkSession, dir: String, target: String = "en",
                 nBuckets: Int = 4096, quotaPct: Int = 25): DataFrame = {
    import graft.functions.FloorLog2.floorLog2
    def mlog2(df: DataFrame, in: String, out: String): DataFrame =
      df.withColumn(s"__b_$out", floorLog2(col(in)))
        .withColumn(s"__p_$out",
          call_function("shiftleft", lit(1L), col(s"__b_$out").cast("int")))
        .withColumn(out, col(s"__b_$out") * lit(1000L) +
          expr(s"($in - __p_$out) * 1000 DIV __p_$out"))
        .drop(s"__b_$out", s"__p_$out")
    val toks = Corpus.docsTok(spark, dir)
      .select(col("doc_id"), col("lang"), explode(col("words")).as("word"))
      .join(Corpus.wordDict(spark, dir), "word")
      .withColumn("bucket",
        pmod(pmod(col("wid"), lit(999999929L)) * lit(2654435789L),
          lit(nBuckets.toLong)))
      .select(col("doc_id"), col("lang"), col("bucket"))
    // ONE corpus pass: the (doc, bucket) term-frequency relation is the
    // finest grain — the bucket model (counts) re-aggregates from it and
    // the corpus totals re-aggregate from the bucket model (Σ per-bucket
    // counts ≡ corpus token count), so the explode+dict join runs once
    // where the r13 shape paid it three times (model, totals, scoring).
    // docTf is a silver: it feeds counts0 and docW. The bucket model
    // feeds counts and totals in one plan, which share its exchange.
    val docTf = Silver.memoize(spark, s"dsirDocTf:$nBuckets", dir) {
      toks.groupBy(col("doc_id"), col("lang"), col("bucket"))
        .agg(count(lit(1)).as("tf"))
    }
    val counts0 = docTf.groupBy(col("bucket"))
      .agg(sum(col("tf")).as("cr0"),
        sum(when(col("lang") === target, col("tf")).otherwise(0L)).as("ct0"))
    val counts = counts0
      .select(col("bucket"), (col("cr0") + 1L).as("cr"), (col("ct0") + 1L).as("ct"))
    val totals = counts0.agg(
      (sum(col("cr0")) + lit(nBuckets.toLong)).as("tr"),
      (sum(col("ct0")) + lit(nBuckets.toLong)).as("tt"))
    val weights = mlog2(mlog2(counts, "ct", "ml_ct"), "cr", "ml_cr")
      .crossJoin(broadcast(mlog2(mlog2(totals, "tt", "ml_tt"), "tr", "ml_tr")))
      .select(col("bucket"),
        (col("ml_ct") - col("ml_tt") - col("ml_cr") + col("ml_tr")).as("w_milli"))
    val docW = docTf
      .join(broadcast(weights), "bucket")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf") * col("w_milli")).as("dsir_milli_bits"))
    val nDocs = Corpus.docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    graft.plans.GlobalRank.withRowNumber(docW, "rank",
        col("dsir_milli_bits").desc, col("doc_id").asc)
      .crossJoin(broadcast(nDocs))
      .where(col("rank") <= expr(s"(n_docs * $quotaPct) DIV 100"))
      .select(col("rank"), col("doc_id"), col("lang"), col("dsir_milli_bits"))
      .orderBy(col("rank"))
  }

  def dsirSelectSql(target: String = "en", nBuckets: Int = 4096,
                    quotaPct: Int = 25): String = {
    def mlog2(x: String): String = {
      val b = s"(length(format('{:b}', $x)) - 1)"
      val p = s"CAST(power(2, $b) AS BIGINT)"
      s"($b * 1000 + ($x - $p) * 1000 // $p)"
    }
    s"""WITH dict AS (${Corpus.wordDictSql}),
       |toks AS (
       |  SELECT t.doc_id, t.lang,
       |    ((d.wid % 999999929) * 2654435789) % $nBuckets AS bucket
       |  FROM (SELECT doc_id, lang, unnest(${Corpus.wordsSqlExpr}) AS word
       |        FROM documents) t
       |  JOIN dict d ON d.word = t.word),
       |counts AS (
       |  SELECT bucket,
       |    CAST(COUNT(*) + 1 AS BIGINT) AS cr,
       |    CAST(SUM(CASE WHEN lang = '$target' THEN 1 ELSE 0 END) + 1
       |      AS BIGINT) AS ct
       |  FROM toks GROUP BY bucket),
       |totals AS (
       |  SELECT CAST(COUNT(*) + $nBuckets AS BIGINT) AS tr,
       |    CAST(SUM(CASE WHEN lang = '$target' THEN 1 ELSE 0 END)
       |      + $nBuckets AS BIGINT) AS tt
       |  FROM toks),
       |weights AS (
       |  SELECT bucket,
       |    ${mlog2("ct")} - ${mlog2("tt")}
       |      - ${mlog2("cr")} + ${mlog2("tr")} AS w_milli
       |  FROM counts CROSS JOIN totals),
       |docw AS (
       |  SELECT doc_id, lang,
       |    CAST(SUM(tf * w_milli) AS BIGINT) AS dsir_milli_bits
       |  FROM (SELECT doc_id, lang, bucket, CAST(COUNT(*) AS BIGINT) AS tf
       |        FROM toks GROUP BY 1, 2, 3) t
       |  JOIN weights USING (bucket)
       |  GROUP BY 1, 2),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |ranked AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY dsir_milli_bits DESC,
       |    doc_id ASC) AS BIGINT) AS rank, doc_id, lang, dsir_milli_bits
       |  FROM docw)
       |SELECT rank, doc_id, lang, dsir_milli_bits
       |FROM ranked CROSS JOIN nd
       |WHERE rank <= (n_docs * $quotaPct) // 100
       |ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------- p22

  /** p22: DOMAIN REWEIGHTING (DoReMi-shaped) — adjust the training
    * mixture's per-source sampling weights by how HARD each source is
    * for the reference LM: sources whose mean per-token surprisal (t13's
    * unigram LM, integer milli-bits) exceeds the corpus mean get boosted,
    * easy sources get damped, then weights renormalize over the baseline
    * token shares. This is the published DoReMi step in single-shot form
    * — the full method alternates reweight ↔ proxy-retrain, and with a
    * FIXED reference model the R update rounds collapse to the closed
    * form baseline_share × step^R, so the exponent is applied directly
    * (R = [[ReweightRounds]]) instead of pretending a loop converges to
    * anything new. All arithmetic is engine-exact: milli-bit means via
    * integer DIV, the step clamped to [500, 2000] milli, step^4 kept in
    * milli by two square-then-rescale rounds, and the final share is ONE
    * IEEE division of two exact integers (both < 2^53). Scale: one
    * corpus-grain exchange (the per-doc surprisal rollup t13 already
    * pays), then everything is |sources|-sized. */
  val ReweightRounds = 4
  val ReweightEta = 8L // step = 1000 + excess/eta milli

  def domainReweight(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = TextAnalysis.lmSurprisal(spark, dir)
      .join(Corpus.docs(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    // a silver: the |sources|-sized rollup feeds THREE consumers below
    // (the corpus-total aggregate, the stepped projection, the weight
    // normalizer) — as a plain plan each 1-row aggregate re-executes
    // the whole corpus surprisal pipeline
    val dom = Silver.memoize(spark, "domainReweightSources", dir) {
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("sum_bits")).as("sum_bits"))
    }
    val tot = dom.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("sum_bits")).as("tot_bits"))
    val stepped = dom.crossJoin(tot) // 1-row scalar broadcast
      .withColumn("mean_milli", expr("sum_bits * 1000 DIV n_tokens"))
      .withColumn("corpus_milli", expr("tot_bits * 1000 DIV tot_tokens"))
      .withColumn("excess_milli", col("mean_milli") - col("corpus_milli"))
      .withColumn("step_milli",
        expr(s"GREATEST(500L, LEAST(2000L, 1000L + excess_milli DIV $ReweightEta))"))
      .withColumn("b2", expr("step_milli * step_milli DIV 1000"))
      .withColumn("boost_milli", expr("b2 * b2 DIV 1000"))
      .withColumn("w", col("n_tokens") * col("boost_milli"))
    val wtot = stepped.agg(sum(col("w")).as("w_tot"))
    stepped.crossJoin(wtot)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("mean_milli"), col("excess_milli"), col("boost_milli"),
        (col("w").cast("double") / col("w_tot").cast("double"))
          .as("weight_share"))
      .orderBy(col("source"))
  }

  def domainReweightSql(): String =
    s"""WITH per_doc AS (${TextAnalysis.lmSurprisalSql}),
       |dom AS (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(SUM(p.sum_bits) AS BIGINT) AS sum_bits
       |  FROM per_doc p JOIN documents d USING (doc_id)
       |  GROUP BY d.source),
       |tot AS (
       |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
       |    CAST(SUM(sum_bits) AS BIGINT) AS tot_bits FROM dom),
       |stepped AS (
       |  SELECT source, n_docs, n_tokens,
       |    sum_bits * 1000 // n_tokens AS mean_milli,
       |    sum_bits * 1000 // n_tokens - tot_bits * 1000 // tot_tokens
       |      AS excess_milli
       |  FROM dom CROSS JOIN tot),
       |boosted AS (
       |  SELECT *,
       |    (GREATEST(500, LEAST(2000, 1000 + excess_milli // $ReweightEta))
       |     * GREATEST(500, LEAST(2000, 1000 + excess_milli // $ReweightEta))
       |     // 1000)
       |    * (GREATEST(500, LEAST(2000, 1000 + excess_milli // $ReweightEta))
       |       * GREATEST(500, LEAST(2000, 1000 + excess_milli // $ReweightEta))
       |       // 1000)
       |    // 1000 AS boost_milli
       |  FROM stepped),
       |wtot AS (
       |  SELECT CAST(SUM(n_tokens * boost_milli) AS BIGINT) AS w_tot
       |  FROM boosted)
       |SELECT source, n_docs, n_tokens,
       |  CAST(mean_milli AS BIGINT) AS mean_milli,
       |  CAST(excess_milli AS BIGINT) AS excess_milli,
       |  CAST(boost_milli AS BIGINT) AS boost_milli,
       |  CAST(n_tokens * boost_milli AS DOUBLE) / CAST(w_tot AS DOUBLE)
       |    AS weight_share
       |FROM boosted CROSS JOIN wtot
       |ORDER BY source""".stripMargin
}
