package graft.analytics

import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** er1: FELLEGI–SUNTER PROBABILISTIC RECORD LINKAGE (Fellegi & Sunter
  * 1969; the Splink/Zingg-class workhorse of large-scale entity
  * resolution) — the probabilistic layer k11/k12's deterministic fuzzy
  * matching stops short of. A deterministically "dirty" twin of the
  * part catalog (one character deleted from every name at a
  * hash-chosen position; p_type blanked on every hash%4 row — the
  * corruption is part of the operator's fixture contract, reproducible
  * by any engine from the formula) is linked back to the clean
  * catalog:
  *
  *  1. BLOCKING, multi-pass: candidates from (p_brand, p_size) ∪
  *     (p_type, p_size) equi-cells, distinct'd — never all-pairs (the
  *     k11 posture; at 100 TB each pass is one co-keyed hash join).
  *  2. AGREEMENT VECTOR per candidate: name within edit distance 2,
  *     brand equal, type equal.
  *  3. m/u ESTIMATION: m_i (P[agree|match]) counted on the true-pair
  *     relation (clean ⋈ dirty on partkey); u_i (P[agree|non-match])
  *     on the deterministic offset pairing (partkey vs partkey+1) —
  *     both 1-row integer-milli aggregates, clamped to [1,999] so the
  *     disagreement weights stay defined (the standard ε-clamp).
  *  4. WEIGHTS in exact milli-bits via t15's milli-log2 (floor-log2 +
  *     linear mantissa — no libm): w = mlog2(m) − mlog2(u) on
  *     agreement, mlog2(1000−m) − mlog2(1000−u) on disagreement.
  *  5. DECISION: link / possible / non-link by fixed score thresholds;
  *     readout = per-decision pair counts, true-match counts,
  *     precision, and (for the link class) recall against the |parts|
  *     ground truth.
  *
  * Scale shape: two blocked joins + one key-equi truth join + one
  * offset join, each hash-partitioned and row-sized; the m/u model is
  * TWO 1-row broadcasts; scoring is a pure projection; the readout a
  * 3-row aggregate. Nothing quadratic, nothing global. */
object Linkage {

  /** Milli-log2 of a positive integer column in [1, 999] (t15's
    * floor-log2 + linear mantissa — the p21 helper). The mantissa
    * division runs as floor-of-double, which is EXACT here: numerator
    * ≤ 511·1000, denominator ≤ 512, so any non-integral quotient sits
    * ≥ 1/512 from the next integer — far beyond double rounding. */
  private def mlog2(x: Column): Column = {
    import graft.functions.FloorLog2.floorLog2
    val b = floorLog2(x)
    val p = call_function("shiftleft", lit(1L), b.cast("int")).cast("long")
    b * lit(1000L) +
      floor(((x - p) * lit(1000L)).cast("double") / p.cast("double"))
        .cast("long")
  }

  /** The scored candidate-pair relation (key_c, key_d, agreement bits,
    * score_milli, decision, is_true) shared by er1's readout and er3's
    * cluster construction. MEMOIZED as a silver handle: er1 aggregates
    * it, er3 runs a driver-side CC convergence loop over it — without
    * sharing, er3 would re-run both blocked joins and the m/u model.
    * Thresholds are part of the memo key. */
  private[graft] def scoredPairs(spark: SparkSession, dir: String,
                                 upper: Long = 2000L,
                                 lower: Long = 0L): DataFrame =
    graft.model.Silver.memoize(spark, s"erScoredPairs_${upper}_$lower", dir) {
      scoredPairsPlan(spark, dir, upper, lower)
    }

  private def cleanView(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey").as("key_c"), col("p_name").as("name_c"),
        col("p_brand").as("brand_c"), col("p_type").as("type_c"),
        col("p_size").as("size_c"))

  private def dirtyView(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey").as("key_d"),
        concat(
          expr("substring(p_name, 1, " +
            "CAST((p_partkey % 1000000007) * 2654435761 % length(p_name) AS INT))"),
          expr("substring(p_name, " +
            "CAST((p_partkey % 1000000007) * 2654435761 % length(p_name) AS INT) + 2, " +
            "length(p_name))")).as("name_d"),
        col("p_brand").as("brand_d"),
        when(pmod(col("p_partkey"), lit(4L)) === 0L, lit("UNKNOWN"))
          .otherwise(col("p_type")).as("type_d"),
        col("p_size").as("size_d"))

  /** The dirty side replicated into its three covering length blocks
    * (see the blocking-trap note in [[scoredPairsPlan]]). */
  private def dirtyBlocked(dirty: DataFrame): DataFrame =
    dirty.withColumn("blk",
      explode(array(length(col("name_d")).cast("long"),
        length(col("name_d")).cast("long") + 1L,
        length(col("name_d")).cast("long") + 2L)))

  /** One blocking pass: the co-keyed equi-join of clean against the
    * length-replicated dirty side on (blockCol, size, length). */
  private def blockPass(clean: DataFrame, dirtyB: DataFrame,
                        blockCol: String): DataFrame = {
    val lenC = length(col("name_c")).cast("long")
    clean.join(dirtyB,
      col(s"${blockCol}_c") === col(s"${blockCol}_d") &&
        col("size_c") === col("size_d") && lenC === col("blk"))
  }

  /** The blocked candidate-pair relation (both blocking passes,
    * deduplicated) — shared by [[scoredPairsPlan]] and er6's pattern
    * census, MEMOIZED so the two blocked joins are priced once per
    * session however many ER readouts run. */
  private def candidates(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "erCandidates", dir) {
      // built FROM the memoized per-pass relations (not from fresh
      // blocked joins): er7 needs each pass separately, so the whole ER
      // family prices each blocked join exactly once per session and
      // the union here is leaf ∪ leaf + distinct
      candidatesOfPass(spark, dir, "brand")
        .unionAll(candidatesOfPass(spark, dir, "type"))
        .distinct()
    }

  private def scoredPairsPlan(spark: SparkSession, dir: String,
                              upper: Long, lower: Long): DataFrame = {
    val clean = cleanView(spark, dir)
    val dirty = dirtyView(spark, dir)
    // BOUNDED edit distance (guide §1.2 step 2 — per-task work): only
    // the ≤2 verdict is consumed, so the banded threshold form computes
    // O(len·2) cells and aborts early instead of the full O(len²) DP on
    // every candidate pair; `>= 0` ⟺ distance ≤ threshold (the bounded
    // form returns -1 above it). Bit-identical boolean; the oracle keeps
    // DuckDB's plain levenshtein.
    def agreements(df: DataFrame): DataFrame = df
      .withColumn("a_name",
        (levenshtein(col("name_c"), col("name_d"), 2) >= 0).cast("long"))
      .withColumn("a_brand", (col("brand_c") === col("brand_d")).cast("long"))
      .withColumn("a_type", (col("type_c") === col("type_d")).cast("long"))
    // m from the true pairing, u from the +1 offset pairing; milli, clamped
    def rates(df: DataFrame, p: String): DataFrame = agreements(df)
      .agg(count(lit(1)).as(s"n_$p"),
        greatest(least(expr(s"SUM(a_name) * 1000 DIV COUNT(*)"), lit(999L)),
          lit(1L)).as(s"${p}_name"),
        greatest(least(expr(s"SUM(a_brand) * 1000 DIV COUNT(*)"), lit(999L)),
          lit(1L)).as(s"${p}_brand"),
        greatest(least(expr(s"SUM(a_type) * 1000 DIV COUNT(*)"), lit(999L)),
          lit(1L)).as(s"${p}_type"))
    val m = rates(clean.join(dirty, col("key_c") === col("key_d")), "m")
    val u = rates(clean.join(dirty, col("key_c") + 1L === col("key_d")), "u")
    val model = m.crossJoin(u)
    def w(f: String): (Column, Column) = (
      mlog2(col(s"m_$f")) - mlog2(col(s"u_$f")),
      mlog2(lit(1000L) - col(s"m_$f")) - mlog2(lit(1000L) - col(s"u_$f")))
    // LENGTH component in every blocking key: (brand, size) / (type,
    // size) alone are CONSTANT-cardinality blocks, so cell population
    // grows linearly with the catalog and candidate pairs QUADRATICALLY
    // (the classic ER blocking trap — fine at sf0.01, a scale-killer at
    // sf1.0). The standard length filter bounds it: a true match under
    // any <=2-char edit satisfies len_c - len_d ∈ [0, 2], so the dirty
    // side replicates into the three covering length blocks and the
    // equi-key gains a term whose cardinality GROWS with the catalog —
    // cells stay O(n / (|brand||size||len|)), recall stays 1 by
    // construction, and the 3x replication is the whole cost.
    val cands = candidates(spark, dir)
    val (wnA, wnD) = w("name"); val (wbA, wbD) = w("brand")
    val (wtA, wtD) = w("type")
    val scored = agreements(cands).crossJoin(broadcast(model))
      .withColumn("score_milli",
        when(col("a_name") === 1L, wnA).otherwise(wnD) +
          when(col("a_brand") === 1L, wbA).otherwise(wbD) +
          when(col("a_type") === 1L, wtA).otherwise(wtD))
      .withColumn("decision",
        when(col("score_milli") >= upper, "link")
          .when(col("score_milli") <= lower, "non_link")
          .otherwise("possible"))
      .withColumn("is_true", (col("key_c") === col("key_d")).cast("long"))
    scored.select(col("key_c"), col("key_d"), col("score_milli"),
      col("decision"), col("is_true"))
  }

  def fsLinkage(spark: SparkSession, dir: String,
                upper: Long = 2000L, lower: Long = 0L): DataFrame = {
    val scored = scoredPairs(spark, dir, upper, lower)
    val nTruth = Tables.part(spark, dir).agg(count(lit(1)).as("n_truth"))
    scored.groupBy(col("decision"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("is_true")).as("n_true"),
        expr("SUM(is_true) * 1000 DIV COUNT(*)").as("precision_milli"))
      .crossJoin(broadcast(nTruth))
      .select(col("decision"), col("n_pairs"), col("n_true"),
        col("precision_milli"),
        when(col("decision") === "link",
          expr("n_true * 1000 DIV n_truth")).as("recall_milli"))
      .orderBy(col("decision"))
  }

  /** The clean..scored CTE chain shared by [[fsLinkageSql]] and
    * [[entityClustersSql]] — the SQL twin of [[scoredPairs]]. */
  /** The clean..cands CTE chain (views + blocking) shared by
    * [[scoredCtesSql]] and er6's pattern census. */
  // NOTE: viewsCtesSql is concatenated OUTSIDE any stripMargin — its
  // body contains `||` string concats that a second stripMargin pass
  // would corrupt into a single `|`.
  private def baseCtesSql(): String =
    viewsCtesSql() + ",\n" +
      s"""cands AS (
         |  SELECT DISTINCT key_c, key_d, name_c, name_d, brand_c, brand_d,
         |    type_c, type_d
         |  FROM (
         |    ${passCandsSql("brand")}
         |    UNION ALL
         |    ${passCandsSql("type")}))""".stripMargin

  /** One blocking pass's joined candidate rows (er7 deduplicates per
    * pass; [[baseCtesSql]] unions then deduplicates across passes). */
  private def passCandsSql(blockCol: String): String =
    s"""SELECT clean.*, dirtyb.* FROM clean JOIN dirtyb
       |      ON ${blockCol}_c = ${blockCol}_d AND size_c = size_d
       |      AND length(name_c) = blk""".stripMargin

  /** The clean/dirty/dirtyb view CTEs alone (no blocking). */
  private def viewsCtesSql(): String =
    s"""clean AS (
       |  SELECT p_partkey AS key_c, p_name AS name_c, p_brand AS brand_c,
       |    p_type AS type_c, p_size AS size_c
       |  FROM part),
       |dirty AS (
       |  SELECT p_partkey AS key_d,
       |    substring(p_name, 1,
       |      CAST((p_partkey % 1000000007) * 2654435761 % length(p_name) AS INT))
       |    || substring(p_name,
       |      CAST((p_partkey % 1000000007) * 2654435761 % length(p_name) AS INT) + 2,
       |      length(p_name)) AS name_d,
       |    p_brand AS brand_d,
       |    CASE WHEN p_partkey % 4 = 0 THEN 'UNKNOWN' ELSE p_type END AS type_d,
       |    p_size AS size_d
       |  FROM part),
       |dirtyb AS (
       |  SELECT d.*, length(name_d) + t.r AS blk
       |  FROM dirty d CROSS JOIN (VALUES (0), (1), (2)) t(r))""".stripMargin

  private def scoredCtesSql(): String = {
    def mlog2(x: String): String = {
      val b = s"(length(format('{:b}', $x)) - 1)"
      val p = s"CAST(power(2, $b) AS BIGINT)"
      s"($b * 1000 + ($x - $p) * 1000 // $p)"
    }
    def wA(f: String) = s"(${mlog2(s"m_$f")} - ${mlog2(s"u_$f")})"
    def wD(f: String) = s"(${mlog2(s"1000 - m_$f")} - ${mlog2(s"1000 - u_$f")})"
    val rateCols = (p: String) => Seq("name", "brand", "type").map { f =>
      val a = f match {
        case "name" => "CASE WHEN levenshtein(name_c, name_d) <= 2 THEN 1 ELSE 0 END"
        case "brand" => "CASE WHEN brand_c = brand_d THEN 1 ELSE 0 END"
        case "type" => "CASE WHEN type_c = type_d THEN 1 ELSE 0 END"
      }
      s"CAST(GREATEST(LEAST(SUM($a) * 1000 // COUNT(*), 999), 1) AS BIGINT) AS ${p}_$f"
    }.mkString(",\n    ")
    s"${baseCtesSql()},\n" +
    s"""m AS (
       |  SELECT ${rateCols("m")}
       |  FROM clean JOIN dirty ON key_c = key_d),
       |u AS (
       |  SELECT ${rateCols("u")}
       |  FROM clean JOIN dirty ON key_c + 1 = key_d),
       |scored AS (
       |  SELECT key_c, key_d,
       |    (CASE WHEN levenshtein(name_c, name_d) <= 2
       |       THEN ${wA("name")} ELSE ${wD("name")} END +
       |     CASE WHEN brand_c = brand_d
       |       THEN ${wA("brand")} ELSE ${wD("brand")} END +
       |     CASE WHEN type_c = type_d
       |       THEN ${wA("type")} ELSE ${wD("type")} END) AS score_milli,
       |    CASE WHEN key_c = key_d THEN 1 ELSE 0 END AS is_true
       |  FROM cands CROSS JOIN m CROSS JOIN u)""".stripMargin
  }

  // NOTE both composers below CONCATENATE the pre-stripped CTE chain
  // instead of interpolating it inside a stripMargin template: the chain
  // contains continuation lines that BEGIN with `||` (string concat),
  // which a second stripMargin pass would eat as margin characters.
  def fsLinkageSql(upper: Long = 2000L, lower: Long = 0L): String =
    s"WITH ${scoredCtesSql()},\n" +
    s"""dec AS (
       |  SELECT CASE WHEN score_milli >= $upper THEN 'link'
       |    WHEN score_milli <= $lower THEN 'non_link'
       |    ELSE 'possible' END AS decision, is_true
       |  FROM scored),
       |truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM part)
       |SELECT decision, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(is_true) AS BIGINT) AS n_true,
       |  CAST(SUM(is_true) AS BIGINT) * 1000 // COUNT(*) AS precision_milli,
       |  CASE WHEN decision = 'link'
       |    THEN CAST(SUM(is_true) AS BIGINT) * 1000 // n_truth END AS recall_milli
       |FROM dec CROSS JOIN truth
       |GROUP BY decision, n_truth
       |ORDER BY decision""".stripMargin

  /** er5: DECISION-THRESHOLD SWEEP — the precision/recall/F1 curve
    * over er1's match scores, the readout a linkage steward reads
    * before PICKING the upper threshold er1/er3 then apply (the ER
    * sibling of d21's LSH-bands sweep and sk11's bloom-width sweep):
    * for every distinct score value τ, the operating point of the
    * rule "link iff score ≥ τ" — cumulative candidate pairs, true
    * pairs among them, precision, recall against the known entity
    * universe, and integer F1 (2·p·r DIV (p+r) on the already-
    * truncated milli operands, identical in both engines).
    *
    * Computed as ONE pass, never per-threshold: pairs aggregate to
    * score grain (the memoized er1 scored-pairs silver feeds it, so
    * the blocked joins are priced once per session), and a single
    * score-descending cumulative window turns the grain counts into
    * every operating point at once — the classic ROC/PR construction.
    * The global window is score-DIMENSION-sized (|distinct weight
    * sums| — the F-S weight lattice is tiny regardless of catalog
    * size), so the single-partition window is a non-issue at any SF. */
  def thresholdSweep(spark: SparkSession, dir: String,
                     upper: Long = 2000L, lower: Long = 0L): DataFrame = {
    sweepFrom(spark, dir, scoredPairs(spark, dir, upper, lower))
  }

  /** The er5 sweep algebra over an explicit scored relation — shared
    * with er8's unbiased-weight re-sweep. */
  private def sweepFrom(spark: SparkSession, dir: String,
                        scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTruth = Tables.part(spark, dir).agg(count(lit(1)).as("n_truth"))
    val byScore = scored.groupBy(col("score_milli"))
      .agg(count(lit(1)).as("np"), sum(col("is_true")).as("nt"))
    val cum = Window.orderBy(col("score_milli").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("n_link", sum(col("np")).over(cum))
      .withColumn("n_true_link", sum(col("nt")).over(cum))
      .crossJoin(broadcast(nTruth))
      .select(col("score_milli").as("tau_milli"), col("n_link"),
        col("n_true_link"),
        expr("n_true_link * 1000 DIV n_link").as("precision_milli"),
        expr("CASE WHEN n_truth = 0 THEN NULL " +
          "ELSE n_true_link * 1000 DIV n_truth END").as("recall_milli"))
      .withColumn("f1_milli",
        expr("CASE WHEN precision_milli + recall_milli > 0 THEN " +
          "2 * precision_milli * recall_milli DIV " +
          "(precision_milli + recall_milli) ELSE 0 END"))
      .orderBy(col("tau_milli"))
  }

  def thresholdSweepSql(): String =
    s"WITH ${scoredCtesSql()},\n" +
    s"""by_score AS (
       |  SELECT score_milli, CAST(COUNT(*) AS BIGINT) AS np,
       |    CAST(SUM(is_true) AS BIGINT) AS nt
       |  FROM scored GROUP BY 1),
       |truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM part),
       |cum AS (
       |  SELECT score_milli AS tau_milli,
       |    CAST(SUM(np) OVER w AS BIGINT) AS n_link,
       |    CAST(SUM(nt) OVER w AS BIGINT) AS n_true_link
       |  FROM by_score
       |  WINDOW w AS (ORDER BY score_milli DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |pts AS (
       |  SELECT tau_milli, n_link, n_true_link,
       |    n_true_link * 1000 // n_link AS precision_milli,
       |    CASE WHEN n_truth = 0 THEN NULL
       |      ELSE n_true_link * 1000 // n_truth END AS recall_milli
       |  FROM cum CROSS JOIN truth)
       |SELECT tau_milli, n_link, n_true_link, precision_milli, recall_milli,
       |  CASE WHEN precision_milli + recall_milli > 0 THEN
       |    2 * precision_milli * recall_milli
       |      // (precision_milli + recall_milli) ELSE 0 END AS f1_milli
       |FROM pts
       |ORDER BY tau_milli""".stripMargin

  /** er2: GOLDEN-RECORD SURVIVORSHIP — the merge step of master-data
    * management that follows linkage (er1 scores pairs, d6 clusters;
    * this key MERGES a cluster into one canonical record). Three
    * deterministic "source system" views of every customer (one scan +
    * a 3-struct inline explode, never three scans):
    *
    *   crm (priority 1): name intact; balance STALE (minus custkey%100
    *     cents) and NULL on custkey%7=0; segment NULL on custkey%3=0
    *   web (priority 2): name truncated to 12 chars; balance current;
    *     segment lowercased
    *   pos (priority 3): name uppercased; balance current but NULL on
    *     custkey%5=0; segment intact
    *
    * Survivorship, one rule per field — the three standard MDM shapes:
    *   name    LONGEST-WINS (tie → lexicographic min, then priority)
    *   balance SOURCE-PRIORITY with null skip (first non-null by rank)
    *   segment MODE (most frequent value, tie → lexicographic min)
    * plus per-field provenance (which source won) and conflict counts
    * (distinct non-null candidates).
    *
    * Scale shape: the explode is a per-row map (3× row count, no
    * shuffle); name/balance picks are rank-1 windows partitioned by
    * custkey — ONE hash exchange, two in-partition sorts, and the
    * rank<=1 filter is the GroupTopK heap regime (bounded state, no
    * full sort at 100 TB); the mode is a (custkey, value) count then a
    * custkey window; the final assembly joins three custkey-keyed
    * rank-1 relations — co-partitioned, row-sized. Nothing quadratic. */
  def goldenRecord(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("custkey"), col("c_name"),
        col("c_mktsegment"),
        (col("c_acctbal").cast(Tables.Money) * 100).cast("long").as("cents"))
    val src = c.select(col("custkey"), explode(array(
      struct(lit("crm").as("src"), lit(1L).as("priority"),
        col("c_name").as("name"),
        when(pmod(col("custkey"), lit(7L)) === 0L, lit(null).cast("long"))
          .otherwise(col("cents") - pmod(col("custkey"), lit(100L)))
          .as("bal_cents"),
        when(pmod(col("custkey"), lit(3L)) === 0L, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("segment")),
      struct(lit("web").as("src"), lit(2L).as("priority"),
        substring(col("c_name"), 1, 12).as("name"),
        col("cents").as("bal_cents"),
        lower(col("c_mktsegment")).as("segment")),
      struct(lit("pos").as("src"), lit(3L).as("priority"),
        upper(col("c_name")).as("name"),
        when(pmod(col("custkey"), lit(5L)) === 0L, lit(null).cast("long"))
          .otherwise(col("cents")).as("bal_cents"),
        col("c_mktsegment").as("segment")))).as("r"))
      .select(col("custkey"), col("r.src"), col("r.priority"),
        col("r.name"), col("r.bal_cents"), col("r.segment"))
    val byKey = Window.partitionBy(col("custkey"))
    val name = src
      .withColumn("rn", row_number().over(byKey.orderBy(
        length(col("name")).desc, col("name").asc, col("priority").asc)))
      .filter(col("rn") === 1)
      .select(col("custkey"), col("name").as("golden_name"),
        col("src").as("name_src"))
    val bal = src.filter(col("bal_cents").isNotNull)
      .withColumn("rn", row_number().over(byKey.orderBy(col("priority").asc)))
      .withColumn("n_bal", count(lit(1)).over(byKey))
      .filter(col("rn") === 1)
      .select(col("custkey"), col("bal_cents").as("golden_bal_cents"),
        col("src").as("bal_src"), col("n_bal").as("n_bal_sources"))
    val seg = src.filter(col("segment").isNotNull)
      .groupBy(col("custkey"), col("segment"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rn", row_number().over(byKey.orderBy(
        col("n_votes").desc, col("segment").asc)))
      .withColumn("n_seg", count(lit(1)).over(byKey))
      .filter(col("rn") === 1)
      .select(col("custkey"), col("segment").as("golden_segment"),
        col("n_votes").as("seg_votes"), col("n_seg").as("n_seg_variants"))
    name.join(bal, Seq("custkey")).join(seg, Seq("custkey"))
      .orderBy(col("custkey"))
  }

  def goldenRecordSql(): String =
    """WITH c AS (
      |  SELECT c_custkey AS custkey, c_name, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |src AS (
      |  SELECT custkey, 'crm' AS src, 1 AS priority, c_name AS name,
      |    CASE WHEN custkey % 7 = 0 THEN NULL
      |      ELSE cents - custkey % 100 END AS bal_cents,
      |    CASE WHEN custkey % 3 = 0 THEN NULL
      |      ELSE c_mktsegment END AS segment
      |  FROM c
      |  UNION ALL
      |  SELECT custkey, 'web', 2, substring(c_name, 1, 12), cents,
      |    lower(c_mktsegment)
      |  FROM c
      |  UNION ALL
      |  SELECT custkey, 'pos', 3, upper(c_name),
      |    CASE WHEN custkey % 5 = 0 THEN NULL ELSE cents END, c_mktsegment
      |  FROM c),
      |name_pick AS (
      |  SELECT custkey, name AS golden_name, src AS name_src
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey
      |      ORDER BY length(name) DESC, name ASC, priority ASC) AS rn
      |    FROM src)
      |  WHERE rn = 1),
      |bal_pick AS (
      |  SELECT custkey, bal_cents AS golden_bal_cents, src AS bal_src,
      |    n_bal AS n_bal_sources
      |  FROM (SELECT *,
      |      ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY priority ASC) AS rn,
      |      CAST(COUNT(*) OVER (PARTITION BY custkey) AS BIGINT) AS n_bal
      |    FROM src WHERE bal_cents IS NOT NULL)
      |  WHERE rn = 1),
      |votes AS (
      |  SELECT custkey, segment, CAST(COUNT(*) AS BIGINT) AS n_votes
      |  FROM src WHERE segment IS NOT NULL GROUP BY 1, 2),
      |seg_pick AS (
      |  SELECT custkey, segment AS golden_segment, n_votes AS seg_votes,
      |    n_seg AS n_seg_variants
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY custkey
      |      ORDER BY n_votes DESC, segment ASC) AS rn,
      |      CAST(COUNT(*) OVER (PARTITION BY custkey) AS BIGINT) AS n_seg
      |    FROM votes)
      |  WHERE rn = 1)
      |SELECT n.custkey, n.golden_name, n.name_src, b.golden_bal_cents,
      |  b.bal_src, b.n_bal_sources, s.golden_segment, s.seg_votes,
      |  s.n_seg_variants
      |FROM name_pick n
      |JOIN bal_pick b ON n.custkey = b.custkey
      |JOIN seg_pick s ON n.custkey = s.custkey
      |ORDER BY n.custkey""".stripMargin

  /** er3: ENTITY CLUSTERS — the transitive-closure step between er1
    * (pairwise link decisions) and er2 (per-entity survivorship): link
    * pairs rarely form clean 1:1 matches — chains (A links B links C)
    * and conflations (two true entities bridged by a false positive)
    * only surface once links are closed into CONNECTED COMPONENTS.
    * Vertices are both sides of the er1 universe on one id line
    * (clean key → 2k, dirty key → 2k+1 — disjoint by parity, ordered,
    * so min-label canonical ids are well-defined); edges are er1's
    * `link`-decision pairs. Readout: the cluster-cardinality histogram
    * with purity — per cluster size, how many clusters, how many are
    * PURE (every member the same partkey — exactly one true entity),
    * and the records they carry. Size-2 pure clusters are the ideal
    * 1:1 resolutions; size-1 are unmatched singletons (missed links);
    * impure or >2 clusters are over-merges an MDM steward reviews.
    *
    * Scale shape: the edge relation is er1's blocked candidate set
    * filtered to links (shared via the [[scoredPairs]] silver — er3
    * never re-runs the blocking joins); the closure is the d6
    * min-label propagation (one co-keyed join + aggregate per round,
    * rounds = component diameter — link chains are shallow; driver
    * reads only each round's row count); the readouts are two
    * group-bounded aggregates. Nothing quadratic, no all-pairs.
    * Oracle: DuckDB replays the closure with WITH RECURSIVE. */
  def entityClusters(spark: SparkSession, dir: String,
                     upper: Long = 2000L): DataFrame = {
    val labeled = graft.dedup.Dedup.dupClustersFrom(spark, s"erClusters_$upper", dir)(
      Tables.part(spark, dir)
        .select(explode(array(col("p_partkey") * 2L,
          col("p_partkey") * 2L + 1L)).as("doc_id")),
      scoredPairs(spark, dir, upper)
        .where(col("decision") === "link")
        .select((col("key_c") * 2L).as("doc_a"),
          (col("key_d") * 2L + 1L).as("doc_b")))
    labeled
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg((min(expr("doc_id DIV 2")) === max(expr("doc_id DIV 2")))
        .cast("long").as("pure"))
      .groupBy(col("cluster_size").as("n_members"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("pure")).cast("long").as("n_pure_clusters"),
        sum(col("cluster_size")).cast("long").as("n_records"))
      .orderBy(col("n_members"))
  }

  def entityClustersSql(upper: Long = 2000L): String =
    s"WITH RECURSIVE ${scoredCtesSql()},\n" +
    s"""links AS (
       |  SELECT 2 * key_c AS a, 2 * key_d + 1 AS b
       |  FROM scored WHERE score_milli >= $upper),
       |edges AS (SELECT a, b FROM links UNION ALL SELECT b, a FROM links),
       |verts AS (
       |  SELECT 2 * p_partkey AS id FROM part
       |  UNION ALL SELECT 2 * p_partkey + 1 FROM part),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edges
       |  UNION
       |  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (
       |  SELECT v.id, LEAST(v.id, COALESCE(MIN(r.dst), v.id)) AS cluster_id
       |  FROM verts v LEFT JOIN reach r ON r.src = v.id
       |  GROUP BY v.id),
       |per_cluster AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
       |    CASE WHEN MIN(id // 2) = MAX(id // 2) THEN 1 ELSE 0 END AS pure
       |  FROM labels GROUP BY cluster_id)
       |SELECT cluster_size AS n_members, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(SUM(pure) AS BIGINT) AS n_pure_clusters,
       |  CAST(SUM(cluster_size) AS BIGINT) AS n_records
       |FROM per_cluster
       |GROUP BY cluster_size
       |ORDER BY n_members""".stripMargin

  /** er4: BLOCKING-QUALITY AUDIT — the evaluation triple every ER
    * deployment reads BEFORE trusting er1's scores (Christen's
    * blocking metrics): per blocking pass and for their union,
    *
    *   reduction ratio   1000 − cands·1000 DIV n²   (how much of the
    *                     all-pairs space the blocks avoided)
    *   pair completeness true pairs surviving ·1000 DIV n_truth (the
    *                     recall CEILING blocking imposes — er1 can
    *                     never find a match its blocks dropped)
    *   candidate counts  the join cost the pass actually pays
    *
    * The two passes overlap (a pair can match on brand AND type), so
    * the union row is NOT the sum — that overlap is exactly why
    * multi-pass blocking is cheap insurance.
    *
    * Scale shape: the same two co-keyed blocked joins er1 pays (each
    * hash-partitioned, never all-pairs — n² appears only as a
    * DENOMINATOR), each reduced to a count + true-hit sum; the union
    * row distincts the pair keys (pair-relation-sized). */
  def blockingAudit(spark: SparkSession, dir: String): DataFrame = {
    val clean = cleanView(spark, dir)
    val dirtyB = dirtyBlocked(dirtyView(spark, dir))
    val nTruth = Tables.part(spark, dir).agg(count(lit(1)).as("n_truth"))
    def audit(pass: String, cands: DataFrame): DataFrame =
      cands.select(col("key_c"), col("key_d")).distinct()
        .agg(count(lit(1)).as("n_candidates"),
          sum((col("key_c") === col("key_d")).cast("long")).cast("long")
            .as("n_true_covered"))
        .crossJoin(broadcast(nTruth))
        .select(lit(pass).as("pass"), col("n_candidates"),
          col("n_true_covered"), col("n_truth"),
          (lit(1000L) - expr("n_candidates * 1000 DIV (n_truth * n_truth)"))
            .as("reduction_milli"),
          expr("n_true_covered * 1000 DIV n_truth").as("completeness_milli"))
    val b1 = blockPass(clean, dirtyB, "brand")
    val b2 = blockPass(clean, dirtyB, "type")
    audit("brand_size_len", b1)
      .unionByName(audit("type_size_len", b2))
      .unionByName(audit("union", b1.select(col("key_c"), col("key_d"))
        .unionAll(b2.select(col("key_c"), col("key_d")))))
      .orderBy(col("pass"))
  }

  def blockingAuditSql(): String = {
    def audit(pass: String, candsSql: String): String =
      s"""SELECT '$pass' AS pass,
         |  CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |  CAST(SUM(CASE WHEN key_c = key_d THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true_covered,
         |  t.n_truth,
         |  1000 - CAST(COUNT(*) AS BIGINT) * 1000
         |    // (t.n_truth * t.n_truth) AS reduction_milli,
         |  CAST(SUM(CASE WHEN key_c = key_d THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000 // t.n_truth AS completeness_milli
         |FROM (SELECT DISTINCT key_c, key_d FROM $candsSql) c
         |CROSS JOIN truth t
         |GROUP BY t.n_truth""".stripMargin
    "WITH " + s"""clean AS (
       |  SELECT p_partkey AS key_c, p_name AS name_c, p_brand AS brand_c,
       |    p_type AS type_c, p_size AS size_c
       |  FROM part),
       |dirty AS (
       |  SELECT p_partkey AS key_d,
       |    substring(p_name, 1,
       |      CAST((p_partkey % 1000000007) * 2654435761 % length(p_name) AS INT))
       |    || substring(p_name,
       |      CAST((p_partkey % 1000000007) * 2654435761 % length(p_name) AS INT) + 2,
       |      length(p_name)) AS name_d,
       |    p_brand AS brand_d,
       |    CASE WHEN p_partkey % 4 = 0 THEN 'UNKNOWN' ELSE p_type END AS type_d,
       |    p_size AS size_d
       |  FROM part),
       |dirtyb AS (
       |  SELECT d.*, length(name_d) + t.r AS blk
       |  FROM dirty d CROSS JOIN (VALUES (0), (1), (2)) t(r)),
       |b1 AS (
       |  SELECT key_c, key_d FROM clean JOIN dirtyb
       |    ON brand_c = brand_d AND size_c = size_d
       |    AND length(name_c) = blk),
       |b2 AS (
       |  SELECT key_c, key_d FROM clean JOIN dirtyb
       |    ON type_c = type_d AND size_c = size_d
       |    AND length(name_c) = blk),
       |truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM part)
       |""".stripMargin +
      audit("brand_size_len", "b1") + "\nUNION ALL\n" +
      audit("type_size_len", "b2") + "\nUNION ALL\n" +
      audit("union", "(SELECT * FROM b1 UNION ALL SELECT * FROM b2)") +
      "\nORDER BY pass"
  }

  // ---------------------------------------------------------------- er6

  /** EM iteration count for er6 (unrolled in both engines). */
  val EmRounds = 3

  private val EmFields = Seq("name", "brand", "type")

  /** er6: UNSUPERVISED EM WEIGHT ESTIMATION — er1's m/u/λ parameters
    * learned from the UNLABELED candidate pairs alone (the Splink/
    * fastLink core): er1 derives m from the known true pairing — a
    * luxury real linkage never has. EM needs only the agreement-pattern
    * census: with K = 3 fields there are 2³ = 8 patterns, so after ONE
    * corpus-sized aggregation everything is 8-row arithmetic.
    *   E-step  w(p) = λ·Π m-terms / (λ·Π m + (1−λ)·Π u) per pattern
    *   M-step  λ, m_k, u_k re-estimated from responsibility-weighted
    *           pattern counts
    * All milli-integer: products rescale DIV 1000 per factor in FIXED
    * field order (name, brand, type — truncation per step, so the
    * oracle replays bit-for-bit), estimates clamp to [1, 999]. The
    * relation is one row per round — the convergence trace, not just
    * the fixed point, is what a steward audits. The census collect is
    * 8 rows (the codebook-collect pattern); the oracle runs the SAME
    * unrolled algebra in pure SQL from scratch, so the hash match
    * certifies the EM arithmetic, not the collect.
    *
    * Read the trace honestly: name and brand separate hard
    * (m ≫ u), but the TYPE estimates invert (m_type < u_type at
    * sf0.01) — the textbook BLOCKED-ESTIMATION BIAS: half the
    * candidates were generated BY the type block, so type agreement is
    * near-certain among non-matches too, and EM attributes it to the
    * unmatched class. This is the documented reason production linkage
    * (Splink) estimates each field's parameters from blocking rules
    * that EXCLUDE that field; the trace surfaces the pathology instead
    * of hiding it — and er7 ([[leaveBlockOutWeights]]) applies exactly
    * that discipline and recovers m > u for every field. */
  def emWeights(spark: SparkSession, dir: String): DataFrame = {
    val pats = candidates(spark, dir)
      .select(
        // bounded form: same ≤2 boolean at O(len·2) per pair (see
        // [[scoredPairsPlan]]'s agreements note)
        (levenshtein(col("name_c"), col("name_d"), 2) >= 0).cast("long")
          .as("a_name"),
        (col("brand_c") === col("brand_d")).cast("long").as("a_brand"),
        (col("type_c") === col("type_d")).cast("long").as("a_type"))
      .groupBy(col("a_name"), col("a_brand"), col("a_type"))
      .agg(count(lit(1)).as("n_p"))
      .collect()
      .map(r => (Array(r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getLong(3)))
    def clamp(x: Long): Long = math.max(1L, math.min(999L, x))
    var lam = 100L
    var m = Array(900L, 900L, 900L)
    var u = Array(100L, 100L, 100L)
    val trace = (1 to EmRounds).map { round =>
      val w = pats.map { case (a, _) =>
        val pm = a.zip(m).foldLeft(lam) { case (acc, (ai, mi)) =>
          acc * (if (ai == 1L) mi else 1000L - mi) / 1000L
        }
        val pu = a.zip(u).foldLeft(1000L - lam) { case (acc, (ai, ui)) =>
          acc * (if (ai == 1L) ui else 1000L - ui) / 1000L
        }
        pm * 1000L / math.max(1L, pm + pu)
      }
      val n = pats.map(_._2)
      lam = clamp(w.zip(n).map { case (wi, ni) => wi * ni }.sum /
        math.max(1L, n.sum))
      m = Array.tabulate(3) { k =>
        val num = pats.indices.map(i => w(i) * n(i) * pats(i)._1(k)).sum
        val den = pats.indices.map(i => w(i) * n(i)).sum
        clamp(num * 1000L / math.max(1L, den))
      }
      u = Array.tabulate(3) { k =>
        val num = pats.indices
          .map(i => (1000L - w(i)) * n(i) * pats(i)._1(k)).sum
        val den = pats.indices.map(i => (1000L - w(i)) * n(i)).sum
        clamp(num * 1000L / math.max(1L, den))
      }
      (round.toLong, lam, m(0), u(0), m(1), u(1), m(2), u(2))
    }
    import spark.implicits._
    trace.toDF("round", "lambda_milli", "m_name", "u_name",
      "m_brand", "u_brand", "m_type", "u_type")
      .orderBy(col("round"))
  }

  def emWeightsSql(): String = {
    def pmExpr(src: String, mPrefix: String): String =
      EmFields.foldLeft(src) { (acc, f) =>
        s"($acc * (CASE WHEN a_$f = 1 THEN ${mPrefix}_$f " +
          s"ELSE 1000 - ${mPrefix}_$f END) // 1000)"
      }
    def mStep(round: Int): String = {
      def est(k: String, wTerm: String): String =
        s"CAST(GREATEST(1, LEAST(999, SUM($wTerm * n_p * a_$k) * 1000 " +
          s"// GREATEST(1, SUM($wTerm * n_p)))) AS BIGINT)"
      s"""p$round AS (
         |  SELECT CAST($round AS BIGINT) AS round,
         |    CAST(GREATEST(1, LEAST(999,
         |      SUM(w * n_p) // GREATEST(1, SUM(n_p)))) AS BIGINT)
         |      AS lambda,
         |    ${est("name", "w")} AS m_name,
         |    ${est("name", "(1000 - w)")} AS u_name,
         |    ${est("brand", "w")} AS m_brand,
         |    ${est("brand", "(1000 - w)")} AS u_brand,
         |    ${est("type", "w")} AS m_type,
         |    ${est("type", "(1000 - w)")} AS u_type
         |  FROM w$round)""".stripMargin
    }
    def eStep(round: Int): String =
      s"""e$round AS (
         |  SELECT pt.*,
         |    ${pmExpr("p.lambda", "p.m")} AS pm,
         |    ${pmExpr("(1000 - p.lambda)", "p.u")} AS pu
         |  FROM patterns pt CROSS JOIN p${round - 1} p),
         |w$round AS (
         |  SELECT *, pm * 1000 // GREATEST(1, pm + pu) AS w FROM e$round)""".stripMargin
    val rounds = (1 to EmRounds)
      .map(r => eStep(r) + ",\n" + mStep(r)).mkString(",\n")
    val out = (1 to EmRounds).map(r =>
      s"SELECT round, lambda AS lambda_milli, m_name, u_name, m_brand, " +
        s"u_brand, m_type, u_type FROM p$r").mkString("\nUNION ALL\n")
    s"WITH ${baseCtesSql()},\n" +
      s"""patterns AS (
         |  SELECT
         |    CASE WHEN levenshtein(name_c, name_d) <= 2 THEN 1 ELSE 0 END
         |      AS a_name,
         |    CASE WHEN brand_c = brand_d THEN 1 ELSE 0 END AS a_brand,
         |    CASE WHEN type_c = type_d THEN 1 ELSE 0 END AS a_type,
         |    CAST(COUNT(*) AS BIGINT) AS n_p
         |  FROM cands GROUP BY 1, 2, 3),
         |p0 AS (SELECT 100 AS lambda, 900 AS m_name, 100 AS u_name,
         |  900 AS m_brand, 100 AS u_brand, 900 AS m_type, 100 AS u_type),
         |""".stripMargin +
      rounds + "\n" + out + "\nORDER BY round"
  }

  // ---------------------------------------------------------------- er7

  /** Per-pass candidate relations (deduplicated WITHIN each pass),
    * memoized — er7 estimates each field from the pass that excludes
    * its block. */
  private def candidatesOfPass(spark: SparkSession, dir: String,
                               blockCol: String): DataFrame =
    graft.model.Silver.memoize(spark, s"erCandidates:$blockCol", dir) {
      val clean = cleanView(spark, dir)
      val dirtyB = dirtyBlocked(dirtyView(spark, dir))
      val cols = Seq("key_c", "key_d", "name_c", "name_d", "brand_c",
        "brand_d", "type_c", "type_d").map(col)
      blockPass(clean, dirtyB, blockCol).select(cols: _*).distinct()
    }

  private def agreeCol(f: String): Column = f match {
    // bounded form: same ≤2 boolean at O(len·2) per pair (see
    // [[scoredPairsPlan]]'s agreements note)
    case "name" =>
      (levenshtein(col("name_c"), col("name_d"), 2) >= 0).cast("long")
    case other => (col(s"${other}_c") === col(s"${other}_d")).cast("long")
  }

  /** er7: LEAVE-BLOCK-OUT EM — the Splink discipline er6's trace calls
    * for. er6 pools BOTH blocking passes, so a field that is itself a
    * blocking key (type: half the candidates agree on it by
    * construction) gets its m/u INVERTED — the blocked-estimation bias
    * er6 documents. The fix is structural, not numeric: estimate each
    * field's parameters only from candidate passes whose blocking
    * EXCLUDES that field —
    *   - name and type from the BRAND-block pass (brand held fixed by
    *     the join, so it contributes no signal there and is dropped
    *     from that pass's model),
    *   - brand from the TYPE-block pass (symmetrically).
    * Each pass runs the same unrolled milli-integer 2-field EM as er6
    * (fixed factor order: name first; truncation per step; clamp to
    * [1, 999]; [[EmRounds]] rounds), each from ONE pattern census
    * (2² = 4 rows) over its own blocked candidates. The oracle replays
    * both unrolled EMs in pure SQL. LeaveBlockOutSpec asserts the bias
    * is gone: m > u for all three fields, including type. */
  def leaveBlockOutWeights(spark: SparkSession, dir: String): DataFrame = {
    def census(blockCol: String, f1: String,
               f2: String): Array[(Array[Long], Long)] =
      candidatesOfPass(spark, dir, blockCol)
        .select(agreeCol(f1).as("a1"), agreeCol(f2).as("a2"))
        .groupBy(col("a1"), col("a2")).agg(count(lit(1)).as("n_p"))
        .collect()
        .map(r => (Array(r.getLong(0), r.getLong(1)), r.getLong(2)))
    def clamp(x: Long): Long = math.max(1L, math.min(999L, x))
    // the 4-row census fold — er6's arithmetic at K = 2
    def em(pats: Array[(Array[Long], Long)]): (Array[Long], Array[Long]) = {
      var lam = 100L
      var m = Array(900L, 900L)
      var u = Array(100L, 100L)
      (1 to EmRounds).foreach { _ =>
        val w = pats.map { case (a, _) =>
          val pm = a.zip(m).foldLeft(lam) { case (acc, (ai, mi)) =>
            acc * (if (ai == 1L) mi else 1000L - mi) / 1000L
          }
          val pu = a.zip(u).foldLeft(1000L - lam) { case (acc, (ai, ui)) =>
            acc * (if (ai == 1L) ui else 1000L - ui) / 1000L
          }
          pm * 1000L / math.max(1L, pm + pu)
        }
        val n = pats.map(_._2)
        lam = clamp(w.zip(n).map { case (wi, ni) => wi * ni }.sum /
          math.max(1L, n.sum))
        m = Array.tabulate(2) { k =>
          clamp(pats.indices.map(i => w(i) * n(i) * pats(i)._1(k)).sum * 1000L /
            math.max(1L, pats.indices.map(i => w(i) * n(i)).sum))
        }
        u = Array.tabulate(2) { k =>
          clamp(pats.indices
            .map(i => (1000L - w(i)) * n(i) * pats(i)._1(k)).sum * 1000L /
            math.max(1L, pats.indices
              .map(i => (1000L - w(i)) * n(i)).sum))
        }
      }
      (m, u)
    }
    val (mB, uB) = em(census("brand", "name", "type"))
    val (mT, uT) = em(census("type", "name", "brand"))
    import spark.implicits._
    Seq(
      ("brand", "type", mT(1), uT(1)),
      ("name", "brand", mB(0), uB(0)),
      ("type", "brand", mB(1), uB(1)))
      .toDF("field", "est_block", "m_milli", "u_milli")
      .orderBy(col("field"))
  }

  /** One pass's unrolled 2-field EM as suffixed CTEs ending in
    * `p$tag$EmRounds` with columns (lambda, m_$f1, u_$f1, m_$f2,
    * u_$f2). */
  private def emPassSql(tag: String, blockCol: String,
                        f1: String, f2: String): String = {
    def agreeSql(f: String): String = f match {
      case "name" =>
        "CASE WHEN levenshtein(name_c, name_d) <= 2 THEN 1 ELSE 0 END"
      case o => s"CASE WHEN ${o}_c = ${o}_d THEN 1 ELSE 0 END"
    }
    def pmExpr(src: String, p: String): String =
      Seq(f1, f2).foldLeft(src) { (acc, f) =>
        s"($acc * (CASE WHEN a_$f = 1 THEN ${p}_$f " +
          s"ELSE 1000 - ${p}_$f END) // 1000)"
      }
    def mStep(round: Int): String = {
      def est(k: String, wTerm: String): String =
        s"CAST(GREATEST(1, LEAST(999, SUM($wTerm * n_p * a_$k) * 1000 " +
          s"// GREATEST(1, SUM($wTerm * n_p)))) AS BIGINT)"
      s"""p$tag$round AS (
         |  SELECT
         |    CAST(GREATEST(1, LEAST(999,
         |      SUM(w * n_p) // GREATEST(1, SUM(n_p)))) AS BIGINT) AS lambda,
         |    ${est(f1, "w")} AS m_$f1,
         |    ${est(f1, "(1000 - w)")} AS u_$f1,
         |    ${est(f2, "w")} AS m_$f2,
         |    ${est(f2, "(1000 - w)")} AS u_$f2
         |  FROM w$tag$round)""".stripMargin
    }
    def eStep(round: Int): String =
      s"""e$tag$round AS (
         |  SELECT pt.*,
         |    ${pmExpr("p.lambda", "p.m")} AS pm,
         |    ${pmExpr("(1000 - p.lambda)", "p.u")} AS pu
         |  FROM patterns_$tag pt CROSS JOIN p$tag${round - 1} p),
         |w$tag$round AS (
         |  SELECT *, pm * 1000 // GREATEST(1, pm + pu) AS w
         |  FROM e$tag$round)""".stripMargin
    s"""cands_$tag AS (
       |  SELECT DISTINCT key_c, key_d, name_c, name_d, brand_c, brand_d,
       |    type_c, type_d
       |  FROM (${passCandsSql(blockCol)})),
       |patterns_$tag AS (
       |  SELECT ${agreeSql(f1)} AS a_$f1, ${agreeSql(f2)} AS a_$f2,
       |    CAST(COUNT(*) AS BIGINT) AS n_p
       |  FROM cands_$tag GROUP BY 1, 2),
       |p${tag}0 AS (SELECT 100 AS lambda, 900 AS m_$f1, 100 AS u_$f1,
       |  900 AS m_$f2, 100 AS u_$f2),
       |""".stripMargin +
      (1 to EmRounds).map(r => eStep(r) + ",\n" + mStep(r)).mkString(",\n")
  }

  def leaveBlockOutWeightsSql(): String =
    s"WITH ${viewsCtesSql()},\n" +
      emPassSql("b", "brand", "name", "type") + ",\n" +
      emPassSql("t", "type", "name", "brand") + "\n" +
      s"""SELECT 'brand' AS field, 'type' AS est_block,
         |  m_brand AS m_milli, u_brand AS u_milli FROM pt$EmRounds
         |UNION ALL
         |SELECT 'name', 'brand', m_name, u_name FROM pb$EmRounds
         |UNION ALL
         |SELECT 'type', 'brand', m_type, u_type FROM pb$EmRounds
         |ORDER BY field""".stripMargin

  // ---------------------------------------------------------------- er8

  /** er8's scored relation: the er1 candidate pairs rescored with er7's
    * LEAVE-BLOCK-OUT m/u instead of the supervised truth-derived rates —
    * the parameters a production linkage (no labeled truth) would
    * actually deploy. The three (m, u) pairs arrive as literals through
    * a 3-row collect (codebook-sized, the Lloyd-centroid pattern);
    * the weight arithmetic is the same milli-integer mlog2 as er1, so
    * decision diffs against er1 are exactly the pairs whose scores
    * straddle the weight gap (Er8Spec asserts this). */
  private[graft] def unbiasedScoredPairs(spark: SparkSession, dir: String,
                                         upper: Long = 2000L,
                                         lower: Long = 0L): DataFrame =
    graft.model.Silver.memoize(spark,
      s"erUnbiasedScored_${upper}_$lower", dir) {
      val wm = leaveBlockOutWeights(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
      def wOf(f: String): (Column, Column) = {
        val (m, u) = wm(f)
        (mlog2(lit(m)) - mlog2(lit(u)),
          mlog2(lit(1000L - m)) - mlog2(lit(1000L - u)))
      }
      val (wnA, wnD) = wOf("name")
      val (wbA, wbD) = wOf("brand")
      val (wtA, wtD) = wOf("type")
      candidates(spark, dir)
        .withColumn("score_milli",
          when(agreeCol("name") === 1L, wnA).otherwise(wnD) +
            when(agreeCol("brand") === 1L, wbA).otherwise(wbD) +
            when(agreeCol("type") === 1L, wtA).otherwise(wtD))
        .withColumn("decision",
          when(col("score_milli") >= upper, "link")
            .when(col("score_milli") <= lower, "non_link")
            .otherwise("possible"))
        .withColumn("is_true", (col("key_c") === col("key_d")).cast("long"))
        .select(col("key_c"), col("key_d"), col("score_milli"),
          col("decision"), col("is_true"))
    }

  /** er8: the er5 threshold sweep RE-RUN under er7's unbiased weights —
    * the close of the ER loop (estimate unbiased parameters → rescore →
    * re-pick the operating point). The oracle replays the whole chain in
    * SQL: both unrolled leave-block-out EMs, the literal-free rescore,
    * and the cumulative sweep — end-to-end from the raw tables. */
  def unbiasedSweep(spark: SparkSession, dir: String): DataFrame =
    sweepFrom(spark, dir, unbiasedScoredPairs(spark, dir))

  def unbiasedSweepSql(): String = {
    def mlog2(x: String): String = {
      val b = s"(length(format('{:b}', $x)) - 1)"
      val p = s"CAST(power(2, $b) AS BIGINT)"
      s"($b * 1000 + ($x - $p) * 1000 // $p)"
    }
    def wA(f: String) = s"(${mlog2(s"m_$f")} - ${mlog2(s"u_$f")})"
    def wD(f: String) =
      s"(${mlog2(s"1000 - m_$f")} - ${mlog2(s"1000 - u_$f")})"
    s"WITH ${baseCtesSql()},\n" +
      emPassSql("b", "brand", "name", "type") + ",\n" +
      emPassSql("t", "type", "name", "brand") + ",\n" +
      s"""weights AS (
         |  SELECT pb.m_name, pb.u_name, pb.m_type, pb.u_type,
         |    pt.m_brand, pt.u_brand
         |  FROM pb$EmRounds pb CROSS JOIN pt$EmRounds pt),
         |scored AS (
         |  SELECT key_c, key_d,
         |    (CASE WHEN levenshtein(name_c, name_d) <= 2
         |       THEN ${wA("name")} ELSE ${wD("name")} END +
         |     CASE WHEN brand_c = brand_d
         |       THEN ${wA("brand")} ELSE ${wD("brand")} END +
         |     CASE WHEN type_c = type_d
         |       THEN ${wA("type")} ELSE ${wD("type")} END) AS score_milli,
         |    CASE WHEN key_c = key_d THEN 1 ELSE 0 END AS is_true
         |  FROM cands CROSS JOIN weights),
         |by_score AS (
         |  SELECT score_milli, CAST(COUNT(*) AS BIGINT) AS np,
         |    CAST(SUM(is_true) AS BIGINT) AS nt
         |  FROM scored GROUP BY 1),
         |truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM part),
         |cum AS (
         |  SELECT score_milli AS tau_milli,
         |    CAST(SUM(np) OVER w AS BIGINT) AS n_link,
         |    CAST(SUM(nt) OVER w AS BIGINT) AS n_true_link
         |  FROM by_score
         |  WINDOW w AS (ORDER BY score_milli DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |pts AS (
         |  SELECT tau_milli, n_link, n_true_link,
         |    n_true_link * 1000 // n_link AS precision_milli,
         |    CASE WHEN n_truth = 0 THEN NULL
         |      ELSE n_true_link * 1000 // n_truth END AS recall_milli
         |  FROM cum CROSS JOIN truth)
         |SELECT tau_milli, n_link, n_true_link, precision_milli,
         |  recall_milli,
         |  CASE WHEN precision_milli + recall_milli > 0 THEN
         |    2 * precision_milli * recall_milli
         |      // (precision_milli + recall_milli) ELSE 0 END AS f1_milli
         |FROM pts
         |ORDER BY tau_milli""".stripMargin
  }
}
