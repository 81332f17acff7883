package graft.analytics

import graft.model.{Silver, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch-based approximate aggregates — the operators you reach for at
  * 100 TB when exactness isn't contractual (SURVEY.md §7.5): HyperLogLog++
  * distinct counts and GK-sketch quantiles. Fixed-size sketch state means
  * map-side partials stay KB-sized regardless of input rows, and merges
  * are associative — the shuffle carries sketches, not values.
  *
  * Registered WITHOUT oracle SQL: approximate results are
  * implementation-defined, so the driver records the rows-only check.
  * The exact twins (e2 hourly n_users; a18 distinct dates) are the
  * correctness anchors; [[SketchesSpec]] bounds the approximation error
  * against them. */
object Sketches {

  /** sk1: daily approx distinct users + approx event-value quantiles.
    * rsd 0.01 ≈ HLL with 2^14 registers — 16 KB per group. */
  def dailyApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("user_id"), col("value"))
      .groupBy(col("event_date"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.01).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_value"),
        percentile_approx(col("value"), lit(0.99), lit(1000)).as("p99_value"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_date"))

  /** sk2: approx distinct skus sold per store across the whole fact table
    * — the "how many products does each store actually move" question that
    * needs no exact answer at scale. */
  def storeSkuApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.sales(spark, dir)
      .groupBy(col("store_id"))
      .agg(
        approx_count_distinct(col("sku"), rsd = 0.02).as("approx_skus"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("store_id"))

  /** sk3: approximate top sellers per store via the custom Misra-Gries
    * aggregate ([[graft.functions.TopKByCount]]) — the bounded-state
    * answer to "top products per store" when the per-group key space is
    * too wide for an exact partial aggregate to hold: the shuffle carries
    * a `summarySize`-entry summary per (partition, store), never the full
    * sku distribution. Every estimate is an under-count and `max_err`
    * bounds the loss (est ≤ true ≤ est + max_err); with `summarySize` ≥
    * distinct skus the result is exact — both spec-asserted against the
    * exact a3-style ranking. Rows-only like sk1/sk2 (summary contents
    * are algorithm-defined, not SQL-expressible). */
  def storeTopSellers(spark: SparkSession, dir: String,
                      topK: Int = 5, summarySize: Int = 32): DataFrame =
    Tables.lineitem(spark, dir)
      // group on the raw supplier int and format the store id on the
      // |stores| aggregated rows, not per fact row (store_id is
      // injective in suppkey, so the grouping is identical)
      .groupBy(col("l_suppkey"))
      // the summary keys are strings (its tie-break is key order): bind
      // the cast explicitly so the key space semantic is visible here
      .agg(graft.functions.TopKByCount
        .topKByCount(col("l_partkey").cast("string"), summarySize).as("mg"))
      .select(format_string("%04d", col("l_suppkey")).as("store_id"),
        col("mg.max_err").as("max_err"),
        posexplode(slice(col("mg.items"), 1, topK)).as(Seq("idx", "item")))
      .select(col("store_id"), (col("idx") + 1).cast("long").as("rank"),
        col("item.sku").as("sku"), col("item.est_count").as("est_count"),
        col("max_err"))
      .orderBy("store_id", "rank")

  /** sk4: sk3 in its EXACT regime — `summarySize` ≥ the per-store
    * distinct-sku count, where Misra-Gries provably performs zero
    * decrements (max_err = 0) and every est_count is the true count.
    * That makes the custom `TypedImperativeAggregate` fully
    * SQL-expressible, so the SAME code path sk3 runs approximately gets
    * a hash-checked oracle row (count-rank with the summary's own
    * (est desc, string-key asc) tie order) instead of rows-only. The
    * plan is unchanged — one store_id exchange carrying bounded
    * partials; only the bound is sized past the key space. */
  def storeTopSellersExact(spark: SparkSession, dir: String,
                           topK: Int = 5): DataFrame =
    storeTopSellers(spark, dir, topK, summarySize = exactSummarySize)

  /** Past any per-store distinct-sku count in the test data (sf0.01:
    * max 558; sf0.1: ~5.6k). A production caller sizes this from sk2's
    * per-group distinct estimate. */
  val exactSummarySize = 8192

  def storeTopSellersExactSql(topK: Int = 5): String =
    s"""WITH s AS (${Tables.salesSql}),
       |counts AS (
       |  SELECT store_id, CAST(sku AS VARCHAR) AS sku,
       |    CAST(COUNT(*) AS BIGINT) AS est_count
       |  FROM s GROUP BY 1, 2),
       |ranked AS (
       |  SELECT store_id, sku, est_count,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY store_id
       |      ORDER BY est_count DESC, sku ASC) AS BIGINT) AS rank
       |  FROM counts)
       |SELECT store_id, rank, sku, est_count, CAST(0 AS BIGINT) AS max_err
       |FROM ranked WHERE rank <= $topK
       |ORDER BY store_id, rank""".stripMargin

  /** sk5: approximate per-domain VOCABULARY — HLL++ distinct words per
    * (lang, source). The 100 TB twin of t16: the exact path shuffles one
    * row per distinct (domain, word); this one carries a 16 KB sketch
    * per domain regardless of vocabulary size — the difference between a
    * vocabulary-sized shuffle and a |domains|-sized one when the corpus
    * stops fitting the former. Rows-only like sk1/sk2 (HLL estimates are
    * implementation-defined); [[SketchesSpec]] bounds the error against
    * t16's exact n_types. */
  def domainVocabApprox(spark: SparkSession, dir: String): DataFrame =
    graft.text.Corpus.docsTok(spark, dir)
      .select(col("lang"), col("source"), explode(col("words")).as("word"))
      .groupBy(col("lang"), col("source"))
      .agg(approx_count_distinct(col("word"), rsd = 0.01).as("approx_types"),
        count(lit(1)).as("n_tokens"))
      .orderBy(col("lang"), col("source"))

  /** sk7: COUNT-MIN SKETCH, built relationally — the bounded-memory
    * frequency structure with the OPPOSITE bias of sk3's Misra-Gries
    * (CM only ever over-counts; MG only ever under-counts — a pipeline
    * that needs certified brackets runs both). The d×w counter matrix
    * is just d hash-bucketed aggregates — (depth, bucket) keys, fully
    * map-side-combinable, w·d counters total regardless of key
    * cardinality — and a point estimate is the MIN over its d
    * counters. Because the hash family is the minhash-style affine
    * family ((a_j·sku + b_j) mod P mod w — exact 64-bit integer
    * arithmetic), the WHOLE sketch is reproducible in the DuckDB
    * oracle: unlike sk1/sk5's opaque HLL registers this sketch is
    * oracle-checked end-to-end, and the spec asserts the one-sided
    * guarantee est ≥ true on every key. Output is |skus|-sized
    * (estimate vs truth per key — the calibration relation); the
    * sketch itself is the w·d=192-cell intermediate. */
  def cmsEstimates(spark: SparkSession, dir: String,
                   depth: Int = 3, width: Int = 64): DataFrame = {
    val P = 1000003L
    def bucket(j: Int, k: Column): Column =
      ((k * lit(37L + 101L * j) + lit(17L + 61L * j)) % P) % width
    val skus = Tables.sales(spark, dir).select(col("sku"))
    val cms = skus
      .withColumn("j", explode(array((0 until depth).map(lit): _*)))
      .withColumn("bucket",
        (0 until depth).foldLeft(lit(-1L)) { (acc, j) =>
          when(col("j") === j, bucket(j, col("sku"))).otherwise(acc)
        })
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cell_n"))
    val truth = skus.groupBy(col("sku")).agg(count(lit(1)).as("true_n"))
    val probes = truth.select(col("sku"))
      .withColumn("j", explode(array((0 until depth).map(lit): _*)))
      .withColumn("bucket",
        (0 until depth).foldLeft(lit(-1L)) { (acc, j) =>
          when(col("j") === j, bucket(j, col("sku"))).otherwise(acc)
        })
    probes.join(cms, Seq("j", "bucket"))
      .groupBy(col("sku")).agg(min(col("cell_n")).as("est_n"))
      .join(truth, Seq("sku"))
      .select(col("sku"), col("true_n"), col("est_n"),
        (col("est_n") - col("true_n")).as("overcount"))
      .orderBy(col("sku"))
  }

  def cmsEstimatesSql(depth: Int = 3, width: Int = 64): String = {
    val P = 1000003L
    def bucket(j: Int, k: String) =
      s"((($k * ${37L + 101L * j} + ${17L + 61L * j}) % $P) % $width)"
    def bucketCase(k: String) =
      (0 until depth).map(j => s"WHEN $j THEN ${bucket(j, k)}")
        .mkString("CASE j ", " ", " END")
    s"""WITH skus AS (SELECT l_partkey AS sku FROM lineitem),
       |ex AS (
       |  SELECT sku, j, ${bucketCase("sku")} AS bucket
       |  FROM skus CROSS JOIN (SELECT unnest(range($depth)) AS j) d),
       |cms AS (
       |  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cell_n
       |  FROM ex GROUP BY 1, 2),
       |truth AS (
       |  SELECT sku, CAST(COUNT(*) AS BIGINT) AS true_n
       |  FROM skus GROUP BY 1),
       |probes AS (
       |  SELECT t.sku, j, ${bucketCase("t.sku")} AS bucket
       |  FROM truth t CROSS JOIN (SELECT unnest(range($depth)) AS j) d),
       |est AS (
       |  SELECT p.sku, CAST(MIN(c.cell_n) AS BIGINT) AS est_n
       |  FROM probes p JOIN cms c ON p.j = c.j AND p.bucket = c.bucket
       |  GROUP BY 1)
       |SELECT t.sku, t.true_n, e.est_n, e.est_n - t.true_n AS overcount
       |FROM truth t JOIN est e USING (sku)
       |ORDER BY t.sku""".stripMargin
  }

  /** sk6: rolling 7-day distinct users via MERGEABLE HLL sketches — the
    * sketch-silver pattern that makes trailing windows affordable at
    * 100 TB: ONE Datasketches HLL per calendar day is materialized once
    * (`hll_sketch_agg`), and every trailing window is a UNION of ≤ 7
    * fixed-size sketches (`hll_union_agg`) — the per-day sketch table is
    * written once and answers any window length, where the exact path
    * (e15) re-shuffles (user, day) pairs per window span. Same output
    * contract as e15; the estimate replaces the exact count. The window
    * union reuses e15's contribution-explode (a day's sketch contributes
    * to the windows ending d..d+6) so the merge is one hash agg over
    * |days|×7 sketch rows — never a re-scan of the raw stream.
    * Rows-only like sk1 (estimates are implementation-defined);
    * [[SketchesSpec]] bounds the error against e15's exact series. */
  def rollingApprox(spark: SparkSession, dir: String,
                    days: Int = 7): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .groupBy(col("d"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    val bounds = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    daily
      .withColumn("off", explode(sequence(lit(0), lit(days - 1))))
      .withColumn("window_day", date_add(col("d"), col("off")))
      .crossJoin(broadcast(bounds))
      .filter(col("window_day") >= col("lo") && col("window_day") <= col("hi"))
      .groupBy(col("window_day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("approx_active_7d"))
      .select(date_format(col("window_day"), "yyyy-MM-dd").as("window_day"),
        col("approx_active_7d"))
      .orderBy("window_day")
  }

  // ---- sk8: Bloom-filter join pruning ------------------------------------

  /** Engine-portable Bloom hash family: h_i(x) = ((x mod P)·A_i + B_i)
    * mod P mod m with P = 2^31−1 (Mersenne prime) and A_i < 2^30, so
    * every intermediate fits a signed 64-bit integer EXACTLY in both
    * Spark and DuckDB — the same all-integer trick as the xxhash-twin
    * keys, except this family is expressible in ANSI SQL, which is what
    * buys sk8 a hash-checked oracle where sk1/sk2's HLL gets rows-only. */
  private val bloomP = 2147483647L
  private val bloomHashes: Seq[(Long, Long)] =
    Seq((766439049L, 97L), (246822519L, 1013L), (536870909L, 4093L))
  /** 2^16 bits / 1024 longs: ~8 KB — the broadcastable-literal regime. */
  private val bloomBits = 65536L

  /** pmod so SIGNED keys (xxhash64 content hashes) land in [0, m) too;
    * for the non-negative TPC-H keys this is bit-identical to plain `%`,
    * which is what the sk8 oracle SQL writes. */
  private def bloomPos(key: Column, a: Long, b: Long, bits: Long): Column =
    (pmod(key, lit(bloomP)) * lit(a) + lit(b)) % bloomP % bits

  private def bloomPosSql(key: String, a: Long, b: Long,
                          bits: Long = bloomBits): String =
    s"(($key % $bloomP) * $a + $b) % $bloomP % $bits"

  /** Fold the WIDEST mask down to a narrower power-of-two width on the
    * driver: the affine family NESTS across widths — pos_m(h) =
    * pos_M(h) mod m whenever m divides M (same h' = ((k mod P)·a + b)
    * mod P, only the final modulus differs) — so the bit a build key
    * sets at position p in the M-bit mask is exactly the bit it would
    * set at p mod m in the m-bit mask, and the narrower mask is the
    * OR-fold of the wider one's positions. |widest mask|-bounded
    * driver work (a 2^16-bit walk), ZERO extra Spark jobs: the whole
    * width sweep builds from ONE bit_or pass at the widest width
    * (r13's sweep paid a (width × hash) explode — 5× the build rows —
    * for bit-identical masks). CompositionSpec re-certifies equality
    * with a from-scratch build at every width. */
  private[graft] def foldMask(wide: Array[Long], bits: Long): Array[Long] = {
    require(wide.length.toLong * 64 % bits == 0,
      s"fold width $bits must divide the wide mask's ${wide.length * 64}")
    val out = new Array[Long]((bits / 64).toInt)
    var w = 0
    while (w < wide.length) {
      val word = wide(w)
      if (word != 0L) {
        var b = 0
        while (b < 64) {
          if ((word >>> b & 1L) == 1L) {
            val q = (w.toLong * 64 + b) % bits
            out((q / 64).toInt) |= 1L << (q % 64).toInt
          }
          b += 1
        }
      }
      w += 1
    }
    out
  }

  /** Fold the LongType `h` column of `keys` into the fixed 1024-long
    * bitmask — one map-combinable bit_or aggregate; the collect is
    * bounded by the mask SIZE (1024 rows), never the key cardinality. */
  def bloomMaskOf(keys: DataFrame, bits: Long = bloomBits): Array[Long] = {
    val words = keys
      .select(explode(array(bloomHashes.map { case (a, b) =>
        bloomPos(col("h"), a, b, bits) }: _*)).as("pos"))
      .select(expr("pos div 64").as("word"),
        expr("shiftleft(1L, int(pos % 64))").as("bit"))
      .groupBy(col("word")).agg(bit_or(col("bit")).as("mask"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Array.tabulate((bits / 64).toInt)(w => words.getOrElse(w.toLong, 0L))
  }

  /** Append `bloom_pass` testing `key` against `mask` — a LITERAL-array
    * probe, pure map-side: zero exchanges, stream-safe (no stream-static
    * join), the shape that lets a 100 TB probe side skip the join
    * exchange for prunable rows. Bit b of a word is pmod(word >> b, 2):
    * with two's complement and an arithmetic shift that equals
    * (word >> b) & 1 for every long including sign-bit words. */
  def withBloomPass(df: DataFrame, key: Column,
                    mask: Array[Long], bits: Long = bloomBits,
                    passCol: String = "bloom_pass"): DataFrame = {
    val bitTests = bloomHashes.indices.map(i =>
      s"pmod(shiftright(element_at(graft_bloom_mask, int(graft_bp$i div 64) + 1), " +
        s"int(graft_bp$i % 64)), 2) = 1")
    bloomHashes.zipWithIndex
      .foldLeft(df) { case (d, ((a, b), i)) =>
        d.withColumn(s"graft_bp$i", bloomPos(key, a, b, bits))
      }
      // ONE ArrayType literal, not a CreateArray of |mask| literal
      // children — every optimizer pass walks the expression tree, and a
      // 1024-child node per mask made PLANNING the dominant cost
      .withColumn("graft_bloom_mask", typedlit(mask.toIndexedSeq))
      .withColumn(passCol, expr(bitTests.mkString(" AND ")))
      .drop(("graft_bloom_mask" +: bloomHashes.indices.map(i => s"graft_bp$i")): _*)
  }

  /** The filter's build side, (k) = the urgent orders' keys: a silver,
    * read by the mask build and by the exact-match join (sk8, sk11). */
  private def urgentOrderKeys(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "urgentOrderKeys", dir) {
      Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k")).distinct()
    }

  /** sk8: BLOOM-FILTER JOIN PRUNING — the runtime-filter pattern Spark's
    * own InjectRuntimeFilter rule applies at scale, built as a first-class
    * relational operator with a measured false-positive ledger. Build
    * side: the urgent-order keys (orders.o_orderpriority = '1-URGENT').
    * Probe side: every lineitem row. The build keys fold into a fixed
    * 2^16-bit / 1024-long bitmask via one map-combinable bit_or aggregate
    * — the partial state is ≤ 8 KB regardless of build rows, and the
    * collected mask becomes a LITERAL array in the probe plan, so the
    * probe is a pure map-side scan: ZERO probe-sized shuffle, which is
    * the entire point — at 100 TB the probe never pays the join exchange
    * for rows the filter can discard (the exact-match join here exists
    * only to measure the false-positive cost; production keeps it for
    * the survivors alone). Output: per returnflag, probe rows, Bloom
    * passes, true matches, false positives — Bloom's one-sided-error
    * contract (zero false negatives) is spec-asserted and visible in the
    * ledger (n_bloom_pass ≥ n_true_match, never a missed match). */
  def bloomPrune(spark: SparkSession, dir: String): DataFrame = {
    val build = urgentOrderKeys(spark, dir)
    val mask = bloomMaskOf(build.select(col("k").as("h")))
    val probe = withBloomPass(
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_returnflag")),
      col("l_orderkey"), mask)
    val isMatch = broadcast(build)
    probe.join(isMatch, probe("l_orderkey") === isMatch("k"), "left")
      .withColumn("is_match", col("k").isNotNull)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_probe"),
        sum(when(col("bloom_pass"), 1L).otherwise(0L)).as("n_bloom_pass"),
        sum(when(col("is_match"), 1L).otherwise(0L)).as("n_true_match"),
        sum(when(col("bloom_pass") && !col("is_match"), 1L).otherwise(0L))
          .as("n_false_pos"))
      .orderBy(col("l_returnflag"))
  }

  val bloomPruneSql: String = {
    val posCases = bloomHashes.zipWithIndex.map { case ((a, b), i) =>
      s"${bloomPosSql("l_orderkey", a, b)} AS p$i" }.mkString(",\n|    ")
    val buildPos = bloomHashes.map { case (a, b) =>
      s"SELECT ${bloomPosSql("k", a, b)} AS pos FROM build" }
      .mkString("\n|  UNION\n|  ")
    s"""WITH build AS (
       |  SELECT DISTINCT o_orderkey AS k FROM orders
       |  WHERE o_orderpriority = '1-URGENT'),
       |bits AS (
       |  $buildPos),
       |probe AS (
       |  SELECT l_orderkey, l_returnflag,
       |    $posCases
       |  FROM lineitem),
       |flags AS (
       |  SELECT l_returnflag,
       |    (p0 IN (SELECT pos FROM bits)
       |      AND p1 IN (SELECT pos FROM bits)
       |      AND p2 IN (SELECT pos FROM bits)) AS bloom_pass,
       |    l_orderkey IN (SELECT k FROM build) AS is_match
       |  FROM probe)
       |SELECT l_returnflag,
       |  CAST(COUNT(*) AS BIGINT) AS n_probe,
       |  CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       |  CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
       |  CAST(SUM(CASE WHEN bloom_pass AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
       |FROM flags GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** sk10: JOIN-SIZE ESTIMATION FROM SKETCHES — the approximate twin of
    * k8 ([[Profile.joinCardinality]]), the estimate a cost-based
    * optimizer actually has at planning time: the CMS/AMS inner product.
    * Each side's join key folds into a d×w Count-Min sketch (sk7's
    * relational construction, same engine-portable affine family), and
    * the join-size estimate is min over depth rows of Σ_bucket
    * cmsA[j][b]·cmsB[j][b] — colliding keys only ADD phantom products,
    * so the estimate is ONE-SIDED (est ≥ exact, spec-asserted via the
    * k8 join), and taking the min over d independent rows tightens it.
    * Sketch size is d×w counters per side REGARDLESS of key cardinality
    * — at 100 TB both sides sketch in one map-combinable pass each and
    * the "join" that produces the estimate touches d×w cells, which is
    * the entire point versus k8's exact key-sized pass. Output joins
    * the exact k8 relation so the calibration error is visible per
    * audited join. */
  def cmsJoinSize(spark: SparkSession, dir: String,
                  depth: Int = 3, width: Int = 256): DataFrame = {
    val P = 1000003L
    def bucket(j: Int, k: Column): Column =
      ((k * lit(37L + 101L * j) + lit(17L + 61L * j)) % P) % width
    // ONE explode + bucket fold serves both sides (r14 ADVICE: an inlined
    // copy on the lineitem side could silently diverge from the dimension
    // side if the affine family ever changed — breaking the one-sided
    // estimate guarantee); extra grouping columns ride through untouched
    def cells(keys: DataFrame, out: String,
              extraGroup: Seq[String] = Nil): DataFrame =
      keys
        // all `depth` buckets are computed ONCE per input row and
        // posexploded (pos = j) — the explode-then-conditional-chain
        // form re-evaluated the when-ladder on each of the `depth`
        // duplicated rows (§1.2 step 2: 3× the expression work for the
        // same rows); groups and counts are identical
        .select((extraGroup.map(col) :+
          posexplode(array((0 until depth).map(j => bucket(j, col("k"))): _*))
            .as(Seq("j", "bucket"))): _*)
        .groupBy((extraGroup :+ "j" :+ "bucket").map(col): _*)
        .agg(count(lit(1)).as(out))
    // the three lineitem-side sketches come from ONE stacked scan
    // (k9's fan-out move): fact bytes are read and bucket-aggregated
    // once for all three audited joins; only the small dimension sides
    // keep per-table passes
    val liCells = cells(
      Tables.lineitem(spark, dir)
        .select(expr("stack(3, 'lineitem_orders', l_orderkey, " +
          "'lineitem_part', l_partkey, 'lineitem_supplier', l_suppkey) " +
          "AS (join_name, k)")),
      "na", extraGroup = Seq("join_name"))
    def dimCells(name: String, right: DataFrame, rk: String): DataFrame =
      cells(right.select(col(rk).as("k")), "nb")
        .withColumn("join_name", lit(name))
    val dims = dimCells("lineitem_orders", Tables.orders(spark, dir),
        "o_orderkey")
      .unionByName(dimCells("lineitem_part", Tables.part(spark, dir),
        "p_partkey"))
      .unionByName(dimCells("lineitem_supplier",
        Tables.supplier(spark, dir), "s_suppkey"))
    val est = liCells.join(dims, Seq("join_name", "j", "bucket"))
      .groupBy(col("join_name"), col("j"))
      .agg(sum(col("na") * col("nb")).as("est_j"))
      .groupBy(col("join_name"))
      .agg(min(col("est_j")).as("est_rows"))
    est.join(Profile.joinCardinality(spark, dir)
        .select(col("join_name"), col("predicted_rows").as("exact_rows")),
        Seq("join_name"))
      .select(col("join_name"), col("est_rows"), col("exact_rows"),
        (col("est_rows") - col("exact_rows")).as("overcount"))
      .orderBy(col("join_name"))
  }

  def cmsJoinSizeSql(depth: Int = 3, width: Int = 256): String = {
    val P = 1000003L
    def bucket(j: Int, k: String) =
      s"((($k * ${37L + 101L * j} + ${17L + 61L * j}) % $P) % $width)"
    def bucketCase(k: String) =
      (0 until depth).map(j => s"WHEN $j THEN ${bucket(j, k)}")
        .mkString("CASE j ", " ", " END")
    def cellsSql(table: String, key: String) =
      s"""SELECT j, ${bucketCase(key)} AS bucket, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM $table CROSS JOIN (SELECT unnest(range($depth)) AS j) d
         |  GROUP BY 1, 2""".stripMargin
    def one(name: String, lt: String, lk: String, rt: String, rk: String) =
      s"""SELECT '$name' AS join_name,
         |  CAST(MIN(est_j) AS BIGINT) AS est_rows
         |FROM (
         |  SELECT a.j, CAST(SUM(a.n * b.n) AS BIGINT) AS est_j
         |  FROM (${cellsSql(lt, lk)}) a
         |  JOIN (${cellsSql(rt, rk)}) b
         |    ON a.j = b.j AND a.bucket = b.bucket
         |  GROUP BY a.j)""".stripMargin
    val est = Seq(
      one("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      one("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      one("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"))
      .mkString("\n|UNION ALL\n|")
    s"""WITH est AS (
       |$est),
       |exact AS (${Profile.joinCardinalitySql})
       |SELECT e.join_name, e.est_rows,
       |  x.predicted_rows AS exact_rows,
       |  e.est_rows - x.predicted_rows AS overcount
       |FROM est e JOIN exact x USING (join_name)
       |ORDER BY e.join_name""".stripMargin
  }

  /** sk9: SKETCH SET ALGEBRA — weekday vs weekend audience overlap from
    * mergeable HLL sketches alone: the union is `hll_union_agg` over the
    * two group sketches and the intersection is inclusion–exclusion
    * (|A| + |B| − |A∪B|). At 100 TB this answers every segment-overlap
    * question from per-segment sketch silvers (sk6's pattern) WITHOUT
    * re-scanning events or shuffling user ids — the shuffle carries two
    * fixed-size sketches, and new segments compose by union instead of
    * recomputation. Intersection error compounds (both operands' rsd
    * plus cancellation), which is why the output carries all four
    * estimates: the consumer sees the operands behind the derived
    * number. Rows-only like sk1/sk6 (estimates are
    * implementation-defined); [[SketchesSpec]] bounds all four against
    * the exact distinct counts. */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val typed = Tables.events(spark, dir)
      .select(when(dayofweek(col("ts")).isin(1, 7), "weekend")
        .otherwise("weekday").as("day_type"), col("user_id"))
      .groupBy(col("day_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    typed.agg(
        max(when(col("day_type") === "weekday",
          hll_sketch_estimate(col("sketch")))).as("n_weekday"),
        max(when(col("day_type") === "weekend",
          hll_sketch_estimate(col("sketch")))).as("n_weekend"),
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("n_union"))
      .select(col("n_weekday"), col("n_weekend"), col("n_union"),
        (col("n_weekday") + col("n_weekend") - col("n_union"))
          .as("n_overlap_est"))
  }

  /** sk12: HLL PRECISION SWEEP — sk11's operating-curve discipline for
    * the distinct-count sketches (sk1/sk2/sk5/sk6): the SAME distinct
    * question (corpus-wide distinct users) estimated at every relative
    * standard deviation tier next to its exact answer and the realized
    * error (milli). rsd maps to HLL register count (≈ 1.04/√m), so the
    * table reads as "what accuracy does each sketch-memory tier buy on
    * THIS data" — the number you check before wiring sk1's estimates
    * into an alerting threshold. One pass: all tiers are aggregate
    * expressions over a single scan, each a fixed-size register set,
    * map-side combinable. Rows-only like sk1 (HLL estimates are
    * implementation-defined); SketchesSpec brackets every tier against
    * the exact count at its advertised rsd. */
  def hllPrecisionSweep(spark: SparkSession, dir: String,
                        rsds: Seq[Double] = Seq(0.01, 0.02, 0.05, 0.1))
      : DataFrame = {
    val e = Tables.events(spark, dir)
    def name(r: Double) = s"est_${(r * 1000).round}"
    val aggs = rsds.map(r =>
      approx_count_distinct(col("user_id"), rsd = r).as(name(r))) :+
      countDistinct(col("user_id")).as("exact_users")
    val one = e.agg(aggs.head, aggs.tail: _*)
    val stacked = rsds.map(r =>
      one.select(lit(r).as("rsd"), col(name(r)).as("approx_users"),
        col("exact_users")))
      .reduce(_ unionByName _)
    stacked.select(col("rsd"), col("approx_users"), col("exact_users"),
        expr("abs(approx_users - exact_users) * 1000 div exact_users")
          .as("abs_err_milli"))
      .orderBy(col("rsd"))
  }

  /** sk11: BLOOM MASK-WIDTH SWEEP — the operating curve sk8's filter is
    * tuned on, the way d21's bands×rows sweep tunes d2's LSH: the SAME
    * build set and probe stream scored at mask widths m = 2^12..2^16
    * (3 hashes throughout), emitting per width the pass count, the
    * true-match count, the false positives, and the measured FPR over
    * the true-negative probe population (milli). One-sided at every
    * width (a Bloom filter never drops a true match — spec-asserted),
    * so the sweep reads as "what scan fraction does each 0.5..8 KB of
    * broadcast budget buy". Shape: ONE mask build at the widest width
    * (bloomMaskOf's size-bounded bit_or agg) with every narrower mask
    * derived by [[foldMask]]'s driver-side OR-fold (the affine family
    * nests across widths — zero extra jobs), the probe pass columns
    * are literal-array map work over hoisted shared hashes (zero
    * probe-sized shuffles — sk8's posture × 5), and ALL five widths'
    * counters come out of ONE global aggregate over the single probe
    * scan — the r13 shape stacked the probe 5× (one row per width per
    * probe row) before aggregating, a 5× aggregation-input constant
    * that grew with every decade (5.2 s → 27.4 s → 765.6 s committed
    * at sf0.1/sf1.0/sf10); the 5-row reshape now happens AFTER the
    * rollup, on one row. The affine hash family is engine-portable
    * integer arithmetic, so unlike a murmur-backed filter the whole
    * sweep is oracle-checked. */
  def bloomSweep(spark: SparkSession, dir: String,
                 bitsLevels: Seq[Long] =
                   Seq(4096L, 8192L, 16384L, 32768L, 65536L)): DataFrame = {
    val build = urgentOrderKeys(spark, dir)
    // ONE widest-mask build job; narrower widths fold on the driver.
    // The three affine hashes h_i = ((k mod P)·a_i + b_i) mod P are
    // hoisted to shared columns — each level's pass tests h_i mod m
    // against its literal mask, instead of recomputing the full
    // position chain 3×|levels| times per probe row
    val widest = bitsLevels.max
    val wideMask = bloomMaskOf(build.select(col("k").as("h")), widest)
    val masks: Map[Long, Array[Long]] = bitsLevels.map(m =>
      m -> (if (m == widest) wideMask else foldMask(wideMask, m))).toMap
    // PASS-VECTOR table: T[p] (p ∈ [0, widest)) packs, in bit w, whether
    // width m_w's mask has bit (p mod m_w) set. All widths' per-hash
    // tests collapse to ONE widest-position lookup per hash — 3
    // element_at per probe row where the per-width form paid
    // |widths|×|hashes| (15) mask probes per row: the bit-test
    // expression work was the measured per-row bottleneck, ~15× sk8's
    // single-width probe at every decade. The table is driver-built,
    // widest-bounded (2^16 longs), and rides the plan as one literal.
    val passVec: Array[Long] = Array.tabulate(widest.toInt) { p =>
      bitsLevels.zipWithIndex.foldLeft(0L) { case (acc, (m, w)) =>
        val q = p % m
        if ((masks(m)((q / 64).toInt) >>> (q % 64).toInt & 1L) == 1L)
          acc | (1L << w)
        else acc
      }
    }
    val probeH = bloomHashes.zipWithIndex.foldLeft(
      Tables.lineitem(spark, dir).select(col("l_orderkey"))) {
      case (d, ((a, b), i)) =>
        d.withColumn(s"graft_p$i",
          (pmod(col("l_orderkey"), lit(bloomP)) * lit(a) + lit(b))
            % bloomP % widest)
    }
    // single ArrayType literal — see withBloomPass's planning-cost note
    val withPv = probeH
      .withColumn("graft_tbl", typedlit(passVec.toIndexedSeq))
      .withColumn("graft_pv",
        bloomHashes.indices.map(i =>
          expr(s"element_at(graft_tbl, int(graft_p$i) + 1)"))
          .reduce(_ bitwiseAND _))
      .drop(("graft_tbl" +: bloomHashes.indices.map(i => s"graft_p$i")): _*)
    val isMatch = broadcast(build)
    val joined = withPv
      .join(isMatch, withPv("l_orderkey") === isMatch("k"), "left")
      .withColumn("is_match", col("k").isNotNull)
    // one probe-sized aggregate carrying every width's counters as
    // parallel conditional sums over the pass-vector bits; the
    // per-width ledger reshape is a stack over the SINGLE result row
    def passBit(w: Int) = expr(s"shiftright(graft_pv, $w) % 2")
    val aggCols = Seq(
      count(lit(1)).as("n_probe"),
      sum(when(col("is_match"), 1L).otherwise(0L)).as("n_true_match")) ++
      bitsLevels.zipWithIndex.flatMap { case (m, w) => Seq(
        sum(passBit(w)).as(s"n_pass_$m"),
        sum(when(!col("is_match"), passBit(w)).otherwise(0L))
          .as(s"n_fp_$m"))
      }
    joined.agg(aggCols.head, aggCols.tail: _*)
      .selectExpr("n_probe", "n_true_match",
        s"stack(${bitsLevels.size}, " +
          bitsLevels.map(m => s"CAST($m AS BIGINT), n_pass_$m, n_fp_$m")
            .mkString(", ") +
          ") AS (m_bits, n_pass, n_false_pos)")
      .select(col("m_bits"), col("n_probe"), col("n_pass"),
        col("n_true_match"), col("n_false_pos"),
        expr("n_false_pos * 1000 div (n_probe - n_true_match)")
          .as("fpr_milli"))
      .orderBy(col("m_bits"))
  }

  def bloomSweepSql(bitsLevels: Seq[Long] =
                      Seq(4096L, 8192L, 16384L, 32768L, 65536L)): String = {
    def level(m: Long): String = {
      val posCases = bloomHashes.zipWithIndex.map { case ((a, b), i) =>
        s"${bloomPosSql("l_orderkey", a, b, m)} AS p$i" }.mkString(", ")
      val buildPos = bloomHashes.map { case (a, b) =>
        s"SELECT ${bloomPosSql("k", a, b, m)} AS pos FROM build" }
        .mkString(" UNION ")
      s"""(WITH bits AS ($buildPos),
         |probe AS (
         |  SELECT l_orderkey, $posCases FROM lineitem),
         |flags AS (
         |  SELECT
         |    (p0 IN (SELECT pos FROM bits)
         |      AND p1 IN (SELECT pos FROM bits)
         |      AND p2 IN (SELECT pos FROM bits)) AS pass,
         |    l_orderkey IN (SELECT k FROM build) AS is_match
         |  FROM probe)
         |SELECT CAST($m AS BIGINT) AS m_bits,
         |  CAST(COUNT(*) AS BIGINT) AS n_probe,
         |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
         |  CAST(SUM(CASE WHEN pass AND NOT is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
         |  CAST(SUM(CASE WHEN pass AND NOT is_match THEN 1 ELSE 0 END) * 1000
         |    // (COUNT(*) - CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT))
         |    AS BIGINT) AS fpr_milli
         |FROM flags)""".stripMargin
    }
    s"""WITH build AS (
       |  SELECT DISTINCT o_orderkey AS k FROM orders
       |  WHERE o_orderpriority = '1-URGENT')
       |${bitsLevels.map(level).mkString("\n", "\nUNION ALL\n", "\n")}ORDER BY m_bits""".stripMargin
  }

  /** sk13: K-MINIMUM-VALUES distinct estimator, oracle-checked — the
    * KMV sweep puts a HASH-CHECKED row on the distinct-count-sketch
    * family that sk2/sk5's HLL keys (implementation-defined registers,
    * rows-only) cannot get: KMV's whole state is "the k smallest hash
    * values", and under the house affine family
    * h(sku) = (a·sku + b) mod P — a BIJECTION on Z_P for prime P, so
    * no two skus collide while key ids stay below P — both engines
    * reproduce the estimate bit-for-bit. Estimate: n̂ = (k−1)·P div h₍ₖ₎
    * (the classic order-statistics estimator with rsd ≈ 1/√(k−2)),
    * exact when a store has ≤ k distinct skus (the sketch saw
    * everything). Swept over k ∈ {16, 64, 256} per store — the
    * accuracy-vs-state operating table next to sk11/sk12's Bloom/HLL
    * sweeps.
    *
    * Shape: one distinct (store, sku) agg, then per-store windows over
    * the store's own sku set (catalog-bounded). At 100 TB the window
    * disappears: a real KMV keeps a k-row bounded partial per group —
    * mergeable by min-merge like sk3's Misra-Gries summaries — and
    * only the estimator arithmetic remains. Above P-sized catalogs the
    * affine family swaps for xxhash64 (d5's move) and oracle parity is
    * traded away with it. */
  def kmvSweep(spark: SparkSession, dir: String,
               ks: Seq[Int] = Seq(16, 64, 256)): DataFrame = {
    val P = 1000003L
    // distinct + window on the RAW (suppkey, sku) ints: one suppkey
    // exchange serves the distinct AND both window functions (store_id
    // is injective in suppkey so the partitions are identical), the
    // shuffle carries 2 longs instead of a formatted string, and
    // format_string runs on the ≤3 surviving rows per (store, k)
    // instead of every fact row.
    // VOLUME TRADEOFF (r14 ADVICE, deliberate): repartition-first ships
    // every raw fact pair across the one exchange — distinct-first would
    // partial-dedup map-side but pay a second exchange for the window.
    // At 16 B/row the raw volume is the cheaper side of that trade until
    // per-store duplication is extreme; if a larger-SF bench ever flags
    // sk13, flip to distinct-first and re-measure before shipping.
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_partkey").as("sku"))
      .repartition(col("l_suppkey"))
      .distinct()
      .withColumn("h", (col("sku") * lit(131L) + lit(911L)) % P)
    val byStore = Window.partitionBy(col("l_suppkey"))
    val ranked = pairs
      .withColumn("rn", row_number().over(
        byStore.orderBy(col("h").asc, col("sku").asc)).cast("long"))
      .withColumn("exact_skus", count(lit(1)).over(byStore))
    ranked
      .withColumn("k", explode(array(ks.map(k => lit(k.toLong)): _*)))
      .filter(col("rn") === least(col("k"), col("exact_skus")))
      .withColumn("store_id", format_string("%04d", col("l_suppkey")))
      .select(col("store_id"), col("k"), col("exact_skus"),
        when(col("exact_skus") <= col("k"), col("exact_skus"))
          .otherwise(expr(s"(k - 1) * ${P}L div h")).as("kmv_est"))
      .withColumn("err_milli",
        expr("abs(kmv_est - exact_skus) * 1000 div exact_skus"))
      .orderBy(col("store_id"), col("k"))
  }

  def kmvSweepSql(ks: Seq[Int] = Seq(16, 64, 256)): String = {
    val P = 1000003L
    val kList = ks.mkString(", ")
    s"""WITH pairs AS (
       |  SELECT DISTINCT printf('%04d', l_suppkey) AS store_id,
       |    l_partkey AS sku
       |  FROM lineitem),
       |hashed AS (
       |  SELECT store_id, sku, (sku * 131 + 911) % $P AS h FROM pairs),
       |ranked AS (
       |  SELECT store_id, h,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY store_id
       |      ORDER BY h ASC, sku ASC) AS BIGINT) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY store_id) AS BIGINT)
       |      AS exact_skus
       |  FROM hashed),
       |est AS (
       |  SELECT store_id, k, exact_skus,
       |    CASE WHEN exact_skus <= k THEN exact_skus
       |      ELSE (k - 1) * $P // h END AS kmv_est
       |  FROM ranked CROSS JOIN (SELECT unnest([$kList]) AS k) ks
       |  WHERE rn = LEAST(k, exact_skus))
       |SELECT store_id, CAST(k AS BIGINT) AS k, exact_skus, kmv_est,
       |  ABS(kmv_est - exact_skus) * 1000 // exact_skus AS err_milli
       |FROM est ORDER BY store_id, k""".stripMargin
  }

  /** sk14: KMV SET ALGEBRA, oracle-checked — sk9's audience-overlap
    * question (weekday vs weekend users) answered from K-minimum-values
    * sketches instead of HLL, which buys the one thing HLL can't give
    * the oracle: bit-reproducible estimates (sk13's bijective affine
    * family). The algebra is the real mergeable-sketch protocol:
    *  - per segment, the k smallest user hashes (the KMV state);
    *  - UNION sketch = k smallest of (A_k ∪ B_k) — which provably
    *    contains the k smallest of A ∪ B, so the union estimate needs
    *    only the two k-sets, never the raw sets;
    *  - INTERSECTION via the ratio estimator: ρ = |{h ∈ U_k : h ∈ A_k
    *    ∧ h ∈ B_k}| / k, est = ρ · n̂_union (exact when the union
    *    sketch is unsaturated — then U_k IS A∪B).
    * Exact counterparts ride alongside for calibration, with milli
    * errors. Shape: one distinct (segment, user) agg; every window
    * after it runs on ≤ 2k rows except the per-segment top-k rank
    * (audience-bounded; a production KMV keeps a k-row mergeable
    * partial per segment — sk3's summary pattern — and only the
    * estimator arithmetic survives). Output is one calibration row. */
  def kmvSetAlgebra(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val P = 1000003L
    val pairs = Tables.events(spark, dir)
      .select(when(dayofweek(col("ts")).isin(1, 7), "weekend")
        .otherwise("weekday").as("seg"), col("user_id"))
      .distinct()
      .withColumn("h", (col("user_id") * lit(48271L) + lit(11L)) % P)
    val bySeg = Window.partitionBy(col("seg"))
    val sketches = pairs
      .withColumn("rn", row_number().over(
        bySeg.orderBy(col("h").asc, col("user_id").asc)).cast("long"))
      .withColumn("seg_n", count(lit(1)).over(bySeg))
      .filter(col("rn") <= k)
    val exact = pairs.groupBy(col("user_id"))
      .agg(max(when(col("seg") === "weekday", 1L).otherwise(0L)).as("in_wd"),
        max(when(col("seg") === "weekend", 1L).otherwise(0L)).as("in_we"))
      .agg(sum(col("in_wd")).cast("long").as("exact_weekday"),
        sum(col("in_we")).cast("long").as("exact_weekend"),
        count(lit(1)).as("exact_union"),
        sum(col("in_wd") * col("in_we")).cast("long").as("exact_overlap"))
    val segEst = sketches
      .groupBy(col("seg"))
      .agg(max(col("seg_n")).as("n"), count(lit(1)).as("kept"),
        max(col("h")).as("h_k"))
      .select(col("seg"),
        when(col("n") <= k, col("n"))
          .otherwise(expr(s"($k - 1) * ${P}L div h_k")).as("est"))
    val merged = sketches
      .groupBy(col("h"))
      .agg(max(when(col("seg") === "weekday", 1L).otherwise(0L)).as("in_a"),
        max(when(col("seg") === "weekend", 1L).otherwise(0L)).as("in_b"))
    val wU = Window.orderBy(col("h").asc)
    val union = merged
      .withColumn("rn", row_number().over(wU).cast("long"))
      .withColumn("cand_n", count(lit(1)).over(Window.partitionBy(lit(1))))
      .filter(col("rn") <= k)
      .agg(max(col("cand_n")).as("cand_n"), count(lit(1)).as("u_kept"),
        max(col("h")).as("h_k"),
        sum(col("in_a") * col("in_b")).cast("long").as("shared"))
      .select(
        when(col("cand_n") < k, col("u_kept"))
          .otherwise(expr(s"($k - 1) * ${P}L div h_k")).as("est_union"),
        col("cand_n"), col("shared"))
    val est = segEst.groupBy()
      .pivot("seg", Seq("weekday", "weekend")).agg(first(col("est")))
      .withColumnRenamed("weekday", "est_weekday")
      .withColumnRenamed("weekend", "est_weekend")
    est.crossJoin(union.select(col("est_union"), col("cand_n"), col("shared")))
      .withColumn("est_overlap",
        when(col("cand_n") < k, col("shared"))
          .otherwise(expr(s"shared * est_union div ${k}L")))
      .crossJoin(broadcast(exact))
      .select(lit(k.toLong).as("k"),
        col("exact_weekday"), col("est_weekday"),
        col("exact_weekend"), col("est_weekend"),
        col("exact_union"), col("est_union"),
        col("exact_overlap"), col("est_overlap"))
      .withColumn("err_union_milli",
        expr("abs(est_union - exact_union) * 1000 div exact_union"))
      .withColumn("err_overlap_milli",
        expr("abs(est_overlap - exact_overlap) * 1000 div nullif(exact_overlap, 0)"))
  }

  def kmvSetAlgebraSql(k: Int = 256): String = {
    val P = 1000003L
    s"""WITH pairs AS (
       |  SELECT DISTINCT
       |    CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend'
       |      ELSE 'weekday' END AS seg,
       |    user_id
       |  FROM events),
       |hashed AS (
       |  SELECT seg, user_id, (user_id * 48271 + 11) % $P AS h FROM pairs),
       |ranked AS (
       |  SELECT seg, user_id, h,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY seg
       |      ORDER BY h ASC, user_id ASC) AS BIGINT) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY seg) AS BIGINT) AS seg_n
       |  FROM hashed),
       |sketches AS (SELECT * FROM ranked WHERE rn <= $k),
       |exact AS (
       |  SELECT
       |    CAST(SUM(in_wd) AS BIGINT) AS exact_weekday,
       |    CAST(SUM(in_we) AS BIGINT) AS exact_weekend,
       |    CAST(COUNT(*) AS BIGINT) AS exact_union,
       |    CAST(SUM(in_wd * in_we) AS BIGINT) AS exact_overlap
       |  FROM (
       |    SELECT user_id,
       |      MAX(CASE WHEN seg = 'weekday' THEN 1 ELSE 0 END) AS in_wd,
       |      MAX(CASE WHEN seg = 'weekend' THEN 1 ELSE 0 END) AS in_we
       |    FROM pairs GROUP BY user_id)),
       |seg_est AS (
       |  SELECT seg,
       |    CASE WHEN MAX(seg_n) <= $k THEN MAX(seg_n)
       |      ELSE ($k - 1) * $P // CAST(MAX(h) AS BIGINT) END AS est
       |  FROM sketches GROUP BY seg),
       |merged AS (
       |  SELECT h,
       |    MAX(CASE WHEN seg = 'weekday' THEN 1 ELSE 0 END) AS in_a,
       |    MAX(CASE WHEN seg = 'weekend' THEN 1 ELSE 0 END) AS in_b
       |  FROM sketches GROUP BY h),
       |u_ranked AS (
       |  SELECT h, in_a, in_b,
       |    CAST(ROW_NUMBER() OVER (ORDER BY h ASC) AS BIGINT) AS rn,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS cand_n
       |  FROM merged),
       |u AS (
       |  SELECT MAX(cand_n) AS cand_n,
       |    CAST(COUNT(*) AS BIGINT) AS u_kept,
       |    CAST(MAX(h) AS BIGINT) AS h_k,
       |    CAST(SUM(in_a * in_b) AS BIGINT) AS shared
       |  FROM u_ranked WHERE rn <= $k),
       |u_est AS (
       |  SELECT cand_n, shared,
       |    CASE WHEN cand_n < $k THEN u_kept
       |      ELSE ($k - 1) * $P // h_k END AS est_union
       |  FROM u)
       |SELECT CAST($k AS BIGINT) AS k,
       |  x.exact_weekday,
       |  (SELECT est FROM seg_est WHERE seg = 'weekday') AS est_weekday,
       |  x.exact_weekend,
       |  (SELECT est FROM seg_est WHERE seg = 'weekend') AS est_weekend,
       |  x.exact_union, u.est_union,
       |  x.exact_overlap,
       |  CASE WHEN u.cand_n < $k THEN u.shared
       |    ELSE u.shared * u.est_union // $k END AS est_overlap,
       |  ABS(u.est_union - x.exact_union) * 1000 // x.exact_union
       |    AS err_union_milli,
       |  ABS(CASE WHEN u.cand_n < $k THEN u.shared
       |      ELSE u.shared * u.est_union // $k END - x.exact_overlap) * 1000
       |    // NULLIF(x.exact_overlap, 0) AS err_overlap_milli
       |FROM exact x CROSS JOIN u_est u""".stripMargin
  }

  /** sk15: HISTOGRAM QUANTILE SKETCH — the mergeable QUANTILE summary
    * class the sk-family lacked, built relationally like sk7's CMS so
    * it is FULLY ORACLE-CHECKED (where sk1's `percentile_approx` GK
    * sketch is implementation-defined and rows-only): `bins`
    * equal-width bins over the global [min, max] net-sales domain in
    * integer cents, per-store bin counts, and rank-based quantile
    * estimates read off the cumulative counts — the estimate for rank
    * r is the LOWER EDGE of the bin where the cumulative count first
    * reaches r (a34's positional ranks: ceil(n/2), ceil(9n/10)), so
    * |estimate − exact| ≤ bin width by the histogram guarantee
    * (SketchesSpec asserts it against an in-process exact recompute).
    * Every step is 64-bit integer arithmetic — both engines agree
    * bit-for-bit.
    *
    * Scale shape: the domain is ONE 1-row (min, max) aggregate of the
    * cached rollup silver, cross-broadcast back (j31's discipline);
    * binning is a pure map; the sketch is one (store, bin) hash
    * aggregate whose state is ≤ |stores|·bins cells regardless of
    * input rows — THE mergeable-summary property (bin counts add
    * across partitions/days, so map-side combine does the compression
    * and a day's sketch unions into a month's by addition); the
    * quantile read-off windows over ≤ `bins` rows per store. */
  /** The shared (store, bin) histogram-sketch relation of sk15/sk16:
    * per-store bin counts of net-sales cents over `bins` equal-width
    * bins spanning the global [min, max] domain (one 1-row broadcast
    * aggregate). This IS the sketch: ≤ |stores|·bins cells however
    * many input rows, built by one map-side-combinable aggregate. */
  private def histCells(spark: SparkSession, dir: String, bins: Int): DataFrame = {
    val vals = graft.etl.StoreDaily.rollupDec(spark, dir)
      .select(col("store_id"),
        ((col("gross_dec") - col("disc_dec")) * 100).cast("long").as("cents"))
    val dom = vals.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    vals.crossJoin(broadcast(dom))
      .withColumn("bin", least(lit(bins - 1),
        expr(s"((cents - lo) * $bins) div (hi - lo + 1)")).cast("int"))
      .groupBy(col("store_id"), col("bin"))
      .agg(count(lit(1)).as("cnt"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"))
  }

  private def histCellsSql(bins: Int): String =
    s"""vals AS (
       |  SELECT store_id,
       |    CAST((gross_dec - disc_dec) * 100 AS BIGINT) AS cents
       |  FROM r),
       |dom AS (
       |  SELECT CAST(MIN(cents) AS BIGINT) AS lo,
       |    CAST(MAX(cents) AS BIGINT) AS hi FROM vals),
       |cells AS (
       |  SELECT store_id,
       |    LEAST($bins - 1, ((cents - lo) * $bins) // (hi - lo + 1)) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS cnt,
       |    MAX(lo) AS lo, MAX(hi) AS hi
       |  FROM vals CROSS JOIN dom
       |  GROUP BY 1, 2)""".stripMargin

  def histogramQuantiles(spark: SparkSession, dir: String,
                         bins: Int = 64): DataFrame = {
    val cells = histCells(spark, dir, bins)
    val byStore = Window.partitionBy(col("store_id"))
    val cum = cells
      .withColumn("cum", sum(col("cnt"))
        .over(byStore.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(byStore))
      .withColumn("edge_cents",
        col("lo") + expr(s"(bin * (hi - lo + 1)) div $bins"))
    cum.groupBy(col("store_id"))
      .agg(max(col("n")).as("n_days"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("edge_cents")))
          .as("p50_est_cents"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("edge_cents")))
          .as("p90_est_cents"))
      .orderBy(col("store_id"))
  }

  def histogramQuantilesSql(bins: Int = 64): String =
    s"""WITH r AS (${graft.etl.StoreDaily.rollupDecSql}),
       |${histCellsSql(bins)},
       |cum AS (
       |  SELECT store_id, bin, cnt, lo, hi,
       |    CAST(SUM(cnt) OVER (PARTITION BY store_id ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER (PARTITION BY store_id) AS BIGINT) AS n,
       |    lo + (bin * (hi - lo + 1)) // $bins AS edge_cents
       |  FROM cells)
       |SELECT store_id,
       |  CAST(MAX(n) AS BIGINT) AS n_days,
       |  CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN edge_cents END)
       |    AS BIGINT) AS p50_est_cents,
       |  CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN edge_cents END)
       |    AS BIGINT) AS p90_est_cents
       |FROM cum GROUP BY store_id ORDER BY store_id""".stripMargin

  /** sk16: SKETCH UNION — the property that makes sk15's histogram a
    * SKETCH and not just a query: per-store summaries merge into the
    * company summary by BIN-COUNT ADDITION (no re-scan of the inputs),
    * exactly how per-partition/per-day sketches roll up to
    * company/month granularity in a 100 TB lake. Built FROM the same
    * (store, bin) cell relation sk15 reads: merge = one `bins`-bounded
    * `GROUP BY bin, SUM(cnt)`, then the company p50/p90/p99 read off
    * the merged cumulative counts with the same lower-edge rule (so
    * the histogram error guarantee — |est − exact| ≤ bin width —
    * survives the union unchanged, which SketchesSpec asserts against
    * an exact company-level recompute). The same discipline as sk12's
    * HLL register-max union and k13's algebraic-partial restatement:
    * summaries compose associatively, so a day's sketch unions into a
    * month's, a store's into the company's, on dimension-sized data.
    *
    * Scale shape: everything after the shared cell build is ≤
    * |stores|·bins rows — the merge agg, the `bins`-row cumulative
    * window (single partition is CORRECT here: the relation is
    * config-bounded, never data-sized), and the 1-row readout. */
  def mergedQuantiles(spark: SparkSession, dir: String,
                      bins: Int = 64): DataFrame = {
    val merged = histCells(spark, dir, bins)
      .groupBy(col("bin"))
      .agg(sum(col("cnt")).as("cnt"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"))
      .withColumn("edge_cents",
        col("lo") + expr(s"(bin * (hi - lo + 1)) div $bins"))
    val all = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn("cum", sum(col("cnt")).over(all))
      .withColumn("n", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .agg(max(col("n")).as("n_rows"),
        count(lit(1)).as("n_bins_used"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("edge_cents")))
          .as("p50_est_cents"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("edge_cents")))
          .as("p90_est_cents"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("edge_cents")))
          .as("p99_est_cents"))
  }

  /** sk17: EXACT distinct counting by BITMAP PARTIAL AGGREGATION —
    * Spark's native bitmap family (the Databricks-published
    * exact-distinct pattern), here [[graft.etl.Fold.pages]]: per store,
    * each 32 768-key bucket of the sku domain folds into one fixed 4 KB
    * bitmap, so the aggregation state is BOUNDED and MERGEABLE:
    * map-side partials OR together, the expand-based COUNT(DISTINCT)
    * rewrite (double-shuffle at scale) never appears, and re-bucketing
    * the same bitmaps answers company-level distincts without touching
    * rows (the `n_distinct_company` column: a second OR-fold of the
    * SAME per-bucket bitmaps, not a rescan). The sk1 HLL twin trades
    * this exactness for O(1) state; this key is the exact rung of that
    * ladder. Oracle: plain COUNT(DISTINCT) — the result is exact, so
    * it hash-matches. */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    // the (store, bucket) bitmap table is the persisted sketch of this
    // key — |stores| x |buckets| fixed-width rows. Memoized as a leaf so
    // the company grain folds the SAME bitmaps instead of rescanning.
    val buckets = graft.model.Silver.memoize(spark, "bitmapBuckets", dir) {
      graft.etl.Fold.pages.partial(Tables.sales(spark, dir))
    }
    val perStore = graft.etl.Fold.distinctOf(buckets, "n_distinct_skus", "store_id")
    val company = graft.etl.Fold.distinctOf(graft.etl.Fold.orPages(buckets),
      "n_distinct_company")
    perStore.crossJoin(broadcast(company))
      .orderBy(col("store_id"))
  }

  def bitmapDistinctSql(): String =
    s"""WITH s AS (${Tables.salesSql}),
       |per_store AS (
       |  SELECT store_id, CAST(COUNT(DISTINCT sku) AS BIGINT) AS n_distinct_skus
       |  FROM s GROUP BY 1),
       |company AS (
       |  SELECT CAST(COUNT(DISTINCT sku) AS BIGINT) AS n_distinct_company FROM s)
       |SELECT store_id, n_distinct_skus, n_distinct_company
       |FROM per_store CROSS JOIN company
       |ORDER BY store_id""".stripMargin

  def mergedQuantilesSql(bins: Int = 64): String =
    s"""WITH r AS (${graft.etl.StoreDaily.rollupDecSql}),
       |${histCellsSql(bins)},
       |merged AS (
       |  SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt,
       |    MAX(lo) AS lo, MAX(hi) AS hi
       |  FROM cells GROUP BY bin),
       |cum AS (
       |  SELECT bin, cnt,
       |    lo + (bin * (hi - lo + 1)) // $bins AS edge_cents,
       |    CAST(SUM(cnt) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(SUM(cnt) OVER () AS BIGINT) AS n
       |  FROM merged)
       |SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
       |  CAST(COUNT(*) AS BIGINT) AS n_bins_used,
       |  CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN edge_cents END)
       |    AS BIGINT) AS p50_est_cents,
       |  CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN edge_cents END)
       |    AS BIGINT) AS p90_est_cents,
       |  CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN edge_cents END)
       |    AS BIGINT) AS p99_est_cents
       |FROM cum""".stripMargin

  /** sk19: SPARK-NATIVE GK QUANTILES — `approx_percentile`
    * (Greenwald-Khanna, the engine's production quantile sketch) over
    * ROW-sized line totals per store, next to POSITIONAL exact
    * percentiles as the in-row certification anchor (a34's rank-lookup
    * definition: value at row ceil(q·n) of the cents-ordered series —
    * no interpolation, so the anchor itself is engine-exact). The GK
    * rung completes the quantile ladder: a34 exact at day grain,
    * sk15/sk16 mergeable histograms with bin-width error, sk19 the
    * native sketch with RANK error <= n/accuracy (NativeQuantileSpec
    * asserts that bound against the collected per-store order
    * statistics). Rows-only by design: GK summary contents are
    * implementation-defined, no cross-engine hash can exist. The
    * anchors THEMSELVES are SQL-expressible and ride the hash gate as
    * the split-out [[quantileAnchors]] (sk21).
    *
    * Scale shape: ONE store-keyed exchange — the anchor's rank window
    * and the combined agg (GK partials + rank-hit conditional max)
    * ride the same partitioning; GK state is O(1/eps log n) per store
    * regardless of rows, map-side combinable. The exact anchor's
    * per-store window is the exactness rung only (a34 argument) — at
    * unbounded group sizes the GK column IS the answer. */
  def nativeQuantiles(spark: SparkSession, dir: String,
                      accuracy: Int = 1000): DataFrame = {
    val byStore = Window.partitionBy(col("store_id"))
    val ordered = byStore.orderBy(col("cents"), col("l_orderkey"),
      col("l_linenumber"))
    Tables.sales(spark, dir)
      .select(col("store_id"),
        (col("line_total") * 100).cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("rn", row_number().over(ordered))
      .withColumn("n", count(lit(1)).over(byStore))
      .groupBy(col("store_id"))
      .agg(max(col("n")).as("n_rows"),
        expr(s"approx_percentile(cents, array(0.5D, 0.9D, 0.99D), $accuracy)")
          .as("gk"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("cents")))
          .as("p50_exact_cents"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("cents")))
          .as("p90_exact_cents"),
        max(when(col("rn") === expr("(99 * n + 99) div 100"), col("cents")))
          .as("p99_exact_cents"))
      .select(col("store_id"), col("n_rows"),
        col("gk")(0).as("p50_est_cents"),
        col("gk")(1).as("p90_est_cents"),
        col("gk")(2).as("p99_est_cents"),
        col("p50_exact_cents"), col("p90_exact_cents"),
        col("p99_exact_cents"))
      .orderBy(col("store_id"))
  }

  /** sk21: the ORACLE-GREEN half of sk19 — the positional exact-rank
    * anchors alone (a34's rank-lookup definition: value at row
    * ceil(q·n) of the cents-ordered per-store series, no
    * interpolation), split out so the SQL-expressible columns ride the
    * DuckDB hash gate while sk19 keeps the GK estimates rows-only
    * (sketch register contents are implementation-defined — no
    * cross-engine hash can exist for THOSE, but there was never a
    * reason the anchors should share that exemption).
    *
    * Scale shape: identical to sk19's anchor leg — one store-keyed
    * exchange carrying the rank window and the conditional-max agg. */
  def quantileAnchors(spark: SparkSession, dir: String): DataFrame = {
    val byStore = Window.partitionBy(col("store_id"))
    val ordered = byStore.orderBy(col("cents"), col("l_orderkey"),
      col("l_linenumber"))
    Tables.sales(spark, dir)
      .select(col("store_id"),
        (col("line_total") * 100).cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("rn", row_number().over(ordered))
      .withColumn("n", count(lit(1)).over(byStore))
      .groupBy(col("store_id"))
      .agg(max(col("n")).as("n_rows"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("cents")))
          .as("p50_exact_cents"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("cents")))
          .as("p90_exact_cents"),
        max(when(col("rn") === expr("(99 * n + 99) div 100"), col("cents")))
          .as("p99_exact_cents"))
      .orderBy(col("store_id"))
  }

  def quantileAnchorsSql(): String =
    s"""WITH s AS (${Tables.salesSql}),
       |c AS (
       |  SELECT store_id, CAST(line_total * 100 AS BIGINT) AS cents,
       |    l_orderkey, l_linenumber
       |  FROM s),
       |r AS (
       |  SELECT store_id, cents,
       |    ROW_NUMBER() OVER (PARTITION BY store_id
       |      ORDER BY cents, l_orderkey, l_linenumber) AS rn,
       |    COUNT(*) OVER (PARTITION BY store_id) AS n
       |  FROM c)
       |SELECT store_id, CAST(MAX(n) AS BIGINT) AS n_rows,
       |  CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT)
       |    AS p50_exact_cents,
       |  CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS BIGINT)
       |    AS p90_exact_cents,
       |  CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END)
       |    AS BIGINT) AS p99_exact_cents
       |FROM r
       |GROUP BY store_id
       |ORDER BY store_id""".stripMargin

  /** sk20: AMS SECOND-MOMENT (F2) SKETCH, oracle-checked — the
    * Alon–Matias–Szegedy tug-of-war estimator (STOC 1996) for
    * Σ freq(k)², the self-join size of the sku stream. Each of
    * 12 replicas keeps ONE counter Z_j = Σ_rows sign_j(sku) where
    * sign_j ∈ {−1, +1} is the parity of the house CMS hash family;
    * E[Z²] = F2. The readout is the classic median-of-means:
    * 4 groups × 3 replicas, group mean = Σ Z² DIV 3, estimate =
    * LOWER MEDIAN (2nd smallest of 4 — positional, never averaged).
    * Deterministic hashes make the "estimate" an exact integer the
    * oracle hash-matches (the statistical guarantee is the paper's;
    * the oracle certifies the arithmetic). Beside it: the EXACT
    * F2 = Σ freq² twin and the signed per-mille error, sign-explicit
    * for clarity (both Spark DIV and DuckDB // truncate toward zero —
    * verified: -7 // 2 = -3 in DuckDB — so they agree even unguarded).
    *
    * Scale shape — the reason AMS is first-class at 100 TB: the
    * sketch state is 12 longs TOTAL regardless of rows or key
    * cardinality (vs CMS's depth×width, vs the exact twin's
    * |keys|-sized shuffle); the 12-way explode feeds a 12-group
    * map-side partial agg, so the shuffle carries 12·|partitions|
    * longs. Z² needs DECIMAL(38,0)/HUGEINT: Z is row-count-sized,
    * so Z² overflows BIGINT past ~3·10^9 rows. Completes the
    * frequency-moment ladder next to F0 (sk1/sk13 HLL/KMV) and the
    * point-frequency CMS (sk7/sk10). */
  def amsF2(spark: SparkSession, dir: String,
            replicas: Int = 12, perGroup: Int = 3): DataFrame = {
    val P = 1000003L
    val dec38 = "decimal(38,0)"
    def sign(j: Int, k: Column): Column =
      when(((k * lit(37L + 101L * j) + lit(17L + 61L * j)) % P) % 2 === 0,
        lit(1L)).otherwise(lit(-1L))
    val skus = Tables.sales(spark, dir).select(col("sku"))
    val z = skus
      .withColumn("j", explode(array((0 until replicas).map(lit): _*)))
      .withColumn("s", (0 until replicas).foldLeft(lit(0L)) { (acc, j) =>
        when(col("j") === j, sign(j, col("sku"))).otherwise(acc)
      })
      .groupBy(col("j")).agg(sum(col("s")).as("z"))
    val means = z
      .select((col("j") / perGroup).cast("int").as("g"),
        (col("z").cast(dec38) * col("z").cast(dec38)).as("z2"))
      .groupBy(col("g"))
      .agg(expr(s"CAST(sum(z2) DIV $perGroup AS $dec38)").as("mean_z2"))
    // lower median of the 4 group means: positional, never averaged
    val est = means
      .select(col("mean_z2"),
        row_number().over(Window.orderBy(col("mean_z2"), col("g"))).as("rn"))
      .filter(col("rn") === (replicas / perGroup + 1) / 2)
      .select(col("mean_z2").as("f2_est"))
    val exact = skus.groupBy(col("sku")).agg(count(lit(1)).as("f"))
      .agg(count(lit(1)).as("n_skus"), sum(col("f")).as("f1"),
        sum(col("f").cast(dec38) * col("f").cast(dec38)).as("f2_exact"))
    exact.crossJoin(est)
      .select(col("n_skus"), col("f1"),
        col("f2_exact").cast("long").as("f2_exact"),
        col("f2_est").cast("long").as("f2_est"),
        expr("CAST(CASE WHEN (f2_est - f2_exact < 0) THEN -1 ELSE 1 END" +
          " * (abs(f2_est - f2_exact) * 1000 DIV f2_exact) AS BIGINT)")
          .as("err_milli"))
  }

  def amsF2Sql(replicas: Int = 12, perGroup: Int = 3): String = {
    val P = 1000003L
    def sign(k: String) =
      s"CASE WHEN (($k * (37 + 101 * j) + (17 + 61 * j)) % $P) % 2 = 0" +
        s" THEN 1 ELSE -1 END"
    s"""WITH skus AS (SELECT l_partkey AS sku FROM lineitem),
       |z AS (
       |  SELECT j, CAST(SUM(${sign("sku")}) AS HUGEINT) AS z
       |  FROM skus CROSS JOIN (SELECT unnest(range($replicas)) AS j) d
       |  GROUP BY j),
       |means AS (
       |  SELECT j // $perGroup AS g,
       |    CAST(SUM(z * z) AS HUGEINT) // $perGroup AS mean_z2
       |  FROM z GROUP BY 1),
       |est AS (
       |  SELECT mean_z2 AS f2_est FROM (
       |    SELECT mean_z2, g,
       |      ROW_NUMBER() OVER (ORDER BY mean_z2, g) AS rn FROM means) q
       |  WHERE rn = ${(replicas / perGroup + 1) / 2}),
       |exact AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_skus,
       |    CAST(SUM(f) AS BIGINT) AS f1,
       |    CAST(SUM(f * f) AS HUGEINT) AS f2_exact
       |  FROM (SELECT sku, CAST(COUNT(*) AS HUGEINT) AS f
       |        FROM skus GROUP BY 1) q)
       |SELECT n_skus, f1, CAST(f2_exact AS BIGINT) AS f2_exact,
       |  CAST(f2_est AS BIGINT) AS f2_est,
       |  CAST(CASE WHEN (f2_est - f2_exact < 0) THEN -1 ELSE 1 END
       |    * (abs(f2_est - f2_exact) * 1000 // f2_exact) AS BIGINT)
       |    AS err_milli
       |FROM exact CROSS JOIN est""".stripMargin
  }
}
