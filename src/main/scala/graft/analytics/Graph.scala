package graft.analytics

import graft.model.{Silver, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TRIANGLE CENSUS over the SKU co-purchase graph — the canonical
  * "join that must be oriented or it explodes" operator class, absent
  * from the inventory until now. Nodes are SKUs, an edge (a, b) means
  * the two SKUs co-occur in at least `minSupport` distinct orders
  * (a31's basket relation is the incidence list). Exact triangle
  * counting is Θ(Σ_v outdeg(v)²) wedge work, so the 100 TB posture is
  * the published two-step discipline, and each key demonstrates one:
  *
  *  - g1: EXACT census on the SUPPORT-PRUNED graph (minSupport ≥ 2 —
  *    the k-truss-style prefilter every production pipeline applies
  *    before exact counting), wedges generated under the DEGREE-ORDERED
  *    ORIENTATION (Chiba–Nishizeki / Suri–Vassilvitskii "Counting
  *    triangles and the curse of the last reducer", WWW 2011): each
  *    edge points from its lower-(degree, id) endpoint to the higher,
  *    so every triangle is generated from exactly ONE wedge at its
  *    lowest-order apex and per-apex fan-out is bounded by O(√m)
  *    instead of max-degree — the skewed-hub wedge explosion cannot
  *    happen regardless of degree distribution.
  *  - g2: DOULION (Tsourakakis et al., KDD 2009) — count on a
  *    deterministic 1/p edge sample and scale by p³: the estimator
  *    that makes the FULL unpruned graph tractable. Sampling is the
  *    house multiplicative hash on the (sa, sb) pair, so both engines
  *    draw the identical subgraph and the "estimate" is an exact
  *    integer the oracle hash-matches (the statistical guarantee —
  *    unbiasedness, concentration for T = Ω(n) — is the cited paper's;
  *    the oracle certifies the arithmetic, GraphSpec the census).
  *
  * Both readouts also report the UNORIENTED wedge count Σ d(d−1)/2
  * (orientation-free, so the oracle's naive id-ordered triple join
  * agrees) and the global clustering coefficient 3T·1000 DIV W in
  * milli. All counts are exact BIGINTs.
  *
  * Scale shape: the (sa, sb, c) co-occurrence relation is ONE
  * basket-keyed self-join + pair aggregate, memoized as a plan leaf
  * and shared by g1/g2 (and priced once per session like a31's basket
  * silver). Everything downstream is EDGE-sized: degree agg, okey
  * decoration joins, the lo-keyed wedge self-join, and the (lo, hi)
  * pair-keyed closing join — never node-quadratic, and the oriented
  * fan-out bound caps the wedge relation at O(m^1.5) with the skew
  * immunity argued above. Reference analogue: none (the reference has
  * no graph surface); this extends SURVEY §2.4's join inventory with
  * the self-join-with-orientation class. */
object Graph {

  /** Distinct (basket, item) pairs — the shared base of the pair leaf
    * and g3's item/basket supports, leaf-memoized so neither consumer
    * re-pays the distinct. Shared with a31 (Kpis.basketAffinity), whose
    * basket relation is definitionally identical. */
  private[analytics] def baskets(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "graphBaskets", dir) {
      Tables.sales(spark, dir)
        .select(col("l_orderkey").as("order_id"), col("sku")).distinct()
    }

  /** Distinct co-purchase pairs (sa < sb) with their support count —
    * the shared edge universe of g1/g2/g3 AND a31's market-basket
    * counts (one co-occurrence silver per session, the maintained
    * co-purchase table an association-mining family shares at scale). */
  private[analytics] def coPairs(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "coPairs", dir) {
      val baskets = this.baskets(spark, dir)
      baskets.select(col("order_id"), col("sku").as("sa"))
        .join(baskets.select(col("order_id"), col("sku").as("sb")),
          Seq("order_id"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb"))
        .agg(count(lit(1)).as("c"))
    }

  /** The support-pruned undirected edge set (sa < sb, c ≥ minSupport)
    * — the one edge silver of g4–g7. */
  private def supportEdges(spark: SparkSession, dir: String,
                           minSupport: Int): DataFrame =
    Silver.memoize(spark, s"lpEdges:$minSupport", dir) {
      coPairs(spark, dir).filter(col("c") >= minSupport)
        .select(col("sa"), col("sb"))
    }

  /** The support-pruned graph as both directed arcs (src, dst, c) —
    * the weighted edge silver of g8/g9. */
  private def directedEdges(spark: SparkSession, dir: String,
                            minSupport: Int): DataFrame =
    Silver.memoize(spark, s"pprEdges:$minSupport", dir) {
      val e = coPairs(spark, dir).filter(col("c") >= minSupport)
        .select(col("sa"), col("sb"), col("c"))
      e.select(col("sa").as("src"), col("sb").as("dst"), col("c"))
        .unionAll(e.select(col("sb").as("src"), col("sa").as("dst"), col("c")))
    }

  /** Degree-oriented edge list (lo → hi by ascending (deg, id) okey)
    * of the given edge subset, leaf-memoized: the wedge and closing
    * joins each read it twice and must not rebuild the degree pass. */
  private def oriented(spark: SparkSession, dir: String, tag: String)
                      (edges: DataFrame => DataFrame): DataFrame =
    Silver.memoize(spark, s"triOriented:$tag", dir) {
      val e = edges(coPairs(spark, dir)).select(col("sa"), col("sb"))
      val deg = e.select(col("sa").as("v"))
        .unionAll(e.select(col("sb").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      // okey: one BIGINT realizing the (deg, id) total order
      val ok = deg.select(col("v"),
        (col("deg") * lit(4294967296L) + col("v")).as("okey"))
      e.join(ok.select(col("v").as("sa"), col("okey").as("ka")), "sa")
        .join(ok.select(col("v").as("sb"), col("okey").as("kb")), "sb")
        .select(
          when(col("ka") < col("kb"), col("sa")).otherwise(col("sb")).as("lo"),
          when(col("ka") < col("kb"), col("sb")).otherwise(col("sa")).as("hi"),
          least(col("ka"), col("kb")).as("klo"),
          greatest(col("ka"), col("kb")).as("khi"))
    }

  /** Census over one oriented edge set: nodes, edges, unoriented
    * wedges, exact triangles, clustering in milli. */
  private def census(o: DataFrame, e: DataFrame): DataFrame = {
    val tri = o.select(col("lo"), col("hi").as("h1"), col("khi").as("k1"))
      .join(o.select(col("lo"), col("hi").as("h2"), col("khi").as("k2")),
        Seq("lo"))
      .filter(col("k1") < col("k2"))
      .join(o.select(col("lo").as("h1"), col("hi").as("h2")), Seq("h1", "h2"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("sa").as("v"))
      .unionAll(e.select(col("sb").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // integer DIV throughout: `/` on longs is double division in Spark
    // and a summed double is not exact past 2^52
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      expr("SUM(deg) DIV 2").as("n_edges"),
      expr("SUM(deg * (deg - 1) DIV 2)").cast("long").as("n_wedges"))
    stats.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("3 * n_triangles * 1000 DIV n_wedges")).as("clustering_milli"))
  }

  /** g1: exact triangle census on the support-pruned graph. */
  def triangleCensus(spark: SparkSession, dir: String,
                     minSupport: Int = 2): DataFrame = {
    val edges = coPairs(spark, dir).filter(col("c") >= minSupport)
    census(oriented(spark, dir, s"sup$minSupport")(
      _.filter(col("c") >= minSupport)), edges)
  }

  /** The DOULION edge-keeper predicate: the house multiplicative hash
    * of the pair, mod pInv. Mod BEFORE the golden-ratio multiply keeps
    * every intermediate < 2^61. */
  private def sampled(pInv: Int)(pairs: DataFrame): DataFrame =
    pairs.filter(
      pmod(pmod(col("sa") * lit(1000003L) + col("sb"), lit(1000000007L)) *
        lit(2654435761L), lit(1000000007L)) % pInv === 0L)

  /** g2: DOULION estimate on the full (support ≥ 1) graph. */
  def triangleDoulion(spark: SparkSession, dir: String,
                      pInv: Int = 8): DataFrame = {
    val edges = sampled(pInv)(coPairs(spark, dir))
    census(oriented(spark, dir, s"doulion$pInv")(sampled(pInv)), edges)
      .select(lit(pInv.toLong).as("p_inv"),
        col("n_nodes").as("n_nodes_sampled"),
        col("n_edges").as("n_edges_sampled"),
        col("n_wedges").as("n_wedges_sampled"),
        col("n_triangles").as("n_triangles_sampled"),
        (col("n_triangles") * lit(pInv.toLong) * pInv * pInv)
          .as("est_triangles"))
  }

  private def pairsCte: String =
    """baskets AS (SELECT DISTINCT l_orderkey AS order_id, l_partkey AS sku
      |  FROM lineitem),
      |pairs AS (
      |  SELECT a.sku AS sa, b.sku AS sb, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM baskets a JOIN baskets b
      |    ON a.order_id = b.order_id AND a.sku < b.sku
      |  GROUP BY 1, 2)""".stripMargin

  /** Orientation-free oracle: naive id-ordered triple join (the count
    * is orientation-invariant) + degree-derived wedge count. */
  private def censusSql(edgeCte: String, select: String): String =
    s"""WITH $pairsCte,
       |e AS ($edgeCte),
       |deg AS (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM (SELECT sa AS v FROM e UNION ALL SELECT sb AS v FROM e) q
       |  GROUP BY 1),
       |tri AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       |  FROM e x JOIN e y ON y.sa = x.sa AND y.sb > x.sb
       |           JOIN e z ON z.sa = x.sb AND z.sb = y.sb),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(deg) // 2 AS BIGINT) AS n_edges,
       |    CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg)
       |SELECT $select FROM stats CROSS JOIN tri""".stripMargin

  def triangleCensusSql(minSupport: Int = 2): String =
    censusSql(s"SELECT sa, sb FROM pairs WHERE c >= $minSupport",
      """n_nodes, n_edges, n_wedges, n_triangles,
        |  CASE WHEN n_wedges > 0
        |    THEN 3 * n_triangles * 1000 // n_wedges END AS clustering_milli"""
        .stripMargin)

  def triangleDoulionSql(pInv: Int = 8): String =
    censusSql(
      s"""SELECT sa, sb FROM pairs
         |  WHERE ((sa * 1000003 + sb) % 1000000007) * 2654435761
         |    % 1000000007 % $pInv = 0""".stripMargin,
      s"""CAST($pInv AS BIGINT) AS p_inv, n_nodes AS n_nodes_sampled,
         |  n_edges AS n_edges_sampled, n_wedges AS n_wedges_sampled,
         |  n_triangles AS n_triangles_sampled,
         |  n_triangles * ${pInv.toLong * pInv * pInv} AS est_triangles"""
        .stripMargin)

  /** g3: ASSOCIATION RULES over the same co-purchase universe — the
    * market-basket readout (Agrawal/Srikant Apriori at depth 2, the
    * depth that carries nearly all retail signal): every supported pair
    * unfolds into its two directed rules a→b / b→a with
    *
    *   confidence = supp(ab) / supp(a)      (milli, integer DIV)
    *   lift       = supp(ab)·N / (supp(a)·supp(b))   (milli)
    *
    * kept when support ≥ minSupport and confidence ≥ minConf, top-k by
    * (lift, confidence) with full deterministic tie order. Integer
    * end-to-end: supp ≤ |baskets| ≈ 2^24 at 100 TB and the lift
    * numerator c·N·1000 stays < 2^63.
    *
    * Scale shape: the pair leaf is g1's memoized co-pair aggregate
    * (priced once per session); item supports are one sku-keyed agg of
    * the SAME basket relation; decorating pairs with two supports is a
    * pair-keyed join against the item dimension (broadcast at any
    * realistic |items|); the readout is TakeOrderedAndProject — per-
    * partition heaps, no global sort. */
  def assocRules(spark: SparkSession, dir: String, minSupport: Int = 3,
                 minConfMilli: Long = 50L, topK: Int = 50): DataFrame = {
    val b = baskets(spark, dir)
    val itemSupp = b.groupBy(col("sku")).agg(count(lit(1)).as("supp"))
    val nBaskets = b.select(col("order_id")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val pairs = coPairs(spark, dir).filter(col("c") >= minSupport)
    val directed = pairs
      .select(col("sa").as("antecedent"), col("sb").as("consequent"), col("c"))
      .unionAll(pairs
        .select(col("sb").as("antecedent"), col("sa").as("consequent"), col("c")))
    directed
      .join(itemSupp.select(col("sku").as("antecedent"),
        col("supp").as("ante_supp")), "antecedent")
      .join(itemSupp.select(col("sku").as("consequent"),
        col("supp").as("cons_supp")), "consequent")
      .crossJoin(broadcast(nBaskets))
      .withColumn("confidence_milli", expr("c * 1000 DIV ante_supp"))
      .filter(col("confidence_milli") >= minConfMilli)
      .withColumn("lift_milli",
        expr("c * n_baskets * 1000 DIV (ante_supp * cons_supp)"))
      .select(col("antecedent"), col("consequent"),
        col("c").as("pair_supp"), col("ante_supp"), col("cons_supp"),
        col("n_baskets"), col("confidence_milli"), col("lift_milli"))
      .orderBy(col("lift_milli").desc, col("confidence_milli").desc,
        col("antecedent"), col("consequent"))
      .limit(topK)
  }

  def assocRulesSql(minSupport: Int = 3, minConfMilli: Long = 50L,
                    topK: Int = 50): String =
    s"""WITH $pairsCte,
       |item AS (SELECT sku, CAST(COUNT(*) AS BIGINT) AS supp
       |  FROM baskets GROUP BY 1),
       |nb AS (SELECT CAST(COUNT(DISTINCT order_id) AS BIGINT) AS n_baskets
       |  FROM baskets),
       |directed AS (
       |  SELECT sa AS antecedent, sb AS consequent, c
       |  FROM pairs WHERE c >= $minSupport
       |  UNION ALL
       |  SELECT sb, sa, c FROM pairs WHERE c >= $minSupport),
       |scored AS (
       |  SELECT d.antecedent, d.consequent, d.c AS pair_supp,
       |    a.supp AS ante_supp, b.supp AS cons_supp, n_baskets,
       |    d.c * 1000 // a.supp AS confidence_milli,
       |    d.c * n_baskets * 1000 // (a.supp * b.supp) AS lift_milli
       |  FROM directed d
       |  JOIN item a ON d.antecedent = a.sku
       |  JOIN item b ON d.consequent = b.sku
       |  CROSS JOIN nb)
       |SELECT * FROM scored
       |WHERE confidence_milli >= $minConfMilli
       |ORDER BY lift_milli DESC, confidence_milli DESC, antecedent, consequent
       |LIMIT $topK""".stripMargin

  /** How many peel rounds the k-core ORACLE unrolls. The Spark side
    * peels to FIXPOINT and `require`s it lands within this budget, so
    * a data shape needing more rounds fails LOUDLY instead of silently
    * hash-mismatching the unrolled oracle. Peeling converges in a few
    * rounds on co-purchase graphs (each round removes the whole
    * current fringe); 16 is several times the observed depth. */
  private val KCoreMaxRounds = 16

  /** g4: K-CORE DECOMPOSITION (k = 3) over the support-pruned
    * co-purchase graph — the standard "dense nucleus" extraction
    * (Seidman 1983; the degeneracy peel every graph-analytics stack
    * ships): repeatedly delete vertices with fewer than k surviving
    * neighbors until none remain. Complements g1's triangles (local
    * density) with the global cohesive core, and is the classic
    * prefilter before community detection on a 100 TB graph.
    *
    * Scale shape: the edge universe is g1's memoized co-pair leaf;
    * each peel round is TWO survivor semi-joins + one degree
    * aggregate — all keyed on the vertex id, edge-sized, never
    * node-quadratic — and each round is a [[Silver.iterate]] leaf whose
    * measured row count is the convergence test (the survivors stop
    * shrinking), so a round is one job. Rounds = peel depth (graph-dependent,
    * small on dense co-occurrence graphs; bounded by the loud
    * [[KCoreMaxRounds]] contract shared with the oracle's unroll —
    * an oracle round PAST the fixpoint is a no-op, so unrolling more
    * rounds than needed is harmless). Readout: one row — graph and
    * core sizes, core share, core density in milli. */
  def kCore(spark: SparkSession, dir: String, k: Int = 3,
            minSupport: Int = 2): DataFrame = {
    val edges = supportEdges(spark, dir, minSupport)
    val core = Silver.memoize(spark, s"kcore:$k:$minSupport", dir) {
      val peel = Silver.iterate(edges.select(col("sa").as("v"))
        .unionAll(edges.select(col("sb").as("v"))).distinct(), KCoreMaxRounds) {
        (surv, _) =>
          val alive = edges
            .join(surv.select(col("v").as("sa")), Seq("sa"), "left_semi")
            .join(surv.select(col("v").as("sb")), Seq("sb"), "left_semi")
          alive.select(col("sa").as("v"))
            .unionAll(alive.select(col("sb").as("v")))
            .groupBy(col("v")).agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k).select(col("v"))
      }(Some((_, before, after) => after == before))
      require(peel.converged,
        s"k-core peel did not converge in $KCoreMaxRounds rounds — " +
          "raise KCoreMaxRounds AND the oracle unroll together")
      peel.last
    }
    val graphStats = edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(edges.select(col("sa").as("v"))
        .unionAll(edges.select(col("sb").as("v"))).distinct()
        .agg(count(lit(1)).as("n_nodes")))
    val coreEdges = edges
      .join(core.select(col("v").as("sa")), Seq("sa"), "left_semi")
      .join(core.select(col("v").as("sb")), Seq("sb"), "left_semi")
      .agg(count(lit(1)).as("n_core_edges"))
    val coreNodes = core.agg(count(lit(1)).as("n_core_nodes"))
    graphStats.crossJoin(coreNodes).crossJoin(coreEdges)
      .select(lit(k.toLong).as("k"), col("n_nodes"), col("n_edges"),
        col("n_core_nodes"), col("n_core_edges"),
        when(col("n_nodes") > 0,
          expr("n_core_nodes * 1000 DIV n_nodes")).as("core_share_milli"),
        when(col("n_core_nodes") > 1,
          expr("2 * n_core_edges * 1000 DIV (n_core_nodes * (n_core_nodes - 1))"))
          .as("core_density_milli"))
  }

  def kCoreSql(k: Int = 3, minSupport: Int = 2): String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    // each round references its predecessor TWICE — un-materialized,
    // r16 would inline 2^16 copies of the base scan (observed as "too
    // many open files" before it even plans)
    val rounds = (1 to KCoreMaxRounds).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""r$i AS MATERIALIZED (
         |  SELECT v FROM (
         |    SELECT v, COUNT(*) AS deg FROM (
         |      SELECT e.sa AS v FROM e
         |        JOIN $prev p ON e.sa = p.v JOIN $prev q ON e.sb = q.v
         |      UNION ALL
         |      SELECT e.sb AS v FROM e
         |        JOIN $prev p ON e.sa = p.v JOIN $prev q ON e.sb = q.v) d
         |    GROUP BY v) g
         |  WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    val last = s"r$KCoreMaxRounds"
    s"""WITH $pairsCte,
       |e AS MATERIALIZED (SELECT sa, sb FROM pairs WHERE c >= $minSupport),
       |r0 AS MATERIALIZED (
       |  SELECT DISTINCT v FROM (
       |    SELECT sa AS v FROM e UNION ALL SELECT sb AS v FROM e) q),
       |$rounds,
       |graph_stats AS (
       |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM r0) AS n_nodes),
       |core_nodes AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_core_nodes FROM $last),
       |core_edges AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_core_edges
       |  FROM e JOIN $last p ON e.sa = p.v JOIN $last q ON e.sb = q.v)
       |SELECT CAST($k AS BIGINT) AS k, n_nodes, n_edges, n_core_nodes,
       |  n_core_edges,
       |  CASE WHEN n_nodes > 0
       |    THEN n_core_nodes * 1000 // n_nodes END AS core_share_milli,
       |  CASE WHEN n_core_nodes > 1
       |    THEN 2 * n_core_edges * 1000 // (n_core_nodes * (n_core_nodes - 1))
       |    END AS core_density_milli
       |FROM graph_stats CROSS JOIN core_nodes CROSS JOIN core_edges"""
      .stripMargin
  }

  /** g5: LINK PREDICTION over the support-pruned co-purchase graph —
    * the neighborhood-overlap scoring family every recommender /
    * graph-completion stack ships (Liben-Nowell & Kleinberg CIKM'03):
    * for every NON-adjacent pair (a, b) sharing at least one common
    * neighbor, emit
    *
    *   cn            — common-neighbor count
    *   jaccard_milli — 1000·|N(a)∩N(b)| DIV |N(a)∪N(b)|
    *   ra_micro      — Σ_{z∈N(a)∩N(b)} 1000000 DIV deg(z)
    *                   (Resource Allocation, Zhou/Lü/Zhang EPJ B 2009 —
    *                   the Adamic–Adar variant whose 1/deg weight stays
    *                   EXACT in integer micro units, no float log)
    *
    * top-k by (ra_micro, cn, sa, sb) — a full deterministic tie order,
    * so the k-cut is engine-independent.
    *
    * Scale shape: candidates are generated ONLY through wedges — a
    * self-join of the neighbor list on the apex z with a < b — so work
    * is Σ_z C(deg z, 2), never node-quadratic, and apexes are
    * DEGREE-CAPPED by the wedge-budgeted ladder ([[LinkPredCapLadder]]
    * / [[LinkPredWedgeBudget]]): a star hub's wedge set is quadratic
    * in its degree while each 1/deg term contributes almost nothing to
    * RA — the same df-cap discipline as d4's inverted index, but
    * AUTO-TUNED, because an absolute cap cannot survive the graph
    * densification that comes with volume (the cap choice is a pure
    * function of the degree histogram and the oracle recomputes it
    * identically). Jaccard denominators use the UNCAPPED true
    * degrees. Everything downstream is wedge-/edge-sized: one
    * (a, b) aggregate, one anti join against the edge set, two
    * degree-decoration joins against the node dimension, and a
    * TakeOrderedAndProject readout (per-partition heaps, no global
    * sort). Reference analogue: none (no graph surface in the
    * reference); extends the §2.4 self-join class with the
    * wedge-scored NON-edge readout. */
  def linkPrediction(spark: SparkSession, dir: String, minSupport: Int = 2,
                     topK: Int = 30): DataFrame = {
    val e = supportEdges(spark, dir, minSupport)
    val nbr = e.select(col("sa").as("z"), col("sb").as("n"))
      .unionAll(e.select(col("sb").as("z"), col("sa").as("n")))
    // the degree relation is node-dimension-sized (the SKU catalog) —
    // leaf-memoized (built once, three consumers) and broadcast
    // everywhere it decorates an edge-/wedge-sized stream
    val deg = Silver.memoize(spark, s"lpDeg:$minSupport", dir) {
      nbr.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    }
    // WEDGE-BUDGETED apex cap: the largest cap in the fixed ladder
    // whose total wedge work Σ_{deg≤cap} C(deg, 2) fits the budget — a
    // pure function of the degree histogram, computed identically in
    // the oracle. An absolute cap cannot hold across scales: more
    // volume densifies the co-purchase graph until a fixed support
    // threshold stops pruning (measured: the 10x replica pushes every
    // pair past support 2 and cap-256 wedges to 1.5e8), and wedge work
    // is THE cost of exact neighborhood scoring. The ladder keeps the
    // choice deterministic; the budget bounds the stage at any SF.
    val ladderSums = LinkPredCapLadder.map(c =>
      coalesce(sum(when(col("deg") <= c,
        expr("deg * (deg - 1) DIV 2"))), lit(0L)).as(s"w$c"))
    // ascending fold -> the LARGEST satisfying cap ends up outermost
    // (wedge sums are cumulative in the cap, so the first hit wins)
    val capRow = deg.agg(ladderSums.head, ladderSums.tail: _*)
      .select(LinkPredCapLadder.foldLeft(
        lit(LinkPredCapLadder.head.toLong)) { (acc, c) =>
        when(col(s"w$c") <= LinkPredWedgeBudget, lit(c.toLong)).otherwise(acc)
      }.as("cap"))
    val apex = nbr.join(broadcast(deg), "z")
      .crossJoin(broadcast(capRow))
      .filter(col("deg") <= col("cap"))
    val wedges = apex.select(col("z"), col("deg"), col("n").as("a"))
      .join(apex.select(col("z"), col("n").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
    val scored = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 DIV deg")).as("ra_micro"))
    scored
      .join(e.select(col("sa").as("a"), col("sb").as("b")),
        Seq("a", "b"), "left_anti")
      .join(broadcast(deg.select(col("z").as("a"), col("deg").as("deg_a"))),
        "a")
      .join(broadcast(deg.select(col("z").as("b"), col("deg").as("deg_b"))),
        "b")
      .select(col("a").as("sa"), col("b").as("sb"), col("cn"),
        col("deg_a"), col("deg_b"),
        expr("cn * 1000 DIV (deg_a + deg_b - cn)").as("jaccard_milli"),
        col("ra_micro"))
      .orderBy(col("ra_micro").desc, col("cn").desc, col("sa"), col("sb"))
      .limit(topK)
  }

  /** Apex-degree cap ladder for g5's wedge budgeting — fixed so the
    * chosen cap is a deterministic pure function of the degree
    * histogram, mirrored in the oracle. */
  private val LinkPredCapLadder = Seq(8, 16, 32, 64, 128, 256)

  /** Upper bound on Σ_{deg≤cap} C(deg, 2) — the wedge rows the scoring
    * stage is allowed to generate at any SF. */
  private val LinkPredWedgeBudget = 20000000L

  /** Hop budget for g6 — the cap IS the declared semantics (nodes
    * farther than this report as unreached, hop −1), so unlike g4's
    * fixpoint there is no convergence contract to enforce. */
  private val BfsMaxHops = 8

  /** Seed-set size for g6: the [[BfsSeeds]] smallest node ids — a
    * deterministic stand-in for "the hub/landmark set" of a
    * multi-source distance query. */
  private val BfsSeeds = 8

  /** g6: MULTI-SOURCE BFS HOP PROFILE over the support-pruned
    * co-purchase graph — the reachability / shortest-path-class
    * operator (landmark distance, "how far is every product from the
    * core assortment"): exact hop distance from the nearest of
    * [[BfsSeeds]] seed nodes, capped at [[BfsMaxHops]], read out as
    * the hop histogram (n_nodes per hop, per-mille share) with the
    * unreached remainder reported at hop −1. Completes the graph
    * family's traversal class next to g1/g2 (local density), g4
    * (global core), g5 (non-edge scoring), er3/d6 (components).
    *
    * Scale shape: each round is ONE frontier-keyed join against the
    * neighbor list + an anti join against the visited set — edge- and
    * node-sized relations only, never node-quadratic. The visited set
    * is the [[Silver.iterate]] state (the frontier is its last hop),
    * one leaf and one job per round, and the loop EXITS EARLY when the
    * visited rows stop growing (at most [[BfsMaxHops]] rounds — a
    * fixed, data-independent bound, so the oracle's unroll is total;
    * the cap is silent by declaration). The readout is a ≤10-row aggregate.
    * Edge universe = the memoized [[supportEdges]] leaf g4–g7 share
    * (priced once per session). */
  def bfsHops(spark: SparkSession, dir: String, minSupport: Int = 2)
  : DataFrame = {
    val e = supportEdges(spark, dir, minSupport)
    val nbr = e.select(col("sa").as("z"), col("sb").as("n"))
      .unionAll(e.select(col("sb").as("z"), col("sa").as("n")))
    val nodes = Silver.memoize(spark, s"bfsNodes:$minSupport", dir) {
      e.select(col("sa").as("v")).unionAll(e.select(col("sb").as("v")))
        .distinct()
    }
    val dist = Silver.memoize(spark, s"bfsDist:$minSupport", dir) {
      Silver.iterate(nodes.orderBy(col("v")).limit(BfsSeeds)
        .select(col("v"), lit(0L).as("hop")), BfsMaxHops) { (visited, hop) =>
        val frontier = visited.filter(col("hop") === hop - 1L).select(col("v"))
        visited.unionAll(frontier.join(nbr, frontier("v") === nbr("z"))
          .select(col("n").as("v")).distinct()
          .join(visited, Seq("v"), "left_anti")
          .select(col("v"), lit(hop.toLong).as("hop")))
      }(Some((_, before, after) => after == before)).last
    }
    val n = nodes.agg(count(lit(1)).as("n_total"))
    val reached = dist.groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
    val unreached = nodes.join(dist.select(col("v")), Seq("v"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(-1L).as("hop"), col("n_nodes"))
    reached.unionByName(unreached).crossJoin(broadcast(n))
      .select(col("hop"), col("n_nodes"),
        // empty-graph guard: ANSI DIV throws on 0 where DuckDB // NULLs
        expr("CASE WHEN n_total = 0 THEN NULL" +
          " ELSE n_nodes * 1000 DIV n_total END").as("share_milli"))
      .orderBy(col("hop"))
  }

  /** Synchronous LPA rounds for g7 — a FIXED snapshot count (declared
    * semantics, mirrored by the oracle's unroll; synchronous LPA can
    * oscillate, so a convergence contract would be wrong here). */
  private val LpaRounds = 4

  /** How many communities g7 reads out (by size desc, label asc). */
  private val LpaTopK = 20

  /** g7: LABEL-PROPAGATION COMMUNITIES — the near-linear community
    * detection of Raghavan/Albert/Kumara (Phys. Rev. E 2007) over the
    * support-pruned co-purchase graph, DETERMINISTIC variant: labels
    * start as node ids and for [[LpaRounds]] synchronous rounds every
    * node adopts the most frequent label among its neighbors, ties to
    * the SMALLEST label (the classic random tie-break replaced by a
    * total order so both engines propagate identically). Readout: the
    * [[LpaTopK]] largest communities with internal edge counts,
    * internal density, node share — and NEWMAN MODULARITY of the full
    * partition in milli, computed EXACTLY:
    * Q = Σ_c (4·m·e_c − d_c²) / (4·m²), accumulated in DECIMAL(38,0)
    * (numerator·1000 overflows BIGINT once m reaches ~10⁹ edges) with
    * the sign-explicit division (Q can be negative).
    *
    * Scale shape: each round is ONE neighbor-label join (edge-sized)
    * + a (v, label) count + a per-node argmax via min(struct) — all
    * keyed exchanges, never node-quadratic; each round is a
    * [[Silver.iterate]] leaf. The community rollup, degree join, and
    * modularity fold are node-/community-sized; the top-k cut is
    * TakeOrderedAndProject. Complements g4 (one dense core) with the
    * full partition of the graph. */
  def lpaCommunities(spark: SparkSession, dir: String,
                     minSupport: Int = 2): DataFrame = {
    val e = supportEdges(spark, dir, minSupport)
    val nbr = e.select(col("sa").as("v"), col("sb").as("n"))
      .unionAll(e.select(col("sb").as("v"), col("sa").as("n")))
    val labels = Silver.memoize(spark, s"lpaLabels:$minSupport", dir) {
      Silver.iterate(nbr.select(col("v")).distinct()
        .select(col("v"), col("v").as("lbl")), LpaRounds) { (lbl, _) =>
        nbr
          .join(lbl.select(col("v").as("n"), col("lbl").as("nbl")), "n")
          .groupBy(col("v"), col("nbl")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("v"))
          .agg(min(struct((-col("cnt")).as("nc"), col("nbl"))).as("k"))
          .select(col("v"), col("k.nbl").as("lbl"))
      }().last
    }
    val dec38 = "decimal(38,0)"
    val m = e.agg(count(lit(1)).as("m")) // 1 row
    val la = labels.select(col("v").as("sa"), col("lbl").as("la"))
    val lb = labels.select(col("v").as("sb"), col("lbl").as("lb"))
    // internal edges per community; cross-community edges drop out
    val internal = e.join(la, "sa").join(lb, "sb")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_c"))
    val deg = nbr.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val comm = labels.join(deg, "v")
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_c"))
      .join(internal, Seq("lbl"), "left")
      .select(col("lbl"), col("n_nodes"),
        coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"))
    val nTotal = labels.agg(count(lit(1)).as("n_total"))
    // modularity numerator folds over ALL communities before the one
    // sign-explicit division
    val q = comm.crossJoin(broadcast(m))
      .agg(sum((lit(4).cast(dec38) * col("m") * col("e_c") -
        col("d_c").cast(dec38) * col("d_c"))).as("num"),
        max(col("m")).as("m"))
      .select(expr("CAST(CASE WHEN m = 0 THEN NULL ELSE " +
        "CASE WHEN num < 0 THEN -1 ELSE 1 END * " +
        s"(abs(num) * 1000 DIV (CAST(4 AS $dec38) * m * m)) END AS BIGINT)")
        .as("modularity_milli"))
    comm.crossJoin(broadcast(nTotal)).crossJoin(broadcast(q))
      .select(col("lbl").as("community"), col("n_nodes"), col("e_c"),
        when(col("n_nodes") > 1,
          expr("2 * e_c * 1000 DIV (n_nodes * (n_nodes - 1))"))
          .as("density_milli"),
        expr("CASE WHEN n_total = 0 THEN NULL" +
          " ELSE n_nodes * 1000 DIV n_total END").as("share_milli"),
        col("modularity_milli"))
      .orderBy(col("n_nodes").desc, col("community"))
      .limit(LpaTopK)
  }

  def lpaCommunitiesSql(minSupport: Int = 2): String = {
    val rounds = (1 to LpaRounds).map { i =>
      val prev = s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
         |  SELECT v, nbl AS lbl FROM (
         |    SELECT v, nbl, ROW_NUMBER() OVER (
         |      PARTITION BY v ORDER BY cnt DESC, nbl) AS rn
         |    FROM (
         |      SELECT nbr.v, p.lbl AS nbl, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM nbr JOIN $prev p ON nbr.n = p.v
         |      GROUP BY 1, 2) g) r
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val last = s"l$LpaRounds"
    s"""WITH $pairsCte,
       |e AS MATERIALIZED (SELECT sa, sb FROM pairs WHERE c >= $minSupport),
       |nbr AS MATERIALIZED (
       |  SELECT sa AS v, sb AS n FROM e
       |  UNION ALL SELECT sb AS v, sa AS n FROM e),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT v, v AS lbl FROM nbr),
       |$rounds,
       |mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM e),
       |internal AS (
       |  SELECT a.lbl, CAST(COUNT(*) AS BIGINT) AS e_c
       |  FROM e JOIN $last a ON e.sa = a.v JOIN $last b ON e.sb = b.v
       |  WHERE a.lbl = b.lbl GROUP BY 1),
       |deg AS (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY 1),
       |comm AS (
       |  SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(d.deg) AS BIGINT) AS d_c
       |  FROM $last l JOIN deg d ON l.v = d.v GROUP BY 1),
       |comm2 AS (
       |  SELECT c.lbl, c.n_nodes, COALESCE(i.e_c, 0) AS e_c, c.d_c
       |  FROM comm c LEFT JOIN internal i ON c.lbl = i.lbl),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total
       |  FROM (SELECT DISTINCT v FROM nbr) q),
       |q AS (
       |  SELECT CAST(CASE WHEN m = 0 THEN NULL ELSE
       |    CASE WHEN num < 0 THEN -1 ELSE 1 END *
       |    (abs(num) * 1000 // (4 * m * m)) END AS BIGINT)
       |    AS modularity_milli
       |  FROM (
       |    SELECT CAST(SUM(4 * m * e_c - CAST(d_c AS HUGEINT) * d_c)
       |      AS HUGEINT) AS num, MAX(m) AS m
       |    FROM comm2 CROSS JOIN mm) s)
       |SELECT lbl AS community, n_nodes, e_c,
       |  CASE WHEN n_nodes > 1
       |    THEN 2 * e_c * 1000 // (n_nodes * (n_nodes - 1)) END
       |    AS density_milli,
       |  n_nodes * 1000 // n_total AS share_milli,
       |  modularity_milli
       |FROM comm2 CROSS JOIN nt CROSS JOIN q
       |ORDER BY n_nodes DESC, community
       |LIMIT $LpaTopK""".stripMargin
  }

  def bfsHopsSql(minSupport: Int = 2): String = {
    val rounds = (1 to BfsMaxHops).map { i =>
      val pf = s"f${i - 1}"
      val pv = s"vis${i - 1}"
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT nbr.n AS v FROM nbr JOIN $pf p ON nbr.z = p.v
         |  EXCEPT SELECT v FROM $pv),
         |vis$i AS MATERIALIZED (
         |  SELECT v FROM $pv UNION SELECT v FROM f$i)""".stripMargin
    }.mkString(",\n")
    val hopRows = (0 to BfsMaxHops)
      .map(i => s"SELECT v, CAST($i AS BIGINT) AS hop FROM f$i")
      .mkString("\n  UNION ALL ")
    s"""WITH $pairsCte,
       |e AS MATERIALIZED (SELECT sa, sb FROM pairs WHERE c >= $minSupport),
       |nbr AS MATERIALIZED (
       |  SELECT sa AS z, sb AS n FROM e
       |  UNION ALL SELECT sb AS z, sa AS n FROM e),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT v FROM (
       |    SELECT sa AS v FROM e UNION ALL SELECT sb AS v FROM e) q),
       |f0 AS MATERIALIZED (SELECT v FROM nodes ORDER BY v LIMIT $BfsSeeds),
       |vis0 AS MATERIALIZED (SELECT v FROM f0),
       |$rounds,
       |dist AS (
       |  $hopRows),
       |unreached AS (
       |  SELECT CAST(-1 AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT)
       |    AS n_nodes
       |  FROM (SELECT v FROM nodes EXCEPT SELECT v FROM vis$BfsMaxHops) q),
       |hist AS (
       |  SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM dist GROUP BY 1
       |  UNION ALL SELECT hop, n_nodes FROM unreached),
       |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM nodes)
       |SELECT hop, n_nodes,
       |  CASE WHEN n_total = 0 THEN NULL
       |    ELSE n_nodes * 1000 // n_total END AS share_milli
       |FROM hist CROSS JOIN nt
       |ORDER BY hop""".stripMargin
  }

  def linkPredictionSql(minSupport: Int = 2, topK: Int = 30): String =
    s"""WITH $pairsCte,
       |e AS MATERIALIZED (SELECT sa, sb FROM pairs WHERE c >= $minSupport),
       |nbr AS MATERIALIZED (
       |  SELECT sa AS z, sb AS n FROM e
       |  UNION ALL SELECT sb AS z, sa AS n FROM e),
       |deg AS MATERIALIZED (
       |  SELECT z, CAST(COUNT(*) AS BIGINT) AS deg FROM nbr GROUP BY 1),
       |caps AS (
       |  SELECT CASE
       |    ${LinkPredCapLadder.reverse.map(c =>
                s"WHEN w$c <= $LinkPredWedgeBudget THEN $c").mkString(" ")}
       |    ELSE ${LinkPredCapLadder.head} END AS cap
       |  FROM (SELECT
       |    ${LinkPredCapLadder.map(c =>
                s"CAST(COALESCE(SUM(CASE WHEN deg <= $c THEN deg * (deg - 1) // 2 END), 0) AS HUGEINT) AS w$c").mkString(",\n       |    ")}
       |  FROM deg) s),
       |w AS (
       |  SELECT x.n AS a, y.n AS b, d.deg
       |  FROM nbr x JOIN nbr y ON x.z = y.z AND x.n < y.n
       |  JOIN deg d ON d.z = x.z
       |  CROSS JOIN caps
       |  WHERE d.deg <= caps.cap),
       |scored AS (
       |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cn,
       |    CAST(SUM(1000000 // deg) AS BIGINT) AS ra_micro
       |  FROM w GROUP BY 1, 2),
       |cand AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.sa = s.a AND e.sb = s.b))
       |SELECT c.a AS sa, c.b AS sb, c.cn, da.deg AS deg_a, db.deg AS deg_b,
       |  c.cn * 1000 // (da.deg + db.deg - c.cn) AS jaccard_milli,
       |  c.ra_micro
       |FROM cand c
       |JOIN deg da ON da.z = c.a JOIN deg db ON db.z = c.b
       |ORDER BY ra_micro DESC, cn DESC, sa, sb LIMIT $topK"""
      .stripMargin

  /** Seed-set size for g8: the smallest node ids, like g6's landmark
    * set — a deterministic stand-in for "the hero assortment". */
  private val PprSeeds = 4

  /** Power-iteration count for g8 — FIXED (declared semantics,
    * mirrored by the oracle's unroll, e27's discipline). */
  private val PprIters = 3

  /** Readout size for g8 (rank desc, sku asc — a total order). */
  private val PprTopK = 25

  /** g8: PERSONALIZED PAGERANK (random walk with restart) at NODE
    * grain over the support-pruned co-purchase graph — the
    * "products related to the hero assortment" centrality that
    * completes the graph family: e27 ranks the |types|²-bounded
    * event-type graph; this is the node-grain version whose rank
    * relation scales with the catalog. Walk mass restarts ONLY at the
    * [[PprSeeds]] smallest node ids (the personalization vector),
    * damping 850/1000, [[PprIters]] synchronous iterations in e27's
    * pure integer micro-units (total mass 10⁶): per-edge contribution
    * `(850 · ((rank · w) DIV wdeg)) DIV 1000`, inner division first so
    * the widest product is rank·w — no doubles, every floor identical
    * in both engines. The undirected graph is walked as both directed
    * arcs weighted by co-purchase support; every node in the edge set
    * has wdeg ≥ 1, so there are no dangling nodes by construction.
    * Readout: top-[[PprTopK]] by (rank desc, sku asc) with seed flag
    * and weighted degree.
    *
    * Scale shape: THE distributed PageRank kernel — each iteration is
    * one rank⋈edges join on src plus one dst-keyed re-aggregation
    * (edge-sized exchanges, never node-quadratic), each iteration a
    * [[Silver.iterate]] leaf. Rank is node-sized
    * and meets the edge stream by shuffle, NOT broadcast — at catalog
    * scale that is the only shape that survives. The seed list is the
    * one driver-side move: [[PprSeeds]] ids, a literal collected once,
    * when the rank silver is built; the rank carries the seed flag the
    * readout reports. */
  def personalizedPagerank(spark: SparkSession, dir: String,
                           minSupport: Int = 2): DataFrame = {
    val de = directedEdges(spark, dir, minSupport)
    val wdeg = Silver.memoize(spark, s"pprWdeg:$minSupport", dir) {
      de.groupBy(col("src")).agg(sum(col("c")).cast("long").as("wdeg"))
    }
    // the iterated rank relation is itself a session silver (g6/g7's
    // discipline) — repeated readers pay the power iterations once
    val rank = Silver.memoize(spark, s"pprRank:$minSupport", dir) {
      val nodes = wdeg.select(col("src").as("v"))
      val seedIds = nodes.orderBy(col("v")).limit(PprSeeds)
        .collect().map(_.getLong(0)).toSeq
      val nSeeds = math.max(seedIds.size.toLong, 1L)
      Silver.iterate(nodes
          .withColumn("is_seed", when(col("v").isin(seedIds: _*), 1L).otherwise(0L))
          .withColumn("rank_micro", col("is_seed") * (1000000L / nSeeds)),
        PprIters) { (r, _) =>
        val contribs = de
          .join(wdeg, "src")
          .join(r.select(col("v").as("src"), col("rank_micro")), "src")
          .select(col("dst"),
            expr("(850 * ((rank_micro * c) DIV wdeg)) DIV 1000").as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).cast("long").as("s"))
        r.select(col("v"), col("is_seed"))
          .join(contribs, col("v") === contribs("dst"), "left")
          .select(col("v"), col("is_seed"),
            (col("is_seed") * (150000L / nSeeds) + coalesce(col("s"), lit(0L)))
              .as("rank_micro"))
      }().last
    }
    rank.join(wdeg.select(col("src").as("v"), col("wdeg")), "v")
      .select(col("v").as("sku"), col("is_seed"), col("wdeg"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("sku"))
      .limit(PprTopK)
  }

  /** Relaxation rounds for g9 — FIXED (declared semantics: distances
    * realizable in ≤ this many edges; the oracle unrolls exactly
    * these rounds, Bellman-Ford's bounded form). */
  private val SsspRounds = 8

  /** Seed-set size and readout size for g9 (g6's landmark discipline,
    * g8's top-k cut). */
  private val SsspSeeds = 8
  private val SsspTopK = 25

  /** g9: WEIGHTED SINGLE/MULTI-SOURCE SHORTEST PATHS over the
    * support-pruned co-purchase graph — the min-plus (Bellman-Ford)
    * kernel that completes the traversal class next to g6's
    * unweighted BFS: edge length = 1000 DIV support + 1 (heavily
    * co-purchased pairs are "close"), distance = the cheapest way to
    * reach a product from the [[SsspSeeds]]-landmark set within
    * [[SsspRounds]] relaxation rounds. All integer milli arithmetic —
    * both engines fold identical BIGINTs. Readout: the [[SsspTopK]]
    * nearest nodes by (distance asc, sku asc — total order) with the
    * seed flag and the round-bounded eccentricity semantics declared
    * above.
    *
    * Scale shape: each round is ONE dist⋈edges join on src + a
    * dst-keyed min re-aggregation (edge-sized exchanges — the
    * min-plus twin of g8's rank join-agg), sparse representation
    * (unreached nodes absent), each round a [[Silver.iterate]] leaf;
    * the last round's relation is a session silver.
    * The top-k cut is TakeOrderedAndProject. */
  def weightedSssp(spark: SparkSession, dir: String,
                   minSupport: Int = 2): DataFrame = {
    val de = directedEdges(spark, dir, minSupport)
      .withColumn("w", expr("1000 DIV c + 1"))
    val nodes = de.select(col("src").as("v")).distinct()
    val seeds = nodes.orderBy(col("v")).limit(SsspSeeds)
    val dist = Silver.memoize(spark, s"sssp:$minSupport", dir) {
      Silver.iterate(seeds.select(col("v"), lit(0L).as("d")), SsspRounds) { (d, _) =>
        d.join(de, d("v") === de("src"))
          .select(col("dst").as("v"), (col("d") + col("w")).as("d"))
          .unionByName(d)
          .groupBy(col("v")).agg(min(col("d")).as("d"))
      }().last
    }
    dist
      .join(seeds.select(col("v"), lit(1L).as("is_seed")), Seq("v"), "left")
      .select(col("v").as("sku"), coalesce(col("is_seed"), lit(0L)).as("is_seed"),
        col("d").as("dist_milli"))
      .orderBy(col("dist_milli").asc, col("sku").asc)
      .limit(SsspTopK)
  }

  def weightedSsspSql(minSupport: Int = 2): String = {
    val rounds = (1 to SsspRounds).map { i =>
      val prev = s"d${i - 1}"
      s"""d$i AS MATERIALIZED (
         |  SELECT v, CAST(MIN(d) AS BIGINT) AS d FROM (
         |    SELECT v, d FROM $prev
         |    UNION ALL
         |    SELECT de.dst AS v, p.d + de.w AS d
         |    FROM de JOIN $prev p ON p.v = de.src) q
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pairsCte,
       |e AS MATERIALIZED (
       |  SELECT sa, sb, c FROM pairs WHERE c >= $minSupport),
       |de AS MATERIALIZED (
       |  SELECT src, dst, 1000 // c + 1 AS w FROM (
       |    SELECT sa AS src, sb AS dst, c FROM e
       |    UNION ALL SELECT sb AS src, sa AS dst, c FROM e) q),
       |nodes AS (SELECT DISTINCT src AS v FROM de),
       |seeds AS MATERIALIZED (
       |  SELECT v FROM nodes ORDER BY v LIMIT $SsspSeeds),
       |d0 AS MATERIALIZED (
       |  SELECT v, CAST(0 AS BIGINT) AS d FROM seeds),
       |$rounds
       |SELECT dd.v AS sku,
       |  CAST(CASE WHEN sd.v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_seed,
       |  dd.d AS dist_milli
       |FROM d$SsspRounds dd
       |LEFT JOIN seeds sd ON sd.v = dd.v
       |ORDER BY dist_milli ASC, sku ASC LIMIT $SsspTopK""".stripMargin
  }

  def personalizedPagerankSql(minSupport: Int = 2): String = {
    val iters = (1 to PprIters).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT de.dst AS v,
         |    CAST(SUM((850 * ((r.rank_micro * de.c) // w.wdeg)) // 1000)
         |      AS BIGINT) AS s
         |  FROM de
         |  JOIN wdeg w ON de.src = w.src
         |  JOIN $prev r ON r.v = de.src
         |  GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.v,
         |    (CASE WHEN sd.v IS NOT NULL THEN 150000 // ns.ns ELSE 0 END)
         |      + COALESCE(c$i.s, 0) AS rank_micro
         |  FROM nodes CROSS JOIN ns
         |  LEFT JOIN seeds sd ON sd.v = nodes.v
         |  LEFT JOIN c$i ON c$i.v = nodes.v)""".stripMargin
    }.mkString(",\n")
    val last = s"r$PprIters"
    s"""WITH $pairsCte,
       |e AS MATERIALIZED (
       |  SELECT sa, sb, c FROM pairs WHERE c >= $minSupport),
       |de AS MATERIALIZED (
       |  SELECT sa AS src, sb AS dst, c FROM e
       |  UNION ALL SELECT sb AS src, sa AS dst, c FROM e),
       |wdeg AS MATERIALIZED (
       |  SELECT src, CAST(SUM(c) AS BIGINT) AS wdeg FROM de GROUP BY 1),
       |nodes AS MATERIALIZED (SELECT src AS v FROM wdeg),
       |seeds AS MATERIALIZED (
       |  SELECT v FROM nodes ORDER BY v LIMIT $PprSeeds),
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM seeds),
       |r0 AS MATERIALIZED (
       |  SELECT nodes.v,
       |    CASE WHEN sd.v IS NOT NULL THEN 1000000 // ns.ns ELSE 0 END
       |      AS rank_micro
       |  FROM nodes CROSS JOIN ns
       |  LEFT JOIN seeds sd ON sd.v = nodes.v),
       |$iters
       |SELECT $last.v AS sku,
       |  CAST(CASE WHEN sd.v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_seed,
       |  w.wdeg,
       |  CAST($last.rank_micro AS BIGINT) AS rank_micro
       |FROM $last
       |JOIN wdeg w ON w.src = $last.v
       |LEFT JOIN seeds sd ON sd.v = $last.v
       |ORDER BY rank_micro DESC, sku LIMIT $PprTopK""".stripMargin
  }
}
