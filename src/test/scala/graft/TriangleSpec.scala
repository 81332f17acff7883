package graft

import org.apache.spark.sql.functions._
import graft.analytics.Graph
import graft.model.Tables

/** Census certification for g1/g2: the oriented-wedge pipeline is checked
  * against a naive in-process triangle enumeration (sf0.001 graph is small
  * enough to hold), plus the DOULION p=1 identity — the estimator at
  * sampling probability 1 must reproduce the exact full-graph census. */
class TriangleSpec extends GraftSpec {

  /** In-process (sa < sb) co-purchase edges with support counts. */
  private lazy val pairs: Map[(Long, Long), Long] = {
    val baskets = Tables.sales(spark, sfDir)
      .select(col("l_orderkey"), col("sku")).distinct()
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    baskets.values.toSeq
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  private def naiveCensus(edges: Set[(Long, Long)]): (Long, Long, Long, Long) = {
    val adj = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    val tris = edges.toSeq.map { case (a, b) =>
      (adj(a) & adj(b)).count(c => c > b).toLong // a<b<c: once per triangle
    }.sum
    (nodes.size.toLong, edges.size.toLong, wedges, tris)
  }

  test("g1: oriented census matches naive in-process enumeration") {
    val pruned = pairs.filter(_._2 >= 2).keySet
    val (n, m, w, t) = naiveCensus(pruned)
    val row = Graph.triangleCensus(spark, sfDir).collect().head
    assert(row.getAs[Long]("n_nodes") == n)
    assert(row.getAs[Long]("n_edges") == m)
    assert(row.getAs[Long]("n_wedges") == w)
    assert(row.getAs[Long]("n_triangles") == t)
    assert(t > 0, "fixture graph must actually contain triangles")
  }

  test("g2: DOULION at p=1 reproduces the exact full-graph census") {
    val full = Graph.triangleCensus(spark, sfDir, minSupport = 1)
      .collect().head
    val est = Graph.triangleDoulion(spark, sfDir, pInv = 1).collect().head
    assert(est.getAs[Long]("n_edges_sampled") == full.getAs[Long]("n_edges"))
    assert(est.getAs[Long]("n_wedges_sampled") == full.getAs[Long]("n_wedges"))
    assert(est.getAs[Long]("n_triangles_sampled") ==
      full.getAs[Long]("n_triangles"))
    assert(est.getAs[Long]("est_triangles") ==
      full.getAs[Long]("n_triangles"))
  }

  test("g3: association rules match a naive in-process Apriori depth-2 " +
      "recompute, including the deterministic top-k order") {
    val minSupport = 3; val minConf = 50L; val topK = 50
    val baskets = Tables.sales(spark, sfDir)
      .select(col("l_orderkey"), col("sku")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val itemSupp = baskets.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = baskets.map(_._1).distinct.length.toLong
    val rules = pairs.filter(_._2 >= minSupport).toSeq.flatMap {
      case ((a, b), c) => Seq((a, b, c), (b, a, c))
    }.map { case (a, b, c) =>
      (a, b, c, itemSupp(a), itemSupp(b), n,
        c * 1000 / itemSupp(a), c * n * 1000 / (itemSupp(a) * itemSupp(b)))
    }.filter(_._7 >= minConf)
      .sortBy(t => (-t._8, -t._7, t._1, t._2)).take(topK)
    val got = graft.analytics.Graph.assocRules(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rules.nonEmpty, "fixture must yield rules")
    assert(got.toSeq === rules)
  }

  test("g2: default sample keeps a strict, non-empty edge subset") {
    val est = Graph.triangleDoulion(spark, sfDir).collect().head
    val full = pairs.size.toLong
    val kept = est.getAs[Long]("n_edges_sampled")
    assert(kept > 0 && kept < full, s"sample $kept of $full edges")
  }

  test("g4, g5 and g7 read one support-pruned edge leaf in a fresh session") {
    // g6's readout reads only its node and distance leaves; g5 and g7
    // read the edge set itself
    val s = spark.newSession()
    def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
    val g4 = leaves(Graph.kCore(s, sfDir))
    val shared = g4 & leaves(Graph.linkPrediction(s, sfDir)) &
      leaves(Graph.lpaCommunities(s, sfDir))
    assert(shared.size === 1, s"g4 leaves $g4 share $shared with g5 and g7")
  }
}
