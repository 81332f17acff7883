package graft

import graft.model.Tables
import org.apache.spark.sql.functions._

/** Round-11 operators: in-process recomputes against the engine
  * relations (the oracle certifies engine-vs-DuckDB; these certify
  * engine-vs-straight-line-Scala on the same fixture). */
class R11OpsSpec extends GraftSpec {

  test("g8: personalized PageRank matches an in-process integer-micro " +
      "random-walk-with-restart over the same pruned graph") {
    // rebuild the support-pruned weighted co-purchase graph
    val baskets = Tables.sales(spark, sfDir)
      .select(col("l_orderkey").as("order_id"), col("sku")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs = baskets.groupBy(_._1).values.flatMap { b =>
      val skus = b.map(_._2).distinct.sorted
      for (i <- skus.indices; j <- (i + 1) until skus.length)
        yield (skus(i), skus(j))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2L).toSeq
    assert(pairs.nonEmpty, "pruned graph must be non-empty at this SF")
    val de = pairs.flatMap { case ((a, b), c) => Seq((a, b, c), (b, a, c)) }
    val wdeg = de.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = wdeg.keySet.toSeq.sorted
    val seeds = nodes.take(4)
    val ns = seeds.size.toLong
    var rank = nodes.map(v =>
      v -> (if (seeds.contains(v)) 1000000L / ns else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      de.foreach { case (src, dst, c) =>
        contrib(dst) += (850L * ((rank(src) * c) / wdeg(src))) / 1000L
      }
      rank = nodes.map(v =>
        v -> ((if (seeds.contains(v)) 150000L / ns else 0L) +
          contrib(v))).toMap
    }
    val want = nodes
      .map(v => (v, if (seeds.contains(v)) 1L else 0L, wdeg(v), rank(v)))
      .sortBy(t => (-t._4, t._1)).take(25)
    val got = graft.analytics.Graph.personalizedPagerank(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === want)
    // walk mass stays on the restart distribution's support: every
    // positive-rank node is reachable, total mass <= 1e6 (floor leak)
    assert(got.head._4 > 0L)
    assert(rank.values.sum <= 1000000L)
  }

  test("d29: incremental dedup verdicts match a straight-line Scala " +
      "recompute of the snapshot indexes (exact text set + LSH band set)") {
    val docs = graft.text.Corpus.docs(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val P = graft.text.Corpus.P
    def shingles(text: String): Set[String] =
      text.trim.split("\\s+").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val dict = docs.flatMap(d => shingles(d._2)).distinct.sorted
      .zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    def bandsOf(text: String): Set[(Int, Long)] = {
      val sids = shingles(text).map(dict)
      if (sids.isEmpty) Set.empty
      else {
        val mh = (0 until 16).map(j =>
          sids.map(sid => (sid * (37L + 101L * j) + 17L + 61L * j) % P).min)
        (0 until 4).map(b =>
          b -> (0 until 4).map(i =>
            mh(4 * b + i) * math.pow(31, i).toLong).sum).toSet
      }
    }
    val snapMod = graft.dedup.Dedup.SnapshotMod
    val snap = docs.filter(d => d._1 % 10 < snapMod)
    val snapTexts = snap.map(_._2).toSet
    val snapBands = snap.iterator.flatMap(d => bandsOf(d._2)).toSet
    val want = docs.filter(d => d._1 % 10 >= snapMod).map { d =>
      val exact = snapTexts.contains(d._2)
      val near = bandsOf(d._2).exists(snapBands.contains)
      (d._1, d._3, exact, near,
        if (exact) "exact" else if (near) "near" else "novel")
    }.sortBy(_._1).toSeq
    val got = graft.dedup.Dedup.incrementalDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getBoolean(2), r.getBoolean(3), r.getString(4))).toSeq
    assert(got === want)
    // sf0.001 has no exact-duplicate texts at all (first SF with them is
    // sf0.1), so the corpus fixture can only exercise near/novel — the
    // exact verdict is covered by the synthetic-lake test below
    assert(Set("near", "novel").subsetOf(want.map(_._5).toSet))
  }

  test("d29: a synthetic corpus exercises all three verdicts — exact " +
      "(identical text), near (one band shared), novel (disjoint)") {
    import spark.implicits._
    val tmp = graft.etl.Scratch.tempDir("d29")
    val base = (1 to 40).map(i => s"tok${i}").mkString(" ")
    // near: same first 37 tokens, different tail — minhash bands almost
    // surely collide on >=1 of 4 bands; novel: disjoint vocabulary
    val nearTxt = (1 to 37).map(i => s"tok${i}").mkString(" ") + " zz1 zz2 zz3"
    val novelTxt = (1 to 40).map(i => s"other${i}").mkString(" ")
    Seq(
      (0L, base, "en", "web", base.length.toLong),
      (1L, novelTxt + " filler", "en", "web", 1L), // snapshot spread
      (8L, base, "en", "web", base.length.toLong), // exact dup of 0
      (18L, nearTxt, "en", "web", nearTxt.length.toLong), // near dup of 0
      (28L, "entirely unrelated words apart from nothing shared here " +
        "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk ll", "en",
        "web", 1L)) // novel
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = graft.dedup.Dedup.incrementalDedup(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(4))).toMap
    assert(got === Map(8L -> "exact", 18L -> "near", 28L -> "novel"))
  }

  test("k27: the lake physically evolves — v1 files lack discount_amount, " +
      "v2 files lack payment_method, the merged read null-fills exactly") {
    val audit = graft.etl.Evolution.schemaEvolution(spark, sfDir).collect()
    val root = graft.etl.Evolution.k27Lake(spark, sfDir)
    val v1 = spark.read.parquet(s"$root/gen=v1")
    val v2 = spark.read.parquet(s"$root/gen=v2")
    val base = Set("store_id", "sale_date", "sku", "quantity", "line_total")
    assert(v1.schema.fieldNames.toSet === base + "payment_method")
    assert(v2.schema.fieldNames.toSet === base + "discount_amount")
    val merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert(merged.schema.fieldNames.toSet ===
      base + "payment_method" + "discount_amount" + "gen")
    // absent columns null-fill per generation; present ones never do
    assert(merged.filter(col("gen") === "v2" &&
      col("payment_method").isNotNull).count() === 0L)
    assert(merged.filter(col("gen") === "v1" &&
      col("discount_amount").isNotNull).count() === 0L)
    assert(merged.filter(col("line_total").isNull).count() === 0L)
    // the money type survives the schema merge intact
    assert(merged.schema("line_total").dataType ===
      org.apache.spark.sql.types.DecimalType(18, 2))
    // audit relation reconciles with the physical per-generation counts
    val got = audit.map(r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got(("v1", "payment_method")) === ((v1.count(), v1.count())))
    assert(got(("v2", "payment_method")) === ((v2.count(), 0L)))
    assert(got(("v1", "discount_amount")) === ((v1.count(), 0L)))
    assert(got(("v2", "discount_amount")) === ((v2.count(), v2.count())))
  }

  test("t34: vocabulary growth matches a straight-line Scala recompute " +
      "of the first-occurrence deciles") {
    val docs = graft.text.Corpus.docs(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nTotal = docs.map(_._1).max + 1
    def toksOf(t: String): Seq[String] = t.trim.split("\\s+").toSeq
    val docsDec = docs.groupBy(d => d._1 * 10 / nTotal).view
      .mapValues(ds => (ds.size.toLong, ds.map(d => toksOf(d._2).size.toLong).sum))
    val firstDoc = docs.flatMap(d => toksOf(d._2).map(_ -> d._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).min)
    val typesDec = firstDoc.values.groupBy(fd => fd * 10 / nTotal).view
      .mapValues(_.size.toLong).toMap
    val deciles = docsDec.keys.toSeq.sorted
    var (cd, ct, cy) = (0L, 0L, 0L)
    val want = deciles.map { dec =>
      val (nd, nt) = docsDec(dec)
      cd += nd; ct += nt; cy += typesDec.getOrElse(dec, 0L)
      (dec, cd, ct, cy, if (ct == 0) null else cy * 1000 / ct)
    }
    val got = graft.text.TextAnalysis.vocabGrowth(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === want)
    // Heaps: types grow strictly slower than tokens after the first decile
    assert(got.last._4 < got.last._3)
  }

  test("a63: every CUBE margin equals the brute-force re-aggregation of " +
      "its cells, and gid encodes {store=2, payment=1}") {
    val rows = graft.analytics.Kpis.cubeMargins(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    val cells = rows.filter(_._3 == 0L)
    assert(cells.nonEmpty)
    def total(sel: ((String, String, Long, Double, Long)) => Boolean) =
      (cells.filter(sel).map(_._5).sum,
        math.round(cells.filter(sel).map(_._4).sum * 100))
    rows.filter(_._3 == 1L).foreach { m => // payment folded out, store kept
      assert(m._2 === "ALL")
      assert(total(c => c._1 == m._1) === ((m._5, math.round(m._4 * 100))))
    }
    rows.filter(_._3 == 2L).foreach { m => // store folded out
      assert(m._1 === "ALL")
      assert(total(c => c._2 == m._2) === ((m._5, math.round(m._4 * 100))))
    }
    val grand = rows.filter(_._3 == 3L)
    assert(grand.length === 1 && grand.head._1 === "ALL" &&
      grand.head._2 === "ALL")
    assert(total(_ => true) ===
      ((grand.head._5, math.round(grand.head._4 * 100))))
  }

  test("v38: main hits are snapshot-resident, delta hits delta-resident, " +
      "ranks contiguous and cosine-sorted, and fresh vectors surface") {
    val rows = graft.vector.Similarity.deltaIndexAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getBoolean(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // provenance tag == residence: the legs never leak into each other
    rows.foreach { case (_, _, nid, fromDelta, _) =>
      assert(fromDelta === (nid % 10 >= 8))
    }
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq)
      assert(sorted.map(_._5).toSeq ===
        sorted.map(_._5).sortBy(c => -c).toSeq)
    }
    // freshness: un-indexed arrivals actually surface in some top-k
    assert(rows.exists(_._4))
    // PROVABLE freshness: the delta leg is exhaustive, so any TRUE
    // top-k neighbor that lives in the delta must appear (its merged
    // rank can only improve when the candidate set shrinks to
    // probed-cells ∪ delta). Exact ranks recomputed in-process with
    // the same sequential float->double fold and tie-break.
    val vecs = graft.model.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val norm2 = vecs.map { case (id, v) => id -> dot(v, v) }
    val k = 5
    rows.map(_._1).distinct.foreach { q =>
      val trueTopK = vecs.keys.filter(_ != q).toSeq
        .map(n => (n, dot(vecs(q), vecs(n)) /
          math.sqrt(norm2(q) * norm2(n))))
        .sortBy { case (n, c) => (-c, n) }.take(k)
      val got = rows.filter(_._1 == q).map(_._3).toSet
      trueTopK.filter(_._1 % 10 >= 8).foreach { case (n, _) =>
        assert(got.contains(n),
          s"query $q: delta-resident true neighbor $n missing")
      }
    }
  }

  test("k28: the lineage walker attributes join, window, generator, " +
      "multi-source, and literal outputs on a synthetic two-table plan") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val tmp = graft.etl.Scratch.tempDir("k28")
    Seq((1L, 10L), (2L, 20L)).toDF("id", "x")
      .write.parquet(s"$tmp/alpha.parquet")
    Seq((1L, 5L, "a,b"), (2L, 6L, "c")).toDF("id", "y", "tags")
      .write.parquet(s"$tmp/beta.parquet")
    val a = spark.read.parquet(s"$tmp/alpha.parquet")
    val b = spark.read.parquet(s"$tmp/beta.parquet")
    val q = a.join(b, Seq("id"))
      .withColumn("rx",
        row_number().over(Window.partitionBy(col("id")).orderBy(col("y"))))
      .select(col("id"),
        explode(split(col("tags"), ",")).as("tag"),
        (col("x") + col("y")).as("xy"),
        lit(1).as("one"),
        col("rx"))
    val got = graft.plans.ColumnLineage.lineageOf(q).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set(
      ("id", "alpha", "id"), // USING join binds the LEFT attribute
      ("tag", "beta", "tags"), // through the generator
      ("xy", "alpha", "x"), ("xy", "beta", "y"), // multi-source
      ("one", "(literal)", "(literal)"),
      ("rx", "alpha", "id"), ("rx", "beta", "y"))) // window part+order
  }

  test("p22: domain weights recompute from the t13 relation, shares sum " +
      "to one, and the boost is exactly the clamped milli step to the 4th") {
    val perDoc = graft.text.TextAnalysis.lmSurprisal(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val src = graft.text.Corpus.docs(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val dom = perDoc.groupBy(d => src(d._1)).view.mapValues { ds =>
      (ds.length.toLong, ds.map(_._2).sum, ds.map(_._3).sum)
    }.toMap
    val totT = dom.values.map(_._2).sum
    val totB = dom.values.map(_._3).sum
    val corpusMilli = totB * 1000 / totT
    def boost(excess: Long): Long = {
      // Scala Long '/' truncates toward zero — the DIV parity semantics
      val step = math.max(500L, math.min(2000L, 1000L + excess / 8))
      val b2 = step * step / 1000
      b2 * b2 / 1000
    }
    val want = dom.toSeq.map { case (s, (nd, nt, sb)) =>
      val mean = sb * 1000 / nt
      val ex = mean - corpusMilli
      (s, nd, nt, mean, ex, boost(ex))
    }.sortBy(_._1)
    val wTot = want.map(w => w._3 * w._6).sum
    val got = graft.text.CorpusPrep.domainReweight(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.map(g => (g._1, g._2, g._3, g._4, g._5, g._6)).toSeq === want)
    got.foreach { g =>
      assert(g._7 === (g._3 * g._6).toDouble / wTot.toDouble)
    }
    assert(math.abs(got.map(_._7).sum - 1.0) < 1e-12)
    // the update must actually discriminate at this SF
    assert(got.map(_._6).distinct.length > 1)
  }

  test("a65: the backtest matches a straight-line recompute of " +
      "seasonal-naive-with-drift over the same integer-cents series") {
    val series = graft.etl.StoreDaily.rollupDec(spark, sfDir)
      .select(col("sale_date"),
        ((col("gross_dec") - col("disc_dec")) * 100)
          .cast(org.apache.spark.sql.types.DecimalType(18, 0)).as("c"))
      .collect().map(r => (r.getString(0), r.getDecimal(1)))
      .groupBy(_._1).view
      .mapValues(_.map(v => BigDecimal(v._2)).sum.toLongExact).toSeq
      .sortBy(_._1)
    val h = graft.analytics.Series.ForecastH
    val n = series.length
    assert(n > h + 1, "series long enough to fit")
    val y = series.map(_._2)
    val drift = (y(n - h - 1) - y(0)) / (n - h - 1) // Long /: truncates
    val want = (1 to h).map { i =>
      val idx = n - h + i - 1
      val snaive = y(idx - h) + i * drift
      (series(idx)._1, i.toLong, y(idx), snaive, y(n - h - 1),
        math.abs(y(idx) - snaive), math.abs(y(idx) - y(n - h - 1)))
    }
    val got = graft.analytics.Series.forecastBacktest(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === want)
  }

  test("a66: merged base+delta partials equal a straight recompute, and " +
      "the boundary month genuinely straddles the ingest split") {
    val facts = Tables.sales(spark, sfDir)
      .select(col("store_id"), col("sale_date"), col("line_total"))
      .collect().map(r => (r.getString(0), r.getString(1),
        BigDecimal(r.getDecimal(2))))
    val bnd = graft.etl.Materialize.IngestBoundary
    val bndMonth = bnd.substring(0, 7)
    // the merge is only a real test if the boundary month has facts on
    // BOTH sides of the split
    assert(facts.exists(f => f._2.startsWith(bndMonth) && f._2 <= bnd))
    assert(facts.exists(f => f._2.startsWith(bndMonth) && f._2 > bnd))
    val want = facts.groupBy(f => (f._1, f._2.substring(0, 7))).view
      .mapValues(fs => (fs.map(_._3).sum.toDouble, fs.length.toLong))
      .toMap
    val got = graft.etl.Materialize.incrementalRollup(spark, sfDir)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getLong(3)))).toMap
    assert(got === want)
  }

  test("er6: EM separates name and brand (m >> u) without labels, keeps " +
      "lambda in (0,1000), and the trace is deterministic") {
    val t1 = graft.analytics.Linkage.emWeights(spark, sfDir).collect()
      .map(r => (0 to 7).map(r.getLong).toVector)
    val t2 = graft.analytics.Linkage.emWeights(spark, sfDir).collect()
      .map(r => (0 to 7).map(r.getLong).toVector)
    assert(t1.toSeq === t2.toSeq)
    assert(t1.map(_(0)).toSeq === Seq(1L, 2L, 3L))
    val last = t1.last
    assert(last(1) > 0L && last(1) < 1000L) // lambda
    assert(last(2) > last(3) + 300L, "name must separate hard")
    assert(last(4) > last(5) + 300L, "brand must separate hard")
    // all estimates clamped into [1, 999]
    t1.foreach(row => row.drop(1).foreach(v =>
      assert(v >= 1L && v <= 999L)))
  }

  test("g9: weighted SSSP matches an in-process Bellman-Ford over the " +
      "same pruned graph with the same round bound") {
    val baskets = Tables.sales(spark, sfDir)
      .select(col("l_orderkey").as("order_id"), col("sku")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pairs = baskets.groupBy(_._1).values.flatMap { b =>
      val skus = b.map(_._2).distinct.sorted
      for (i <- skus.indices; j <- (i + 1) until skus.length)
        yield (skus(i), skus(j))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2L).toSeq
    val de = pairs.flatMap { case ((a, b), c) =>
      val w = 1000L / c + 1L
      Seq((a, b, w), (b, a, w))
    }
    val nodes = de.map(_._1).distinct.sorted
    val seeds = nodes.take(8)
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to 8) {
      val next = scala.collection.mutable.Map[Long, Long]() ++ dist
      de.foreach { case (u, v, w) =>
        dist.get(u).foreach { du =>
          if (!next.contains(v) || next(v) > du + w) next(v) = du + w
        }
      }
      dist = next.toMap
    }
    val want = dist.toSeq
      .map { case (v, d) => (v, if (seeds.contains(v)) 1L else 0L, d) }
      .sortBy(t => (t._3, t._1)).take(25)
    val got = graft.analytics.Graph.weightedSssp(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
    // triangle-inequality sanity on the readout: seeds at 0, distances
    // non-decreasing down the list
    assert(got.filter(_._2 == 1L).forall(_._3 == 0L))
    assert(got.map(_._3).sliding(2).forall {
      case Seq(a, b) => a <= b
      case _ => true
    })
  }
}
