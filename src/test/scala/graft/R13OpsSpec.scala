package graft

import org.apache.spark.sql.functions._

/** Round-13 operator contracts: er8 (the ER loop closed — er5's sweep
  * re-run under er7's leave-block-out weights). */
class R13OpsSpec extends GraftSpec {

  private val dir = sfDir

  test("er8: decision diffs vs er1 are exactly the pairs whose scores " +
      "straddle a threshold under the old/new weights") {
    val upper = 2000L
    val lower = 0L
    val old = graft.analytics.Linkage.scoredPairs(spark, dir, upper, lower)
      .select(col("key_c"), col("key_d"),
        col("score_milli").as("s_old"), col("decision").as("d_old"))
    val neu = graft.analytics.Linkage
      .unbiasedScoredPairs(spark, dir, upper, lower)
      .select(col("key_c"), col("key_d"),
        col("score_milli").as("s_new"), col("decision").as("d_new"))
    val j = old.join(neu, Seq("key_c", "key_d")).collect()
    // same candidate universe: er8 rescans er1's pairs, never re-blocks
    assert(j.length === old.count())
    assert(j.length === neu.count())
    def side(s: Long): String =
      if (s >= upper) "link" else if (s <= lower) "non_link" else "possible"
    j.foreach { r =>
      val (sOld, dOld) = (r.getAs[Long]("s_old"), r.getAs[String]("d_old"))
      val (sNew, dNew) = (r.getAs[Long]("s_new"), r.getAs[String]("d_new"))
      // decisions are pure functions of the scores...
      assert(side(sOld) === dOld)
      assert(side(sNew) === dNew)
      // ...so a decision diff exists iff the two scores straddle a
      // threshold boundary, and agreement means both sit on one side
      assert((dOld != dNew) === (side(sOld) != side(sNew)))
    }
  }

  test("er8 sweep: cumulative counts are monotone and anchored at the " +
      "unbiased scored relation") {
    val sweep = graft.analytics.Linkage.unbiasedSweep(spark, dir)
      .orderBy(col("tau_milli").desc).collect()
    assert(sweep.nonEmpty)
    val scored = graft.analytics.Linkage.unbiasedScoredPairs(spark, dir)
    // one sweep row per distinct unbiased score
    assert(sweep.length === scored.select("score_milli").distinct().count())
    // n_link cumulative in descending tau; the last row covers all pairs
    val nLinks = sweep.map(_.getAs[Long]("n_link"))
    assert(nLinks.zip(nLinks.tail).forall { case (a, b) => a <= b })
    assert(nLinks.last === scored.count())
    // recall at the loosest threshold counts every true pair exactly once
    val nTrue = scored.agg(sum(col("is_true"))).head.getLong(0)
    assert(sweep.last.getAs[Long]("n_true_link") === nTrue)
  }

  // ------------------------------------------------------- a69

  test("a69: generation-1 bytes (the first close's persisted silvers) " +
      "equal a direct recompute over facts at or before Close2 — the " +
      "mid-generation contract the end-to-end hash cannot see") {
    import graft.etl.DayClose
    DayClose.dayClose(spark, dir).count() // force both closes
    val root = DayClose.a69Closes(spark, dir).root
    val upTo = graft.model.Tables.sales(spark, dir)
      .filter(col("sale_date") <= DayClose.Close2)
    // the close-1 arrivals are nonempty: close 2 folds ON TOP of a
    // genuinely advanced generation, not a copy of the base
    val nDay1 = graft.model.Tables.sales(spark, dir)
      .filter(col("sale_date") > DayClose.Close1 &&
        col("sale_date") <= DayClose.Close2).count()
    assert(nDay1 > 0, "fixture must have close-1 arrivals")
    // rollup generation: re-aggregated partials == direct recompute
    val gen1 = spark.read.parquet(s"$root/roll1")
      .groupBy("store_id", "month")
      .agg(sum(col("gross_dec")).cast("string").as("g"),
        sum(col("n_lines")).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1),
        BigDecimal(r.getString(2)), r.getLong(3))).toSet
    val direct = upTo
      .groupBy(col("store_id"), substring(col("sale_date"), 1, 7).as("month"))
      .agg(sum(col("line_total")).cast("string").as("g"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1),
        BigDecimal(r.getString(2)), r.getLong(3))).toSet
    assert(gen1 === direct)
    // bitmap generation: folded pages count == direct COUNT(DISTINCT)
    val pages1 = spark.read.parquet(s"$root/pages1")
      .groupBy(col("store_id"))
      .agg(sum(expr("bitmap_count(bm)")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val directD = upTo.groupBy(col("store_id"))
      .agg(countDistinct(col("sku")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pages1 === directD)
    // sketch generation: the accumulated sketch rows merge to the exact
    // <= Close2 ranking (the late-merge leg of the exactness regime)
    val size = graft.analytics.Sketches.exactSummarySize
    val merged = spark.read.parquet(s"$root/sk1")
      .groupBy(col("store_id"))
      .agg(graft.functions.TopKByCount
        .topKMergeSketch(col("sketch"), size).as("mg"))
      .select(col("store_id"), explode(col("mg.items")).as("item"))
      .select(col("store_id"), col("item.sku"), col("item.est_count"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val directT = upTo.groupBy(col("store_id"),
        col("sku").cast("string").as("sku"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(merged === directT)
  }

  // ------------------------------------------------------- v42/v43

  test("v42: the rebalance conserves every vector exactly once, " +
      "de-lists the split parents, and numbers sub-cells by the " +
      "deterministic rule") {
    import graft.vector.IndexCompaction
    val nCentroids = 8
    val pre = IndexCompaction.cellInventory(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val post = IndexCompaction.rebalanceApplied(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    // hot set recomputed independently from the pre-fold inventory
    val total = pre.values.sum
    val hot = pre.collect {
      case (c, n) if n * nCentroids * 1000L >
        IndexCompaction.HotMilliDefault * total => c
    }.toSeq.sorted
    assert(hot.nonEmpty, "fixture must exercise the split path")
    // conservation: no row lost or duplicated by the rewrite
    assert(post.map(_._3).sum === total)
    val gen1Cells = post.collect { case (c, 1L, _, _) => c }.toSet
    val gen2Cells = post.collect { case (c, 2L, _, _) => c }.toSet
    // split parents de-listed; every other gen-1 cell kept with its
    // unchanged population and file structure
    assert(gen1Cells === (pre.keySet -- hot))
    post.collect { case (c, 1L, n, f) => (c, n, f) }.foreach {
      case (c, n, f) =>
        assert(n === pre(c))
        assert(f === 2L) // snapshot file + fold-appended delta file
    }
    // sub-cell ids: the i-th hot cell splits into base+2i / base+2i+1,
    // each written as exactly one file
    val expected = hot.zipWithIndex.flatMap { case (_, i) =>
      Seq(nCentroids + 2 * i, nCentroids + 2 * i + 1) }.toSet
    assert(gen2Cells === expected)
    post.collect { case (_, 2L, _, f) => f }.foreach(f => assert(f === 1L))
    // each split parent's population is conserved across its two halves
    val subsByParent = IndexCompaction.rebalanceApplied(spark, dir)
      .filter(col("generation") === 2L).collect()
      .map(r => r.getInt(0) -> r.getLong(2))
      .groupBy { case (c, _) => hot((c - nCentroids) / 2) }
    subsByParent.foreach { case (parent, halves) =>
      assert(halves.map(_._2).sum === pre(parent))
    }
  }

  test("v44: GC physically deletes exactly the de-listed parent dirs; " +
      "kept files untouched name-for-name; live inventory unchanged") {
    import graft.vector.IndexCompaction
    val nCentroids = 8
    IndexCompaction.gcApplied(spark, dir).count() // force clone + GC
    val gcDir = IndexCompaction.gcIndex(spark, dir, nCentroids)
    val srcDir = IndexCompaction.foldedIndex(spark, dir, nCentroids).root
    val parents = spark.read.parquet(graft.model.OracleSilver
        .dirFor(s"split_subcents_$nCentroids", dir))
      .select("parent_cell").distinct().collect().map(_.getInt(0))
    assert(parents.nonEmpty)
    // dead partition dirs are gone from the clone, present in the source
    parents.foreach { c =>
      assert(!new java.io.File(s"$gcDir/cells/cell=$c").exists(),
        s"parent cell=$c survived GC")
      assert(new java.io.File(s"$srcDir/cells/cell=$c").exists(),
        s"GC must not touch the source index (cell=$c)")
    }
    // every kept file survives name-for-name (nothing over-deleted)
    def files(root: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).map(f =>
        f.getAbsolutePath.stripPrefix(root)).filter(_.endsWith(".parquet"))
        .toSet
    }
    val keptSrc = files(s"$srcDir/cells").filterNot(p =>
      parents.exists(c => p.contains(s"cell=$c/")))
    assert(files(s"$gcDir/cells") === keptSrc)
    assert(files(s"$gcDir/cells2") === files(s"$srcDir/cells2"))
    // the live inventory is byte-identical to v42's (the hash-gate
    // contract, asserted here row-for-row as well)
    val v42 = IndexCompaction.rebalanceApplied(spark, dir).collect()
      .map(_.toSeq).toSet
    val v44 = IndexCompaction.gcApplied(spark, dir).collect()
      .map(_.toSeq).toSet
    assert(v44 === v42)
  }

  test("v43: queries whose probes touch no split cell rank identically " +
      "pre- vs post-rebalance (the v41 containment discipline)") {
    import graft.vector.IndexCompaction
    val nCentroids = 8
    val nProbe = 2
    val v39 = IndexCompaction.compactionApplied(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(5)))
      .groupBy(_._1)
    val v43 = IndexCompaction.rebalancedAnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(5)))
      .groupBy(_._1)
    // probe sets recomputed independently, pure-Scala double arithmetic
    // (the same strict left-to-right fold as the engine's dotCol)
    val indexDir = IndexCompaction.foldedIndex(spark, dir, nCentroids).root
    def vecsOf(df: org.apache.spark.sql.DataFrame, id: String,
               emb: String): Array[(Int, Array[Double])] =
      df.select(col(id).cast("int"), col(emb)).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cosine(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    val oldCents = vecsOf(
      spark.read.parquet(s"$indexDir/centroids"), "centroid_id", "c_emb")
    val subs = spark.read.parquet(graft.model.OracleSilver
      .dirFor(s"split_subcents_$nCentroids", dir))
    val parents = subs.select("parent_cell").distinct().collect()
      .map(_.getInt(0)).toSet
    val subCents = vecsOf(subs, "new_cell", "c_emb")
    val newCents = oldCents.filterNot(c => parents(c._1)) ++ subCents
    val queries = vecsOf(graft.model.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10), "vec_id", "embedding")
    def probes(q: Array[Double],
               cents: Array[(Int, Array[Double])]): Set[Int] =
      cents.map { case (id, c) => (id, cosine(q, c)) }
        .sortBy { case (id, cc) => (-cc, id) }.take(nProbe).map(_._1).toSet
    val unaffected = queries.filter { case (_, q) =>
      probes(q, oldCents).intersect(parents).isEmpty &&
        probes(q, newCents).forall(_ < nCentroids)
    }.map(_._1.toLong)
    assert(unaffected.nonEmpty,
      "fixture must contain queries untouched by the split")
    unaffected.foreach { qid =>
      // identical (rank, neighbor, cosine) — displacement can only reach
      // queries whose probes saw a split parent or child
      assert(v43(qid).map(t => (t._3, t._4)).toSeq.sorted ===
        v39(qid).map(t => (t._3, t._4)).toSeq.sorted, s"query $qid moved")
    }
  }
}
