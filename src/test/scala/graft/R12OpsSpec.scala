package graft

import org.apache.spark.sql.functions._

/** Round-12 operator invariants: d30 index maintenance. */
class R12OpsSpec extends GraftSpec {

  test("d30: every formerly-novel doc classifies exact after the " +
      "append; non-novel verdicts are unchanged") {
    val rows = graft.dedup.Dedup.indexMaintenance(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3)))
    assert(rows.nonEmpty)
    val novel = rows.filter(_._2 == "novel")
    assert(novel.nonEmpty, "fixture must contain novel delta docs")
    novel.foreach { case (id, _, after) =>
      assert(after === "exact", s"doc $id stayed $after after the append")
    }
    rows.filterNot(_._2 == "novel").foreach { case (id, before, after) =>
      assert(after === before,
        s"doc $id flipped $before -> $after without an index change")
    }
  }

  test("d30 verdict_before equals d29's verdicts (the maintenance key " +
      "does not re-derive a different classification)") {
    val d29 = graft.dedup.Dedup.incrementalDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    val d30 = graft.dedup.Dedup.indexMaintenance(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(d30 === d29)
  }

  test("d30 index growth is exactly the novel identities/buckets: " +
      "append row counts match the distinct novel text and band sets") {
    import graft.dedup.Dedup
    // force the build, then read the physical index
    Dedup.indexMaintenance(spark, sfDir).count()
    val verdicts = Dedup.indexMaintenance(spark, sfDir)
      .filter(col("verdict_before") === "novel").select("doc_id")
    val docs = graft.text.Corpus.docs(spark, sfDir)
    val novelTexts = docs.join(verdicts, Seq("doc_id"), "left_semi")
      .select("text").distinct().count()
    val snapTexts = docs
      .filter(col("doc_id") % 10 < Dedup.SnapshotMod)
      .select("text").distinct().count()
    // the physical exact index after maintenance = snapshot ∪ novel
    // (disjoint by novelty, so counts add)
    val idxDir = Dedup.d30Index(spark, sfDir)
    val physTexts = spark.read.parquet(s"$idxDir/texts").count()
    assert(physTexts === snapTexts + novelTexts)
  }

  test("m12 (silver-algebra form) is bit-identical to m4's in-memory " +
      "frame dedup") {
    import graft.multimodal.Multimodal
    val m4 = Multimodal.frameDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getBoolean(6))).sortBy(x => (x._1, x._2))
    val m12 = Multimodal.frameDedupApplied(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getBoolean(6))).sortBy(x => (x._1, x._2))
    assert(m12 === m4)
  }

  test("er7: leave-block-out estimation removes er6's inversion — " +
      "m > u for all three fields, including the blocked ones") {
    val rows = graft.analytics.Linkage.leaveBlockOutWeights(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).sorted.toSeq === Seq("brand", "name", "type"))
    rows.foreach { case (f, blk, m, u) =>
      assert(f != blk, s"field $f estimated from its own block")
      assert(m > u, s"field $f still inverted: m=$m u=$u (block $blk)")
    }
  }

  test("a67: bitmap base ⊕ delta equals full-recompute exact distinct " +
      "per store") {
    val inc = graft.etl.Materialize.incrementalDistinct(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = graft.model.Tables.sales(spark, sfDir)
      .groupBy(col("store_id"))
      .agg(countDistinct(col("sku")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(inc === full)
    assert(inc.nonEmpty)
  }

  test("a68: persisted Misra-Gries sketches merge to the exact top-k " +
      "(max_err 0) — partial-merge == full recompute on heavy hitters") {
    val inc = graft.etl.Materialize.incrementalTopK(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(inc.nonEmpty)
    assert(inc.forall(_._5 == 0L), "exactness regime must pin max_err to 0")
    // equals sk4's exact one-pass ranking
    val oneShot = graft.analytics.Sketches.storeTopSellersExact(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(inc.sorted.toSeq === oneShot.sorted.toSeq)
  }

  test("a68's sketch path under a TIGHT summary (non-exact regime): " +
      "merged estimates stay one-sided under-counts within max_err, " +
      "and every key with true count > max_err survives the merge") {
    import graft.functions.TopKByCount
    import spark.implicits._
    // skewed synthetic stream split into two disjoint halves: the merge
    // must honor the Misra-Gries bound even when both partials truncate
    val keys = (1 to 40).flatMap(i => Seq.fill(41 - i)(s"k$i"))
    val truth = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val (h1, h2) = keys.zipWithIndex.partition(_._2 % 2 == 0)
    val size = 8
    def sketchOf(xs: Seq[String]) = xs.toDF("sku")
      .agg(TopKByCount.topKSketch(org.apache.spark.sql.functions.col("sku"),
        size).as("sketch"))
    val merged = sketchOf(h1.map(_._1)).unionByName(sketchOf(h2.map(_._1)))
      .agg(TopKByCount.topKMergeSketch(
        org.apache.spark.sql.functions.col("sketch"), size).as("mg"))
      .select("mg").collect().head.getStruct(0)
    val maxErr = merged.getLong(1)
    val items = merged.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(items.size <= size)
    assert(maxErr > 0L, "the tight summary must actually truncate")
    items.foreach { case (k, est) =>
      assert(est <= truth(k), s"$k over-counted: $est > ${truth(k)}")
      assert(truth(k) <= est + maxErr, s"$k outside the MG bound")
    }
    truth.filter(_._2 > maxErr).keys.foreach { k =>
      assert(items.contains(k), s"heavy key $k (true ${truth(k)} > " +
        s"max_err $maxErr) evicted — violates the MG guarantee")
    }
  }

  test("m13/m14 (re-read silver) are bit-identical to m8/m10's " +
      "in-memory banded near-dup pairs") {
    import graft.multimodal.Multimodal
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    assert(rows(Multimodal.imageNearDupApplied(spark, sfDir)) ===
      rows(Multimodal.imageNearDup(spark, sfDir)))
    assert(rows(Multimodal.phashDupApplied(spark, sfDir)) ===
      rows(Multimodal.imagePHashDup(spark, sfDir)))
  }
}
