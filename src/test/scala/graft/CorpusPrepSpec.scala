package graft

import graft.text.CorpusPrep
import org.apache.spark.sql.functions._

/** Training-corpus preparation: PII scrub (t9), deterministic split (p7),
  * source-mix planner (m1), benchmark decontamination (d12). Value-level
  * checks on crafted rows; invariants on the sf0.001 corpus. The DuckDB
  * hash parity of each is the driver's oracle gate. */
class CorpusPrepSpec extends GraftSpec {

  test("t9: detects and redacts emails, urls, phones on crafted text") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "write to bob@example.com or visit https://example.com/x now", "en", "web", 0L),
      (2L, "call 555-123-4567 twice: 555-123-4567", "en", "web", 0L),
      (3L, "no pii here just 42 numbers 7", "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = tempDir("pii_docs")
    crafted.write.mode("overwrite").parquet(tmp.resolve("documents.parquet").toString)

    val r = CorpusPrep.piiScrub(spark, tmp.toString).collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    assert(byId(1L).getLong(1) === 1L) // n_emails
    assert(byId(1L).getLong(2) === 1L) // n_urls
    assert(byId(1L).getString(6).contains("<EMAIL>"))
    assert(byId(1L).getString(6).contains("<URL>"))
    assert(byId(2L).getLong(3) === 2L) // n_phones
    assert(byId(2L).getString(6).contains("<PHONE>"))
    assert(byId(3L).getLong(1) === 0L && byId(3L).getLong(3) === 0L)
    assert(byId(3L).getLong(4) === 2L) // n_numbers: 42, 7
  }

  test("p7: split is exhaustive, deterministic, and roughly 90/5/5") {
    val r = CorpusPrep.splitAssign(spark, sfDir).cache()
    try {
      val bySplit = r.groupBy("split").agg(sum("n_docs").as("n"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      val total = bySplit.values.sum
      assert(bySplit.keySet === Set("train", "val", "test"))
      assert(total === spark.read.parquet(s"$sfDir/documents.parquet").count())
      // multiplicative hash into 1000 buckets: expect train ~90% +- wide slack
      assert(bySplit("train").toDouble / total > 0.8)
      // determinism: second run bit-identical
      val again = CorpusPrep.splitAssign(spark, sfDir).collect()
      assert(again.sameElements(r.collect()))
    } finally r.unpersist()
  }

  test("m1: rates are in (0,1], sample counts bounded, uniform target") {
    val r = CorpusPrep.sourceMix(spark, sfDir).cache()
    try {
      assert(r.filter(col("sampling_rate") <= 0 || col("sampling_rate") > 1).count() === 0)
      assert(r.filter(col("n_sample_docs") > col("n_docs")).count() === 0)
      // one shared target across all domains
      assert(r.select("target_chars").distinct().count() === 1)
      // a domain under target keeps everything (rate 1.0)
      val under = r.filter(col("n_chars_group").cast("double") <= col("target_chars"))
      assert(under.filter(col("sampling_rate") =!= 1.0).count() === 0)
    } finally r.unpersist()
  }

  test("d18: run algebra sound and consistent with d12's membership verdict") {
    val span = CorpusPrep.contaminationSpan(spark, sfDir).cache()
    try {
      val rows = span.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (nm, nr, lr, st) = (r.getAs[Long]("n_matched"), r.getAs[Long]("n_runs"),
          r.getAs[Long]("longest_run"), r.getAs[Long]("longest_span_tokens"))
        // runs partition the matches: each run holds >= 1 match, the
        // longest holds at least the average and at most all of them
        assert(nr <= nm && lr <= nm)
        if (nr > 0) assert(lr * nr >= nm, s"doc ${r.getLong(0)}: max run $lr * $nr runs < $nm")
        assert(st === (if (lr > 0) lr + 2 else 0L))
        assert(r.getAs[Boolean]("flagged") === (st >= 13))
      }
      // d12 agreement: a doc has a contaminated span iff d12 found any
      // common shingle (d18 counts positional hits, d12 distinct ones —
      // existence must coincide, and positional >= distinct)
      val d12 = CorpusPrep.contamination(spark, sfDir)
        .select(col("doc_id"), col("n_common"))
      val joined = span.join(d12, Seq("doc_id")).collect()
      assert(joined.length === rows.length)
      joined.foreach { r =>
        val (nm, nc) = (r.getAs[Long]("n_matched"), r.getAs[Long]("n_common"))
        assert((nm > 0) === (nc > 0), s"doc ${r.getLong(0)}: span/membership disagree")
        assert(nm >= nc)
      }
      // the fixture benchmark (every 97th doc) must actually light up
      assert(rows.exists(_.getAs[Long]("longest_run") > 0))
    } finally span.unpersist()
  }

  test("p14: epoch roster matches m3's plan; down-sampled domains coincide with p9") {
    val roster = CorpusPrep.epochApply(spark, sfDir).cache()
    try {
      val plan = CorpusPrep.epochPlan(spark, sfDir)
        .select("lang", "source", "n_docs", "full_epochs", "sample_frac", "n_epochs")
        .collect()
        .map(r => ((r.getString(0), r.getString(1)),
          (r.getAs[Long]("n_docs"), r.getAs[Long]("full_epochs"),
            r.getAs[Double]("sample_frac"), r.getAs[Long]("n_epochs")))).toMap
      // every full epoch carries the whole domain; epoch ids stay in plan range
      val perEpoch = roster.groupBy("lang", "source", "epoch")
        .agg(count(lit(1)).as("n"), max("is_partial").as("partial")).collect()
      assert(perEpoch.nonEmpty)
      perEpoch.foreach { r =>
        val (nDocs, full, frac, nEpochs) = plan((r.getString(0), r.getString(1)))
        val epoch = r.getAs[Long]("epoch")
        assert(epoch >= 1 && epoch <= nEpochs)
        if (epoch <= full) {
          assert(!r.getAs[Boolean]("partial"))
          assert(r.getAs[Long]("n") === nDocs, "full epochs carry every doc")
        } else {
          assert(r.getAs[Boolean]("partial") && frac > 0.0)
          assert(r.getAs[Long]("n") <= nDocs)
        }
      }
      // for a purely down-sampled domain, the partial epoch IS p9's kept set
      val downsampled = plan.filter(_._2._2 == 0L).keys.toSet
      assert(downsampled.nonEmpty, "fixture must contain over-target domains")
      val p14Kept = roster.collect()
        .filter(r => downsampled((r.getString(1), r.getString(2))))
        .map(r => ((r.getString(1), r.getString(2)), r.getLong(0))).toSet
      val p9Kept = CorpusPrep.mixApply(spark, sfDir).collect()
        .filter(r => r.getAs[Boolean]("kept") &&
          downsampled((r.getString(1), r.getString(2))))
        .map(r => ((r.getString(1), r.getString(2)), r.getLong(0))).toSet
      assert(p14Kept === p9Kept,
        "m3's sample_frac and m1's capped rate must keep identical docs")
    } finally roster.unpersist()
  }

  test("m5: isqrt weights exact; temperature flattens toward uniform; mass conserved") {
    val r = CorpusPrep.temperatureMix(spark, sfDir).cache()
    try {
      val rows = r.collect()
      assert(rows.nonEmpty)
      // weight IS the integer square root: w^2 <= mass < (w+1)^2, exactly
      rows.foreach { row =>
        val mass = row.getAs[Long]("n_chars_group")
        val w = row.getAs[Long]("weight")
        assert(w * w <= mass && mass < (w + 1) * (w + 1),
          s"isqrt($mass) != $w")
      }
      // temperature flattening: rate ∝ 1/sqrt(mass) — bigger domains
      // down-sample harder. 5% multiplicative slack because isqrt makes
      // w/mass jump up by ~1/w where mass crosses a perfect square;
      // weight monotonicity below is the exact claim.
      val byMass = rows.sortBy(_.getAs[Long]("n_chars_group"))
      byMass.sliding(2).foreach {
        case Array(small, big) =>
          assert(small.getAs[Long]("weight") <= big.getAs[Long]("weight"))
          assert(small.getAs[Double]("rate") >= big.getAs[Double]("rate") * 0.95,
            s"rate must not increase with mass: " +
              s"${small.getAs[String]("source")} vs ${big.getAs[String]("source")}")
        case _ =>
      }
      // interpolation bound on the extreme pair: the share ratio sits
      // between uniform (1) and natural (mass ratio) — the defining
      // temperature property
      val (lo, hi) = (byMass.head, byMass.last)
      val shareRatio = hi.getAs[Double]("mix_share") / lo.getAs[Double]("mix_share")
      val massRatio = hi.getAs[Long]("n_chars_group").toDouble /
        lo.getAs[Long]("n_chars_group").toDouble
      assert(shareRatio >= 1.0 - 1e-9 && shareRatio <= massRatio * 1.05,
        s"share ratio $shareRatio outside [1, mass ratio $massRatio]")
      // shares sum to 1 (floor-free), targets conserve mass up to floor loss
      val shareSum = rows.map(_.getAs[Double]("mix_share")).sum
      assert(math.abs(shareSum - 1.0) < 1e-9)
      val totalChars = rows.map(_.getAs[Long]("n_chars_group")).sum
      val targetSum = rows.map(_.getAs[Long]("target_chars")).sum
      assert(targetSum <= totalChars && targetSum > totalChars - rows.length,
        s"sum(target)=$targetSum vs total=$totalChars, n=${rows.length}")
      // direction column is consistent with the rate it summarizes
      rows.foreach { row =>
        val expect = if (row.getAs[Double]("rate") > 1.0) "up"
          else if (row.getAs[Double]("rate") < 1.0) "down" else "keep"
        assert(row.getAs[String]("direction") === expect)
      }
    } finally r.unpersist()
  }

  test("p9: applier verdict covers every doc; rate-1 domains keep all; deterministic") {
    val v = CorpusPrep.mixApply(spark, sfDir).cache()
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      assert(v.count() === docs.count(), "one verdict row per document")
      assert(v.select(countDistinct(col("doc_id"))).head.getLong(0) === docs.count())
      assert(v.filter(col("sample_bucket") < 0 || col("sample_bucket") >= 1000000L)
        .count() === 0)
      // every doc in a rate-1.0 domain is kept
      val full = CorpusPrep.sourceMix(spark, sfDir)
        .filter(col("sampling_rate") === 1.0).select("lang", "source")
      assert(v.join(full, Seq("lang", "source")).filter(!col("kept")).count() === 0)
      // corpus-level kept count tracks the plan's expectation (per-domain
      // counts are 5-12 docs at sf0.001 — binomial noise swamps any
      // per-domain bound; the sum is where hash-uniformity is testable)
      val kept = v.filter(col("kept")).count().toDouble
      val expected = CorpusPrep.sourceMix(spark, sfDir)
        .select(sum(col("sampling_rate") * col("n_docs").cast("double")))
        .head.getDouble(0)
      assert(math.abs(kept - expected) / expected < 0.1,
        s"kept $kept vs planned $expected")
      // sampling bucket is independent of p7's split bucket family
      val again = CorpusPrep.mixApply(spark, sfDir).collect()
      assert(again.sameElements(v.collect()))
    } finally v.unpersist()
  }

  test("p10: shuffle order is a dense per-shard rank, decorrelated from doc_id") {
    val o = CorpusPrep.shuffleOrder(spark, sfDir).cache()
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      assert(o.count() === docs.count(), "a position for every document")
      assert(o.filter(col("shard") < 0 || col("shard") >= 32).count() === 0)
      // positions are 1..n within each shard, no gaps or ties
      val perShard = o.groupBy("shard")
        .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"),
          countDistinct("pos").as("nd"))
      assert(perShard.filter(col("mx") =!= col("n") || col("mn") =!= 1L ||
        col("nd") =!= col("n")).count() === 0)
      // order within a shard is NOT doc_id order (the point of shuffling):
      // some adjacent pair must be out of doc_id order
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("pos"))
      val inversions = o.withColumn("prev_doc", lag(col("doc_id"), 1).over(w))
        .filter(col("prev_doc").isNotNull && col("prev_doc") > col("doc_id"))
      assert(inversions.count() > 0, "shuffle left the corpus in doc_id order")
      // deterministic: a second run is bit-identical
      assert(CorpusPrep.shuffleOrder(spark, sfDir).collect()
        .sameElements(o.collect()))
    } finally o.unpersist()
  }

  test("p11: curriculum stages order by quality; within-stage order is p10's shuffle") {
    val c = CorpusPrep.curriculum(spark, sfDir).cache()
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      assert(c.count() === docs.count(), "a curriculum slot for every document")
      // stage is exactly the negated rubric score (so ascending stage =
      // descending quality), and positions are dense within (stage, shard)
      assert(c.filter(col("stage") =!= -col("quality_score")).count() === 0)
      val per = c.groupBy("stage", "shard")
        .agg(count(lit(1)).as("n"), max("pos").as("mx"),
          countDistinct("pos").as("nd"))
      assert(per.filter(col("mx") =!= col("n") || col("nd") =!= col("n"))
        .count() === 0)
      // within a (stage, shard), consecutive positions follow the p10
      // shuffle key — never doc_id order by construction
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("stage"), col("shard")).orderBy(col("pos"))
      val bad = c.withColumn("prev_key", lag(col("shuffle_key"), 1).over(w))
        .filter(col("prev_key").isNotNull && col("prev_key") > col("shuffle_key"))
      assert(bad.count() === 0, "within-stage order must follow the shuffle key")
      // the shuffle key matches p10's for every doc (shared hash family)
      val p10 = CorpusPrep.shuffleOrder(spark, sfDir)
        .select(col("doc_id"), col("shuffle_key").as("k10"))
      assert(c.join(p10, Seq("doc_id"))
        .filter(col("shuffle_key") =!= col("k10")).count() === 0)
    } finally c.unpersist()
  }

  test("p12: windows conserve tokens, fill to budget, and reconstruct the stream") {
    val pw = CorpusPrep.packWindows(spark, sfDir).cache()
    try {
      val docs = graft.text.Corpus.docsTok(spark, sfDir)
        .select(col("doc_id"), col("lang"), expr("doc_id div 64").as("shard"),
          col("words"))
      // conservation: every corpus token lands in exactly one window
      val total = docs.agg(sum(size(col("words")))).head.getLong(0)
      assert(pw.agg(sum("n_tokens_window")).head.getLong(0) === total)
      // the packed text really contains n_tokens_window tokens
      assert(pw.filter(size(split(col("packed_text"), " ")) =!=
        col("n_tokens_window")).count() === 0)
      // every window except each (lang, shard)'s last is exactly full
      val lastW = pw.groupBy("lang", "shard").agg(max("window_id").as("last_w"))
      assert(pw.join(lastW, Seq("lang", "shard"))
        .filter(col("window_id") =!= col("last_w") && !col("is_full"))
        .count() === 0, "a non-final window is underfull")
      // reconstruction: windows in order == the doc stream in doc_id order
      // (collect_list order is not shuffle-stable: sort inside the agg)
      val fromWindows = pw.groupBy("lang", "shard")
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("window_id"), col("packed_text")))),
          s => s.getField("packed_text"))).as("got"))
      val fromDocs = docs.groupBy("lang", "shard")
        .agg(concat_ws(" ", flatten(transform(
          array_sort(collect_list(struct(col("doc_id"), col("words")))),
          s => s.getField("words")))).as("want"))
      assert(fromWindows.join(fromDocs, Seq("lang", "shard"))
        .filter(col("got") =!= col("want")).count() === 0,
        "window concatenation must reproduce the concatenated doc stream")
    } finally pw.unpersist()
  }

  test("m3: epoch algebra consistent with m1's capped rate") {
    val m3 = CorpusPrep.epochPlan(spark, sfDir).cache()
    try {
      assert(m3.filter(col("rate_raw") <= 0).count() === 0)
      assert(m3.filter(col("n_epochs") < 1).count() === 0)
      // full_epochs + sample_frac reassembles rate_raw exactly
      assert(m3.filter(abs(col("full_epochs") + col("sample_frac") - col("rate_raw"))
        > 0.0).count() === 0)
      // m1's capped rate is LEAST(1, rate_raw): join and check
      val m1 = CorpusPrep.sourceMix(spark, sfDir)
        .select(col("lang"), col("source"), col("sampling_rate"))
      val j = m3.join(m1, Seq("lang", "source"))
      assert(j.count() === m3.count())
      assert(j.filter(col("sampling_rate") =!= least(lit(1.0), col("rate_raw")))
        .count() === 0)
      // over-target domains run exactly one partial pass
      assert(j.filter(col("rate_raw") < 1.0 && col("n_epochs") =!= 1L).count() === 0)
    } finally m3.unpersist()
  }

  test("d14: leakage rows are exactly the cross-split near-dup pairs") {
    val leak = CorpusPrep.splitLeakage(spark, sfDir).cache()
    try {
      assert(leak.filter(col("split_a") === col("split_b")).count() === 0)
      assert(leak.filter(col("jaccard") < 0.5).count() === 0)
      // exact reconstruction from the d4 pair relation + the pure split expr
      val want = graft.dedup.Dedup.ngramJaccard(spark, sfDir, 0.5)
        .select(col("doc_a"), col("doc_b"),
          CorpusPrep.splitOf(col("doc_a")).as("sa"),
          CorpusPrep.splitOf(col("doc_b")).as("sb"))
        .filter(col("sa") =!= col("sb"))
      assert(leak.count() === want.count())
      assert(leak.select("doc_a", "doc_b")
        .exceptAll(want.select("doc_a", "doc_b")).count() === 0)
    } finally leak.unpersist()
  }

  test("p8: offsets are contiguous within (lang, shard); window ids monotone") {
    val r = CorpusPrep.packPlan(spark, sfDir).cache()
    try {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      val withPrev = r.withColumn("prev_end",
        lag(col("offset_start") + col("n_tokens"), 1, 0L).over(w))
      // concat-and-chunk: each doc starts exactly where the previous ended
      assert(withPrev.filter(col("offset_start") =!= col("prev_end")).count() === 0)
      // window id is the integer floor of offset/budget
      assert(r.filter(col("window_id") =!= expr("offset_start div 512")).count() === 0)
      assert(r.count() === spark.read.parquet(s"$sfDir/documents.parquet").count())
    } finally r.unpersist()
  }

  test("c2: verdict composition consistent; packing covers exactly the kept docs") {
    val r = graft.text.CorpusFilter.corpusBuild(spark, sfDir).cache()
    try {
      // kept implies every gate passed
      assert(r.filter(col("kept") && (col("quality_score") < 50 ||
        col("is_exact_dup") || col("is_contaminated") || col("is_benchmark")))
        .count() === 0)
      // kept docs have a split and an offset; dropped docs carry sentinels
      assert(r.filter(col("kept") &&
        (col("split") === "" || col("offset_start") < 0)).count() === 0)
      assert(r.filter(!col("kept") &&
        (col("split") =!= "" || col("offset_start") =!= -1L ||
          col("window_id") =!= -1L)).count() === 0)
      // verdicts agree with the standalone operators
      val d1 = graft.dedup.Dedup.exactDedup(spark, sfDir)
        .select(col("doc_id"), col("is_duplicate"))
      assert(r.join(d1, "doc_id")
        .filter(col("is_exact_dup") =!= col("is_duplicate")).count() === 0)
      assert(r.count() ===
        spark.read.parquet(s"$sfDir/documents.parquet").count())
    } finally r.unpersist()
  }

  test("t10: stats algebra consistent with direct token counts") {
    val r = CorpusPrep.corpusStats(spark, sfDir).collect()
    assert(r.length === 1)
    val row = r.head
    val tokens = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), "\\s+")).as("word"))
    assert(row.getLong(0) === tokens.count())                       // n_tokens
    assert(row.getLong(1) === tokens.distinct().count())            // vocab_size
    assert(row.getLong(2) <= row.getLong(1))                        // hapax <= vocab
    assert(row.getDouble(3) > 0 && row.getDouble(3) <= 1.0)         // ttr
    val top = tokens.groupBy("word").count()
      .orderBy(col("count").desc, col("word").asc).head
    assert(row.getString(4) === top.getString(0) &&
      row.getLong(5) === top.getLong(1))
  }

  test("writeShards: hive-partitioned by split/lang, kept docs only, idempotent") {
    val out = tempDir("shards_out")
    graft.text.CorpusFilter.writeShards(spark, sfDir, out.toString)
    graft.text.CorpusFilter.writeShards(spark, sfDir, out.toString) // overwrite, not append
    val shards = spark.read.parquet(out.toString)
    val kept = graft.text.CorpusFilter.corpusBuild(spark, sfDir)
      .filter(col("kept"))
    assert(shards.count() === kept.count())
    // partition dirs exist for each split present
    val splits = shards.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.nonEmpty)
    // every shard row is a kept doc with its text
    assert(shards.filter(col("text").isNull).count() === 0)
    assert(shards.join(kept.select("doc_id"), Seq("doc_id"), "left_anti").count() === 0)
  }

  test("d12: benchmark docs excluded; ratio algebra and flag consistent") {
    val r = CorpusPrep.contamination(spark, sfDir).cache()
    try {
      assert(r.filter(col("doc_id") % 97 === 0).count() === 0)
      assert(r.filter(col("n_common") > col("n_shingles")).count() === 0)
      val badRatio = r.filter(abs(col("contamination_ratio") -
        col("n_common").cast("double") / col("n_shingles").cast("double")) > 1e-12)
      assert(badRatio.count() === 0)
      val badFlag = r.filter(col("is_contaminated") =!=
        (col("n_common") * 10 >= col("n_shingles") * 3))
      assert(badFlag.count() === 0)
    } finally r.unpersist()
  }

  test("p15: quarantine covers exactly the non-train sides of leaked " +
    "pairs; no leaked pair survives among remaining docs") {
    import graft.text.CorpusPrep
    val leaked = CorpusPrep.splitLeakage(spark, sfDir).collect()
    val expectQ = leaked.flatMap { r =>
      Seq(r.getAs[Long]("doc_a") -> r.getAs[String]("split_a"),
        r.getAs[Long]("doc_b") -> r.getAs[String]("split_b"))
    }.filter(_._2 != "train").map(_._1).toSet
    val res = CorpusPrep.leakageRepair(spark, sfDir).collect()
    val gotQ = res.filter(_.getAs[Boolean]("is_quarantined"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(gotQ === expectQ)
    res.foreach { r =>
      val q = r.getAs[Boolean]("is_quarantined")
      assert(r.getAs[String]("final_split") ===
        (if (q) "quarantined" else r.getAs[String]("orig_split")))
      if (!q) assert(r.getAs[String]("final_split") !== "quarantined")
    }
    // fixpoint: re-deriving leaks over the FINAL assignment finds none
    // among non-quarantined docs (quarantining cannot create pairs)
    val finalSplit = res.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("final_split")).toMap
    graft.dedup.Dedup.ngramJaccard(spark, sfDir, 0.5)
      .select("doc_a", "doc_b").collect().foreach { r =>
        val (a, b) = (finalSplit(r.getAs[Long]("doc_a")),
          finalSplit(r.getAs[Long]("doc_b")))
        if (a != "quarantined" && b != "quarantined")
          assert(a === b, "a cross-split near-dup pair survived repair")
      }
  }

  test("p16: rebalance plan conserves tokens and equalizes shards to ±1") {
    import org.apache.spark.sql.functions._
    val plan = graft.text.CorpusFilter.shardRebalance(spark, sfDir).cache()
    try {
      val cur = graft.text.CorpusFilter.shardManifest(spark, sfDir)
        .groupBy("split", "shard").agg(sum("n_tokens").as("cur_tokens"))
        .withColumnRenamed("split", "cur_split")
      // conservation out of every donor: plan rows (moves + stay) must
      // exactly re-partition each shard's current tokens
      val out = plan.groupBy(col("split"), col("from_shard"))
        .agg(sum("n_tokens").as("planned"))
        .join(cur, col("split") === col("cur_split") &&
          col("from_shard") === col("shard"))
        .filter(col("planned") =!= col("cur_tokens"))
      assert(out.count() === 0, "a donor's plan rows must sum to its size")
      // equalization into every acceptor: desired sizes differ by <= 1
      val in_ = plan.groupBy("split", "to_shard")
        .agg(sum("n_tokens").as("target")).cache()
      try {
        val spread = in_.groupBy("split")
          .agg((max("target") - min("target")).as("spread"))
        assert(spread.filter(col("spread") > 1).count() === 0,
          "desired shard sizes must be equal to within one token")
      } finally in_.unpersist()
      // a move never exceeds its donor, and every size is positive
      assert(plan.filter(col("n_tokens") <= 0).count() === 0)
    } finally plan.unpersist()
  }
}
