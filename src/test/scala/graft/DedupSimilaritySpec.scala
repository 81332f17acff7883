package graft

import graft.dedup.Dedup
import graft.vector.Similarity
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends GraftSpec {

  test("d1: keep_id <= doc_id and keepers are not duplicates") {
    val d = Dedup.exactDedup(spark, sfDir)
    assert(d.filter(col("keep_id") > col("doc_id")).count() === 0)
    assert(d.filter(col("doc_id") === col("keep_id") && col("is_duplicate")).count() === 0)
  }

  test("d2: minhash-estimated jaccard tracks exact jaccard on candidates") {
    val d = Dedup.minhashLsh(spark, sfDir)
    assert(d.count() > 0, "corpus should contain LSH candidate pairs")
    // est in [0,1], exact in (0,1], and candidates share at least one band
    assert(d.filter(col("est_jaccard") < 0 || col("est_jaccard") > 1).count() === 0)
    assert(d.filter(col("n_common_bands") < 1).count() === 0)
    // sketch quality: on average |est - exact| < 0.35 (16 hashes is coarse)
    val mae = d.agg(avg(abs(col("est_jaccard") - col("jaccard")))).head.getDouble(0)
    assert(mae < 0.35, s"minhash estimate too far from exact jaccard: $mae")
  }

  test("d3: simhash byte bands recombine to the signature") {
    val d = Dedup.simhash(spark, sfDir)
    val bad = d.filter(
      col("band0") + col("band1") * 256L + col("band2") * 65536L +
        col("band3") * 16777216L =!= col("simhash")).count()
    assert(bad === 0)
    assert(d.filter(col("simhash") < 0 || col("simhash") > 4294967295L).count() === 0)
  }

  test("d4: jaccard pairs are symmetric-free, above threshold, correct algebra") {
    val d = Dedup.ngramJaccard(spark, sfDir)
    assert(d.filter(col("doc_a") >= col("doc_b")).count() === 0)
    assert(d.filter(col("jaccard") < 0.2).count() === 0)
    val bad = d.filter(abs(col("jaccard") -
      col("n_common") / (col("size_a") + col("size_b") - col("n_common"))) > 1e-12)
    assert(bad.count() === 0)
  }

  test("d6: clusters are closed over the edge relation; ids are component minima") {
    val clusters = Dedup.dupClusters(spark, sfDir).cache()
    try {
      assert(clusters.filter(col("cluster_id") > col("doc_id")).count() === 0)
      // every >=0.5-jaccard pair lands in the same cluster
      val edges = Dedup.ngramJaccard(spark, sfDir, 0.5).select("doc_a", "doc_b")
      val la = clusters.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca"))
      val lb = clusters.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb"))
      val joined = edges.join(la, "doc_a").join(lb, "doc_b")
      assert(joined.filter(col("ca") =!= col("cb")).count() === 0)
      // each cluster's id is a member of the cluster
      val badRoot = clusters.select(col("cluster_id")).distinct()
        .join(clusters.select(col("doc_id"), col("cluster_id").as("c2")),
          col("cluster_id") === col("doc_id"), "left_anti")
      assert(badRoot.count() === 0)
    } finally clusters.unpersist()
  }

  test("d9/d10: xxhash scale twins agree exactly with the dictionary variants") {
    // d9 vs d4: identical pair sets AND identical jaccard/intersection
    // values — raw 64-bit shingle ids preserve set identity, so the exact
    // algebra is unchanged (only the id assignment differs)
    def pairKey(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("size_a"),
        col("size_b"), col("jaccard"))
      .collect().map(_.toSeq).toSet
    assert(pairKey(Dedup.ngramJaccardXxhash(spark, sfDir)) ===
      pairKey(Dedup.ngramJaccard(spark, sfDir)))
    // d10 vs d6: identical (doc -> cluster, size) labeling
    def clusterKey(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(_.toSeq).toSet
    assert(clusterKey(Dedup.dupClustersXxhash(spark, sfDir)) ===
      clusterKey(Dedup.dupClusters(spark, sfDir)))
  }

  test("d6/d10: cluster handles are bound to the session that asked for them") {
    // warm both memos in the shared session first: a second session must
    // get its own build, not a frame bound to the first session
    Dedup.dupClusters(spark, sfDir)
    Dedup.dupClustersXxhash(spark, sfDir)
    val s2 = spark.newSession()
    val d6 = Dedup.dupClusters(s2, sfDir)
    val d10 = Dedup.dupClustersXxhash(s2, sfDir)
    assert(d6.sparkSession eq s2)
    assert(d10.sparkSession eq s2)
    assert(d6.count() === Dedup.dupClusters(spark, sfDir).count())
  }

  test("d13: xxhash LSH eval count algebra matches d7's true-pair total") {
    // tp + fn_estimate + fn_banding partitions the >= 0.5 true-pair set:
    // tp/fn_estimate split the candidates by estimate, fn_banding is what
    // banding never surfaced. d9 ≡ d4 pair-for-pair (asserted above), so
    // both evals must account for the SAME total — even though the tp/fp
    // split itself may differ (the minhash families differ by design).
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().head
    val dict = row(Dedup.lshEval(spark, sfDir))
    val xx = row(Dedup.lshEvalXxhash(spark, sfDir))
    val truePairs = Dedup.ngramJaccard(spark, sfDir, 0.5).count()
    assert(dict.getLong(0) + dict.getLong(2) + dict.getLong(3) === truePairs)
    assert(xx.getLong(0) + xx.getLong(2) + xx.getLong(3) === truePairs)
    assert(xx.getLong(4) > 0, "xxhash banding must surface candidates")
  }

  test("d11: xxhash simhash signatures are 32-bit and byte bands recombine") {
    val s = Dedup.simhashXxhash(spark, sfDir)
    assert(s.count() > 0)
    assert(s.filter(col("simhash") < 0 || col("simhash") >= (1L << 32)).count() === 0)
    val recombined = s.filter(col("simhash") =!=
      col("band0") + col("band1") * 256 + col("band2") * 65536 +
        col("band3") * 16777216)
    assert(recombined.count() === 0)
  }

  test("t8: xxhash fingerprints — equal texts agree, n_words matches t4") {
    val fp = graft.text.TextAnalysis.fingerprintXxhash(spark, sfDir)
    // identical text => identical fingerprint (join via exact-dup groups)
    val groups = Dedup.exactDedup(spark, sfDir).select(col("doc_id"), col("keep_id"))
    val byGroup = fp.join(groups, Seq("doc_id"))
      .groupBy(col("keep_id"))
      .agg(countDistinct(col("fingerprint")).as("n_fp"))
    assert(byGroup.filter(col("n_fp") =!= 1).count() === 0)
    // token-count parity with the dictionary fingerprint
    val t4 = graft.text.TextAnalysis.fingerprint(spark, sfDir)
      .select(col("doc_id"), col("n_words").as("n_words_dict"))
    assert(fp.join(t4, Seq("doc_id"))
      .filter(col("n_words") =!= col("n_words_dict")).count() === 0)
  }

  test("v1: rank-1 neighbor has the max cosine; self excluded; k respected") {
    val v = Similarity.cosineTopK(spark, sfDir)
    assert(v.filter(col("query_id") === col("neighbor_id")).count() === 0)
    val perQuery = v.groupBy("query_id").agg(
      count(lit(1)).as("n"), max("cosine").as("mx"),
      max(when(col("rank") === 1, col("cosine"))).as("r1"))
    assert(perQuery.filter(col("n") > 5).count() === 0)
    assert(perQuery.filter(col("r1") =!= col("mx")).count() === 0)
  }

  test("v2: LSH neighbors are a subset of the same bucket; cosine matches v1 where present") {
    val v2 = Similarity.annLsh(spark, sfDir)
    val v1 = Similarity.cosineTopK(spark, sfDir, k = 1000)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("cos_bf"))
    val joined = v2.join(v1, Seq("query_id", "neighbor_id"), "left")
    assert(joined.filter(col("cos_bf").isNull).count() === 0,
      "every LSH pair must exist in the brute-force relation")
    assert(joined.filter(abs(col("cosine") - col("cos_bf")) > 0).count() === 0,
      "cosine must be bit-identical between v1 and v2 paths")
  }

  test("v3: near-dup neighbor stays within the label cell") {
    val v3 = Similarity.cosineNearDup(spark, sfDir)
    val e = graft.model.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
    val joined = v3.join(e, "neighbor_id")
    assert(joined.filter(col("label") =!= col("n_label")).count() === 0)
    // exactly one row per vector
    assert(v3.groupBy("vec_id").count().filter(col("count") =!= 1).count() === 0)
  }

  test("v4: IVF pairs exist in brute force with identical cosine; ranks contiguous") {
    val v4 = Similarity.ivfAnn(spark, sfDir)
    assert(v4.count() > 0)
    val v1 = Similarity.cosineTopK(spark, sfDir, k = 1000)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("cos_bf"))
    val joined = v4.join(v1, Seq("query_id", "neighbor_id"), "left")
    assert(joined.filter(col("cos_bf").isNull).count() === 0,
      "every IVF pair must exist in the brute-force relation")
    assert(joined.filter(abs(col("cosine") - col("cos_bf")) > 0).count() === 0,
      "cosine must be bit-identical between v1 and v4 paths")
    // per query: ranks are 1..n with no gaps
    val ranks = v4.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"), min(col("rank")).as("mn"))
    assert(ranks.filter(col("mn") =!= 1 || col("mx") =!= col("n")).count() === 0)
  }

  test("v6: recall in [0,1]; ivf recall consistent with v4-in-v1 membership") {
    val r = Similarity.annRecall(spark, sfDir).cache()
    try {
      assert(r.filter(col("recall") < 0 || col("recall") > 1).count() === 0)
      assert(r.select("method").distinct().count() === 2)
      // n_hits can never exceed n_truth
      assert(r.filter(col("n_hits") > col("n_truth")).count() === 0)
      // recomputed hits for ivf match the reported counts
      val truth = Similarity.cosineTopK(spark, sfDir)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Similarity.ivfAnn(spark, sfDir).select("query_id", "neighbor_id")
      val expected = truth.join(ivf.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id").agg(sum(coalesce(col("hit"), lit(0L))).as("h"))
      val mismatch = r.filter(col("method") === "ivf").join(expected, "query_id")
        .filter(col("n_hits") =!= col("h"))
      assert(mismatch.count() === 0)
    } finally r.unpersist()
  }

  test("v18: probe sweep is monotone and self-certifying at full probe") {
    val r = Similarity.probeSweep(spark, sfDir).cache()
    try {
      val rows = r.orderBy("n_probe").collect()
      assert(rows.map(_.getAs[Long]("n_probe")).toSeq === Seq(1L, 2L, 4L, 8L))
      // recall and candidate count can only grow with the probe budget
      rows.zip(rows.tail).foreach { case (a, b) =>
        assert(a.getAs[Double]("recall") <= b.getAs[Double]("recall"))
        assert(a.getAs[Long]("n_candidates") <= b.getAs[Long]("n_candidates"))
      }
      // full probe scans every cell: exact search, recall exactly 1
      assert(rows.last.getAs[Double]("recall") === 1.0)
      rows.foreach(r0 => assert(r0.getAs[Long]("n_hits") <= r0.getAs[Long]("n_truth")))
      // the nProbe=2 point of the curve must agree with v6's ivf eval
      val v6hits = Similarity.annRecall(spark, sfDir)
        .filter(col("method") === "ivf")
        .agg(sum("n_hits")).head.getLong(0)
      assert(rows(1).getAs[Long]("n_hits") === v6hits)
    } finally r.unpersist()
  }

  test("v7: int8 retrieval preserves most of float recall@5") {
    val r = Similarity.quantizedRecall(spark, sfDir).cache()
    try {
      assert(r.filter(col("recall") < 0 || col("recall") > 1).count() === 0)
      assert(r.filter(col("n_hits") > col("n_truth")).count() === 0)
      // 8-bit min-max codes are a mild distortion: mean recall@5 stays high
      val mean = r.agg(avg(col("recall"))).head.getDouble(0)
      assert(mean >= 0.8, s"quantized mean recall@5 too low: $mean")
    } finally r.unpersist()
  }

  test("v5: quantized codes in [0,255]; dequantization error within one step") {
    val v5 = Similarity.quantize(spark, sfDir).cache()
    try {
      val e = graft.model.Tables.embeddings(spark, sfDir)
      assert(v5.count() === e.count())
      // codes parse back to longs in range, one per dimension
      val codes = v5.select(col("vec_id"),
        posexplode(split(col("q_csv"), ",").cast("array<long>")).as(Seq("pos", "q")))
      assert(codes.filter(col("q") < 0 || col("q") > 255).count() === 0)
      assert(codes.groupBy("vec_id").count()
        .join(v5.select("vec_id", "n_dims"), "vec_id")
        .filter(col("count") =!= col("n_dims")).count() === 0)
      // q_sum is the sum of the codes
      val sums = codes.groupBy("vec_id").agg(sum("q").as("s"))
        .join(v5, "vec_id").filter(col("s") =!= col("q_sum"))
      assert(sums.count() === 0)
      // dequantized values stay within one quantization step of the source:
      // |x - (min + (q + 0.5) * step)| <= step for every element
      val stats = e.select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos").agg(min(col("x").cast("double")).as("dmin"),
          max(col("x").cast("double")).as("dmax"))
      val perElem = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .join(stats, "pos")
        .join(codes, Seq("vec_id", "pos"))
      val step = (col("dmax") - col("dmin")) / lit(255.0)
      val recon = col("dmin") + (col("q").cast("double") + lit(0.5)) * step
      val bad = perElem.filter(col("dmax") =!= col("dmin") &&
        abs(col("x").cast("double") - recon) > step)
      assert(bad.count() === 0)
    } finally v5.unpersist()
  }

  test("d15: boilerplate coverage — bounds, flag algebra, threshold extremes") {
    val b = Dedup.boilerplate(spark, sfDir).cache()
    try {
      assert(b.count() > 0)
      assert(b.filter(col("n_boiler") > col("n_shingles")).count() === 0)
      assert(b.filter(col("boiler_frac") < 0 || col("boiler_frac") > 1).count() === 0)
      // the flag is exactly the integer-exact 10% rule
      assert(b.filter(col("is_boilerplate") =!=
        (col("n_boiler") * lit(10L) >= col("n_shingles"))).count() === 0)
      // minDf = 1: every shingle is "frequent" -> full coverage everywhere
      val all = Dedup.boilerplate(spark, sfDir, minDf = 1)
      assert(all.filter(col("n_boiler") =!= col("n_shingles")).count() === 0)
      assert(all.filter(!col("is_boilerplate")).count() === 0)
      // minDf beyond any df: nothing is frequent -> zero coverage everywhere
      val none = Dedup.boilerplate(spark, sfDir, minDf = Int.MaxValue)
      assert(none.filter(col("n_boiler") =!= 0).count() === 0)
      assert(none.filter(col("is_boilerplate")).count() === 0)
    } finally b.unpersist()
  }

  test("v8: PQ codes in range; codebook vectors reconstruct exactly") {
    val v8 = Similarity.pqCodes(spark, sfDir).cache()
    try {
      val e = graft.model.Tables.embeddings(spark, sfDir)
      assert(v8.count() === e.count())
      (0 until 4).foreach { s =>
        assert(v8.filter(col(s"code_$s") < 0 || col(s"code_$s") > 7).count() === 0,
          s"sub $s code out of range")
      }
      assert(v8.filter(col("recon_d2") < 0).count() === 0)
      // the 8 codebook donors (smallest vec_ids) are their own nearest code
      // in every subspace: distance 0, code = their codebook row
      val donors = e.select(col("vec_id")).orderBy("vec_id").limit(8)
        .collect().map(_.getLong(0)).zipWithIndex.toMap
      v8.filter(col("vec_id").isin(donors.keys.toSeq: _*))
        .collect().foreach { r =>
          val expect = donors(r.getLong(0)).toLong
          assert(r.getDouble(6) === 0.0, s"donor ${r.getLong(0)} recon_d2")
          (0 until 4).foreach(s =>
            assert(r.getLong(2 + s) === expect, s"donor ${r.getLong(0)} code_$s"))
        }
    } finally v8.unpersist()
  }

  test("v9: PQ recall well-formed and consistent with v8 reconstruction") {
    val r = Similarity.pqRecall(spark, sfDir).cache()
    try {
      assert(r.count() === 10) // one row per query
      assert(r.filter(col("recall") < 0 || col("recall") > 1).count() === 0)
      assert(r.filter(col("n_hits") > col("n_truth")).count() === 0)
      assert(r.filter(col("n_truth") =!= 5).count() === 0)
    } finally r.unpersist()
  }

  test("v10: ADC is exact on codebook donors; ranks contiguous per query") {
    val v10 = Similarity.pqAdc(spark, sfDir).cache()
    try {
      // 10 queries × top-5, dense ranks
      assert(v10.count() === 50)
      assert(v10.groupBy("query_id").agg(sum("rank").as("s"))
        .filter(col("s") =!= 15).count() === 0)
      // donors (vec_id < 8) reconstruct exactly, so their ADC cosine must
      // equal the true float cosine (up to sub-sum association: ADC adds
      // four sub-fold partials, the flat fold adds 64 terms in sequence)
      val e = graft.model.Tables.embeddings(spark, sfDir)
        .withColumn("norm2", Similarity.dotColHof(col("embedding"), col("embedding")))
      val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("norm2").as("qn"))
      val n = e.filter(col("vec_id") < 8).select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ne"), col("norm2").as("nn"))
      val exact = q.join(n, col("query_id") =!= col("neighbor_id"))
        .withColumn("cos_exact",
          Similarity.dotColHof(col("qe"), col("ne")) / sqrt(col("qn") * col("nn")))
        .select("query_id", "neighbor_id", "cos_exact")
      // donors rarely make the top-5 on a random corpus — rank ALL
      // candidates (k = corpus size) to reach the donor rows
      val full = Similarity.pqAdc(spark, sfDir, k = 1000)
      val joined = full.filter(col("neighbor_id") < 8)
        .join(exact, Seq("query_id", "neighbor_id"))
      assert(joined.count() > 0)
      assert(joined.filter(
        abs(col("cosine_adc") - col("cos_exact")) > 1e-9).count() === 0,
        "ADC cosine diverges from exact cosine on an exactly-reconstructed donor")
    } finally v10.unpersist()
  }

  test("d16: one quality-maximal keeper per cluster; singletons all keep") {
    val v = Dedup.dedupVerdict(spark, sfDir).cache()
    try {
      val clusters = Dedup.dupClusters(spark, sfDir)
      assert(v.count() === clusters.count(), "a verdict for every document")
      // exactly one keep per cluster, and it IS the keeper_id row
      val perCluster = v.groupBy("cluster_id")
        .agg(sum(when(col("action") === "keep", 1).otherwise(0)).as("n_keep"))
      assert(perCluster.filter(col("n_keep") =!= 1).count() === 0)
      assert(v.filter(col("action") === "keep" &&
        col("doc_id") =!= col("keeper_id")).count() === 0)
      // no dropped doc outscores its cluster's keeper; equal scores only
      // lose to a smaller doc_id (the d1 tie-break)
      val keeperQ = v.filter(col("action") === "keep")
        .select(col("cluster_id"), col("quality_score").as("kq"),
          col("doc_id").as("kid"))
      val bad = v.filter(col("action") === "drop").join(keeperQ, Seq("cluster_id"))
        .filter(col("quality_score") > col("kq") ||
          (col("quality_score") === col("kq") && col("doc_id") < col("kid")))
      assert(bad.count() === 0, "a dropped doc outranks its keeper")
      // singleton clusters keep their only member
      assert(v.filter(col("cluster_size") === 1 && col("action") =!= "keep")
        .count() === 0)
    } finally v.unpersist()
  }

  test("v12: LSH near-dup neighbor shares the bucket; cosine is exact") {
    val v12 = Similarity.lshNearDup(spark, sfDir).cache()
    try {
      assert(v12.count() > 0)
      // every vector appears at most once (rank-1 semantics)
      assert(v12.groupBy("vec_id").count().filter(col("count") > 1).count() === 0)
      // the neighbor's recomputed bucket equals the vector's bucket, and
      // the reported cosine matches a direct recomputation bitwise
      val e = graft.model.Tables.embeddings(spark, sfDir)
        .withColumn("norm2", Similarity.dotColHof(col("embedding"), col("embedding")))
      val withA = v12.join(e.select(col("vec_id"), col("embedding").as("ae"),
        col("norm2").as("an")), Seq("vec_id"))
      val withB = withA.join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("be"), col("norm2").as("bn")), Seq("neighbor_id"))
      val recomputed = withB.withColumn("cos2",
        Similarity.dotColHof(col("ae"), col("be")) / sqrt(col("an") * col("bn")))
      assert(recomputed.filter(col("cosine") =!= col("cos2")).count() === 0)
      assert(recomputed.filter(col("is_near_dup") =!=
        (col("cosine") >= 0.4)).count() === 0)
    } finally v12.unpersist()
  }

  test("v13: residual-PQ donors reconstruct exactly; codes and cells in range") {
    val v13 = Similarity.residualPq(spark, sfDir).cache()
    try {
      val e = graft.model.Tables.embeddings(spark, sfDir)
      assert(v13.count() === e.count())
      assert(v13.filter(col("cell") < 0 || col("cell") > 7).count() === 0)
      (0 until 4).foreach { s =>
        assert(v13.filter(col(s"code_$s") < 0 || col(s"code_$s") > 7).count() === 0)
      }
      assert(v13.filter(col("recon_d2") < 0).count() === 0)
      // the codebook donors (the 8 vec_ids AFTER the centroid donors)
      // reconstruct exactly: zero error, own codebook index everywhere
      val donors = e.select(col("vec_id")).orderBy("vec_id").limit(16)
        .collect().map(_.getLong(0)).drop(8).zipWithIndex.toMap
      v13.filter(col("vec_id").isin(donors.keys.toSeq: _*))
        .collect().foreach { r =>
          val expect = donors(r.getLong(0)).toLong
          assert(r.getDouble(6) === 0.0, s"donor ${r.getLong(0)} recon_d2")
          (0 until 4).foreach(s =>
            assert(r.getLong(2 + s) === expect, s"donor ${r.getLong(0)} code_$s"))
        }
      // centroid donors have the zero residual: recon error 0 by triangle
      val cdon = e.select(col("vec_id")).orderBy("vec_id").limit(8)
        .collect().map(_.getLong(0))
      val czero = v13.filter(col("vec_id").isin(cdon.toSeq: _*))
        .agg(max(col("recon_d2"))).head.getDouble(0)
      assert(czero >= 0.0)
    } finally v13.unpersist()
  }

  test("v11: IVF-PQ candidates are v4's cells, scores are v10's ADC values") {
    val v11 = Similarity.ivfPqAnn(spark, sfDir).cache()
    try {
      assert(v11.count() === 50)
      // candidate generation is the IVF parent's: every scored pair must
      // appear in v4's (unbounded) probed-cell candidate set
      val ivfAll = Similarity.ivfAnn(spark, sfDir, k = 1000)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("in_ivf"))
      assert(v11.join(ivfAll, Seq("query_id", "neighbor_id"), "left")
        .filter(col("in_ivf").isNull).count() === 0,
        "v11 scored a pair outside the probed IVF cells")
      // scoring is the PQ parent's: ADC values agree bitwise with v10
      val adcAll = Similarity.pqAdc(spark, sfDir, k = 1000)
        .select(col("query_id"), col("neighbor_id"),
          col("cosine_adc").as("adc_v10"))
      assert(v11.join(adcAll, Seq("query_id", "neighbor_id"))
        .filter(col("cosine_adc") =!= col("adc_v10")).count() === 0,
        "v11 ADC score diverges from v10 on a shared pair")
    } finally v11.unpersist()
  }

  test("d20: source matrix cells recompute exactly from the pair silver; " +
    "pair counts conserve") {
    import graft.dedup.Dedup
    val srcOf = graft.model.Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val pairs = Dedup.ngramJaccard(spark, sfDir, 0.5)
      .select("doc_a", "doc_b", "n_common", "size_a", "size_b").collect()
    val expect = pairs.map { r =>
      val (sa, sb) = (srcOf(r.getAs[Long]("doc_a")), srcOf(r.getAs[Long]("doc_b")))
      val key = if (sa <= sb) (sa, sb) else (sb, sa)
      val union = r.getAs[Long]("size_a") + r.getAs[Long]("size_b") -
        r.getAs[Long]("n_common")
      (key, r.getAs[Long]("n_common") * 100 >= 80 * union)
    }.groupBy(_._1).map { case (k, rs) =>
      k -> (rs.length.toLong, rs.count(_._2).toLong)
    }
    val res = Dedup.crossSourceOverlap(spark, sfDir).collect()
    assert(res.length === expect.size)
    res.foreach { r =>
      val key = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      val (np, ns) = expect(key)
      assert(r.getAs[Long]("n_pairs") === np)
      assert(r.getAs[Long]("n_strong") === ns)
      assert(ns <= np)
      assert(r.getAs[Boolean]("is_within") === (key._1 == key._2))
      assert(key._1 <= key._2) // canonical orientation
    }
    // cells partition the pair relation
    assert(res.map(_.getAs[Long]("n_pairs")).sum === pairs.length.toLong)
  }

  test("v19: sign codes pack per-dim midpoint bits exactly; recall matches " +
    "an in-process Hamming search against the float truth") {
    import graft.vector.Similarity
    val embs = graft.model.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .sortBy(_._1)
    val dims = embs.head._2.length
    val mids = (0 until dims).map { i =>
      val xs = embs.map(_._2(i).toDouble)
      (xs.min + xs.max) / 2.0
    }
    def pack(v: Array[Float], lo: Int): Long =
      (lo until math.min(lo + 32, dims)).map { i =>
        if (v(i).toDouble > mids(i)) 1L << (i - lo) else 0L
      }.sum
    val expectCodes = embs.map { case (id, v) => id -> (pack(v, 0), pack(v, 32)) }.toMap
    Similarity.signCodesOf(spark, sfDir).collect().foreach { r =>
      val (w0, w1) = expectCodes(r.getAs[Long]("vec_id"))
      assert(r.getAs[Long]("w0") === w0)
      assert(r.getAs[Long]("w1") === w1)
    }
    // in-process recall recomputation (k = 5, 10 queries)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    val norms = embs.map { case (id, v) => id -> dot(v, v) }.toMap
    val byId = embs.toMap
    val queries = embs.map(_._1).filter(_ < 10)
    val expect = queries.map { q =>
      val others = embs.map(_._1).filter(_ != q)
      val truth = others.sortBy(n => (-dot(byId(q), byId(n)) /
        math.sqrt(norms(q) * norms(n)), n)).take(5).toSet
      val approx = others.sortBy { n =>
        val (q0, q1) = expectCodes(q); val (n0, n1) = expectCodes(n)
        (java.lang.Long.bitCount(q0 ^ n0) + java.lang.Long.bitCount(q1 ^ n1), n)
      }.take(5).toSet
      q -> (truth.size.toLong, truth.intersect(approx).size.toLong)
    }.toMap
    val res = Similarity.signRecall(spark, sfDir).collect()
    assert(res.length === queries.length)
    res.foreach { r =>
      val (nt, nh) = expect(r.getAs[Long]("query_id"))
      assert(r.getAs[Long]("n_truth") === nt)
      assert(r.getAs[Long]("n_hits") === nh)
      assert(r.getAs[Double]("recall") === nh.toDouble / nt.toDouble)
    }
  }

  test("v20: curve agrees with v6's point estimate at k=5; hits are " +
    "monotone in k and bounded by k") {
    import graft.vector.Similarity
    val curve = Similarity.recallCurve(spark, sfDir).collect()
    // 10 queries x 4 levels, no dropped zero-hit cells
    assert(curve.length === 40)
    curve.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("k"))
      assert(r.getAs[Double]("recall") ===
        r.getAs[Long]("n_hits").toDouble / r.getAs[Long]("k").toDouble)
    }
    curve.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val byK = rows.sortBy(_.getAs[Long]("k")).map(_.getAs[Long]("n_hits"))
      byK.sliding(2).foreach {
        case Array(a, b) => assert(a <= b, "hits must be monotone in k")
        case _ =>
      }
    }
    val at5 = curve.filter(_.getAs[Long]("k") === 5L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    val v6 = Similarity.annRecall(spark, sfDir).collect()
      .filter(_.getAs[String]("method") == "lsh")
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    assert(at5 === v6, "curve at k=5 must equal v6's lsh point estimate")
  }

  test("v21: semantic clusters equal an in-process union-find over v12's " +
    "near-dup edges; sizes partition the space") {
    import graft.vector.Similarity
    val verts = graft.model.Tables.embeddings(spark, sfDir)
      .select("vec_id").collect().map(_.getAs[Long]("vec_id"))
    val edges = Similarity.lshNearDup(spark, sfDir)
      .filter(col("is_near_dup")).select("vec_id", "neighbor_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id")))
    val parent = collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      parent(v) = r; r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = verts.map(v => v -> find(v)).toMap
    // normalize: label = min member of each component
    val minOf = want.groupBy(_._2).map { case (root, m) => root -> m.keys.min }
    val res = Similarity.semanticClusters(spark, sfDir).collect()
    assert(res.length === verts.length)
    val sizes = want.groupBy(v => minOf(v._2)).map { case (l, m) => l -> m.size.toLong }
    res.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      val label = minOf(want(v))
      assert(r.getAs[Long]("cluster_id") === label)
      assert(r.getAs[Long]("cluster_size") === sizes(label))
      assert(r.getAs[Boolean]("is_representative") === (v == label))
    }
    // cluster sizes partition the vector space
    assert(res.map(_.getAs[Long]("cluster_size")).sum ===
      res.groupBy(_.getAs[Long]("cluster_id")).map { case (_, rs) =>
        rs.length.toLong * rs.length }.sum)
  }

  test("v23: each method's rows equal its member recall relation; the " +
    "float reference is perfect") {
    import graft.vector.Similarity
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_truth"), r.getAs[Long]("n_hits"),
          r.getAs[Double]("recall"))).toMap
    val members = Map(
      "int8" -> asMap(Similarity.quantizedRecall(spark, sfDir)),
      "sign1bit" -> asMap(Similarity.signRecall(spark, sfDir)),
      "pq4x8" -> asMap(Similarity.pqRecall(spark, sfDir)))
    val curve = Similarity.compressionCurve(spark, sfDir).collect()
    assert(curve.length === 40) // 4 methods x 10 queries
    curve.foreach { r =>
      val m = r.getAs[String]("method")
      val q = r.getAs[Long]("query_id")
      if (m == "float32") {
        assert(r.getAs[Long]("bytes_per_vec") === 256L)
        assert(r.getAs[Long]("n_hits") === r.getAs[Long]("n_truth"))
        assert(r.getAs[Double]("recall") === 1.0)
      } else {
        val (nt, nh, rec) = members(m)(q)
        assert(r.getAs[Long]("n_truth") === nt)
        assert(r.getAs[Long]("n_hits") === nh)
        assert(r.getAs[Double]("recall") === rec)
      }
    }
    // byte sizes strictly decrease down the menu
    assert(curve.map(_.getAs[Long]("bytes_per_vec")).distinct.toSeq ===
      Seq(256L, 64L, 8L, 4L))
  }

  test("d21: sweep rows recompute exactly from in-process minhashes " +
    "per band config; counts and rates agree") {
    import graft.dedup.Dedup
    val P = graft.text.Corpus.P
    val dict = graft.text.Corpus.shingleDict(spark, sfDir).collect()
      .map(r => r.getAs[String]("shingle") -> r.getAs[Long]("sid")).toMap
    val docSids = graft.text.Corpus.docShingles(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), dict(r.getAs[String]("shingle"))))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).distinct }
    val sigs = docSids.map { case (d, sids) =>
      d -> (0 until 16).map(j =>
        sids.map(s => (s * (37L + 101L * j) + (17L + 61L * j)) % P).min).toArray
    }
    val truth = Dedup.ngramJaccard(spark, sfDir, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    def candsFor(r: Int): Set[(Long, Long)] = {
      // true banding: a bucket is the band's full minhash VECTOR
      val byBucket = sigs.toSeq.flatMap { case (d, mh) =>
        (0 until 16 / r).map { b =>
          ((b, (0 until r).map(i => mh(r * b + i)).toSeq), d)
        }
      }.groupBy(_._1)
      byBucket.values.flatMap { ds =>
        val ids = ds.map(_._2).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length)
          yield (ids(i), ids(j))
      }.toSet
    }
    val res = Dedup.lshSweep(spark, sfDir).collect()
      .map(r => r.getAs[Long]("rows_per_band") -> r).toMap
    assert(res.keySet === Set(2L, 4L, 8L))
    Seq(2, 4, 8).foreach { r =>
      val cands = candsFor(r)
      val row = res(r.toLong)
      assert(row.getAs[Long]("n_bands") === (16 / r).toLong)
      assert(row.getAs[Long]("n_candidates") === cands.size.toLong)
      assert(row.getAs[Long]("n_truth") === truth.size.toLong)
      val hits = cands.intersect(truth).size.toLong
      assert(row.getAs[Long]("n_hits") === hits)
      assert(row.getAs[Double]("precision") ===
        hits.toDouble / cands.size.toDouble)
      assert(row.getAs[Double]("recall") ===
        hits.toDouble / truth.size.toDouble)
    }
  }

  test("d26: SemDeDup invariants — per-cell best kept, kept set is a tau-net, drops real") {
    val rows = graft.vector.Similarity.semDedup(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("quality_score"), r.getAs[String]("action")))
    assert(rows.count(_._4 == "drop") > 0, "fixture should force some drops")
    val emb = graft.model.Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def cos(a: Long, b: Long): Double =
      dot(emb(a), emb(b)) / math.sqrt(dot(emb(a), emb(a)) * dot(emb(b), emb(b)))
    rows.groupBy(_._2).foreach { case (_, cellRows) =>
      // greedy priority rule keeps the cell's best (quality desc, id asc)
      val best = cellRows.minBy(t => (-t._3, t._1))
      assert(best._4 == "keep", s"cell best ${best._1} was dropped")
      // epsilon-net: two kept docs within tau would contradict the rule
      // (the lower-priority one has a better close neighbor)
      val kept = cellRows.filter(_._4 == "keep").map(_._1)
      for (a <- kept; b <- kept if a < b)
        assert(cos(a, b) < 0.4, s"kept pair ($a,$b) within tau")
    }
  }

  test("d27: boundary-straddling span found exactly where d24's chunking is blind") {
    import spark.implicits._
    // doc 1: 60-token span S at positions 41..100 of 120 tokens — it
    // straddles the 64-token chunk boundary; doc 2 carries S at
    // positions 11..70 (a DIFFERENT alignment) amid different filler;
    // docs 1 & 3 share a 30-token span (below minSpan -> excluded).
    val span = (1 to 60).map(i => s"s$i")
    val small = (1 to 30).map(i => s"m$i")
    val d1toks = (1 to 40).map(i => s"a$i") ++ span ++ small ++
      (1 to 20).map(i => s"x$i")
    val d2toks = (1 to 10).map(i => s"b$i") ++ span ++ (1 to 60).map(i => s"y$i")
    val d3toks = (1 to 50).map(i => s"c$i") ++ small ++ (1 to 50).map(i => s"z$i")
    val docs = Seq(
      (1L, d1toks.mkString(" ")),
      (2L, d2toks.mkString(" ")),
      (3L, d3toks.mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("words", graft.text.Corpus.wordsCol)

    // d24-style 64-token chunking is provably blind here: no aligned
    // 64-chunk of doc 1 equals any chunk of doc 2
    def chunks(toks: Seq[String]) =
      toks.grouped(64).filter(_.size >= 8).map(_.mkString(" ")).toSet
    assert(chunks(d1toks).intersect(chunks(d2toks)).isEmpty,
      "fixture must defeat chunk-aligned dedup")

    val got = Dedup.dupSpansFrom(docs, minSpan = 50, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    // exactly the (1,2) pair; the longest span is EXACTLY 60 tokens at
    // the 30-offset alignment; the 30-token (1,3)-class span is below
    // minSpan and must not appear
    assert(got.toSeq === Seq((1L, 2L, 60L, 1L, 60L)), got.mkString(","))
  }
}
