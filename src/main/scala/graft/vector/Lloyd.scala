package graft.vector

import graft.model.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** DETERMINISTIC Lloyd refinement for the PQ / IVF codebooks — the
  * trained-path upgrade over the first-N-rows donor codebooks the
  * oracle keys ship (donors stay the oracle path: training adds
  * iterations, not semantics).
  *
  * Why this is reproducible when textbook distributed k-means is not:
  * floating-point sums depend on combine order, and Spark's partial
  * aggregation order is nondeterministic across runs/cluster layouts.
  * Here every centroid update is computed in DECIMAL(38,18) — decimal
  * addition is exact, hence associative and commutative, so the shuffle
  * combine order cannot change the sum — and the final mean is one
  * BigDecimal division at fixed scale/rounding on the driver. Assignment
  * uses the same strict-fold distance expressions as the encoders
  * (VectorD2 / the cosine fold), ties to the lowest code id, so the
  * whole fit is a pure function of the data. Init is the donor codebook,
  * making Lloyd's monotone-distortion guarantee hold RELATIVE TO THE
  * DONOR: trained reconstruction error can only improve (spec-asserted).
  *
  * Scale shape (100 TB): one corpus pass per iteration — assignment is
  * map-side against literal codebooks, the update is a map-combinable
  * hash aggregate on (subspace, code, dim) whose result is
  * codebook-sized; nothing corpus-sized ever reaches the driver. */
object Lloyd {

  /** Refine the PQ sub-codebooks: `iters` rounds of (argmin-L2 assign,
    * decimal-exact mean update) per subspace, from the donor init.
    * Empty codes keep their previous centroid (deterministic rule). */
  def pqTrain(spark: SparkSession, dir: String, nSub: Int = 4,
              nCodes: Int = 8, iters: Int = 4): Array[Array[Array[Double]]] = {
    var cb = Similarity.pqCodebook(spark, dir, nSub, nCodes)
    val subDim = cb(0)(0).length
    val sub = Tables.embeddings(spark, dir)
      .select((0 until nSub).map(s =>
        slice(col("embedding"), s * subDim + 1, subDim).as(s"sub_$s")): _*)
    var it = 0
    while (it < iters) {
      val assignedCols = (0 until nSub).map { s =>
        val d2s = array((0 until nCodes).map(c =>
          graft.functions.VectorD2.vectorD2(col(s"sub_$s"),
            array(cb(s)(c).map(v => lit(v.toFloat)): _*))): _*)
        struct(lit(s).as("s"),
          (array_position(d2s, array_min(d2s)) - 1).cast("int").as("code"),
          col(s"sub_$s").as("sv"))
      }
      val sums = sub.select(explode(array(assignedCols: _*)).as("t"))
        .select(col("t.s").as("s"), col("t.code").as("code"),
          posexplode(col("t.sv")).as(Seq("pos", "x")))
        .groupBy("s", "code", "pos")
        .agg(sum(col("x").cast("decimal(38,18)")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val next = Array.tabulate(nSub, nCodes)((s, c) => cb(s)(c).clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          exactMean(r.getDecimal(3), r.getLong(4))
      }
      cb = next
      it += 1
    }
    cb
  }

  /** Refine the IVF coarse centroids (spherical k-means: max-cosine
    * assignment like [[Similarity.ivfRanked]], decimal-exact mean
    * update), from the donor init. Returns nCentroids x dim doubles. */
  def ivfTrain(spark: SparkSession, dir: String, nCentroids: Int = 8,
               iters: Int = 4): Array[Array[Double]] = {
    ivfTrainFrom(Tables.embeddings(spark, dir),
      Similarity.donorVectors(spark, dir, nCentroids), iters)
  }

  /** The [[ivfTrain]] loop over an EXPLICIT vector relation and init —
    * v42's per-cell sub-quantizer trainer (split a hot IVF cell by
    * training k sub-centroids on that cell's members only, every other
    * cell frozen). Identical decimal-exact arithmetic; `ivfTrain` is
    * this function applied to the whole corpus with the donor init. */
  def ivfTrainFrom(vecs: org.apache.spark.sql.DataFrame,
                   init: Array[Array[Double]],
                   iters: Int): Array[Array[Double]] = {
    var cents: Array[Array[Double]] = init
    val e = vecs
      .select(col("embedding"))
      .withColumn("norm2",
        Similarity.dotColHof(col("embedding"), col("embedding")))
    var it = 0
    while (it < iters) {
      val cos = cents.map { c =>
        val cn = c.foldLeft(0.0)((acc, v) => acc + v * v)
        val dot = Similarity.dotColHof(col("embedding"),
          array(c.map(v => lit(v.toFloat)): _*))
        Similarity.cosine(dot, col("norm2"), lit(cn))
      }
      val cosArr = array(cos: _*)
      val sums = e
        .withColumn("code",
          (array_position(cosArr, array_max(cosArr)) - 1).cast("int"))
        .select(col("code"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("code", "pos")
        .agg(sum(col("x").cast("decimal(38,18)")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = exactMean(r.getDecimal(2), r.getLong(3))
      }
      cents = next
      it += 1
    }
    cents
  }

  /** GROUPED per-cell Lloyd — every hot cell's sub-quantizer trained in
    * the SAME pass. The r13 rebalance looped hot cells on the driver,
    * each iteration launching its own member join and [[ivfTrainFrom]]
    * fit: bounded at the fixture's 8 centroids, but at a production IVF
    * (thousands of cells, dozens hot) that is dozens of SEQUENTIAL
    * Spark job chains. Here one job per Lloyd iteration covers all
    * cells: the current (cell, sub_idx) centroids form a driver-built
    * broadcast relation, every member scores against ITS OWN cell's
    * sub-centroids via the co-keyed equi-join (never cross-cell), the
    * argmax is a per-vector window (ties to the lowest sub_idx — the
    * array-scan rule), and the mean update is ONE decimal-exact hash
    * aggregate on (cell, sub_idx, dim) whose result is
    * Σ|sub-codebooks|-sized. Per cell the arithmetic is BIT-IDENTICAL
    * to [[ivfTrainFrom]] (same float-cast centroid dot, same
    * double-norm scaling, same first-max tie, same decimal(38,18) sums
    * and [[exactMean]]; empty codes keep their centroid) — R14OpsSpec
    * replays the sequential per-cell fits against this and asserts
    * equality, which is what keeps the v42 oracle silver byte-stable.
    *
    * `members` must carry (parent_cell, vec_id, embedding); `inits`
    * maps each cell to its (≤ k) init centroids in sub_idx order. */
  def ivfTrainGrouped(members: org.apache.spark.sql.DataFrame,
                      inits: Map[Int, Array[Array[Double]]],
                      iters: Int): Map[Int, Array[Array[Double]]] = {
    import org.apache.spark.sql.expressions.Window
    val spark = members.sparkSession
    import spark.implicits._
    var cents = inits
    val e = members
      .select(col("parent_cell"), col("vec_id"), col("embedding"))
      .withColumn("norm2",
        Similarity.dotColHof(col("embedding"), col("embedding")))
    var it = 0
    while (it < iters) {
      val crows = cents.toSeq.flatMap { case (cell, arr) =>
        arr.zipWithIndex.map { case (ce, s) =>
          (cell, s, ce.map(_.toFloat).toSeq,
            ce.foldLeft(0.0)((acc, v) => acc + v * v))
        }
      }
      val cdf = broadcast(
        crows.toDF("parent_cell", "sub_idx", "c_emb", "c_norm2"))
      val wv = Window.partitionBy(col("vec_id"))
        .orderBy(col("scos").desc, col("sub_idx").asc)
      val sums = e.join(cdf, Seq("parent_cell"))
        .withColumn("scos", Similarity.cosine(
          Similarity.dotColHof(col("embedding"), col("c_emb")),
          col("norm2"), col("c_norm2")))
        .withColumn("srank", row_number().over(wv))
        .filter(col("srank") === 1)
        .select(col("parent_cell"), col("sub_idx"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("parent_cell", "sub_idx", "pos")
        .agg(sum(col("x").cast("decimal(38,18)")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map { case (c, arr) => c -> arr.map(_.clone()) }
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          exactMean(r.getDecimal(3), r.getLong(4))
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Exact-sum / count at fixed scale+rounding: the only division in the
    * fit, pinned so the mean is a pure function of (sum, n). */
  private def exactMean(sx: java.math.BigDecimal, n: Long): Double =
    sx.divide(java.math.BigDecimal.valueOf(n), 30,
      java.math.RoundingMode.HALF_EVEN).doubleValue

  /** FIT-ONCE access to the trained IVF centroids — the index-lifecycle
    * contract: quantizers are fit once and versioned with the index,
    * never refit per query. In-JVM the fit memoizes on
    * (session, corpus, nCentroids, iters, persistDir) — every consumer
    * (v28's two ivfAnn legs, repeated bench iterations) shares ONE fit;
    * pass `persistDir` to also round-trip the centroids through
    * [[IndexStore.writeTrainedCentroids]] so a later session loads
    * instead of refitting. The fit is deterministic (decimal-exact
    * sums, see the object scaladoc) and doubles survive parquet
    * bit-exactly, so memoized, persisted and fresh fits are
    * BIT-IDENTICAL (IndexStoreSpec asserts the round trip). */
  def ivfTrainedOnce(spark: SparkSession, dir: String, nCentroids: Int = 8,
                     iters: Int = 4,
                     persistDir: Option[String] = None): Array[Array[Double]] =
    graft.model.Silver.once(spark,
        s"ivfCentroids:$nCentroids:$iters:${persistDir.getOrElse("")}", dir) {
      persistDir.flatMap(IndexStore.readTrainedCentroids(spark, _))
        .getOrElse {
          val fit = ivfTrain(spark, dir, nCentroids, iters)
          persistDir.foreach(IndexStore.writeTrainedCentroids(spark, _, fit))
          fit
        }
    }
}
