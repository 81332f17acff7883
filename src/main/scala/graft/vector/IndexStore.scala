package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ index LIFECYCLE — the piece that makes the v11 shape a real
  * index instead of a per-query computation: build ONCE over the
  * corpus, persist the four relations an IVF-PQ index actually is,
  * and answer queries from the LOADED tables without ever touching
  * the float corpus again.
  *
  * Persisted layout (all parquet under `indexDir/`):
  *   - `cells`     — (vec_id, cell): the coarse assignment. At scale
  *                   this is written partitioned by cell, so a probe
  *                   reads only its cells' files (partition pruning
  *                   does the IVF inverted-list seek).
  *   - `codes`     — (vec_id, code_0..code_{nSub−1}): 1 byte per
  *                   sub-space — the 64× compressed corpus.
  *   - `centroids` — (centroid_id, c_emb): the coarse quantizer
  *                   (kilobytes; broadcast at query time).
  *   - `codebook`  — (s, code, vals): the PQ codebook rows
  *                   (nSub·nCodes rows; collected to a literal at
  *                   query time — the v8 contract).
  *
  * Query path = v11's exactly: probe cells from the broadcast
  * centroids, per-query LUT from the codebook literal, ADC scoring
  * against the loaded code table — and the result is bit-identical
  * to the in-memory [[Similarity.ivfPqAnn]] (IndexStoreSpec asserts
  * equality after a real write/load round trip). */
object IndexStore {

  def writeIvfPq(spark: SparkSession, dir: String, indexDir: String,
                 nCentroids: Int = 8, nSub: Int = 4,
                 nCodes: Int = 8, partitionByCell: Boolean = true): Unit = {
    val cells = Similarity.ivfRanked(spark, dir, nCentroids)
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("centroid_id").as("cell"))
    // partitionBy("cell") IS the IVF inverted-list seek: a probe reads
    // only its cells' files (IndexStoreSpec gates numFiles on the probe
    // scan). partitionByCell=false keeps the flat layout for tooling
    // that wants one file set.
    if (partitionByCell)
      cells.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/cells")
    else cells.write.mode("overwrite").parquet(s"$indexDir/cells")
    Similarity.pqCodes(spark, dir, nSub, nCodes)
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    Similarity.donorCents(Similarity.withNorm(spark, dir), nCentroids)
      .select(col("centroid_id"), col("c_emb"))
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    val cb = Similarity.pqCodebook(spark, dir, nSub, nCodes)
    import spark.implicits._
    (for (s <- 0 until nSub; c <- 0 until nCodes)
      yield (s, c, cb(s)(c).toSeq))
      .toDF("s", "code", "vals")
      .write.mode("overwrite").parquet(s"$indexDir/codebook")
  }

  /** Persist the BM25 LEXICAL index — the (doc, word, contrib) scored
    * posting list t15 derives per query, written ONCE with the df cap
    * already applied. At scale this table partitions by a word-hash
    * bucket so a query's terms prune to their buckets. Query time
    * becomes: posting join + per-(query, doc) sum + top-k — no tf/df
    * recomputation, the corpus untouched. */
  def writeLexical(spark: SparkSession, dir: String, indexDir: String,
                   maxDfPct: Int = 78): Unit =
    graft.text.TextAnalysis.bm25Index(spark, dir, maxDfPct)
      .write.mode("overwrite").parquet(s"$indexDir/postings")

  /** BM25 top-k from the persisted posting list: queries are documents
    * (their kept terms come from their OWN index rows — the t15
    * convention), candidates from the posting join. Bit-identical to
    * the in-memory [[graft.text.TextAnalysis.bm25]] (IndexStoreSpec). */
  def queryLexical(spark: SparkSession, indexDir: String,
                   nQueries: Int = 3, k: Int = 5): DataFrame =
    graft.text.TextAnalysis.bm25Query(
      spark.read.parquet(s"$indexDir/postings"), nQueries, k)

  /** The PQ codebook persisted at `indexDir` as `cb(s)(code)`. */
  private def readCodebook(spark: SparkSession,
                           indexDir: String): Array[Array[Array[Double]]] = {
    val cbRows = spark.read.parquet(s"$indexDir/codebook")
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Double](2).toArray))
    val cb = Array.ofDim[Array[Double]](cbRows.map(_._1).max + 1,
      cbRows.map(_._2).max + 1)
    cbRows.foreach { case (s, c, v) => cb(s)(c) = v }
    cb
  }

  /** The persisted coarse quantizer (centroid_id, c_emb, c_norm2). */
  private def readCentroids(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/centroids")
      .withColumn("c_norm2", Similarity.dotColHof(col("c_emb"), col("c_emb")))

  /** INCREMENTAL MAINTENANCE — append a delta corpus to a persisted
    * IVF-PQ index WITHOUT rebuilding: new vectors are assigned to the
    * FROZEN centroids and encoded against the FROZEN codebook loaded
    * from the index, then appended to `cells`/`codes`. This is the
    * 100 TB lifecycle contract: the quantizers are fit once and
    * versioned with the index — daily arrivals are one narrow
    * assign+encode pass over the delta only (the existing corpus is
    * never rescanned, the index tables only ever grow by appends,
    * partition-pruning layout unchanged). Bit-parity: the assignment
    * is ivfRanked's max-cosine rule and the encode is the build
    * path's argmin-L2 select, both against exact float round-trips
    * of the persisted quantizers — so half-build + append is
    * query-identical to a full build with the same (donor) quantizers
    * (IndexStoreSpec). Re-training (centroid drift after heavy
    * appends) is a deliberate REBUILD, never an in-place mutation.
    * `delta` must select rows disjoint from what the index already
    * holds — id-space hygiene is the writer's contract, as with any
    * append-only lake table. */
  def appendIvfPq(spark: SparkSession, dataDir: String, indexDir: String,
                  delta: Column): Unit = {
    val newVecs = Similarity.withNorm(spark, dataDir).filter(delta)
    val newCells = Similarity.assign(newVecs, readCentroids(spark, indexDir))
    // append under the layout the index was BUILT with (a cell=N
    // directory listing means hive-partitioned). Probed through the
    // Hadoop FileSystem API, NOT java.io.File: the index dir may live on
    // an object store (s3a://, hdfs://) where a local-file probe returns
    // null and would silently demote the append to the flat layout,
    // breaking partition pruning for every subsequent query.
    val cellsPath = new org.apache.hadoop.fs.Path(s"$indexDir/cells")
    val fs = cellsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitioned = fs.exists(cellsPath) &&
      fs.listStatus(cellsPath).exists(_.getPath.getName.startsWith("cell="))
    if (partitioned)
      newCells.write.mode("append").partitionBy("cell")
        .parquet(s"$indexDir/cells")
    else newCells.write.mode("append").parquet(s"$indexDir/cells")
    Similarity.pqEncode(newVecs, readCodebook(spark, indexDir))
      .write.mode("append").parquet(s"$indexDir/codes")
  }

  /** Persist Lloyd-TRAINED coarse centroids — the fit-once half of the
    * re-training lifecycle: [[graft.vector.Lloyd.ivfTrainedOnce]] fits
    * against the corpus exactly once, writes the result here, and every
    * later session loads it instead of paying the iteration passes.
    * Doubles round-trip parquet bit-exactly, so a loaded quantizer is
    * BIT-IDENTICAL to the in-memory fit (IndexStoreSpec). */
  def writeTrainedCentroids(spark: SparkSession, indexDir: String,
                            cents: Array[Array[Double]]): Unit = {
    import spark.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "c_emb")
      .write.mode("overwrite").parquet(s"$indexDir/trained_centroids")
  }

  /** The persisted trained centroids, or None when the index dir holds
    * none (Hadoop-FS probe — object-store safe, like [[appendIvfPq]]'s
    * layout detection). */
  def readTrainedCentroids(spark: SparkSession,
                           indexDir: String): Option[Array[Array[Double]]] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/trained_centroids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(p.toString)
      .orderBy(col("centroid_id").asc)
      .collect()
      .map(_.getSeq[Double](1).toArray))
  }

  /** Answer top-k ANN queries from the persisted index. `queries` is
    * any (query_id, embedding) relation — here the first `nQueries`
    * embeddings, matching v11's harness convention. The float corpus
    * is NOT an input: candidates come from `cells`, scores from
    * `codes` + the codebook LUT. */
  def queryIvfPq(spark: SparkSession, indexDir: String, dataDir: String,
                 k: Int = 5, nQueries: Int = Similarity.defaultNQueries,
                 nProbe: Int = 2): DataFrame = {
    val cb = readCodebook(spark, indexDir)
    val nSub = cb.length
    val nCodes = cb(0).length
    val subDim = cb(0)(0).length
    val cnorm = Array.tabulate(nSub, nCodes)((s, c) =>
      cb(s)(c).foldLeft(0.0)((acc, x) => acc + x * x))

    val q = Similarity.queries(Similarity.withNorm(spark, dataDir), nQueries)
    def lutEntry(s: Int, c: Int) =
      Similarity.dotColHof(
        slice(col("q_emb"), s * subDim + 1, subDim),
        array(cb(s)(c).map(v => lit(v.toFloat)): _*))
    val probes = Similarity.nearestCells(q, readCentroids(spark, indexDir), nProbe,
        "query_id", "q_emb", "q_norm2", "qcos")
      .select(col("query_id") +: col("q_norm2") +:
        col("centroid_id").as("cell") +:
        (0 until nSub).map(s =>
          array((0 until nCodes).map(c => lutEntry(s, c)): _*)
            .as(s"lut_$s")): _*)
    // THE INVERTED-LIST SEEK: materialize the query-sized probe/LUT
    // relation ONCE (≤ nQueries·nProbe rows — localCheckpoint makes it
    // a plan leaf, so neither the broadcast join nor Spark's dynamic
    // partition pruning re-derives it from the corpus), then push its
    // distinct cell ids (a bounded driver collect) as a LITERAL
    // IN-filter onto the partitioned cells table: static partition
    // pruning lists and reads only the probed cells' files
    // (semantically a no-op: the join on cell implies it).
    val probesLeaf = probes.localCheckpoint()
    val probedCells = probesLeaf.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    val cellCodes = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(probedCells: _*))
      .select(col("vec_id").as("neighbor_id"), col("cell"))
      .join(spark.read.parquet(s"$indexDir/codes")
        .select(col("vec_id").as("neighbor_id") +:
          (0 until nSub).map(s => col(s"code_$s")): _*),
        Seq("neighbor_id"))
    val adcDot = (0 until nSub)
      .map(s => element_at(col(s"lut_$s"), col(s"code_$s").cast("int") + 1))
      .reduceLeft(_ + _)
    val reconNorm2 = (0 until nSub)
      .map(s => element_at(array(cnorm(s).map(lit): _*),
        col(s"code_$s").cast("int") + 1))
      .reduceLeft(_ + _)
    val pairs = broadcast(probesLeaf).join(cellCodes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine_adc", Similarity.cosine(adcDot, col("q_norm2"), reconNorm2))
    Similarity.topK(pairs, k, "cosine_adc")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cell"), col("cosine_adc"))
      .orderBy(col("query_id"), col("rank"))
  }
}
