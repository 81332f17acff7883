package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Similarity.{assign, assignedSql, candidates, cellRankSql, cosine, cosineSql,
  defaultNQueries, donorCents, donorCentsSql, dotCol, dotSql, probeCells, qprobeSql,
  queries, rankSql, scorePairs, topK, withNorm, withNormSql}
import graft.model.{AtomicManifest, Silver}

/** v39/v40: the vector PLAN → ACTION loop — v38's missing half.
  *
  * v38 serves freshness by merging an IVF snapshot index with a
  * brute-force delta side-table at rank time; its own contract says a
  * compaction job later folds the delta into the main index. These keys
  * EXECUTE that fold on a physical index and put both halves of the
  * k24 plan==action contract under the oracle hash gate:
  *
  *  - the index is MATERIALIZED: snapshot cells written hive-partitioned
  *    by cell with exact one-file-per-cell placement
  *    ([[graft.etl.LakeApply.writeExactFiles]], the OPTIMIZE-grade file
  *    grain), centroids persisted beside them — the reference analogue
  *    is the lake rewrite on every upload (process_upload.py:196-206);
  *  - the FOLD is a real append: delta vectors are assigned to the
  *    FROZEN centroids read back from the index (never re-trained —
  *    re-training is a rebuild, [[IndexStore.appendIvfPq]]'s contract)
  *    and appended as one more file per touched cell;
  *  - v39 re-runs the ANN query against the RE-READ physical cells
  *    table — candidates come from the measured index, scores from the
  *    fact-table floats — and the DuckDB oracle PREDICTS the same
  *    ranking from the fact tables alone, so a hash match certifies the
  *    append placed every delta vector in exactly the planned cell.
  *    `from_delta` is now constant false: nothing is served from a
  *    side-table any more (the v38 SLA tag drains to zero);
  *    `arrived_in_delta` keeps the batch provenance observable.
  *  - v40 emits the MEASURED cell inventory (`_metadata` file counts +
  *    row counts per cell, k4's discipline); the oracle predicts
  *    n_files = (has snapshot rows) + (has delta rows) from the
  *    assignment algebra — the exact-placement proof.
  *
  * Post-fold vs pre-fold semantics, stated honestly: the fold indexes
  * the delta, so delta candidates now arrive via probed cells like
  * everyone else. Pre-fold v38 scanned the delta EXHAUSTIVELY, so its
  * merged ranking can only be a superset-at-equal-rank of the post-fold
  * one (a delta hit in an unprobed cell was visible pre-fold only) —
  * IndexCompactionSpec asserts that containment plus the snapshot-leg
  * equality; recall parity is the nProbe dial, same as any IVF index. */
object IndexCompaction {

  /** Snapshot membership rule — v38's (and d29's): vec_id % 10 < 8. */
  val SnapshotMod = 8L

  /** A folded index: its physical root and the manifest version the
    * FOLD committed. The post-fold keys (v39/v40/v41) pin their reads to
    * `commit`, so a later rebalance commit (which removes split-parent
    * files from the CURRENT manifest) cannot change what they
    * certify. */
  private[graft] final case class Folded(root: String, commit: Int)

  /** Generation `gen`'s live files per the committed manifest — the
    * ONLY way index readers here resolve data files (no directory
    * listing, no existence probes: [[graft.model.AtomicManifest]]). Fails loudly on
    * an uncommitted index. */
  private def manifestGen(spark: SparkSession, indexDir: String,
                          gen: Long, sub: String,
                          version: Option[Int] = None): DataFrame =
    AtomicManifest.readGen(spark, indexDir, gen, sub, version).getOrElse(
      sys.error(s"index at $indexDir has no committed gen-$gen files"))

  /** Build the snapshot index physically, then FOLD the delta into it.
    * One build per (session, sfDir, nCentroids), shared by v39–v44. */
  private[graft] def foldedIndex(spark: SparkSession, dir: String,
                                 nCentroids: Int): Folded =
    Silver.once(spark, s"foldedIndex:$nCentroids", dir) {
      val indexDir = graft.etl.Scratch.tempDir("v39-index")
      val e = withNorm(spark, dir)
      val snap = e.filter(col("vec_id") % 10 < SnapshotMod)
      // v38's coarse quantizer: the first nCentroids snapshot vectors
      val cents = donorCents(snap, nCentroids)
      cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
      // snapshot cells: ONE file per cell (the compacted main index)
      graft.etl.LakeApply.writeExactFiles(
        assign(snap, cents).withColumn("__fk", col("cell").cast("string")),
        Seq("cell"), "__fk", s"$indexDir/cells")
      // COMMIT 1: the snapshot build becomes visible atomically
      AtomicManifest.commit(indexDir,
        AtomicManifest.listFiles(indexDir, "cells").map((1L, _)))
      // THE FOLD: delta assigned against the frozen quantizer READ BACK
      // from the index (floats round-trip parquet bit-exactly, so the
      // loaded centroids are the built ones), appended one file per
      // touched cell — partition layout unchanged, probes still prune.
      val centsBack = spark.read.parquet(s"$indexDir/centroids")
      val delta = e.filter(col("vec_id") % 10 >= SnapshotMod)
      graft.etl.LakeApply.writeExactFiles(
        assign(delta, centsBack)
          .withColumn("__fk", col("cell").cast("string")),
        Seq("cell"), "__fk", s"$indexDir/cells", mode = "append")
      // COMMIT 2: the fold's appended files join the live set in one
      // rename — a reader during the append still sees the pre-fold
      // index, never a partially-appended cell
      Folded(indexDir, AtomicManifest.commit(indexDir,
        AtomicManifest.listFiles(indexDir, "cells").map((1L, _))))
    }

  /** v39: post-fold ANN from the MEASURED index — candidate identity
    * from the re-read physical cells table, scores from the fact-table
    * floats; the oracle predicts the same relation from the fact tables
    * alone (plan == action, k24's contract on the vector index). */
  def compactionApplied(spark: SparkSession, dir: String, k: Int = 5,
                        nQueries: Int = defaultNQueries,
                        nCentroids: Int = 8, nProbe: Int = 2): DataFrame =
    Silver.memoize(spark, s"v39CompactionApplied:$k:$nQueries:$nCentroids:$nProbe", dir) {
      val index = foldedIndex(spark, dir, nCentroids)
      val cents = spark.read.parquet(s"${index.root}/centroids")
      val e = withNorm(spark, dir)
      val qprobe = probeCells(queries(e, nQueries), cents, nProbe, "qcos")
      // candidates from the PHYSICAL index: the live files of the FOLD
      // commit, joined on the probed cells (the inverted-list seek).
      // The read pins the fold's manifest version: this key certifies
      // the post-fold index whether or not a rebalance committed since.
      val cells = manifestGen(spark, index.root, 1L, "cells", Some(index.commit))
        .select(col("vec_id").as("neighbor_id"), col("cell"))
      topK(scorePairs(broadcast(qprobe).join(cells, Seq("cell"))
          .join(candidates(e), Seq("neighbor_id"))), k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          // the side-table is folded away: nothing is served from it
          lit(false).as("from_delta"),
          (col("neighbor_id") % 10 >= SnapshotMod).as("arrived_in_delta"),
          col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }

  /** The assigned-cells CTE chain shared by both oracles: ALL vectors
    * (snapshot + delta) assigned to the snapshot-derived frozen
    * centroids — what the folded index must physically contain. */
  private def assignedCtesSql(nCentroids: Int): String =
    s"""e AS ($withNormSql),
       |snap AS (SELECT * FROM e WHERE vec_id % 10 < $SnapshotMod),
       |cents AS (${donorCentsSql(nCentroids, "snap")}),
       |${assignedSql("e")}""".stripMargin

  def compactionAppliedSql(k: Int = 5, nQueries: Int = defaultNQueries,
                           nCentroids: Int = 8, nProbe: Int = 2): String =
    s"""WITH ${assignedCtesSql(nCentroids)},
       |${qprobeSql("cents", nQueries, nProbe)},
       |pairs AS (
       |  SELECT p.query_id, a.neighbor_id,
       |    ${cosineSql(dotSql("p.q_emb", "a.n_emb"), "p.q_norm2", "a.n_norm2")} AS cosine
       |  FROM qprobe p JOIN assigned a USING (cell)
       |  WHERE p.query_id <> a.neighbor_id),
       |ranked AS (
       |  SELECT *, ${rankSql("cosine")} AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id,
       |  FALSE AS from_delta,
       |  (neighbor_id % 10 >= $SnapshotMod) AS arrived_in_delta,
       |  cosine
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** v40: the MEASURED post-fold cell inventory — per cell, read-back
    * row count, delta-batch row count, and distinct `_metadata` file
    * count. Exact placement makes the file count predictable: one
    * snapshot file (if the cell had snapshot rows) + one appended delta
    * file (if the fold touched it). The oracle derives all three from
    * the assignment algebra — the hash gate certifies the fold wrote
    * exactly the planned files with zero row loss. */
  def cellInventory(spark: SparkSession, dir: String,
                    nCentroids: Int = 8): DataFrame =
    Silver.memoize(spark, s"v40CellInventory:$nCentroids", dir) {
      val index = foldedIndex(spark, dir, nCentroids)
      manifestGen(spark, index.root, 1L, "cells", Some(index.commit))
        .select(col("cell"), col("vec_id"),
          col("_metadata.file_path").as("__fp"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum((col("vec_id") % 10 >= SnapshotMod).cast("long")).as("n_delta"),
          countDistinct(col("__fp")).as("n_files"))
        .orderBy(col("cell"))
    }

  /** a70's re-delivery leg for the vector index: the delta batch
    * re-arrives after the fold; the restated close's PutIfAbsent check
    * finds every vec_id already live, so it appends nothing. Measured
    * as the per-vec presence COUNT in the fold commit's live gen-1
    * files (1 = present exactly once: zero loss, zero double-ingest),
    * pinned to the fold's manifest version like every post-fold
    * reader; the oracle predicts the constant-1 relation. */
  def redeliveryProbe(spark: SparkSession, dir: String,
                      nCentroids: Int = 8): DataFrame = {
    val index = foldedIndex(spark, dir, nCentroids)
    val live = manifestGen(spark, index.root, 1L, "cells", Some(index.commit))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n"))
    withNorm(spark, dir).filter(col("vec_id") % 10 >= SnapshotMod)
      .select(col("vec_id"))
      .join(live, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n"), lit(0L)).as("present_once"))
      .orderBy(col("vec_id"))
  }

  /** v41: FOLD-RECALL READOUT — the tradeoff v39's fold makes,
    * quantified per query. Pre-fold v38 scans the delta EXHAUSTIVELY
    * (recall-maximal freshness); post-fold the delta is indexed, so
    * delta candidates arrive only via probed cells. This key full-joins
    * the two top-k rankings and emits, per query, the overlap count,
    * recall of the post-fold ranking against the pre-fold reference
    * (the nProbe dial every IVF index trades on), and the delta-hit
    * counts on each side. Both rankings are SQL-predictable, so the
    * whole readout rides the hash gate — and the post side is the
    * MEASURED physical index, so this is also a second independent
    * certification of the fold. */
  def foldRecall(spark: SparkSession, dir: String, k: Int = 5,
                 nQueries: Int = defaultNQueries,
                 nCentroids: Int = 8, nProbe: Int = 2): DataFrame =
    Silver.memoize(spark, s"v41FoldRecall:$k:$nQueries:$nCentroids:$nProbe", dir) {
      val pre = Similarity.deltaIndexAnn(spark, dir, k, nQueries,
          nCentroids, nProbe)
        .select(col("query_id"), col("neighbor_id"),
          col("from_delta").cast("long").as("pre_delta"))
        .withColumn("in_pre", lit(1L))
      val post = compactionApplied(spark, dir, k, nQueries,
          nCentroids, nProbe)
        .select(col("query_id"), col("neighbor_id"),
          col("arrived_in_delta").cast("long").as("post_delta"))
        .withColumn("in_post", lit(1L))
      pre.join(post, Seq("query_id", "neighbor_id"), "full_outer")
        .groupBy(col("query_id"))
        .agg(
          sum(when(col("in_pre") === 1L && col("in_post") === 1L, 1L)
            .otherwise(0L)).as("n_common"),
          sum(coalesce(col("pre_delta"), lit(0L))).as("n_delta_pre"),
          sum(coalesce(col("post_delta"), lit(0L))).as("n_delta_post"))
        .select(col("query_id"), col("n_common"),
          expr(s"n_common * 1000 DIV $k").as("recall_milli"),
          col("n_delta_pre"), col("n_delta_post"))
        .orderBy(col("query_id"))
    }

  def foldRecallSql(k: Int = 5, nQueries: Int = defaultNQueries,
                    nCentroids: Int = 8, nProbe: Int = 2): String =
    s"""WITH pre AS (
       |  SELECT query_id, neighbor_id,
       |    CASE WHEN from_delta THEN 1 ELSE 0 END AS pre_delta,
       |    1 AS in_pre
       |  FROM (${Similarity.deltaIndexAnnSql(k, nQueries, nCentroids, nProbe)})),
       |post AS (
       |  SELECT query_id, neighbor_id,
       |    CASE WHEN arrived_in_delta THEN 1 ELSE 0 END AS post_delta,
       |    1 AS in_post
       |  FROM (${compactionAppliedSql(k, nQueries, nCentroids, nProbe)}))
       |SELECT COALESCE(pre.query_id, post.query_id) AS query_id,
       |  CAST(SUM(CASE WHEN in_pre = 1 AND in_post = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_common,
       |  CAST(SUM(CASE WHEN in_pre = 1 AND in_post = 1 THEN 1 ELSE 0 END)
       |    * 1000 // $k AS BIGINT) AS recall_milli,
       |  CAST(SUM(COALESCE(pre_delta, 0)) AS BIGINT) AS n_delta_pre,
       |  CAST(SUM(COALESCE(post_delta, 0)) AS BIGINT) AS n_delta_post
       |FROM pre
       |FULL JOIN post
       |  ON pre.query_id = post.query_id
       |  AND pre.neighbor_id = post.neighbor_id
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  // ----------------------------------------------------- v42/v43

  /** v42/v43: INDEX REBALANCE — the missing OPTIMIZE for the physical
    * index. v39's fold appends one file per touched cell forever, and
    * repeated folds SKEW cells (v26 measures exactly this); nothing
    * re-split a hot cell until now. The rebalance:
    *
    *  1. measures post-fold cell populations from the live index and
    *     marks cells whose population exceeds `HotMilliDefault`/1000 x the mean
    *     (integer-exact `n * nCentroids * 1000 > HotMilliDefault *
    *     total`, v26's skew readout as the dial). The SHIPPED constant
    *     is 1080: the fixture's donor cells are near-balanced, and at a
    *     production-style 2x-the-mean dial (2000) the split set is
    *     empty and the key certifies nothing — a deployment would
    *     recalibrate the constant exactly like m7's cut threshold. The
    *     threshold is deliberately NOT a parameter: the build memoizes
    *     per (session, dir) and the oracle SQL embeds the same
    *     constant, so a per-call override could silently diverge the
    *     engine from both (ADVICE r13);
    *  2. Lloyd-trains 2 sub-centroids PER HOT CELL on that cell's
    *     members only (every other cell frozen — the split is local,
    *     [[Lloyd.ivfTrainFrom]]), materialized as an oracle silver so
    *     DuckDB replays the sub-assignment from the same float bytes
    *     (the v28 discipline: the fit stays out of SQL, its OUTPUT is
    *     certified);
    *  3. rewrites the split cells one-file-per-sub-cell into a second
    *     GENERATION under the index root (`cells2`); the split parents
    *     are de-listed rather than deleted — exactly a lake-format
    *     rebalance commit (removeFiles(parent) + addFiles(children));
    *     physical gen-1 files are never touched, so v39/v40/v41 read
    *     the same bytes regardless of key execution order.
    *
    * Sub-cell ids are deterministic and SQL-predictable: the i-th hot
    * cell (ordered by cell id) splits into nCentroids + 2i and
    * nCentroids + 2i + 1.
    *
    * v42 emits the MEASURED live inventory (kept gen-1 cells with their
    * v40 file structure, sub-cells with one file each); v43 re-runs the
    * ANN against the rebalanced centroid table (kept centroids + trained
    * sub-centroids) and the live cells. Both oracles predict the
    * relation from the fact tables + the sub-centroid silver alone.
    * IndexCompactionSpec asserts v41's containment discipline: queries
    * whose probes touch no split cell rank IDENTICALLY pre- vs
    * post-rebalance. */
  val SubIters = 3

  /** Hot-cell threshold in milli-of-mean (see scaladoc above). */
  val HotMilliDefault = 1080L

  private def subCentTable(nCentroids: Int) = s"split_subcents_$nCentroids"

  /** Build the rebalance generation (sub-centroid silver + `cells2`);
    * returns the index root. One build per (session, sfDir, nCentroids). */
  private def rebalancedIndex(spark: SparkSession, dir: String,
                              nCentroids: Int): String =
    Silver.once(spark, s"rebalancedIndex:$nCentroids", dir) {
      val indexDir = foldedIndex(spark, dir, nCentroids).root
      val cells = manifestGen(spark, indexDir, 1L, "cells")
        .select(col("vec_id"), col("cell").cast("int").as("cell"))
      // hot cells from the MEASURED index (centroid-count-sized collect)
      val counts = cells.groupBy(col("cell"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      val total = counts.map(_._2).sum
      val hotCells = counts
        .collect { case (c, n) if n * nCentroids * 1000L > HotMilliDefault * total => c }
        .sorted
      val e = withNorm(spark, dir)
      // per-cell Lloyd, GROUPED: k=2 spherical sub-centroids per hot
      // cell from its 2 lowest-vec_id members (the donor-init rule,
      // cell-locally) — inits from ONE ranked pass over all hot
      // members, then [[Lloyd.ivfTrainGrouped]] trains every cell in
      // the same job per iteration (the r13 driver loop paid a
      // sequential job chain per hot cell; bit-identical sub-centroids,
      // R14OpsSpec-asserted)
      val hotMembers = e.join(
        cells.filter(col("cell").isin(hotCells.map(Int.box): _*))
          .select(col("vec_id"), col("cell").as("parent_cell")),
        Seq("vec_id"))
      val wInit = Window.partitionBy(col("parent_cell"))
        .orderBy(col("vec_id").asc)
      val inits: Map[Int, Array[Array[Double]]] = hotMembers
        .withColumn("rn", row_number().over(wInit))
        .filter(col("rn") <= 2)
        .select(col("parent_cell"), col("rn"), col("embedding"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rs) =>
          c -> rs.sortBy(_.getInt(1))
            .map(_.getSeq[Float](2).toArray.map(_.toDouble))
        }
      val fitted = if (hotCells.isEmpty) Map.empty[Int, Array[Array[Double]]]
        else Lloyd.ivfTrainGrouped(hotMembers, inits, SubIters)
      val subRows = hotCells.zipWithIndex.flatMap { case (c, i) =>
        fitted(c).zipWithIndex.map {
          case (ce, s) => (c, s, nCentroids + 2 * i + s, ce.map(_.toFloat))
        }
      }.toSeq
      import spark.implicits._
      val silver = graft.model.OracleSilver.materialize(
        spark, subCentTable(nCentroids), dir) {
        subRows.toDF("parent_cell", "sub_idx", "new_cell", "c_emb")
      }
      // sub-assign each hot cell's members against ITS OWN sub-centroids
      // (equi-join on parent_cell — never cross-cell), max cosine, ties
      // to the lowest sub_idx; one file per new sub-cell.
      val subCents = broadcast(silver
        .withColumn("c_norm2", dotCol(col("c_emb"), col("c_emb"))))
      val ws = Window.partitionBy(col("vec_id"))
        .orderBy(col("scos").desc, col("sub_idx").asc)
      val assigned2 = hotMembers.join(subCents, Seq("parent_cell"))
        .withColumn("scos", cosine(dotCol(col("embedding"), col("c_emb")),
          col("norm2"), col("c_norm2")))
        .withColumn("srank", row_number().over(ws))
        .filter(col("srank") === 1)
        .select(col("vec_id"), col("new_cell").as("cell"))
      graft.etl.LakeApply.writeExactFiles(
        assigned2.withColumn("__fk", col("cell").cast("string")),
        Seq("cell"), "__fk", s"$indexDir/cells2")
      // COMMIT 3 — the rebalance transaction: removeFiles(split
      // parents) + addFiles(gen-2 sub-cells) promoted in ONE atomic
      // rename. Until this line runs, every reader still resolves the
      // pre-rebalance live set — the gen-2 bytes and the silver being
      // on disk changes nothing (the r13 presence-derived reader could
      // see both generations of a split cell in that window, or
      // neither after a crash).
      val parentSet = hotCells.toSet
      val kept = AtomicManifest.read(indexDir).filter { case (_, p) =>
        !parentSet.exists(c => p.startsWith(s"cells/cell=$c/"))
      }
      AtomicManifest.commit(indexDir,
        kept ++ AtomicManifest.listFiles(indexDir, "cells2").map((2L, _)))
      indexDir
    }

  /** The LIVE cell set of the index at `indexDir`, resolved ONLY
    * through its committed manifest: gen-1 entries (split parents are
    * simply absent — the rebalance commit removed their files) plus the
    * gen-2 sub-cells — with generation tags and `_metadata` file
    * identity for the measured inventory. A fixture with no hot cell
    * commits no gen-2 entries: the live set is then gen-1 unchanged
    * (the rebalance is a measured no-op). */
  private[graft] def liveCellsFrom(spark: SparkSession,
                                   indexDir: String): DataFrame = {
    def gen(g: Long, sub: String) =
      AtomicManifest.readGen(spark, indexDir, g, sub).map(_
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          col("_metadata.file_path").as("__fp"))
        .withColumn("generation", lit(g)))
    (gen(1L, "cells").toSeq ++ gen(2L, "cells2").toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(sys.error(s"index at $indexDir has no committed files"))
  }

  private def liveCells(spark: SparkSession, dir: String,
                        nCentroids: Int): DataFrame =
    liveCellsFrom(spark, rebalancedIndex(spark, dir, nCentroids))

  /** The (cell, generation) inventory readout shared by v42 and v44. */
  private def inventoryOf(live: DataFrame): DataFrame =
    live.groupBy(col("cell"), col("generation"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((col("vec_id") % 10 >= SnapshotMod).cast("long")).as("n_delta"),
        countDistinct(col("__fp")).as("n_files"))
      .orderBy(col("cell"))

  /** v42: the measured post-rebalance inventory. */
  def rebalanceApplied(spark: SparkSession, dir: String,
                       nCentroids: Int = 8): DataFrame =
    Silver.memoize(spark, s"v42RebalanceApplied:$nCentroids", dir) {
      inventoryOf(liveCells(spark, dir, nCentroids))
    }

  /** The oracle CTE chain shared by v42/v43: predicted hot set, the
    * sub-assignment from the silver, and the predicted live cell set. */
  private def rebalCtesSql(nCentroids: Int): String =
    s"""${assignedCtesSql(nCentroids)},
       |cnt AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM assigned GROUP BY cell),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt),
       |hot AS (
       |  SELECT cell, ROW_NUMBER() OVER (ORDER BY cell) - 1 AS split_rank
       |  FROM cnt CROSS JOIN tot
       |  WHERE n * $nCentroids * 1000 > $HotMilliDefault * total),
       |subc AS (
       |  SELECT parent_cell, sub_idx, new_cell, c_emb,
       |    ${dotSql("c_emb", "c_emb")} AS c_norm2
       |  FROM read_parquet('${graft.model.OracleSilver.sqlGlob(
              subCentTable(nCentroids))}')),
       |hotv AS (
       |  SELECT a.neighbor_id AS vec_id, a.cell AS parent_cell,
       |    a.n_emb, a.n_norm2
       |  FROM assigned a JOIN hot h ON a.cell = h.cell),
       |sass AS (
       |  SELECT vec_id, new_cell AS cell FROM (
       |    SELECT v.vec_id, s.new_cell,
       |      ${cellRankSql("v.vec_id", cosineSql(dotSql("v.n_emb", "s.c_emb"),
              "v.n_norm2", "s.c_norm2"), "s.sub_idx")} AS r
       |    FROM hotv v JOIN subc s ON s.parent_cell = v.parent_cell)
       |  WHERE r = 1),
       |live AS (
       |  SELECT neighbor_id AS vec_id, cell, 1 AS generation FROM assigned
       |  WHERE cell NOT IN (SELECT cell FROM hot)
       |  UNION ALL
       |  SELECT vec_id, cell, 2 FROM sass)""".stripMargin

  def rebalanceAppliedSql(nCentroids: Int = 8): String =
    s"""WITH ${rebalCtesSql(nCentroids)}
       |SELECT l.cell, CAST(l.generation AS BIGINT) AS generation,
       |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM(CASE WHEN l.vec_id % 10 >= $SnapshotMod
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       |  CAST(CASE WHEN l.generation = 2 THEN 1 ELSE
       |    CASE WHEN SUM(CASE WHEN l.vec_id % 10 < $SnapshotMod
       |      THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END
       |    + CASE WHEN SUM(CASE WHEN l.vec_id % 10 >= $SnapshotMod
       |      THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END
       |  END AS BIGINT) AS n_files
       |FROM live l
       |GROUP BY l.cell, l.generation
       |ORDER BY l.cell""".stripMargin

  /** v43: ANN from the REBALANCED index — probes ranked over the kept
    * centroids plus the trained sub-centroids, candidates from the live
    * cell set, scores from the fact-table floats. */
  def rebalancedAnn(spark: SparkSession, dir: String, k: Int = 5,
                    nQueries: Int = defaultNQueries,
                    nCentroids: Int = 8, nProbe: Int = 2): DataFrame =
    Silver.memoize(spark, s"v43RebalancedAnn:$k:$nQueries:$nCentroids:$nProbe", dir) {
      val indexDir = rebalancedIndex(spark, dir, nCentroids)
      val silver = spark.read.parquet(
        graft.model.OracleSilver.dirFor(subCentTable(nCentroids), dir))
      val kept = spark.read.parquet(s"$indexDir/centroids")
        .join(silver.select(col("parent_cell")).distinct(),
          col("centroid_id") === col("parent_cell"), "left_anti")
        .select(col("centroid_id"), col("c_emb"), col("c_norm2"))
      val cents = kept.unionByName(
        silver.select(col("new_cell").as("centroid_id"), col("c_emb"))
          .withColumn("c_norm2", dotCol(col("c_emb"), col("c_emb"))))
      val e = withNorm(spark, dir)
      val qprobe = probeCells(queries(e, nQueries), cents, nProbe, "qcos")
      val cells = liveCells(spark, dir, nCentroids)
        .select(col("vec_id").as("neighbor_id"), col("cell"))
      topK(scorePairs(broadcast(qprobe).join(cells, Seq("cell"))
          .join(candidates(e), Seq("neighbor_id"))), k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("cell"), (col("cell") >= nCentroids).as("from_split_cell"),
          col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }

  def rebalancedAnnSql(k: Int = 5, nQueries: Int = defaultNQueries,
                       nCentroids: Int = 8, nProbe: Int = 2): String =
    s"""WITH ${rebalCtesSql(nCentroids)},
       |allc AS (
       |  SELECT centroid_id, c_emb, c_norm2 FROM cents
       |  WHERE centroid_id NOT IN (SELECT cell FROM hot)
       |  UNION ALL
       |  SELECT new_cell, c_emb, c_norm2 FROM subc),
       |${qprobeSql("allc", nQueries, nProbe)},
       |cand AS (
       |  SELECT p.query_id, p.q_emb, p.q_norm2, l.vec_id AS neighbor_id,
       |    l.cell
       |  FROM qprobe p JOIN live l USING (cell)
       |  WHERE p.query_id <> l.vec_id),
       |pairs AS (
       |  SELECT c.query_id, c.neighbor_id, c.cell,
       |    ${cosineSql(dotSql("c.q_emb", "n.embedding"), "c.q_norm2", "n.norm2")} AS cosine
       |  FROM cand c JOIN e n ON n.vec_id = c.neighbor_id),
       |rankedp AS (
       |  SELECT *, ${rankSql("cosine")} AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, cell,
       |  (cell >= $nCentroids) AS from_split_cell, cosine
       |FROM rankedp WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------- v44

  /** v44: INDEX GC — k25's retention purge applied to the index. The
    * rebalance DE-LISTED the split parents (the manifest remove-file
    * action); their gen-1 files stayed on disk for time travel. GC
    * physically deletes them once past retention. Executed on a CLONE
    * of the index root (GC-of-a-snapshot: v39–v43's bytes stay
    * immutable, so key execution order stays irrelevant — the same
    * reasoning that kept the rebalance itself non-destructive). The
    * key re-measures the live inventory from the GC'd clone, where
    * reading `cells` needs NO de-list filter any more — the manifest
    * filter is retired by the deletion. The oracle predicts the SAME
    * relation as v42, so the hash match certifies the GC removed
    * exactly the dead files and nothing else; the spec additionally
    * asserts the parent partition dirs are gone and the kept files'
    * names are untouched. */
  private[graft] def gcIndex(spark: SparkSession, dir: String,
                             nCentroids: Int): String =
    Silver.once(spark, s"gcIndex:$nCentroids", dir) {
      val indexDir = rebalancedIndex(spark, dir, nCentroids)
      val gcDir = graft.etl.Scratch.tempDir("v44-gc")
      def copyTree(src: java.io.File, dst: java.io.File): Unit = {
        if (src.isDirectory) {
          dst.mkdirs()
          src.listFiles().foreach(f =>
            copyTree(f, new java.io.File(dst, f.getName)))
        } else java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
      Seq("cells", "cells2").foreach { t =>
        val src = new java.io.File(s"$indexDir/$t")
        if (src.exists()) copyTree(src, new java.io.File(s"$gcDir/$t"))
      }
      // the clone keeps the source's committed manifest (+ audit trail)
      Option(new java.io.File(indexDir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(AtomicManifest.Name))
        .foreach(f => java.nio.file.Files.copy(f.toPath,
          new java.io.File(gcDir, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      // THE GC is manifest-driven: delete every data file the committed
      // manifest does NOT list (the rebalance commit's removeFiles —
      // the split parents' gen-1 files), then prune emptied partition
      // dirs. The live set is untouched, so no new commit is needed:
      // the same manifest stays valid over the smaller tree.
      val live = AtomicManifest.read(gcDir).map(_._2).toSet
      Seq("cells", "cells2").foreach { sub =>
        AtomicManifest.listFiles(gcDir, sub)
          .filterNot(live)
          .foreach(p => new java.io.File(gcDir, p).delete(): Unit)
        // prune partition dirs emptied by the deletes
        Option(new java.io.File(gcDir, sub).listFiles()).toSeq.flatten
          .filter(d => d.isDirectory &&
            Option(d.listFiles()).forall(_.forall(!_.getName.endsWith(".parquet"))))
          .foreach { d =>
            Option(d.listFiles()).toSeq.flatten.foreach(_.delete(): Unit)
            d.delete(): Unit
          }
      }
      gcDir
    }

  /** v44: the measured live inventory from the GC'd clone — identical
    * to v42's relation iff the GC deleted exactly the dead files. */
  def gcApplied(spark: SparkSession, dir: String,
                nCentroids: Int = 8): DataFrame =
    Silver.memoize(spark, s"v44GcApplied:$nCentroids", dir) {
      inventoryOf(liveCellsFrom(spark, gcIndex(spark, dir, nCentroids)))
    }

  /** Same predicted relation as v42 — after a correct GC the live
    * inventory is unchanged. */
  def gcAppliedSql(nCentroids: Int = 8): String =
    rebalanceAppliedSql(nCentroids)

  def cellInventorySql(nCentroids: Int = 8): String =
    s"""WITH ${assignedCtesSql(nCentroids)}
       |SELECT cell,
       |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM(CASE WHEN neighbor_id % 10 >= $SnapshotMod
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       |  CAST(
       |    CASE WHEN SUM(CASE WHEN neighbor_id % 10 < $SnapshotMod
       |      THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END
       |    + CASE WHEN SUM(CASE WHEN neighbor_id % 10 >= $SnapshotMod
       |      THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_files
       |FROM assigned
       |GROUP BY cell
       |ORDER BY cell""".stripMargin
}
