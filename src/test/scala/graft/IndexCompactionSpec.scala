package graft

import graft.vector.{IndexCompaction, Similarity}
import org.apache.spark.sql.functions._

/** v39/v40 — the vector plan→action loop: the physical fold must leave
  * an index whose query results and file layout match the algebraic
  * prediction, and the pre-fold merged ranking (v38) must relate to the
  * post-fold one exactly as IVF semantics dictate. */
class IndexCompactionSpec extends GraftSpec {

  private def v39 = IndexCompaction.compactionApplied(spark, sfDir)
  private def v38 = Similarity.deltaIndexAnn(spark, sfDir)

  test("post-fold: the side-table is drained (from_delta all false) " +
      "and delta vectors are served from the index") {
    val rows = v39.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(!_.getBoolean(3)), "no hit may come from a side-table")
    // the fold is not vacuous: delta-batch vectors appear in results
    assert(rows.exists(_.getBoolean(4)), "delta arrivals must be rankable")
  }

  test("post-fold CANDIDATES are a subset of pre-fold's: a shared hit " +
      "keeps its exact score and provenance, and a post-only hit was " +
      "merely DISPLACED pre-fold (every pre-fold top-k score dominates " +
      "it), never invented by the fold") {
    val preRows = v38.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3), r.getDouble(4)))
    val pre = preRows.map { case (q, n, d, c) => (q, n) -> (d, c) }.toMap
    // pre-fold's kth (weakest kept) score per query: anything post-fold
    // ranks that pre-fold dropped must score at or below this cutoff —
    // pre-fold's candidate set is a superset (exhaustive delta scan),
    // so a post-only hit can only have been pushed out, not unseen
    val preCutoff = preRows.groupBy(_._1).map { case (q, rs) =>
      q -> rs.map(_._4).min
    }
    val post = v39.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4), r.getDouble(5)))
    post.foreach { case (q, n, arrivedDelta, cos) =>
      pre.get((q, n)) match {
        case Some((wasDelta, preCos)) =>
          assert(wasDelta === arrivedDelta, s"provenance flip for ($q,$n)")
          assert(math.abs(preCos - cos) < 1e-12,
            s"score drift for ($q,$n): $preCos vs $cos")
        case None =>
          assert(cos <= preCutoff(q) + 1e-12,
            s"post-fold hit ($q,$n) at $cos outranks pre-fold's cutoff " +
              s"${preCutoff(q)} — the fold may not invent candidates")
      }
    }
  }

  test("v40 measured inventory: exact file placement (1 snapshot file " +
      "+ 1 delta file per touched cell) and zero row loss") {
    val inv = IndexCompaction.cellInventory(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(inv.nonEmpty)
    val total = inv.map(_._2).sum
    val nVecs = graft.model.Tables.embeddings(spark, sfDir).count()
    assert(total === nVecs, "every vector must land in exactly one cell")
    inv.foreach { case (cell, n, nDelta, nFiles) =>
      val nSnap = n - nDelta
      val expected = (if (nSnap > 0) 1L else 0L) + (if (nDelta > 0) 1L else 0L)
      assert(nFiles === expected,
        s"cell $cell: $nFiles files, expected $expected " +
          s"($nSnap snapshot + $nDelta delta rows)")
    }
    // the fold actually appended: some cell carries delta rows
    assert(inv.exists(_._3 > 0))
  }

  test("v41: fold recall is consistent with the two rankings it reads " +
      "(overlap recount) and every query retains at least one neighbor") {
    val pre = v38.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val post = v39.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rows = graft.vector.IndexCompaction.foldRecall(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (q, nCommon, recall) =>
      val expected = pre.filter(_._1 == q).map(_._2)
        .intersect(post.filter(_._1 == q).map(_._2)).size.toLong
      assert(nCommon === expected, s"query $q overlap miscounted")
      assert(recall === nCommon * 1000L / 5L)
      assert(nCommon >= 1L, s"query $q lost its entire pre-fold top-k")
    }
  }

  test("the physical cells table read back equals the frozen-centroid " +
      "assignment recomputed in memory (plan == action at row grain)") {
    val indexDir = IndexCompaction.foldedIndex(spark, sfDir, 8).root
    val physical = spark.read.parquet(s"$indexDir/cells")
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // recompute the assignment from scratch with the same algebra
    val e = graft.model.Tables.embeddings(spark, sfDir)
      .withColumn("norm2", Similarity.dotCol(col("embedding"), col("embedding")))
    val snapC = e.filter(col("vec_id") % 10 < IndexCompaction.SnapshotMod)
      .orderBy(col("vec_id")).limit(8)
      .collect().zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Float](1).map(_.toDouble).toArray)
      }
    val expected = e.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      def dot(a: Array[Double], b: Array[Double]) =
        a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      val best = snapC.map { case (cid, c) =>
        (dot(v, c) / math.sqrt(dot(v, v) * dot(c, c)), cid)
      }.maxBy { case (cos, cid) => (cos, -cid) }._2
      r.getLong(0) -> best
    }.toMap
    assert(physical === expected)
  }

  test("manifest atomicity: a reader in the crash window between the " +
      "gen-2 write and the manifest swap sees the PRE-rebalance index " +
      "exactly — old or new, never torn") {
    import graft.model.AtomicManifest
    // build through the rebalance commit (v1 snapshot, v2 fold, v3
    // rebalance)
    IndexCompaction.rebalanceApplied(spark, sfDir).count()
    val indexDir = IndexCompaction.foldedIndex(spark, sfDir, 8).root
    assert(new java.io.File(indexDir, s"${AtomicManifest.Name}.v3").exists())
    // clone the FULL physical tree — gen-2 files included — then roll
    // the clone's manifest POINTER back to the fold commit: byte-for-
    // byte the state a crash leaves between "cells2 fully written" and
    // the atomic swap
    val clone = graft.etl.Scratch.tempDir("manifest-crash")
    def copyTree(src: java.io.File, dst: java.io.File): Unit =
      if (src.isDirectory) {
        dst.mkdirs()
        src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
      } else {
        java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    copyTree(new java.io.File(indexDir), new java.io.File(clone))
    def pointTo(v: Int): Unit =
      java.nio.file.Files.copy(
        new java.io.File(clone, s"${AtomicManifest.Name}.v$v").toPath,
        new java.io.File(clone, AtomicManifest.Name).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    pointTo(2)
    def rowsOf(root: String) = IndexCompaction.liveCellsFrom(spark, root)
      .select(col("vec_id"), col("cell"), col("generation"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val pre = rowsOf(clone)
    val post = rowsOf(indexDir)
    // the crash-window reader sees the fold commit EXACTLY: no gen-2
    // rows (though their bytes sit on disk), no sub-cell ids
    assert(pre.nonEmpty && pre.forall(_._3 == 1L))
    assert(pre.forall(_._2 < 8), "no sub-cell id may leak pre-swap")
    // the committed reader sees the rebalance: split parents gone from
    // gen-1, their vectors re-homed in gen-2 sub-cells — and the split
    // is real in this fixture
    val parentCells = pre.map(_._2).toSet -- post.filter(_._3 == 1L).map(_._2).toSet
    assert(parentCells.nonEmpty, "fixture must split at least one cell")
    assert(post.exists(_._3 == 2L))
    assert(post.filter(_._3 == 1L).forall(r => !parentCells.contains(r._2)))
    // never torn: both views hold the SAME vector population — a vector
    // is in its parent cell (old view) or its sub-cell (new view),
    // never both, never neither
    assert(pre.map(_._1).sorted.toSeq === post.map(_._1).sorted.toSeq)
    // crash recovery = re-promoting the rebalance commit: the clone's
    // reader then equals the committed index's reader bit for bit
    pointTo(3)
    assert(rowsOf(clone).sorted.toSeq === post.sorted.toSeq)
  }
}
