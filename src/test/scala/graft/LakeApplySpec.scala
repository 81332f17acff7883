package graft

import graft.etl.LakeApply
import graft.model.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The plan→action keys return MEASURED inventories; these specs pin
  * the physical outcome itself: file counts on disk equal the returned
  * relation, row/doc membership after the rewrite is exactly the
  * planned survivor set, and dynamic partition overwrite left
  * untouched partitions' files physically alone (proved by write-job
  * UUID disjointness in the part-file names, not by timing). */
class LakeApplySpec extends GraftSpec {

  /** part-file paths under a lake root, relative, data files only. */
  private def partFiles(root: String): Seq[String] = {
    val base = java.nio.file.Paths.get(root)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    java.nio.file.Files.walk(base).forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("part-") && !n.endsWith(".crc"))
        out += base.relativize(p).toString
    }
    out.toSeq
  }

  private def sliceRows() =
    Tables.sales(spark, sfDir)
      .filter(substring(col("sale_date"), 1, 7) === LakeApply.Month &&
        pmod(col("store_id").cast("long"), lit(LakeApply.StoreMod)) === 0L &&
        col("store_id") <= LakeApply.StoreMax)
      .select(col("store_id"), col("sale_date"), col("l_orderkey"),
        col("l_linenumber"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))

  test("k24: measured relation equals the in-process bin-pack " +
      "prediction, physical file counts match, and no row was lost") {
    val got = LakeApply.compactionApplied(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val slice = sliceRows()
    assert(slice.nonEmpty, "slice must be non-empty at this SF")
    // in-process k17-model prediction
    val byFile = slice.groupBy(r => (r._1, r._2)).view
      .mapValues(_.length.toLong).toSeq
      .map { case ((store, date), n) => (store, date, 32L + 24L * n, n) }
    val want = byFile.groupBy(_._1).map { case (store, files) =>
      val ordered = files.sortBy(_._2)
      var cum = 0L
      var bins = 0L
      var large = 0L
      ordered.foreach { case (_, _, bytes, _) =>
        if (bytes < LakeApply.TargetBytes) {
          cum += bytes
          bins = math.max(bins, (cum - 1) / LakeApply.TargetBytes + 1)
        } else large += 1
      }
      (LakeApply.Month, store) ->
        (ordered.length.toLong, bins + large, ordered.map(_._4).sum)
    }
    assert(got === want)
    // physical: files on disk per partition == files_after
    val root = LakeApply.k24Lake(spark, sfDir).root
    val onDisk = partFiles(root).groupBy(_.split("/").dropRight(1).mkString("/"))
      .map { case (dirPart, fs) => dirPart -> fs.length.toLong }
    got.foreach { case ((m, s), (_, fa, _)) =>
      assert(onDisk(s"part_month=$m/store_id=$s") === fa,
        s"physical file count for ($m, $s)")
    }
    // no row lost or duplicated through the rewrite
    val back = spark.read.parquet(root)
      .select(col("l_orderkey"), col("l_linenumber")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(back.sorted.toSeq === slice.map(r => (r._3, r._4)).sorted.toSeq)
  }

  test("k25: exactly the cohort left the lake; untouched partitions' " +
      "files were not rewritten (write-job UUID disjointness)") {
    // mod=3 guarantees cohort hits inside the tiny sf0.001 slice (the
    // driver's sf0.01 oracle run exercises the standard mod=97)
    val mod = 3L
    val rel = LakeApply.purgeApplied(spark, sfDir, mod).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rel.nonEmpty)
    rel.foreach { case (_, _, rb, ra, np, touched) =>
      assert(ra === rb - np)
      assert((touched == 1L) === (np > 0L))
    }
    // survivor membership: slice minus cohort rows, exactly
    val cohort = Tables.orders(spark, sfDir)
      .filter(pmod(col("o_custkey"), lit(mod)) === 0L)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val slice = sliceRows()
    val wantSurvivors = slice.filterNot(r => cohort(r._3))
      .map(r => (r._3, r._4)).sorted.toSeq
    val root = LakeApply.k25Lake(spark, sfDir, mod).root
    val back = spark.read.parquet(root)
      .select(col("l_orderkey"), col("l_linenumber")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(back.sorted.toSeq === wantSurvivors)
    assert(slice.exists(r => cohort(r._3)),
      "fixture must actually purge something at this SF")
    // dynamic-overwrite isolation: every file written in the same job
    // shares one UUID in its name; untouched partitions must only
    // carry the INITIAL job's UUID, touched ones only the rewrite's
    val touchedParts = rel.filter(_._6 == 1L)
      .map(t => s"part_month=${t._1}/store_id=${t._2}").toSet
    val files = partFiles(root).groupBy(_.split("/").dropRight(1).mkString("/"))
    def uuids(fs: Seq[String]): Set[String] =
      fs.map(f => f.split("/").last.split("-", 3)(2).split("[.]")(0)).toSet
    val untouchedUuids = files.filterNot(f => touchedParts(f._1))
      .values.flatMap(uuids).toSet
    val touchedUuids = files.filter(f => touchedParts(f._1))
      .values.flatMap(uuids).toSet
    if (untouchedUuids.nonEmpty && touchedUuids.nonEmpty) {
      assert(untouchedUuids.intersect(touchedUuids).isEmpty,
        "untouched partitions must keep the initial write's files")
      assert(untouchedUuids.size === 1,
        "untouched partitions all come from the one initial write job")
    }
  }

  test("d28: dropped docs are physically gone, keepers all present, " +
      "untouched sources keep their original files") {
    val rel = LakeApply.dedupApplied(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rel.map(_._2).sum ===
      Tables.documents(spark, sfDir).count())
    rel.foreach { case (_, db, da, nd) => assert(da === db - nd) }
    val verdict = graft.dedup.Dedup.dedupVerdict(spark, sfDir)
      .select(col("doc_id"), col("action")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val drops = verdict.collect { case (id, "drop") => id }.toSet
    assert(drops.nonEmpty, "fixture must actually drop something")
    val root = LakeApply.d28Lake(spark, sfDir).root
    val back = spark.read.parquet(root).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val all = Tables.documents(spark, sfDir).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(back === all.diff(drops))
    // untouched sources keep the initial job's files
    val touchedSources = rel.filter(_._4 > 0L).map(r => s"source=${r._1}").toSet
    val files = partFiles(root).groupBy(_.split("/").dropRight(1).mkString("/"))
    def uuids(fs: Seq[String]): Set[String] =
      fs.map(f => f.split("/").last.split("-", 3)(2).split("[.]")(0)).toSet
    val untouchedUuids = files.filterNot(f => touchedSources(f._1))
      .values.flatMap(uuids).toSet
    val touchedUuids = files.filter(f => touchedSources(f._1))
      .values.flatMap(uuids).toSet
    if (untouchedUuids.nonEmpty && touchedUuids.nonEmpty)
      assert(untouchedUuids.intersect(touchedUuids).isEmpty)
  }

  test("k26: physical file counts equal the relation; the z-order " +
      "rewrite never touches more files than the linear one") {
    val rel = graft.etl.Layout.zorderApplied(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4)))
      .toMap
    assert(rel.keySet === Set("zorder", "linear"))
    val root = graft.etl.Layout.zorderLake(spark, sfDir, 4096)._1
    val onDisk = partFiles(root)
      .groupBy(_.split("/").head)
      .map { case (d, fs) => d.stripPrefix("layout=") -> fs.length.toLong }
    rel.foreach { case (layout, (nFiles, _, nRows)) =>
      assert(onDisk(layout) === nFiles, s"physical files for $layout")
      assert(nRows === rel.values.head._3, "both layouts hold every row")
    }
    // the reason z-order exists: on the 2-d probe rectangle it must
    // not lose to the linear (sku, supp) sort
    assert(rel("zorder")._2 <= rel("linear")._2)
  }

  test("k29: each session reads back the lake its own build wrote") {
    val sessions = Seq(spark.newSession(), spark.newSession())
    sessions.foreach(s => LakeApply.atomicRewrite(s, sfDir).collect())
    val Seq(a, b) = sessions.map(s => LakeApply.k29Lake(s, sfDir, None).inputFiles.toSet)
    assert(a.nonEmpty && b.nonEmpty)
    assert(a.intersect(b).isEmpty, s"both sessions read one lake: ${a.intersect(b).take(3)}")
  }
}
