package graft.etl

import graft.model.{AtomicManifest, Silver, Tables}
import org.apache.spark.Partitioner
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** PLAN → ACTION: the lake-maintenance EXECUTORS for the k16/k17/d16
  * readout plans. Every other governance key *predicts* (files after
  * compaction, rows leaving under a purge cohort, docs dropped by the
  * dedup verdict); these three APPLY the prediction as a real
  * partitioned-parquet rewrite — the reference's own idempotent
  * dynamic-partition-overwrite semantics (process_upload.py:196-206
  * rewrites the lake partition on every upload) — then RE-MEASURE the
  * physical lake (`_metadata.file_path` file counts, read-back row
  * counts) and emit the MEASURED relation. The DuckDB oracle computes
  * the PREDICTED relation from the fact tables, so the driver's hash
  * gate certifies plan == action end to end: if the rewrite produced
  * one file more or one row less than the plan said, the key goes red.
  *
  * The applied slice is one lake month (1998-06) × a deterministic
  * store cohort (store_id % [[LakeApply.StoreMod]] == 0) — maintenance
  * jobs run per-partition-range in production too; the mechanism
  * (exact-file placement, dynamic overwrite, re-inventory) is
  * slice-size-independent.
  *
  * SCALE SHAPE — how each piece survives 1000 executors:
  *  - The exact-file writer shuffles rows to ONE TASK PER OUTPUT FILE
  *    (an explicit [[Partitioner]] keyed by the file's index — the
  *    same one-task-one-file placement Delta's OPTIMIZE uses). File
  *    keys are collected on the driver first, but that list is the
  *    lake's FILE INVENTORY — metadata-sized by definition; every
  *    production compactor's planner holds it.
  *  - Rewrites are dynamic partition overwrite: only partitions
  *    present in the rewrite DataFrame are replaced, untouched
  *    partitions keep their bytes (k25's spec asserts this).
  *  - The rewrite reads the lake it overwrites, but the exact-file
  *    shuffle is a stage barrier: every source byte is in shuffle
  *    output before the first output file commits, so the
  *    self-overwrite is safe by construction.
  *  - Re-measurement is a distributed `_metadata` aggregate (k4's
  *    discipline), never a driver directory walk.
  */
object LakeApply {

  /** Lake month the maintenance slice targets. */
  val Month = "1998-06"

  /** Store cohort modulus (store_id % StoreMod == 0). 5 keeps ≥2
    * stores in the cohort at every tested SF (sf0.001 has 10 stores). */
  val StoreMod = 5L

  /** Upper store bound: caps the cohort at 20 stores (≈600 files max)
    * at EVERY scale factor, so the materialize-rewrite-remeasure loop
    * costs the same regardless of SF — maintenance jobs scope to a
    * partition range for exactly this reason. sf0.001's two cohort
    * stores (0005, 0010) sit inside the bound, so spec coverage is
    * unchanged. */
  val StoreMax = "0100"

  /** k17's compaction byte model and bin target (file = 32-byte header
    * + 24 bytes/row; a file below target is "small" and gets packed). */
  val TargetBytes = 4096L
  private val HeaderBytes = 32L
  private val RowBytes = 24L

  private val MonthFrom = "1998-06-01"
  private val MonthTo = "1998-06-30"

  /** A lake an applier has rewritten: its root, its data schema
    * (partition columns excluded), and what the measured relation needs
    * from before the rewrite: one figure per partition, and the
    * partitions the rewrite touched. Each applier builds its lake once
    * per session ([[Silver.once]]); specs call the same build to assert
    * the PHYSICAL outcome (file counts, overwrite isolation) against the
    * relation the applier returns. */
  private[graft] final case class AppliedLake[K](root: String, dataSchema: StructType,
                                                 before: Map[K, Long],
                                                 touched: Set[K] = Set.empty[K])

  private val SalesParts = Seq("part_month", "store_id")

  /** One shuffle partition per file key — exact output-file placement. */
  private class FileKeyPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = math.max(n, 1)
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Write `df` under `outDir` (hive layout on `partCols`) so that each
    * distinct value of `df(keyCol)` becomes EXACTLY ONE parquet file —
    * the file grain a real lake has and the property the applied-plan
    * keys are graded on. `keyCol` is dropped before writing. Dynamic
    * partition overwrite: partitions absent from `df` are untouched.
    * `mode = "append"` adds the placed files to existing partitions
    * instead (the v39 index-append path). */
  private[graft] def writeExactFiles(df: DataFrame, partCols: Seq[String],
                                     keyCol: String, outDir: String,
                                     mode: String = "overwrite"): Unit = {
    val spark = df.sparkSession
    // two consumers (key listing + the write) — pay the source scan once
    val src = df.persist()
    try {
      val keys = src.select(col(keyCol)).distinct()
        .collect().map(_.getString(0)).sorted
      if (keys.isEmpty) return
      val idx = keys.zipWithIndex.toMap
      val bIdx = spark.sparkContext.broadcast(idx)
      val schema = src.schema
      val ki = schema.fieldIndex(keyCol)
      // RDD hop: DataFrame repartition() cannot pin one GROUP per
      // partition (hash collisions merge two bins into one output file);
      // an explicit index partitioner can. This is the narrow per-file
      // placement case the RDD API exists for.
      val placed = src.rdd
        .map(r => (bIdx.value(r.getString(ki)), r))
        .partitionBy(new FileKeyPartitioner(keys.length))
        .map(_._2)
      spark.createDataFrame(placed, schema)
        .drop(keyCol)
        .write
        .partitionBy(partCols: _*)
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode)
        .parquet(outDir)
    } finally src.unpersist()
  }

  /** The maintenance slice of the sales fact: [[Month]] ×
    * store cohort, with the lake partition key attached. */
  private def sliceSales(spark: SparkSession, dir: String): DataFrame =
    Tables.salesInRange(spark, dir, MonthFrom, MonthTo)
      .filter(pmod(col("store_id").cast("long"), lit(StoreMod)) === 0L &&
        col("store_id") <= StoreMax)
      .withColumn("part_month", substring(col("sale_date"), 1, 7))

  private def sliceSalesSql: String =
    s"""SELECT *, substring(sale_date, 1, 7) AS part_month
       |FROM (${Tables.salesSql})
       |WHERE substring(sale_date, 1, 7) = '$Month'
       |  AND CAST(store_id AS BIGINT) % $StoreMod = 0
       |  AND store_id <= '$StoreMax'""".stripMargin

  /** Read a lake back with partition columns DECLARED as strings —
    * partition-value inference would otherwise turn store_id "0020"
    * into the integer 20 and corrupt the key. */
  private def readLake(spark: SparkSession, lakeDir: String,
                       dataSchema: StructType,
                       partCols: Seq[String]): DataFrame = {
    val full = partCols.foldLeft(dataSchema)((s, c) => s.add(c, StringType))
    spark.read.schema(full).parquet(lakeDir)
  }

  /** Physical inventory at the lake partition grain: distinct
    * `_metadata.file_path` count + row count per partition — the k4/s6
    * measurement leg, fully distributed. */
  private def lakeStats(lake: DataFrame, partCols: Seq[String]): DataFrame =
    lake
      .select(partCols.map(col) :+ col("_metadata.file_path").as("__fp"): _*)
      .groupBy(partCols.map(col): _*)
      .agg(countDistinct(col("__fp")).as("n_files"),
        count(lit(1)).as("n_rows"))

  /** Materialize the small-file bronze lake for the slice: hive dirs
    * `part_month=…/store_id=…`, ONE FILE PER sale_date inside each —
    * the per-micro-batch pathology k17 plans against (the reference
    * writes one file per (store, day) upload the same way). Returns
    * (lakeDir, data schema without partition columns). */
  private def buildSalesLake(spark: SparkSession, dir: String,
                             tag: String): (String, StructType) = {
    val lakeDir = Scratch.tempDir(s"$tag-lake")
    val slice = sliceSales(spark, dir)
      .withColumn("__fk", concat_ws("/", col("store_id"), col("sale_date")))
    writeExactFiles(slice, Seq("part_month", "store_id"), "__fk", lakeDir)
    val dataSchema = StructType(slice.drop("__fk", "part_month", "store_id")
      .schema.fields)
    (lakeDir, dataSchema)
  }

  // ---------------------------------------------------------------- k24

  /** k24: COMPACTION APPLIED — execute k17's bin-pack on a real lake
    * and emit the MEASURED (not predicted) per-partition relation:
    * physical files before, physical files after the rewrite, rows
    * after read-back. The oracle recomputes what k17's plan PREDICTS
    * from the fact table, so a hash match is the machine-checked
    * proof that the OPTIMIZE run delivered exactly the planned file
    * count with zero row loss. Small files pack into running-total
    * bins (bin = (cum_bytes − 1) DIV target, k17's rule, computed
    * from the LAKE's own read-back rows — plan inputs come from the
    * thing being rewritten, not from the upstream fact table); large
    * files are carried through the partition rewrite one-to-one. */
  def compactionApplied(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "k24CompactionApplied", dir) {
      val lake = k24Lake(spark, dir)
      // re-measure the physical result
      val after = readLake(spark, lake.root, lake.dataSchema, SalesParts)
      val measured = lakeStats(after, SalesParts).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      import spark.implicits._
      measured.toSeq
        .map { case (m, s, nf, nr) =>
          (m, s, lake.before.getOrElse((m, s), 0L), nf, nr)
        }
        .toDF("part_month", "store_id", "files_before", "files_after",
          "rows_total")
        .orderBy(col("part_month"), col("store_id"))
    }

  /** k17's bin-pack of `lake`, planned from its own rows: small files
    * pack into running-total bins (bin = (cum_bytes − 1) DIV target),
    * large ones are kept one-to-one; `__fk` names each row's file. */
  private def binPacked(lake: DataFrame): DataFrame = {
    val model = lake.groupBy(col("part_month"), col("store_id"),
        col("sale_date"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("file_bytes",
        lit(HeaderBytes) + lit(RowBytes) * col("n_rows"))
      .withColumn("small",
        (col("file_bytes") < TargetBytes).cast("long"))
    val packWin = Window.partitionBy(col("part_month"), col("store_id"))
      .orderBy(col("sale_date"))
    val binned = model
      .withColumn("cum_small",
        sum(col("small") * col("file_bytes")).over(packWin))
      .withColumn("file_tag",
        when(col("small") === 1L, concat(lit("bin-"),
          expr(s"(cum_small - 1) DIV $TargetBytes")))
          .otherwise(concat(lit("keep-"), col("sale_date"))))
      .select(col("part_month"), col("store_id"), col("sale_date"),
        col("file_tag"))
    lake.join(binned, Seq("part_month", "store_id", "sale_date"))
      .withColumn("__fk", concat_ws("/", col("part_month"),
        col("store_id"), col("file_tag")))
      .drop("file_tag")
  }

  /** k24's lake after the bin-pack rewrite; `before` is the file count
    * per partition before it. */
  private[graft] def k24Lake(spark: SparkSession,
                             dir: String): AppliedLake[(String, String)] =
    Silver.once(spark, "k24Lake", dir) {
      val (lakeDir, dataSchema) = buildSalesLake(spark, dir, "k24")
      val lake = readLake(spark, lakeDir, dataSchema, SalesParts)
      // freeze the BEFORE inventory on the driver (metadata-sized)
      // before the rewrite invalidates the listing
      val before = lakeStats(lake, SalesParts).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      writeExactFiles(binPacked(lake), SalesParts, "__fk", lakeDir)
      AppliedLake(lakeDir, dataSchema, before)
    }

  def compactionAppliedSql(): String =
    s"""WITH sl AS ($sliceSalesSql),
       |files AS (
       |  SELECT part_month, store_id, sale_date,
       |    32 + 24 * CAST(COUNT(*) AS BIGINT) AS file_bytes,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM sl GROUP BY 1, 2, 3),
       |flagged AS (
       |  SELECT *, CASE WHEN file_bytes < $TargetBytes THEN 1 ELSE 0 END
       |    AS small
       |  FROM files),
       |binned AS (
       |  SELECT *,
       |    CASE WHEN small = 1 THEN
       |      (CAST(SUM(small * file_bytes) OVER (
       |         PARTITION BY part_month, store_id ORDER BY sale_date
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |       - 1) // $TargetBytes
       |    ELSE -1 END AS bin
       |  FROM flagged)
       |SELECT part_month, store_id,
       |  CAST(COUNT(*) AS BIGINT) AS files_before,
       |  CAST(COALESCE(MAX(CASE WHEN small = 1 THEN bin END) + 1, 0)
       |    + SUM(1 - small) AS BIGINT) AS files_after,
       |  CAST(SUM(n_rows) AS BIGINT) AS rows_total
       |FROM binned
       |GROUP BY part_month, store_id
       |ORDER BY part_month, store_id""".stripMargin

  // ---------------------------------------------------------------- k29

  /** k29: ATOMIC REWRITE COMMIT — k24's bin-pack executed as a
    * GENERATION SWAP instead of an in-place dynamic partition
    * overwrite. k24 demonstrates the rewrite mechanics and freezes its
    * before-inventory driver-side, but a concurrent reader of that
    * lake mid-rewrite can see half-rewritten partitions — the same
    * seam the vector index closed with its manifest. Here the lake is
    * manifest-committed from birth: the bronze build promotes
    * generation 1 atomically, the bin-packed rewrite lands its files
    * under a SEPARATE generation-2 tree (gen-1 bytes are never
    * touched) and joins the live set through ONE atomic pointer swap
    * ([[graft.model.AtomicManifest]]: removeFiles(gen-1) +
    * addFiles(gen-2)), and the measured relation resolves BOTH
    * inventories through the manifest alone — files_before via TIME
    * TRAVEL to the v1 snapshot read AFTER the swap (no frozen driver
    * map), files_after from the current pointer. Same bin-pack plan
    * and same oracle as k24, so the hash certifies the swap delivered
    * exactly the planned file counts with zero row loss; R14OpsSpec
    * pins the crash-window semantics (the v1 view is the small-file
    * lake exactly, the v2 view the packed one, identical row
    * population, gen-1 bytes intact on disk). At 100 TB this is the
    * commit shape that lets OPTIMIZE run while queries stream: readers
    * pin a manifest version and never observe a torn partition. */
  def atomicRewrite(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "k29AtomicRewrite", dir) {
      // measured: both inventories from the manifest — the before leg
      // time-travels to the v1 snapshot AFTER the swap
      val (_, v1) = k29Dir(spark, dir)
      val before = lakeStats(k29Lake(spark, dir, Some(v1)), SalesParts)
        .select(SalesParts.map(col) :+ col("n_files").as("files_before"): _*)
      val after = lakeStats(k29Lake(spark, dir, None), SalesParts)
        .select(SalesParts.map(col) ++ Seq(col("n_files").as("files_after"),
          col("n_rows").as("rows_total")): _*)
      before.join(after, SalesParts)
        .orderBy(col("part_month"), col("store_id"))
    }

  /** k29's lake after the swap: its root and the manifest version the
    * bronze build committed. */
  private[graft] def k29Dir(spark: SparkSession, dir: String): (String, Int) =
    Silver.once(spark, "k29Lake", dir) {
      val lakeDir = Scratch.tempDir("k29-lake")
      val slice = sliceSales(spark, dir)
        .withColumn("__fk", concat_ws("/", col("store_id"), col("sale_date")))
      writeExactFiles(slice, SalesParts, "__fk", s"$lakeDir/gen1")
      // COMMIT 1: the bronze build becomes visible atomically
      val v1 = AtomicManifest.commit(lakeDir,
        AtomicManifest.listFiles(lakeDir, "gen1").map((1L, _)))
      val lake = k29Read(spark, dir, lakeDir, None)
      // k17's bin-pack plan, computed from the manifest-resolved lake
      writeExactFiles(binPacked(lake), SalesParts, "__fk", s"$lakeDir/gen2")
      // COMMIT 2 — the rewrite transaction: removeFiles(every gen-1
      // file) + addFiles(gen-2), promoted in one atomic rename. A
      // reader during the gen-2 write still resolves the small-file
      // lake; a reader after sees only the packed one.
      AtomicManifest.commit(lakeDir,
        AtomicManifest.listFiles(lakeDir, "gen2").map((2L, _)))
      (lakeDir, v1)
    }

  /** Same predicted relation as k24 — the swap and the in-place
    * overwrite must land the identical planned file counts. */
  def atomicRewriteSql(): String = compactionAppliedSql()

  /** Manifest-resolved read of the k29 lake at `version` (spec hook:
    * the crash-window replay pins v1/v2 without touching the pointer). */
  private[graft] def k29Lake(spark: SparkSession, dir: String,
                             version: Option[Int]): DataFrame =
    k29Read(spark, dir, k29Dir(spark, dir)._1, version)

  /** The newest generation the manifest of `lakeDir` lists at `version`
    * (None: the current one). */
  private def k29Read(spark: SparkSession, dir: String, lakeDir: String,
                      version: Option[Int]): DataFrame = {
    val dataSchema = StructType(sliceSales(spark, dir)
      .drop("part_month", "store_id").schema.fields)
    val entries = AtomicManifest.read(lakeDir, version)
    val gen = entries.map(_._1).max
    val files = entries.collect { case (g, p) if g == gen => s"$lakeDir/$p" }
    val full = SalesParts.foldLeft(dataSchema)((s, c) => s.add(c, StringType))
    spark.read.schema(full)
      .option("basePath", s"$lakeDir/gen$gen").parquet(files: _*)
  }

  // ---------------------------------------------------------------- k25

  /** k25: PURGE APPLIED — execute k16's right-to-be-forgotten delete
    * on a real lake: partitions holding cohort rows (o_custkey %
    * [[Purge]]'s 97 == 0, resolved through the l_orderkey join) are
    * rewritten without them (copy-on-write), partitions the cohort
    * does not touch are left byte-identical, and a partition whose
    * every row is purged is physically deleted. Emits the MEASURED
    * per-partition relation (rows before, rows after read-back,
    * purged = difference, touched flag); the oracle predicts the same
    * from the fact tables, so the hash gate certifies the delete wave
    * removed exactly the cohort — no stragglers, no collateral. */
  def purgeApplied(spark: SparkSession, dir: String,
                   mod: Long = 97L): DataFrame =
    Silver.memoize(spark, s"k25PurgeApplied-$mod", dir) {
      val lake = k25Lake(spark, dir, mod)
      val after = readLake(spark, lake.root, lake.dataSchema, SalesParts)
      val remaining = lakeStats(after, SalesParts).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
      import spark.implicits._
      lake.before.toSeq
        .map { case ((m, s), rb) =>
          val ra = remaining.getOrElse((m, s), 0L)
          (m, s, rb, ra, rb - ra, if (lake.touched((m, s))) 1L else 0L)
        }
        .toDF("part_month", "store_id", "rows_before", "rows_after",
          "n_purged", "touched")
        .orderBy(col("part_month"), col("store_id"))
    }

  /** k25's lake after the purge of cohort `mod`; `before` is the row
    * count per partition before it. */
  private[graft] def k25Lake(spark: SparkSession, dir: String,
                             mod: Long): AppliedLake[(String, String)] =
    Silver.once(spark, s"k25Lake:$mod", dir) {
      val (lakeDir, dataSchema) = buildSalesLake(spark, dir, "k25")
      val lake = readLake(spark, lakeDir, dataSchema, SalesParts)
      val before = lakeStats(lake, SalesParts).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
      // cohort keys are ~1% of orders — broadcast-sized by design
      val cohort = Tables.orders(spark, dir)
        .filter(pmod(col("o_custkey"), lit(mod)) === 0L)
        .select(col("o_orderkey").as("l_orderkey"))
        .withColumn("__purge", lit(1L))
      val flagged = lake.join(broadcast(cohort), Seq("l_orderkey"), "left")
        .withColumn("__purge", coalesce(col("__purge"), lit(0L)))
      val touched = flagged
        .groupBy(col("part_month"), col("store_id"))
        .agg(sum(col("__purge")).as("n_purged"),
          count(lit(1)).as("n_rows"))
        .filter(col("n_purged") > 0L)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val bTouched = spark.sparkContext.broadcast(touched.keySet)
      val survivors = flagged
        .filter(col("__purge") === 0L)
        .filter(udf((m: String, s: String) => bTouched.value.contains((m, s)))
          .apply(col("part_month"), col("store_id")))
        .drop("__purge")
        .withColumn("__fk",
          concat_ws("/", col("part_month"), col("store_id"), col("sale_date")))
      writeExactFiles(survivors, SalesParts, "__fk", lakeDir)
      // a wholly-purged partition has no survivors: dynamic overwrite
      // never visits it, so the delete is explicit — exactly what a
      // copy-on-write lake's delete commit does to emptied partitions
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      touched.foreach { case ((m, s), (purged, rows)) =>
        if (purged == rows) {
          val p = new org.apache.hadoop.fs.Path(
            s"$lakeDir/part_month=$m/store_id=$s")
          p.getFileSystem(hadoopConf).delete(p, true)
        }
      }
      AppliedLake(lakeDir, dataSchema, before, touched.keySet)
    }

  def purgeAppliedSql(mod: Long = 97L): String =
    s"""WITH sl AS ($sliceSalesSql),
       |cohort AS (
       |  SELECT o_orderkey FROM orders WHERE o_custkey % $mod = 0)
       |SELECT sl.part_month, sl.store_id,
       |  CAST(COUNT(*) AS BIGINT) AS rows_before,
       |  CAST(SUM(CASE WHEN c.o_orderkey IS NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS rows_after,
       |  CAST(SUM(CASE WHEN c.o_orderkey IS NULL THEN 0 ELSE 1 END)
       |    AS BIGINT) AS n_purged,
       |  CAST(CASE WHEN SUM(CASE WHEN c.o_orderkey IS NULL THEN 0 ELSE 1 END)
       |    > 0 THEN 1 ELSE 0 END AS BIGINT) AS touched
       |FROM sl LEFT JOIN cohort c ON sl.l_orderkey = c.o_orderkey
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- d28

  /** d28: DEDUP VERDICT APPLIED — execute d16's keep/drop verdict on a
    * real documents lake partitioned by `source`: sources holding at
    * least one `drop` doc are rewritten with keepers only (dynamic
    * overwrite), untouched sources keep their bytes. Emits the
    * MEASURED per-source relation (docs before, docs after read-back,
    * dropped); the oracle predicts the same by aggregating d16's
    * verdict to the source grain — the hash gate certifies the
    * near-dup purge kept exactly the quality-selected keepers. */
  def dedupApplied(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "d28DedupApplied", dir) {
      val lake = d28Lake(spark, dir)
      val after = readLake(spark, lake.root, lake.dataSchema, Seq("source"))
      val remaining = lakeStats(after, Seq("source")).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      import spark.implicits._
      lake.before.toSeq
        .map { case (s, db) =>
          val da = remaining.getOrElse(s, 0L)
          (s, db, da, db - da)
        }
        .toDF("source", "docs_before", "docs_after", "n_dropped")
        .orderBy(col("source"))
    }

  /** d28's documents lake after the verdict's drops; `before` is the doc
    * count per source before them. */
  private[graft] def d28Lake(spark: SparkSession, dir: String): AppliedLake[String] =
    Silver.once(spark, "d28Lake", dir) {
      val lakeDir = Scratch.tempDir("d28-lake")
      val docs = Tables.documents(spark, dir)
      val docsKeyed = docs.withColumn("__fk", col("source"))
      writeExactFiles(docsKeyed, Seq("source"), "__fk", lakeDir)
      val dataSchema = StructType(docs.drop("source").schema.fields)
      val lake = readLake(spark, lakeDir, dataSchema, Seq("source"))
      val before = lakeStats(lake, Seq("source")).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      // the verdict is doc-grain; drops are the near-dup minority —
      // broadcast-sized relative to the corpus
      val drops = graft.dedup.Dedup.dedupVerdict(spark, dir)
        .filter(col("action") === "drop")
        .select(col("doc_id"))
        .withColumn("__drop", lit(1L))
      val flagged = lake.join(broadcast(drops), Seq("doc_id"), "left")
        .withColumn("__drop", coalesce(col("__drop"), lit(0L)))
      val touched = flagged.groupBy(col("source"))
        .agg(sum(col("__drop")).as("n_drops"), count(lit(1)).as("n_rows"))
        .filter(col("n_drops") > 0L)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val bTouched = spark.sparkContext.broadcast(touched.keySet)
      val keepers = flagged
        .filter(col("__drop") === 0L)
        .filter(udf((s: String) => bTouched.value.contains(s))
          .apply(col("source")))
        .drop("__drop")
        .withColumn("__fk", col("source"))
      writeExactFiles(keepers, Seq("source"), "__fk", lakeDir)
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      touched.foreach { case (s, (drops0, rows0)) =>
        if (drops0 == rows0) {
          val p = new org.apache.hadoop.fs.Path(s"$lakeDir/source=$s")
          p.getFileSystem(hadoopConf).delete(p, true)
        }
      }
      AppliedLake(lakeDir, dataSchema, before)
    }

  def dedupAppliedSql(): String =
    s"""WITH verdict AS (
       |  SELECT doc_id, action
       |  FROM (${graft.dedup.Dedup.dedupVerdictSql()})),
       |d AS (SELECT doc_id, source FROM documents)
       |SELECT d.source,
       |  CAST(COUNT(*) AS BIGINT) AS docs_before,
       |  CAST(SUM(CASE WHEN COALESCE(v.action, 'keep') = 'drop'
       |    THEN 0 ELSE 1 END) AS BIGINT) AS docs_after,
       |  CAST(SUM(CASE WHEN COALESCE(v.action, 'keep') = 'drop'
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM d LEFT JOIN verdict v USING (doc_id)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin
}
