package graft

/** Scan-level regression gates — the other half of PlanShapeSpec's 100 TB
  * posture: exchanges bound data MOVEMENT, these bound data READ. A
  * predicate that stops reaching the parquet scan (PushedFilters) or a
  * projection that silently widens to the full table (ReadSchema) is
  * invisible at sf0.01 and a full-corpus re-read at scale, so both are
  * asserted against the actual FileSourceScanExec metadata here. */
class PushdownSpec extends GraftSpec {

  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def scans(key: String): Seq[FileSourceScanExec] =
    scans(SparkEntry.queries(key)(spark, sfDir))

  private def scanOf(key: String, table: String): Seq[FileSourceScanExec] =
    scans(key).filter(_.metadata.getOrElse("Location", "").contains(table))

  private def pushed(s: FileSourceScanExec): String =
    s.metadata.getOrElse("PushedFilters", "")

  test("P4: date-range keys push l_shipdate bounds into the lineitem scan") {
    // the salesInRange contract: the derived sale_date string can't push,
    // so the REDUNDANT raw timestamp range must reach row-group pruning
    Seq("a19_completeness", "j3_missing_stores").foreach { key =>
      val li = scanOf(key, "lineitem")
      assert(li.nonEmpty, s"$key: no visible lineitem scan")
      assert(li.exists { s =>
        pushed(s).contains("GreaterThanOrEqual(l_shipdate") &&
          pushed(s).contains("LessThan(l_shipdate")
      }, s"$key: l_shipdate range no longer pushed: ${li.map(pushed)}")
    }
  }

  test("query-set predicates reach the embeddings scan (vector family)") {
    Seq("v1_cosine_topk", "v4_ivf_ann", "v14_two_stage").foreach { key =>
      val e = scanOf(key, "embeddings")
      assert(e.nonEmpty, s"$key: no visible embeddings scan")
      assert(e.exists(s => pushed(s).contains("LessThan(vec_id")),
        s"$key: query-set filter no longer pushed: ${e.map(pushed)}")
    }
  }

  test("column pruning: projection-heavy scans stay narrow") {
    // keys chosen because they ALWAYS read the raw files (no memoized
    // silver can swallow the scan in a shared test JVM):
    // lineitem has 16 columns; the ranged anti-join needs at most 9
    val j3 = scanOf("j3_missing_stores", "lineitem")
    assert(j3.nonEmpty && j3.forall(_.requiredSchema.fields.length <= 9),
      s"j3 lineitem scan widened: ${j3.map(_.requiredSchema.fieldNames.mkString(","))}")
    // events has 5+ columns; the daily rollup needs 3
    val e1 = scanOf("e1_events_daily", "events")
    assert(e1.nonEmpty && e1.forall(_.requiredSchema.fields.length <= 3),
      s"e1 events scan widened: ${e1.map(_.requiredSchema.fieldNames.mkString(","))}")
    // documents has 5 columns; the partition planner needs 3 (lang,
    // source, n_chars) — text must NOT be read for a byte-size plan
    val k7 = scanOf("k7_partition_planner", "documents")
    assert(k7.nonEmpty && k7.forall(_.requiredSchema.fields.length <= 3),
      s"k7 documents scan widened: ${k7.map(_.requiredSchema.fieldNames.mkString(","))}")
    assert(k7.forall(!_.requiredSchema.fieldNames.contains("text")),
      "k7 must never read the text column")
    // lineitem: k8's fact scan moved inside the shared fkLineitemCounts
    // silver (r14 — one stacked scan serves k8/k9/sk10), so its raw scan
    // is no longer visible here; sk13 keeps the always-raw contract —
    // the KMV sweep needs exactly its 2 key columns
    val sk13 = scanOf("sk13_kmv_sweep", "lineitem")
    assert(sk13.nonEmpty && sk13.forall(_.requiredSchema.fields.length <= 2),
      s"sk13 lineitem scans widened: ${sk13.map(_.requiredSchema.fieldNames.mkString(","))}")
  }

  test("fkLineitemCounts silver reads exactly the 3 FK key columns") {
    // r14 ADVICE: k8's raw-scan probe moved inside the shared silver, so
    // nothing asserted the stacked scan's projection any more. The
    // memoized silver is a checkpointed leaf that hides its scan, so pin
    // the schema on the silver's un-memoized builder plan.
    val li = scans(analytics.Profile.fkLineitemCountsPlan(spark, sfDir))
      .filter(_.metadata.getOrElse("Location", "").contains("lineitem"))
    assert(li.nonEmpty, "fkLineitemCounts: raw lineitem scan not visible")
    assert(li.forall(_.requiredSchema.fieldNames.toSet ==
      Set("l_orderkey", "l_partkey", "l_suppkey")),
      s"fkLineitemCounts scan widened: " +
        li.map(_.requiredSchema.fieldNames.mkString(",")).mkString(" | "))
  }

  test("a45: the Q6 probe pushes every predicate into the one fact scan") {
    val li = scanOf("a45_forecast_revenue", "lineitem")
    assert(li.nonEmpty, "a45: no visible lineitem scan")
    val p = li.map(pushed).mkString
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach(f =>
      assert(p.contains(f), s"a45: $f no longer pushed: $p"))
    assert(li.forall(_.requiredSchema.fields.length <= 4),
      s"a45 scan widened: ${li.map(_.requiredSchema.fieldNames.mkString(","))}")
  }
}
