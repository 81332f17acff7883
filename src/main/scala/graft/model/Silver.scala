package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Session-level HANDLE memoization for the shared silver relations,
  * materialized to PLAN LEAVES — the one place a silver is materialized.
  *
  * Spark's CacheManager already dedupes silver EXECUTION by logical-plan
  * identity — but every re-call of a silver builder still re-constructs
  * and re-analyzes the full logical tree before the cache lookup can
  * match it, and for the deep silvers (trend directions, anomalies: scan
  * → rollup → explode-join → window → agg) that driver-side planning is
  * ~0.7 s per call at ANY data size (it is planning, not execution — the
  * same cost class as the d6 lineage-truncation fix). Queries that
  * compose three such silvers (x3/x4/r2) paid it three times. Worse, the
  * cost COMPOUNDS with the number of cached entries: every action's
  * `useCachedData` canonicalizes each fragment of the incoming plan
  * against every cached plan, so ~40 deep cached silvers tax EVERY query
  * in the suite (the r7 bench's uniform per-key constant).
  *
  * The fix is the production posture: in a medallion lake the silvers
  * are PERSISTED tables registered once in the catalog — a consumer
  * reads `silver.trend_direction` as a SCAN LEAF, it does not re-derive
  * (or re-match) the lineage per query. Here the first call builds the
  * silver once and the memoized handle is a `LogicalRDD` LEAF: consumer
  * plans are shallow (cheap to analyze/canonicalize), nothing enters the
  * CacheManager, and the leaf states its measured rows and bytes, so
  * consumer joins (and their broadcasts) plan against the real size,
  * not the optimizer's estimate. ONE job fills and measures a fresh
  * leaf: the checkpoint is lazy, the measuring pass fills its blocks,
  * and Spark truncates the lineage when that job ends. Builders return
  * PLAIN plans (SilverLintSpec), and an intermediate a builder reuses
  * is a silver keyed by every parameter it depends on; a body that
  * already is a checkpointed leaf (the iterative loops) is kept as-is.
  *
  * A DataFrame is bound to the session that built it, so the key
  * includes the session — a second session in the same JVM builds its
  * own handles instead of receiving frames bound to a session it
  * doesn't own. This is the engine's only frame-valued memo.
  *
  * Builds are single-flight: the map holds a lazy holder per key, and
  * `TrieMap.getOrElseUpdate` hands every concurrent miss the one holder
  * it inserted (its body may run once per racing caller, which is why
  * the body only allocates the holder). The holder's lazy leaf is built
  * by the first caller to force it while the others wait, so N callers
  * of one cold silver pay one build; a hit stays one map read. */
object Silver {
  private final class Handle(build: => DataFrame) {
    lazy val frame: DataFrame = leaf(build)
  }

  private val memo =
    scala.collection.concurrent.TrieMap[(SparkSession, String, String), Handle]()

  /** Return the memoized handle for `name` under `dir` in `spark`,
    * building (and leaf-materializing) it on first call. `name` must
    * encode any non-dir parameters (e.g. `"topProductsDec:5"`). Keyed by
    * session IDENTITY — the handful of sessions a JVM holds makes the
    * strong reference harmless. A build that throws leaves the key
    * unbuilt; the next call builds again. */
  def memoize(spark: SparkSession, name: String, dir: String)
             (build: => DataFrame): DataFrame =
    memo.getOrElseUpdate((spark, name, dir), new Handle(build)).frame

  /** The build as a materialized leaf: a body whose plan already is a
    * checkpointed `LogicalRDD` is kept as-is; anything else is marked
    * for a lazy `localCheckpoint` and measured by one job, which fills
    * the executor-local blocks as it counts them. */
  private def leaf(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => df
    case _ => ColumnBridge.withMeasuredStats(df.localCheckpoint(eager = false))
  }
}
