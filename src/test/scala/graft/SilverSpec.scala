package graft

import graft.model.Silver
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The materialization rules of [[Silver.memoize]], the engine's one
  * silver memo: handles are checkpointed plan leaves, held per session,
  * built once by ONE job that both fills and measures the leaf, and a
  * body that already is a leaf is not copied again. Builders that reuse
  * an intermediate make it a silver keyed by every parameter it depends
  * on: a repeat call runs no job, and joins to it are planned from its
  * measured size, not a hand-written broadcast hint. */
class SilverSpec extends GraftSpec {

  private var groups = 0

  /** Run `f` under a fresh job group; return its value and the number of
    * Spark jobs it launched. */
  private def jobs[T](f: => T): (T, Int) = {
    groups += 1
    val g = s"silver-spec-$groups"
    val sc = spark.sparkContext
    sc.setJobGroup(g, g)
    try {
      val v = f
      (v, sc.statusTracker.getJobIdsForGroup(g).length)
    } finally sc.clearJobGroup()
  }

  private def isLeaf(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]

  test("memoize returns a LogicalRDD leaf holding the body's rows") {
    val h = Silver.memoize(spark, "silverSpec:leaf", sfDir) {
      spark.range(10).toDF("id").filter("id % 2 = 0")
    }
    assert(isLeaf(h), h.queryExecution.logical.treeString)
    assert(h.collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("the leaf states the rows and bytes it holds, not the plan's estimate") {
    // an equi-join is estimated at the PRODUCT of its sides' sizes
    // (256 MB here, far above the broadcast threshold); it holds 2000 rows
    def body = spark.range(2000).toDF("a")
      .join(spark.range(2000).toDF("b"), col("a") === col("b")).select(col("a"))
    val threshold = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    assert(body.queryExecution.optimizedPlan.stats.sizeInBytes > threshold)
    val h = Silver.memoize(spark, "silverSpec:size", sfDir)(body)
    val stats = h.queryExecution.optimizedPlan.stats
    assert(stats.rowCount === Some(BigInt(2000)))
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < threshold, s"leaf size ${stats.sizeInBytes}")
    // joined to a side too big to broadcast, the leaf is the broadcast side
    val plan = h.join(spark.range(100000000L).toDF("a"), "a").queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
  }

  test("a repeat call in the same session returns the same handle and runs no job") {
    var builds = 0
    def call() = Silver.memoize(spark, "silverSpec:repeat", sfDir) {
      builds += 1
      spark.range(5).toDF("id")
    }
    val (first, firstJobs) = jobs(call())
    assert(firstJobs === 1, "one job fills the lazy checkpoint and measures it")
    val (second, secondJobs) = jobs(call())
    assert(second eq first)
    assert(secondJobs === 0)
    assert(builds === 1)
  }

  test("another session gets its own handle, bound to that session") {
    def call(s: SparkSession) = Silver.memoize(s, "silverSpec:session", sfDir) {
      s.range(3).toDF("id")
    }
    val s2 = spark.newSession()
    val h1 = call(spark)
    val h2 = call(s2)
    assert(!(h1 eq h2))
    assert(h1.sparkSession eq spark)
    assert(h2.sparkSession eq s2)
    assert(call(s2) eq h2)
  }

  test("a body that already is a checkpointed leaf is not checkpointed again") {
    var body: DataFrame = null
    val (h, n) = jobs {
      Silver.memoize(spark, "silverSpec:preLeaf", sfDir) {
        body = spark.range(7).toDF("id").localCheckpoint()
        body
      }
    }
    assert(h eq body, "the leaf body is the handle")
    assert(n === 1, s"one job (the body's own checkpoint) builds it, got $n")
  }

  test("four callers of one cold silver pay one build") {
    val n = 4
    val start = new java.util.concurrent.CyclicBarrier(n)
    def call() = Silver.memoize(spark, "silverSpec:singleFlight", sfDir) {
      Thread.sleep(300) // every racing caller is inside a build at once
      spark.range(100).toDF("id")
    }
    val (handles, jobs) = JobLog.during(spark) {
      val out = new Array[DataFrame](n)
      val threads = (0 until n).map { i =>
        new Thread(() => { start.await(); out(i) = call() })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      out.toSeq
    }
    val builds = jobs.filter(_.stages.exists(_.startsWith("withMeasuredStats")))
    assert(builds.size === 1, s"jobs: $jobs")
    assert(handles.forall(h => h != null && (h eq handles.head)))
  }

  test("withMeasuredStats on a frame that is not a checkpointed leaf says what it needs") {
    val e = intercept[IllegalArgumentException] {
      org.apache.spark.sql.graftbridge.ColumnBridge.withMeasuredStats(
        spark.range(3).toDF("id").filter("id > 0"))
    }
    assert(e.getMessage.contains("classic (non-Connect) SparkSession"), e.getMessage)
    assert(e.getMessage.contains("checkpointed LogicalRDD leaf"), e.getMessage)
  }

  test("a repeat call of d23, d27, j14 or v21 in the same session runs no job") {
    Seq[(String, () => DataFrame)](
      "d23" -> (() => graft.dedup.Dedup.templatePassages(spark, sfDir)),
      "d27" -> (() => graft.dedup.Dedup.dupSpans(spark, sfDir)),
      "j14" -> (() => graft.analytics.Star.marketShare(spark, sfDir)),
      "v21" -> (() => graft.vector.Similarity.semanticClusters(spark, sfDir))).foreach {
      case (key, call) =>
        val first = call()
        val (again, jobs) = JobLog.during(spark)(call())
        assert(jobs.isEmpty, s"$key repeat ran: $jobs")
        assert(again.collect().toSeq === first.collect().toSeq, key)
    }
  }

  test("with broadcasts off, d21 and d23 broadcast neither their candidate " +
      "pairs nor their template-shingle set") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
    Seq("d21" -> graft.dedup.Dedup.lshSweep(s, sfDir),
        "d23" -> graft.dedup.Dedup.templatePassages(s, sfDir)).foreach {
      case (key, df) =>
        assert(!plan(df).contains("BroadcastHashJoin"), s"$key:\n${plan(df)}")
    }
  }

  test("a memoized intermediate is keyed by the parameters it depends on") {
    def share(market: String) =
      graft.analytics.Star.marketShare(spark, sfDir, market)
        .select(col("supp_nation"), col("revenue_cents")).collect().toSet
    val asia = share("ASIA")
    val europe = share("EUROPE")
    assert(asia.nonEmpty && europe.nonEmpty)
    assert(asia != europe, "two markets returned one market's shares")
    def passages(minDf: Int) =
      graft.dedup.Dedup.templatePassages(spark, sfDir, minDf = minDf).collect().toSeq
    assert(passages(2) != passages(5), "two df floors returned one floor's passages")
  }
}
