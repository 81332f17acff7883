package graft

import graft.model.Silver
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, max}

/** The materialization rules of [[Silver.memoize]], `once` of a silver
  * leaf in the engine's one session memo: handles are checkpointed plan
  * leaves, held per session, built once by ONE job that both fills and
  * measures the leaf, and a body that already is a leaf is not copied
  * again. Builders that reuse an intermediate make it a silver keyed by
  * every parameter it depends on: a repeat call runs no job, a call with
  * another parameter builds its own value, concurrent first callers of
  * one build-once directory build it once, and joins to a silver are
  * planned from its measured size, not a hand-written broadcast hint. */
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
    // and of every key whose body runs rounds: its loop is built once;
    // and of keys that read tables outside their memo, whose schema is
    // read once per session
    val entryKeys = Seq("g4_kcore", "g6_bfs_hops", "g7_lpa_communities",
      "g8_personalized_pagerank", "g9_weighted_sssp", "d6_dup_clusters",
      "d10_clusters_xxhash", "er3_entity_clusters", "e28_absorption",
      "e32_removal_effect", "v33_mmr_diversify", "v34_pca_power", "t20_bpe_train",
      "e1_events_daily", "v16_filtered_ann")
    (Seq[(String, () => DataFrame)](
      "d23" -> (() => graft.dedup.Dedup.templatePassages(spark, sfDir)),
      "d27" -> (() => graft.dedup.Dedup.dupSpans(spark, sfDir)),
      "j14" -> (() => graft.analytics.Star.marketShare(spark, sfDir)),
      "v21" -> (() => graft.vector.Similarity.semanticClusters(spark, sfDir)),
      "resolve_date" -> (() => graft.analytics.Kpis.resolveDate(spark, sfDir))) ++
      entryKeys.map(k => k -> (() => SparkEntry.queries(k)(spark, sfDir)))).foreach {
      case (key, call) =>
        val first = call()
        val (again, jobs) = JobLog.during(spark)(call())
        assert(jobs.isEmpty, s"$key repeat ran: $jobs")
        assert(again.collect().toSeq === first.collect().toSeq, key)
    }
  }

  private def isMeasuredLeaf(df: DataFrame): Boolean = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.isCheckpointed && r.computeStats().rowCount.isDefined
    case _ => false
  }

  test("iterate: a fixed-round loop runs every round, each a measured leaf built by one job") {
    val (rounds, jobs) = JobLog.during(spark) {
      Silver.iterate(spark.range(5).toDF("id"), 3) { (prev, _) =>
        prev.select((col("id") + 1).as("id"))
      }()
    }
    assert(jobs.size === 3, s"one job per round, the initial plan read by round 1: $jobs")
    assert(rounds.rounds.size === 4 && !rounds.converged)
    assert(rounds.rounds.tail.forall(isMeasuredLeaf))
    assert(rounds.last.collect().map(_.getLong(0)).sorted.toSeq === (3L to 7L))
    assert(rounds.rounds(1).collect().map(_.getLong(0)).sorted.toSeq === (1L to 5L))
  }

  test("iterate: a row-count fixpoint ends the loop without a job of its own; " +
      "the cap ends it unconverged") {
    def peel(cap: Int) = JobLog.during(spark) {
      Silver.iterate(spark.range(10).toDF("id"), cap) { (prev, i) =>
        prev.filter(col("id") >= math.min(i, 2) * 3)
      }(Some((_, before, after) => after == before))
    }
    val (done, jobs) = peel(8)
    // rows 10, 7, 4, 4: the third round repeats the second's count
    assert(done.converged && done.rounds.size === 4)
    assert(done.rounds.forall(isMeasuredLeaf), "a fixpoint measures the initial relation too")
    assert(jobs.size === 4, s"one job per leaf, none for the test: $jobs")
    assert(done.last.count() === 4)
    val (capped, _) = peel(2)
    assert(!capped.converged && capped.rounds.size === 3)
  }

  test("iterate: a round that returns its input leaf is a fixpoint") {
    var calls = 0
    val (rounds, jobs) = JobLog.during(spark) {
      Silver.iterate(spark.range(3).toDF("id"), 5) { (prev, _) => calls += 1; prev }()
    }
    assert(rounds.converged && rounds.rounds.size === 1 && calls === 1)
    assert(jobs.isEmpty, s"no round was built: $jobs")
  }

  test("a fresh-session g4 or g6 build runs one job per round and no count or isEmpty probe") {
    Seq("g4_kcore" -> 12, "g6_bfs_hops" -> 22).foreach { case (key, most) =>
      val s = spark.newSession()
      val (_, jobs) = JobLog.during(s)(SparkEntry.queries(key)(s, sfDir))
      val probes = jobs.filter(_.stages.exists(n => n.startsWith("count at") ||
        n.startsWith("isEmpty at")))
      assert(probes.isEmpty, s"$key probes: $probes")
      assert(jobs.size <= most, s"$key ran ${jobs.size} jobs: $jobs")
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

  test("a repeat call with a different parameter builds its own value") {
    def ranks(topK: Int) = graft.etl.Materialize.incrementalTopK(spark, sfDir, topK)
      .select(max(col("rank"))).head.get(0).toString.toInt
    assert(ranks(5) === 5)
    assert(ranks(2) === 2, "a68 with topK 2 after topK 5 returned topK 5's ranks")
    def cells(nCentroids: Int) =
      graft.vector.IndexCompaction.cellInventory(spark, sfDir, nCentroids)
        .collect().map(_.getAs[Any]("cell").toString.toInt)
    assert(cells(8).max === 7)
    assert(cells(4).max === 3, "v40 with 4 centroids after 8 returned the 8-cell index")
  }

  test("four concurrent first callers of v39-v42 build one folded index") {
    val s = spark.newSession()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def indexes() = Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft-v39-index")).toSet
    val before = indexes()
    val calls = Seq[SparkSession => DataFrame](
      graft.vector.IndexCompaction.compactionApplied(_, sfDir),
      graft.vector.IndexCompaction.cellInventory(_, sfDir),
      graft.vector.IndexCompaction.foldRecall(_, sfDir),
      graft.vector.IndexCompaction.rebalanceApplied(_, sfDir))
    val start = new java.util.concurrent.CyclicBarrier(calls.size)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = calls.map { f =>
      new Thread(() => {
        start.await()
        try f(s).collect() catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    val built = indexes() -- before
    assert(built.size === 1, s"index directories built: $built")
  }

  test("a table read with its memoized schema equals the inferred read") {
    import graft.model.Tables
    val s = spark.newSession()
    Seq[(String, (SparkSession, String) => DataFrame)]("lineitem" -> Tables.lineitem,
      "orders" -> Tables.orders, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings).foreach { case (t, read) =>
      val given = read(s, sfDir)
      val inferred = s.read.parquet(s"$sfDir/$t.parquet")
      assert(given.schema === inferred.schema, t)
      assert(given.collect().map(_.toString).sorted.toSeq ===
        inferred.collect().map(_.toString).sorted.toSeq, t)
    }
  }
}
