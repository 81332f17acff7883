package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.analytics.{History, Kpis, Trends}
import graft.etl.Materialize
import graft.export.Flatten
import graft.ingest.Ingest
import graft.streaming.StreamingIngest

/** The benchmark's JVM side: runs one workload against the library's public
  * functions and writes its measurements as JSON for `run.py`, which checks
  * the written results against DuckDB and prints the result line.
  * Arguments are `--key value` pairs (see [[Main.Opts]]). */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        uploads: String, out: String, t0Ms: Long, cpus: Int)

  /** What a workload hands back: metric values by name, the operation
    * counts, the reasons of every failed check, the results the Python
    * side compares against DuckDB, and report lines. */
  final class Outcome {
    val metrics = mutable.LinkedHashMap[String, Double]()
    /** Per-layer values the workload measures itself (the rest come from
      * the spans). */
    val layers = mutable.LinkedHashMap[String, Double]()
    val attempted = new AtomicLong(0)
    val failures = new ConcurrentLinkedQueue[String]()
    val oracle = mutable.ArrayBuffer[(String, String, String)]()
    val report = mutable.ArrayBuffer[String]()
    /** Wall-clock time of the first timed operation (ends set-up). */
    @volatile var firstTimedMs = 0L
    /** The measured window, for the core-utilisation ratio. */
    @volatile var windowNs = (0L, 0L)
    def fail(why: String): Unit = failures.add(why)
    def startTiming(): Unit = firstTimedMs = System.currentTimeMillis()
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv.getOrElse("uploads", ""),
      kv("out"), kv("t0").toLong, kv("cpus").toInt)
    System.err.println(f"[perfbench] JVM up ${System.currentTimeMillis() - o.t0Ms} ms after set-up start")
    val spark = session(o.cpus, o.work)
    System.err.println(f"[perfbench] session up ${System.currentTimeMillis() - o.t0Ms} ms after set-up start")
    try {
      val tracer = new Tracer(spark.sparkContext, o.trace)
      val out = new Outcome
      val stamp = Stamp.before(spark)
      o.workload match {
        case "bi_dashboard" => BiDashboard.run(spark, o, tracer, out)
        case "nightly_close" => NightlyClose.run(spark, o, tracer, out)
        case w => sys.error(s"unknown workload $w")
      }
      out.metrics("setup_s") = (out.firstTimedMs - o.t0Ms) / 1000.0
      out.metrics("storage_retained_mb") = Stamp.storageMb(spark)
      tracer.drain()
      val layers = if (o.trace) Layers.compute(tracer, out, o.cpus) else Map.empty
      Json.writeFile(o.out, Map(
        "metrics" -> out.metrics,
        "layers" -> layers,
        "attempted" -> out.attempted.get,
        "failures" -> out.failures.asScala,
        "oracle" -> out.oracle.map { case (id, sql, path) =>
          Map("id" -> id, "sql" -> sql, "path" -> path) },
        "report" -> out.report,
        "stamp" -> (stamp ++ Stamp.after()),
        "trace_bookkeeping_ms" -> tracer.bookkeepingMs))
      if (o.trace) Json.writeSpans(s"${o.work}/spans.jsonl", tracer.all)
    } finally spark.stop()
  }

  /** The session `graft.Bench` builds: the library's extensions,
    * `local[nproc]`, shuffle partitions = nproc, UTC. Spark's scratch
    * space stays inside the benchmark's work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Row count and an order-insensitive 64-bit hash of a collected result. */
  def digest(rows: Array[Row]): (Long, Long) = {
    import scala.util.hashing.MurmurHash3.stringHash
    var h = 0L
    rows.foreach { r =>
      val s = r.toString
      h += (stringHash(s).toLong << 32) ^ (stringHash(s, 0x5bd1e995) & 0xffffffffL)
    }
    (rows.length.toLong, h)
  }

  /** Progress line in the JVM log. */
  def note(what: String, startNs: Long): Unit =
    System.err.println(f"[perfbench] $what ${(System.nanoTime() - startNs) / 1e6}%.0f ms")

  /** Collected rows written as parquet for the DuckDB comparison. */
  def saveRows(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Bytes of the data files under `dir` (Spark's part files). */
  def dataBytes(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) { if (f.getName.startsWith("part-")) f.length else 0L }
    else Option(f.listFiles()).toSeq.flatten.map(c => dataBytes(c.getPath)).sum
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The `q`-quantile, interpolating linearly between order statistics. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** `bi_dashboard`: a closed loop of clients sharing one warm session. Each
  * client sends its next read-only dashboard query when the previous one
  * has returned, walking its own seeded permutation of the operation
  * menu. Set-up calls every operation once, so each silver is built before
  * timing and a measured call is a memo hit: its time is planning, job
  * launch and small shuffles. */
object BiDashboard {
  import Main._

  /** One dashboard operation: the span name (`<module>.<Object>.<function>`),
    * a key naming the operation and its parameters, the call, and the
    * DuckDB oracle query when the library has one. */
  final case class Op(name: String, key: String, fn: SparkSession => DataFrame,
                      sql: Option[String])

  /** The seeded operation menu: the seed picks the store and the date
    * windows; each operation keeps its parameters for the whole run, so
    * every repeat can be checked against the first result. */
  def menu(rnd: Random, data: String, stores: Int): Seq[Op] = {
    def day(from: String, plus: Int) =
      java.time.LocalDate.parse(from).plusDays(plus.toLong).toString
    // two-week windows inside the month the generator ships line items
    // in (gen.py SHIP_MONTH)
    val windows = Seq.fill(2) {
      val from = day("1998-06-01", rnd.nextInt(16))
      (from, day(from, 13))
    }
    val store = f"${rnd.nextInt(stores)}%04d"
    def entry(name: String, key: String) =
      Op(name, key, s => SparkEntry.queries(key)(s, data), SparkEntry.oracleSql.get(key))
    Seq(
      entry("analytics.History.anomalies", "a11_anomaly_rules"),
      entry("streaming.EventsBatch.dailyByType", "e1_events_daily"),
      entry("export.Flatten.kvKeys", "k1_kv_keys"),
      entry("text.TextAnalysis.qualityScore", "t2_quality_score"),
      entry("dedup.Dedup.simhashPairs", "d8_simhash_pairs"),
      entry("multimodal.Multimodal.multimodalFeatures", "m2_multimodal"),
      entry("vector.Similarity.filteredTopK", "v16_filtered_ann"),
      Op("analytics.Kpis.calendarRollup", "calendar_rollup:week",
        s => Kpis.calendarRollup(s, data, "week"), Some(Kpis.calendarRollupSql("week"))),
      Op("analytics.Trends.trendHalves", s"trend_halves:${windows(0)._1}",
        s => Trends.trendHalves(s, data, windows(0)._1, windows(0)._2),
        Some(Trends.trendHalvesSql(windows(0)._1, windows(0)._2))),
      Op("analytics.Kpis.resolveDate", s"resolve_date:${windows(1)._1}",
        s => Kpis.resolveDate(s, data, windows(1)._1), Some(Kpis.resolveDateSql(windows(1)._1))),
      Op("analytics.History.storeHistoryFiltered", s"store_history:$store",
        s => History.storeHistoryFiltered(s, data, Some(store)),
        Some(History.storeHistoryFilteredSql(Some(store))))
    ) ++ windows.map { case (from, to) =>
      Op("analytics.Kpis.kpis", s"kpis:$from", s => Kpis.kpis(s, data, from, to),
        Some(Kpis.kpisSql(from, to)))
    }
  }

  def run(spark: SparkSession, o: Opts, tr: Tracer, out: Outcome): Unit = {
    val rnd = new Random(o.seed)
    val stores = spark.read.parquet(s"${o.data}/supplier.parquet").count().toInt
    val ops = menu(rnd, o.data, stores)
    val expected = new ConcurrentHashMap[String, (Long, Long)]()
    val firstRows = new ConcurrentHashMap[String, (Array[Row], StructType)]()

    def exec(op: Op): Unit = {
      out.attempted.incrementAndGet()
      try {
        val (rows, schema) = tr.call(op.name)(op.fn(spark))(df => (df.collect(), df.schema))
        val d = digest(rows)
        val prev = expected.putIfAbsent(op.key, d)
        if (prev == null) firstRows.put(op.key, (rows, schema))
        else if (prev != d) out.fail(s"${op.key}: result $d differs from the first call's $prev")
      } catch {
        case e: Exception => out.fail(s"${op.key}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

    // set-up: one call of every operation in turn, so each silver and plan
    // shape exists before the clients start
    tr.span("bi.setup") {
      ops.foreach { op =>
        val s0 = System.nanoTime()
        exec(op)
        note(s"set-up ${op.key}", s0)
      }
    }

    val clients = math.min(4, o.cpus)
    val samples = new ConcurrentLinkedQueue[(String, Double)]()
    val busyNs = new java.util.concurrent.atomic.AtomicLongArray(clients)
    // Every client walks the whole menu once per pass, and all clients
    // start each pass together. Pass 0 belongs to set-up: the first
    // concurrent pass still pays JIT warm-up. Timed passes follow, at
    // least two and more while the run's time is not up, so every run
    // measures the same mix whatever the seed's order.
    @volatile var pass = 0
    @volatile var t0 = 0L
    val barrier = new java.util.concurrent.CyclicBarrier(clients, () => {
      pass += 1
      if (pass == 1) {
        out.startTiming()
        t0 = System.nanoTime()
      } else if (pass > 2 && System.nanoTime() - t0 >= o.seconds * 1e9) pass = -1
    })
    val threads = (0 until clients).map { c =>
      val order = new Random(o.seed * 31 + c).shuffle(ops)
      new Thread(() => {
        while (pass >= 0) {
          val timed = pass > 0
          order.foreach { op =>
            tr.newTrace()
            val s = System.nanoTime()
            tr.span("bi.request")(exec(op))
            val ns = System.nanoTime() - s
            if (timed) {
              busyNs.addAndGet(c, ns)
              samples.add(op.key -> ns / 1e6)
            }
          }
          barrier.await()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.windowNs = (t0, System.nanoTime())
    val elapsed = (out.windowNs._2 - t0) / 1e9
    val lat = samples.asScala.map(_._2).toSeq
    val p95 = quantile(lat, 0.95)
    // each client's own rate while it had a query out, summed: the
    // throughput of four clients, without the idle tail of the last pass
    out.metrics("bi.qps") = (0 until clients).map { c =>
      samples.size.toDouble / clients / (busyNs.get(c) / 1e9)
    }.sum
    out.metrics("bi.latency_p50_ms") = median(lat)
    out.metrics("bi.latency_p95_ms") = p95
    out.report += f"bi_dashboard: ${lat.size} queries from $clients clients in $elapsed%.2f s " +
      f"(${lat.count(_ > p95)} samples beyond p95)"
    samples.asScala.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      out.report += f"  $k%-36s n=${xs.size}%3d p50=${median(xs.map(_._2).toSeq)}%8.1f ms"
    }

    // checks, after timing: the first result of every operation with an
    // oracle query goes to the DuckDB comparison
    ops.foreach { op =>
      for (sql <- op.sql; (rows, schema) <- Option(firstRows.get(op.key))) {
        val path = s"${o.work}/results/${op.key.replaceAll("[^A-Za-z0-9_.-]", "_")}"
        saveRows(spark, rows, schema, path)
        out.oracle += ((op.key, sql, path))
      }
    }
  }
}

/** `nightly_close`: the upload month arrives in daily waves, one file per
  * store, each wave through the streaming ingest (validate, lake write,
  * summary upsert, completeness ledger); then a fresh session, with every
  * memo missing, rebuilds the gold tables and writes the BI exports. */
object NightlyClose {
  import Main._

  def run(spark: SparkSession, o: Opts, tr: Tracer, out: Outcome): Unit = {
    val plan = Json.parseUploads(o.uploads)
    val root = s"${o.work}/close"
    val inbox = s"$root/inbox"
    new File(inbox).mkdirs()
    val (lake, summary, ledger, ckpt, gold) =
      (s"$root/lake", s"$root/summary", s"$root/ledger", s"$root/checkpoint", s"$root/gold")
    def wave(day: String, waveDir: String): Double = {
      out.attempted.incrementAndGet()
      tr.newTrace()
      val s = System.nanoTime()
      tr.span("close.wave") {
        // the day's files land in the watched directory
        new File(waveDir).listFiles().sortBy(_.getName).foreach(f =>
          Files.move(f.toPath, Paths.get(inbox, f.getName), StandardCopyOption.ATOMIC_MOVE))
        tr.span("streaming.StreamingIngest.runAvailableNow")(
          StreamingIngest.runAvailableNow(spark, inbox, lake, summary, ledger, ckpt,
            plan.stores.toLong))
      }
      note(s"wave $day", s)
      (System.nanoTime() - s) / 1e6
    }
    // set-up: the month's first day is already in the lake when the close
    // starts (its wave also starts the stream's checkpoint)
    tr.span("close.setup")(wave(plan.waves.head._1, plan.waves.head._2))
    val setupOps = out.attempted.get
    out.startTiming()
    val t0 = System.nanoTime()
    val waveMs = plan.waves.tail.map { case (day, dir) => wave(day, dir) }

    // the golds and BI exports, from a session with no memo
    val g = spark.newSession()
    val exportSchemas = mutable.Map[String, StructType]()
    val data = o.data
    tr.newTrace()
    tr.span("close.golds") {
      def write(name: String, sub: String)(df: => DataFrame): Unit = {
        out.attempted.incrementAndGet()
        val s0 = System.nanoTime()
        tr.call(name)(df)(_.write.mode("overwrite").parquet(s"$gold/$sub"))
        note(name, s0)
      }
      out.attempted.incrementAndGet()
      val s0 = System.nanoTime()
      tr.span("etl.Materialize.writeSummaries")(
        Materialize.writeSummaries(g, data, s"$gold/summaries"))
      note("etl.Materialize.writeSummaries", s0)
      write("analytics.History.anomalies", "anomalies")(History.anomalies(g, data))
      write("llm.Insight.insightsRoundTrip", "insights")(graft.llm.Insight.insightsRoundTrip(g, data))
      exports.foreach { case (name, key, fn) =>
        out.attempted.incrementAndGet()
        val s1 = System.nanoTime()
        val df = tr.call(name)(fn(g, data))(identity)
        exportSchemas(key) = df.schema
        tr.span("ingest.Ingest.exportNdjsonWithManifest")(
          Ingest.exportNdjsonWithManifest(df, s"$gold/export/$key"))
        note(name, s1)
      }
    }
    out.windowNs = (t0, System.nanoTime())
    val wall = (out.windowNs._2 - t0) / 1e9
    out.metrics("close.wall_s") = wall
    out.metrics("close.ops_per_s") = (out.attempted.get - setupOps) / wall
    out.metrics("close.wave_p50_ms") = median(waveMs.toSeq)
    out.layers("streaming.wave_ms") = median(waveMs.toSeq)
    val stored = Seq(lake, summary, ledger).map(dataBytes).sum.toDouble / plan.bytes
    out.layers("ingest.stored_bytes_per_input_byte") = stored
    out.report += f"nightly_close: ${waveMs.size} timed waves (first ${waveMs.head}%.0f ms, " +
      f"last ${waveMs.last}%.0f ms), close $wall%.2f s, $stored%.3f stored bytes per upload byte"

    // checks, after timing: valid and rejected rows equal the generator's
    // counts, every day's ledger row is complete, and the exports that have
    // an oracle query hold its rows
    def check(ok: Boolean, why: => String): Unit = {
      out.attempted.incrementAndGet()
      if (!ok) out.fail(why)
    }
    val lakeRows = spark.read.parquet(lake).count()
    check(lakeRows == plan.rowsValid,
      s"lake holds $lakeRows rows, the generator made ${plan.rowsValid} valid")
    val rejected = Ingest.rejects(Ingest.withErrors(Ingest.readUploads(spark, inbox))).count()
    check(rejected == plan.rowsBad,
      s"the validator rejects $rejected rows, the generator made ${plan.rowsBad} invalid")
    out.layers("ingest.reject_ratio") = rejected.toDouble / plan.rowsTotal
    val complete = spark.read.parquet(ledger).collect()
      .map(r => r.getAs[Any]("sale_date").toString -> r.getAs[Boolean]("complete")).toMap
    plan.waves.foreach { case (day, _) =>
      check(complete.getOrElse(day, false), s"ledger row for $day missing or incomplete")
    }
    exports.foreach { case (_, key, _) =>
      val dir = s"$gold/export/$key"
      check(new File(s"$dir/manifest.json").isFile, s"no manifest for the $key export")
      SparkEntry.oracleSql.get(key).foreach { sql =>
        val path = s"${o.work}/results/$key"
        spark.read.schema(exportSchemas(key)).json(s"$dir/part-*")
          .coalesce(1).write.mode("overwrite").parquet(path)
        out.oracle += ((key, sql, path))
      }
    }
  }

  /** The BI exports: span name, `SparkEntry` key, call. */
  private val exports: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("export.Flatten.exportStoreSummariesCsv", "x1_export_summaries", Flatten.exportStoreSummariesCsv),
    ("export.Flatten.exportAnomalies", "x6_export_anomalies", Flatten.exportAnomalies))
}
