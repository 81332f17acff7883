package perfbench

import java.io.{File, PrintWriter}

import scala.io.Source

import org.apache.spark.sql.SparkSession

/** Minimal JSON output and the upload-plan reader. */
object Json {

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def writeFile(path: String, v: Any): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.print(render(v)) finally w.close()
  }

  /** One JSON object per span, written once when the run ends. */
  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val self = SpanMath.selfTimes(spans)
    val w = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = s.counters
      w.println(render(Map(
        "id" -> s.id, "parent" -> s.parent, "trace" -> s.traceId, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id),
        "construct_ns" -> s.constructNs, "phases_ms" -> s.phasesMs,
        "jobs" -> c.jobs, "construct_jobs" -> c.constructJobs, "tasks" -> c.tasks,
        "task_busy_ms" -> c.taskBusyMs, "sched_delay_ms" -> c.schedDelayMs)))
    } finally w.close()
  }

  final case class Uploads(stores: Int, rowsTotal: Long, rowsBad: Long, bytes: Long,
                           waves: Seq[(String, String)]) {
    def rowsValid: Long = rowsTotal - rowsBad
  }

  /** The plan `gen.py` writes: a header line `stores rows_total rows_bad
    * bytes`, then one `day<TAB>directory` line per wave. */
  def parseUploads(path: String): Uploads = {
    val src = Source.fromFile(path, "UTF-8")
    try {
      val lines = src.getLines().toList
      val Array(st, rt, rb, by) = lines.head.split("\t")
      Uploads(st.toInt, rt.toLong, rb.toLong, by.toLong,
        lines.tail.filter(_.nonEmpty).map { l =>
          val Array(d, dir) = l.split("\t"); d -> dir
        })
    } finally src.close()
  }
}

/** What a run ran on, so a noisy run can be told apart. */
object Stamp {

  def before(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark_version" -> spark.version,
    "jvm_load_before" -> load())

  def after(): Map[String, Any] = Map("jvm_load_after" -> load())

  private def load(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Block-manager storage held by cached and checkpointed RDDs, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
}

/** Per-layer numbers from the spans of a traced run. */
object Layers {

  val Modules = Seq("analytics", "etl", "ingest", "streaming", "export", "llm", "text",
    "dedup", "vector", "multimodal")

  def compute(tr: Tracer, out: Main.Outcome, cores: Int): Map[String, Double] = {
    val spans = tr.all
    val self = SpanMath.selfTimes(spans)
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    Modules.foreach { mod =>
      val ss = spans.filter(_.module == mod)
      def sum(f: Counters => Long) = ss.map(s => f(s.counters)).sum.toDouble
      val mb = 1048576.0
      m(s"$mod.self_ms") = ss.map(s => self(s.id)).sum / 1e6
      m(s"$mod.jobs") = sum(_.jobs)
      m(s"$mod.tasks") = sum(_.tasks)
      m(s"$mod.task_busy_ms") = sum(_.taskBusyMs)
      m(s"$mod.sched_delay_ms") = sum(_.schedDelayMs)
      m(s"$mod.shuffle_write_mb") = sum(_.shuffleWriteB) / mb
      m(s"$mod.spill_mb") = sum(_.spillB) / mb
      m(s"$mod.input_mb") = sum(_.inputB) / mb
      m(s"$mod.output_mb") = sum(_.outputB) / mb
      m(s"$mod.gc_ms") = sum(_.gcMs)
      m(s"$mod.failed_tasks") = sum(_.failedTasks)
    }
    // the memo: a call whose construct phase launched no job was a hit
    val calls = spans.filter(_.constructNs >= 0)
    val (hits, builds) = calls.partition(_.counters.constructJobs == 0)
    m("model.silver_build_ms") = builds.map(_.constructNs).sum / 1e6
    m("model.silver_hit_ms") =
      if (hits.isEmpty) 0.0 else hits.map(_.constructNs).sum / 1e6 / hits.size
    m("model.silver_hit_ratio") = if (calls.isEmpty) 0.0 else hits.size.toDouble / calls.size
    m("model.storage_mb") = out.metrics.getOrElse("storage_retained_mb", 0.0)
    // Catalyst phases of the returned plans, mean per call
    Seq("analysis", "optimization", "planning").foreach { ph =>
      val xs = calls.flatMap(_.phasesMs.get(ph))
      m(s"plans.${ph}_ms") = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    }
    // task busy time over the measured window's core time
    val (w0, w1) = out.windowNs
    val busy = spans.filter(s => s.startNs >= w0 && s.startNs < w1)
      .map(_.counters.taskBusyMs).sum.toDouble
    m("exec.core_util") = if (w1 > w0) busy / ((w1 - w0) / 1e6 * cores) else 0.0
    Seq("streaming.wave_ms", "ingest.reject_ratio", "ingest.stored_bytes_per_input_byte")
      .foreach(k => m(k) = out.layers.getOrElse(k, 0.0))
    m.toMap
  }
}
