package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Median of the timed iterations — the honest per-key statistic on a
    * shared host (min hides steady-state cost, mean is noise-dominated;
    * BENCH_r05→r07 swung 1.7× on environment alone). Even sizes take
    * the lower middle (conservative: never above the true median). */
  private def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    s((s.size - 1) / 2)
  }

  private def jstr(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  private def r3(d: Double) = math.round(d * 1000) / 1000.0

  /** How many of the heaviest measured keys the sf1.0 section re-times.
    * Selection is DYNAMIC — the top-N by this run's sf0.1 median — not a
    * hard-coded list: r8's sk3 flag (36x) was invisible at sf0.1 and only
    * surfaced because sk3 happened to be in a static top-10; mid-cost
    * keys hid below it. 40 keys covers everything above ~1 s at sf0.1. */
  private val Sf1TopN = 40

  /** Slope-numerator adjudication (the r12 k13 false-flag fix: a 35.2 s
    * transient median flagged slope 45.8 while the SAME artifact's
    * steady-state stanza had restamped the key to 1.67 s). The slope
    * section must use the best steady evidence available for the large-SF
    * time: the committed-prior restamp if one ran, else a confirmation
    * re-run taken only when the raw median would flag (the sf1.0
    * section's keep-min rule). Pure so BenchSpec can pin the rule. */
  private[graft] def adjudicatedBig(median: Double, steady: Option[Double],
                                    confirm: Option[Double]): Double =
    (Seq(median) ++ steady.filter(_ > 0) ++ confirm.filter(_ > 0)).min

  private[graft] def slopeFlagged(bigEff: Double, smallT: Double,
                                  ratio: Double): Boolean =
    bigEff >= 0.25 && smallT > 0 && bigEff / smallT > 2 * ratio

  /** sf1.0-section flag rule: 2.5 s noise floor, slope > 2 x the 10x data
    * ratio vs the key's sf0.1 median. */
  private[graft] def sf1Flagged(t: Double, sf01: Double): Boolean =
    t >= 2.5 && sf01 > 0 && t > 20.0 * sf01

  /** Two-stage sf1.0 adjudication (the r13 j25 case: a 29.6 s reading
    * SURVIVED the single keep-min confirm while the committed run on
    * identical code measured 2.24 s — two consecutive transients are
    * still transients on a shared FS cache). A key whose first run would
    * flag gets ONE confirmation run (keep-min: first-run codegen +
    * footer-read one-offs); a key that STILL flags gets a 3x
    * back-to-back steady profile and keeps min(confirm-min, steady
    * median). The thunks are by-name so the extra runs are paid only
    * when the cheaper evidence fails to clear the key — and both
    * readings are returned for the artifact, so every suppressed OR
    * surviving flag carries its own evidence. Pure modulo the thunks;
    * BenchSpec replays the j25 scenario against it. */
  private[graft] def adjudicateSf1(t1: Double, sf01: Double,
                                   confirm: => Option[Double],
                                   steady: => Seq[Double])
      : (Double, Option[Double], Option[Double]) = {
    var t = t1
    var confirmUsed: Option[Double] = None
    if (sf1Flagged(t, sf01)) {
      confirm.filter(_ >= 0).foreach { c =>
        confirmUsed = Some(c); t = math.min(t, c)
      }
    }
    var steadyUsed: Option[Double] = None
    if (sf1Flagged(t, sf01)) {
      val ts = steady.filter(_ >= 0)
      if (ts.nonEmpty) {
        val st = median(ts)
        steadyUsed = Some(st)
        t = math.min(t, st)
      }
    }
    (t, confirmUsed, steadyUsed)
  }

  /** Co-resident JVM audit (the k10 false-flag fix: r8's one-off 30×
    * slope was stray-JVM contention, diagnosed only by anecdote):
    * pids of java processes that are neither this JVM nor its
    * ancestors (the sbt launcher chain). Any hit means the timings
    * shared the machine with another JVM — stamped into the result
    * JSON so a slope flag from a dirty host is machine-readable
    * instead of a SURVEY note. */
  private def coResidentJvms(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    try {
      val excl = scala.collection.mutable.Set[Long]()
      var h = java.util.Optional.of(ProcessHandle.current())
      while (h.isPresent) { excl += h.get.pid(); h = h.get.parent() }
      ProcessHandle.allProcesses().iterator().asScala
        .filter(p => !excl.contains(p.pid()))
        .filter(p => p.info().command()
          .map[Boolean](c => c.endsWith("/java") || c.endsWith("\\java.exe")
            || c == "java")
          .orElse(false))
        .map(_.pid()).toSeq
    } catch { case _: Throwable => Seq.empty } // audit must never kill bench
  }

  private def warm(spark: SparkSession, dir: String): Unit = {
    graft.etl.StoreDaily.rollupDec(spark, dir).count()
    graft.etl.StoreDaily.paymentDec(spark, dir).count()
    graft.etl.StoreDaily.topProductsDec(spark, dir).count()
    graft.analytics.History.trendDirection(spark, dir).count()
    graft.analytics.History.anomalies(spark, dir).count()
    graft.text.Corpus.docsTok(spark, dir).count() // tokenize-once silver
    // materializes the corpusBase + corpusBuildKept shard-layout silvers
    graft.text.CorpusFilter.shardManifest(spark, dir).count()
    graft.dedup.Dedup.warm(spark, dir)
    // the decode-once image-fingerprint silver (media encode + PNG
    // inflate/unfilter): m8/m10 read it, and the sf1.0 slope section's
    // one-shot timings would otherwise charge the whole media-lake
    // build to whichever m-key runs first
    graft.multimodal.Multimodal.imageHashes(spark, dir).count()
    // the decode-once video frame-feature silver (Y4M walk): m7/m11
    graft.multimodal.Multimodal.frameFeats(spark, dir).count()
    // the content-addressed per-media feature silver: m2
    graft.multimodal.Multimodal.mediaFeatureLeaf(spark, dir).count()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the library's own extensions (native SQL functions + the GroupTopK
    // heap rewrite) run on the driver surfaces; bit-parity with stock
    // plans is GroupTopKSpec's contract and the oracle re-certifies it
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM/codegen warmup + shared-silver pre-materialization OUTSIDE the
    // measurement. The (store,day) rollup and payment silvers are read by
    // 15+ queries; in production they are materialized silver tables
    // (Materialize.writeSummaries), so their build cost is an ingest-time
    // cost, not a query cost — without this, whichever query happened to
    // trigger materialization ate the build (the r2 bench regressions on
    // a18/a12/a13/a2 were exactly this measurement skew). Silver.memoize
    // materializes each silver to a checkpointed plan leaf so no
    // per-query planning re-pays the lineage — the r7 suite-wide
    // per-query constant.
    try {
      SparkEntry.entry(spark).count()
      warm(spark, sfDir)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    // median over iterations (default 3): single-JVM local mode on a
    // shared host sees multi-second scheduling noise. Override with
    // SPARK_GRAFT_BENCH_ITERS=1 for one-shot.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val jvmsBefore = coResidentJvms()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // (key, median, cold): cold = the FIRST timed iteration, reported as
    // total_cold next to the median total so cross-round comparisons with
    // the pre-r8 cold-run rounds stay honest (median-of-3 hides the
    // plan/codegen constant those rounds paid on every key).
    val resultsFull = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to iters).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("\\s+", " ").take(160)
          None
        }
      }
      // a failed query benches as -1 (never a silent elapsed time) and is
      // excluded from the total; its error is emitted alongside
      if (times.isEmpty) (name, -1.0, -1.0)
      else (name, median(times), times.head)
    }
    val results = resultsFull.map { case (name, med, _) => name -> med }
    val total = r3(results.collect { case (_, v) if v >= 0 => v }.sum)
    val totalCold = r3(resultsFull.collect { case (_, v, c) if v >= 0 => c }.sum)
    val qs = results.map { case (k, v) => jstr(k) + ":" + r3(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    // Distinct metric names so a parse-every-line consumer can't
    // double-count totals: the full per-query map first (total_detail),
    // the scale-slope audits second, then the compact headline line
    // LAST — the driver keeps a bounded TAIL of stdout.
    // contention stamp: sampled before AND after the timed loop — a
    // JVM present at either probe could have shared the cores
    val coJvms = (jvmsBefore ++ coResidentJvms()).distinct.sorted
    val contended = coJvms.nonEmpty
    val coJson = coJvms.mkString("[", ",", "]")
    val detailLine = s"""{"metric":"total_detail","value":$total,"total_cold":$totalCold,"unit":"sec","sf":"$sfDir","iters":$iters,"contended":$contended,"co_jvm_pids":$coJson,"n_queries":${results.size},"n_failed":${errors.size},"errors":$errs,"queries":$qs}"""
    println(detailLine)
    val fullLines = scala.collection.mutable.ListBuffer[String](detailLine)

    // STEADY-STATE RESTAMP (the r11 k15 8.4-vs-1.5 s case): any key
    // whose median landed >2x its committed prior gets an immediate
    // steady-state re-profile — 3 back-to-back runs, median — stamped
    // as its own metric line, so cross-round regression triage is
    // machine-readable instead of an ADVICE footnote. The committed
    // bench_full.json on disk IS the prior (the driver starts each
    // round from the repo's last commit; this file is overwritten only
    // at the very end of the run). Keys under 0.5 s are below
    // local-mode scheduling noise and are never restamped.
    // steady-state restamps feed the slope section below as the large-SF
    // numerator (adjudicatedBig) — the committed prior both triggers the
    // restamp and certifies which keys have steady evidence this run
    var steadyMap = Map.empty[String, Double]
    if (sfDir.endsWith("sf0.1")) {
      val prior: Map[String, Double] = try {
        val src = scala.io.Source.fromFile("bench_full.json")
        try {
          val lines = src.getLines().toList
          def mapOf(line: String, field: String): Map[String, Double] =
            line.indexOf("\"" + field + "\":{") match {
              case -1 => Map.empty
              case i =>
                val seg = line.substring(i)
                  .dropWhile(_ != '{').takeWhile(_ != '}')
                "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(seg)
                  .map(m => m.group(1) -> m.group(2).toDouble).toMap
            }
          val medians = lines
            .find(_.contains("\"metric\":\"total_detail\""))
            .map(mapOf(_, "queries")).getOrElse(Map.empty)
          // steady-vs-steady prior (the r13 k15 case: the committed
          // MEDIAN was an r12 number while r13's own steady restamp had
          // already measured 3.25 s — comparing the new median against
          // the stale median re-flags a key the previous round already
          // adjudicated). A key restamped last round carries its steady
          // reading as THE prior, so cross-round triage compares like
          // with like.
          val steadies = lines
            .find(_.contains("\"metric\":\"steady_state\""))
            .map(mapOf(_, "steady")).getOrElse(Map.empty)
          medians ++ steadies.filter(_._2 > 0)
        } finally src.close()
      } catch { case _: Throwable => Map.empty[String, Double] }
      val suspects = results.collect {
        case (k, t) if t >= 0.5 && prior.getOrElse(k, -1.0) > 0 &&
          t > 2.0 * prior(k) => k
      }
      if (suspects.nonEmpty) {
        val steady = suspects.map { k =>
          val ts = (1 to 3).flatMap { _ =>
            val t0 = System.nanoTime()
            try {
              SparkEntry.queries(k)(spark, sfDir).count()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case _: Throwable => None }
          }
          k -> (if (ts.isEmpty) -1.0 else median(ts))
        }
        steadyMap = steady.filter(_._2 > 0).toMap
        val priorJson = suspects
          .map(k => jstr(k) + ":" + r3(prior(k))).mkString("{", ",", "}")
        val medianJson = suspects.map(k =>
          jstr(k) + ":" + r3(results.toMap.apply(k))).mkString("{", ",", "}")
        val steadyJson = steady
          .map { case (k, v) => jstr(k) + ":" + r3(v) }.mkString("{", ",", "}")
        val line = s"""{"metric":"steady_state","n_keys":${steady.size},"prior":$priorJson,"median":$medianJson,"steady":$steadyJson}"""
        println(line)
        fullLines += line
      }
    }

    // SCALE-SLOPE audit (downward): re-run every key ONCE at the
    // next-smaller SF and compare the time ratio against the data
    // ratio — a key whose slope exceeds 2 x ratio hides a superlinear
    // constant. Keys faster than 0.25 s at the large SF are below
    // local-mode scheduling noise and are reported but never flagged.
    // Disable with SPARK_GRAFT_SLOPE_DIR="".
    val slopeDir = sys.env.getOrElse("SPARK_GRAFT_SLOPE_DIR",
      if (sfDir.endsWith("sf0.1")) sfDir.stripSuffix("sf0.1") + "sf0.01" else "")
    if (slopeDir.nonEmpty && slopeDir != sfDir &&
        new java.io.File(slopeDir).isDirectory) {
      def sfOf(p: String): Double =
        new java.io.File(p).getName.stripPrefix("sf").toDoubleOption.getOrElse(Double.NaN)
      val ratio = sfOf(sfDir) / sfOf(slopeDir)
      if (ratio.isNaN || ratio.isInfinite || ratio <= 0) {
        // a non-sf-named dir would emit NaN (invalid JSON) and silently
        // disable flagging — refuse the section instead, loudly
        System.err.println(
          s"[bench] slope section skipped: cannot derive data ratio from " +
            s"'$sfDir' vs '$slopeDir' (need sf<number> basenames)")
      } else {
        try warm(spark, slopeDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] slope warmup failed: ${e.getMessage}")
        }
        val small = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          val t0 = System.nanoTime()
          try { fn(spark, slopeDir).count()
            name -> (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => name -> -1.0 }
        }.toMap
        // adjudicate the numerator BEFORE flagging (the r12 k13 false
        // positive): steady restamps override transient medians; a key
        // that would still flag and has no restamp gets one confirmation
        // re-run at sfDir and keeps the min (the sf1.0 keep-min rule).
        // Each confirm time is recorded in the artifact (the r13 ADVICE
        // auditability ask): a suppressed flag stays explainable because
        // the warm re-run that suppressed it is on the record.
        val confirmTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
        val bigEff = results.collect { case (k, tL) if tL >= 0 =>
          val preEff = adjudicatedBig(tL, steadyMap.get(k), None)
          val wouldFlag = slopeFlagged(preEff,
            small.getOrElse(k, -1.0), ratio)
          val confirm = if (wouldFlag && !steadyMap.contains(k)) {
            val t0 = System.nanoTime()
            try { SparkEntry.queries(k)(spark, sfDir).count()
              val t = (System.nanoTime() - t0) / 1e9
              confirmTimes(k) = t
              Some(t)
            } catch { case _: Throwable => None }
          } else None
          k -> adjudicatedBig(tL, steadyMap.get(k), confirm)
        }.toMap
        val slopes = results.collect {
          case (k, tL) if tL >= 0 && small.getOrElse(k, -1.0) > 0 =>
            k -> r3(bigEff(k) / small(k))
        }
        val flagged = slopes.filter { case (k, _) =>
          slopeFlagged(bigEff(k), small(k), ratio) }
        val adjudicatedKeys = results.collect {
          case (k, tL) if tL >= 0 && bigEff(k) < tL =>
            jstr(k) + ":" + r3(bigEff(k))
        }.mkString("{", ",", "}")
        val slopesJson = slopes.map { case (k, v) => jstr(k) + ":" + v }
          .mkString("{", ",", "}")
        val flaggedJson = flagged.map { case (k, v) => jstr(k) + ":" + v }
          .mkString("{", ",", "}")
        val confirmJson = confirmTimes
          .map { case (k, v) => jstr(k) + ":" + r3(v) }.mkString("{", ",", "}")
        val line = s"""{"metric":"scale_slope","sf_large":"$sfDir","sf_small":"$slopeDir","data_ratio":$ratio,"n_flagged":${flagged.size},"flagged":$flaggedJson,"adjudicated":$adjudicatedKeys,"confirm":$confirmJson,"slopes":$slopesJson}"""
        println(line)
        fullLines += line
      }
    }

    // SCALE-SLOPE audit (UPWARD, sf1.0): build a 10x replica of the
    // bench SF under target/ (ScaleData — once, ~170 MB) and re-time
    // the Sf1TopN heaviest keys OF THIS RUN there (top-N by sf0.1
    // median — a documented sampling rule, not a stale list). The
    // sf0.01→sf0.1 slope can hide constants that only bite at the
    // next decade; this section pays one decade more on exactly the
    // keys where it would show. Each key runs ONCE; would-flag keys
    // escalate through [[adjudicateSf1]]'s two-stage rule (keep-min
    // confirm, then a 3x steady profile — the first run pays per-plan
    // codegen + footer reads, a 2-4x one-off that would chronically
    // over-flag: sk3 measured 16.1 s cold vs 5.7 s steady; and r13's
    // j25 showed even two consecutive runs can both be transient).
    // Flag when time ratio > 2 x data ratio and the sf1.0 time clears
    // a 2.5 s noise floor ([[sf1Flagged]]). Disable with
    // SPARK_GRAFT_SF1=off.
    if (sys.env.getOrElse("SPARK_GRAFT_SF1", "on") != "off" &&
        sfDir.endsWith("sf0.1")) {
      try {
        val sf1Dir = ScaleData.ensure(spark, sfDir, "target/sf1.0", 10)
        warm(spark, sf1Dir)
        val big = results.toMap
        val heavy = results.collect { case (k, t) if t > 0 => (k, t) }
          .sortBy(-_._2).take(Sf1TopN).map(_._1)
        def timeOnce(name: String): Double = {
          val t0 = System.nanoTime()
          try { SparkEntry.queries(name)(spark, sf1Dir).count()
            (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[bench] sf1 $name failed: ${e.getMessage}")
            -1.0
          }
        }
        // [[adjudicateSf1]] carries the two-stage rule + its rationale
        val sf1Confirm = scala.collection.mutable.LinkedHashMap[String, Double]()
        val sf1Steady = scala.collection.mutable.LinkedHashMap[String, Double]()
        val sf1 = heavy.map { name =>
          val (t, c, st) = adjudicateSf1(
            timeOnce(name), big.getOrElse(name, -1.0),
            Some(timeOnce(name)), (1 to 3).map(_ => timeOnce(name)))
          c.foreach(sf1Confirm(name) = _)
          st.foreach(sf1Steady(name) = _)
          name -> t
        }
        val slopes = sf1.collect {
          case (k, t1) if t1 >= 0 && big.getOrElse(k, -1.0) > 0 =>
            k -> r3(t1 / big(k))
        }
        val sf1Map = sf1.toMap
        val flagged = slopes.filter { case (k, _) =>
          sf1Flagged(sf1Map(k), big(k)) }
        val timesJson = sf1.map { case (k, v) => jstr(k) + ":" + r3(v) }
          .mkString("{", ",", "}")
        val slopesJson = slopes.map { case (k, v) => jstr(k) + ":" + v }
          .mkString("{", ",", "}")
        val flaggedJson = flagged.map { case (k, v) => jstr(k) + ":" + v }
          .mkString("{", ",", "}")
        val sf1ConfirmJson = sf1Confirm
          .map { case (k, v) => jstr(k) + ":" + r3(v) }.mkString("{", ",", "}")
        val sf1SteadyJson = sf1Steady
          .map { case (k, v) => jstr(k) + ":" + r3(v) }.mkString("{", ",", "}")
        val line = s"""{"metric":"scale_slope_sf1","sf_large":"target/sf1.0","sf_small":"$sfDir","data_ratio":10.0,"selection":"top${Sf1TopN}_by_sf0.1_median","n_keys":${sf1.size},"n_flagged":${flagged.size},"flagged":$flaggedJson,"confirm":$sf1ConfirmJson,"steady":$sf1SteadyJson,"times":$timesJson,"slopes":$slopesJson}"""
        println(line)
        fullLines += line
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 section failed: ${e.getMessage}")
      }
    }

    // The headline line must stay SHORT: the driver keeps a bounded tail
    // of stdout, and a long errors blob here can push this line's opening
    // brace out of the window (BENCH_r06 became unparseable exactly this
    // way). Full error text lives on the total_detail line above; the
    // headline carries only the first 3 keys with 60-char messages.
    val errsBrief = errors.take(3)
      .map { case (k, v) => jstr(k) + ":" + jstr(v.take(60)) }
      .mkString("{", ",", "}")
    val headline = s"""{"metric":"total","value":$total,"total_cold":$totalCold,"unit":"sec","sf":"$sfDir","contended":$contended,"n_queries":${results.size},"n_failed":${errors.size},"errors":$errsBrief}"""
    println(headline)
    fullLines += headline
    // Repo-root artifact with EVERY line (BENCH_r07's driver tail kept
    // only the last ~73 per-key times; per-key round-over-round diffs
    // need the full map to live in the repo, committed each round).
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try fullLines.foreach(w.println) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_full.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
