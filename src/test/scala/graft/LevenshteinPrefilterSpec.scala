package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** [[graft.plans.LevenshteinPrefilter]]'s contract: the injected
  * length-difference conjunct is semantically implied, so results are
  * IDENTICAL with the rule on (an extensions session) and off (the
  * stock session), while the optimized plan shows
  * the O(1) probe conjoined ahead of the edit-distance DP. */
class LevenshteinPrefilterSpec extends GraftSpec {

  private lazy val extSpark: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  // word soup with many equal-length and length-distant pairs
  private def words(s: SparkSession) = {
    import s.implicits._
    val vocab = Seq("ring", "rings", "red ring", "red rings", "blue bolt",
      "blue belt", "navy bolt", "a", "abcdefghij", "abcdefghijk",
      "widget", "midget", "gadget", "gasket", "casket")
    vocab.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
  }

  test("prefilter is value-neutral: identical pairs with rule on and off") {
    // "off" is the stock session, which installs no extensions
    def pairs(s: SparkSession) = {
      val df = words(s)
      val a = df.select(col("id").as("ia"), col("w").as("wa"))
      val b = df.select(col("id").as("ib"), col("w").as("wb"))
      a.crossJoin(b).filter(col("ia") < col("ib"))
        .withColumn("d", levenshtein(col("wa"), col("wb")).cast("long"))
        .filter(col("d") <= 2L)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(identity).toSeq
    }
    val withRule = pairs(extSpark)
    val without = pairs(spark)
    assert(withRule.nonEmpty && withRule === without)
  }

  test("the optimized plan carries the implied length bound ahead of the DP") {
    val df = words(extSpark)
    val a = df.select(col("id").as("ia"), col("w").as("wa"))
    val b = df.select(col("id").as("ib"), col("w").as("wb"))
    val q = a.crossJoin(b)
      .filter(levenshtein(col("wa"), col("wb")) <= 2)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("levenshtein"), s"lost the predicate:\n$opt")
    assert(opt.contains("abs((length(wa") ||
      opt.contains("abs((length('wa") || opt.contains("abs((length("),
      s"missing the implied length prefilter:\n$opt")
    // idempotence under the fixed-point optimizer: exactly ONE probe
    assert("abs\\(\\(length\\(".r.findAllIn(opt).size === 1,
      s"prefilter injected more than once:\n$opt")
  }

  test("int, bigint-cast, and reversed comparison forms all rewrite") {
    val df = words(extSpark)
    val a = df.select(col("id").as("ia"), col("w").as("wa"))
    val b = df.select(col("id").as("ib"), col("w").as("wb"))
    val base = a.crossJoin(b)
    val forms = Seq(
      base.filter(levenshtein(col("wa"), col("wb")) < 3),
      base.filter(levenshtein(col("wa"), col("wb")).cast("long") <= 2L),
      base.filter(lit(2) >= levenshtein(col("wa"), col("wb"))))
    forms.foreach { q =>
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("abs((length("),
        s"form did not rewrite:\n$opt")
    }
  }

  test("nondeterministic operands are left alone") {
    import extSpark.implicits._
    val df = Seq(("x", "y")).toDF("wa", "wb")
    // the nondeterministic expression must sit INSIDE the predicate —
    // behind a Project it becomes a materialized attribute, which is a
    // deterministic reference the rewrite may safely duplicate
    val qNondet = df.filter(
      levenshtein(concat(col("wa"),
        (rand() * 10).cast("int").cast("string")), col("wb")) <= 2)
    val opt = qNondet.queryExecution.optimizedPlan.toString
    assert(!opt.contains("abs((length("),
      s"must not duplicate a nondeterministic operand:\n$opt")
  }
}
