package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `graft/vector/` and `graft/streaming/`, in
  * [[FoldLintSpec]]'s style: each vector retrieval rule is written once,
  * as a shared helper in [[graft.vector.Similarity]] with its SQL twin,
  * and every key calls the helper instead of restating the rule.
  *
  *   1. Nearest cells: the quantizer order (cosine desc, then
  *      `centroid_id` asc) is [[graft.vector.Similarity.cellRanked]] /
  *      `cellRankSql`.
  *   2. Donor quantizer: "the first `nCentroids` vectors by vec_id" is
  *      [[graft.vector.Similarity.donorCents]] / `donorCentsSql`.
  *   3. recall@k: the per-query hit count is
  *      [[graft.vector.Similarity.recallAtK]] / `recallSql`.
  *   4. Cosine: `dot / sqrt(n2a * n2b)` is
  *      [[graft.vector.Similarity.cosine]] / `cosineSql`; no key divides
  *      by the square root of a norm product inline.
  *
  * A match is allowed only inside the body of one of the helpers named in
  * [[Helpers]] (in `graft/vector/Similarity.scala`).
  */
class VectorLintSpec extends AnyFunSuite {

  private val HelperFile = "graft/vector/Similarity.scala"

  private val Helpers = Set("cosine", "cosineSql", "donorCents", "donorCentsSql",
    "cellRanked", "cellRankSql", "recallAtK", "recallSql")

  private val Def = "\\bdef\\s+(\\w+)".r

  /** The name of the last `def` opened before `at` in `src`. */
  private def enclosingDef(src: String, at: Int): Option[String] =
    Def.findAllMatchIn(src.substring(0, at)).toSeq.lastOption.map(_.group(1))

  private def restatements(pattern: String): Seq[String] =
    for {
      (file, src) <- MainSources.files
      if file.startsWith("graft/vector/") || file.startsWith("graft/streaming/")
      m <- pattern.r.findAllMatchIn(src).toSeq
      if !(file == HelperFile && enclosingDef(src, m.start).exists(Helpers))
    } yield s"$file:${MainSources.lineOf(src, m.start)}: ${m.matched.replaceAll("\\s+", " ")}"

  private def check(rule: String, helper: String, pattern: String): Unit = {
    val hits = restatements(pattern)
    assert(hits.isEmpty,
      s"\n$rule restated outside $helper:\n" + hits.mkString("\n"))
    assert(MainSources.files.exists(_._1 == HelperFile), s"no $HelperFile")
  }

  test("the quantizer order is stated only by the nearest-cells helpers") {
    check("nearest-cells order", "Similarity.cellRanked / cellRankSql",
      """col\("(ccos|qcos)"\)\.desc,\s*col\("centroid_id"\)\.asc|""" +
        """ORDER BY ccos DESC,\s*centroid_id ASC""")
  }

  test("the donor quantizer is stated only by the donor helpers") {
    check("donor rule", "Similarity.donorCents / donorCentsSql",
      """limit\(nCentroids\)|LIMIT \$nCentroids\b""")
  }

  test("the recall@k hit count is stated only by the recall helpers") {
    check("recall count", "Similarity.recallAtK / recallSql",
      """coalesce\(col\("hit"\)|neighbor_id IS NOT NULL\s+THEN 1 ELSE 0 END""")
  }

  test("no inline cosine: a norm-product square root divides only in cosine") {
    check("inline cosine", "Similarity.cosine / cosineSql",
      """/\s*sqrt\(\s*[\w."(]*norm2""")
  }
}
