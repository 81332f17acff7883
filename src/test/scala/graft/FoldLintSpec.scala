package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `src/main/scala`, in [[SilverLintSpec]]'s style:
  *
  *   1. The mergeable-partial primitives (bitmap page build and OR-merge,
  *      Misra-Gries sketch build and merge) appear only in
  *      [[graft.etl.Fold]], which owns the incremental-fold algebra, and
  *      in `graft/functions/`, which defines the sketch expressions. A
  *      second copy elsewhere is a second definition of a monoid.
  *   2. No `spark.graft.*` configuration key appears: the engine has no
  *      settable options of its own, so a key that appears is a new knob.
  *   3. No hand-written bitmap under `graft/streaming/`: a streaming
  *      distinct count folds [[graft.etl.Fold]]'s pages, so no bit count
  *      or 32 768-key bucket split is written there a second time.
  */
class FoldLintSpec extends AnyFunSuite {

  private val FoldModule = "graft/etl/Fold.scala"
  private val Primitive =
    "bitmap_construct_agg|bitmap_or_agg|topKSketch\\(|topKMergeSketch\\(".r

  test("mergeable-partial primitives appear only in the fold module and " +
      "graft/functions/") {
    val hits = for {
      (file, src) <- MainSources.files
      if file != FoldModule && !file.startsWith("graft/functions/")
      m <- Primitive.findAllMatchIn(src)
    } yield s"$file:${MainSources.lineOf(src, m.start)}: ${m.matched}"
    assert(hits.isEmpty,
      "\nmergeable-partial primitives outside the fold module (call " +
        "graft.etl.Fold instead):\n" + hits.mkString("\n"))
    assert(MainSources.files.exists(_._1 == FoldModule),
      s"no $FoldModule under ${MainSources.root}")
  }

  test("no spark.graft.* configuration key is read under src/main") {
    val hits = for {
      (file, src) <- MainSources.files
      m <- "spark\\.graft\\.[A-Za-z0-9_.]*".r.findAllMatchIn(src)
    } yield s"$file:${MainSources.lineOf(src, m.start)}: ${m.matched}"
    assert(hits.isEmpty, "\nspark.graft.* keys under src/main:\n" + hits.mkString("\n"))
  }

  test("no hand-written bitmap bit count or bucket split under graft/streaming/") {
    val hits = for {
      (file, src) <- MainSources.files if file.startsWith("graft/streaming/")
      m <- "bitCount\\(|\\b32768\\b|BucketBits".r.findAllMatchIn(src)
    } yield s"$file:${MainSources.lineOf(src, m.start)}: ${m.matched}"
    assert(hits.isEmpty,
      "\nhand-written bitmap code under graft/streaming/ (fold " +
        "graft.etl.Fold's pages instead):\n" + hits.mkString("\n"))
    assert(MainSources.files.exists(_._1.startsWith("graft/streaming/")))
  }
}
