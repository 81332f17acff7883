package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `src/main/scala`: [[graft.model.Silver.memoize]] is
  * the one place a silver is materialized and the one frame-valued memo.
  *
  *   1. A memoize body must return a PLAIN plan: a trailing `.cache()`,
  *      `.persist(...)` or `.localCheckpoint()` is a second
  *      materialization memoize then copies (or leaves in the
  *      CacheManager, which every action scans). Iterative bodies that
  *      return a loop variable already checkpointed per round are fine —
  *      memoize keeps such a leaf as-is.
  *   2. No `TrieMap`/`Map`/`SessionMemo` with `DataFrame`- or
  *      `Dataset`-typed values outside `graft/model/`: a DataFrame is
  *      bound to its session, and every side memo so far got that
  *      binding wrong or duplicated what memoize already does.
  */
class SilverLintSpec extends AnyFunSuite {

  private def sources = MainSources.files

  private def lineOf(src: String, at: Int): Int = MainSources.lineOf(src, at)

  /** Index of the bracket closing the one at `open` (any of `([{`);
    * string and char literals (with `${...}` splices) and comments are
    * skipped. */
  private def closing(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '"' if s.startsWith("\"\"\"", i) =>
          var j = i + 3
          while (!s.startsWith("\"\"\"", j))
            j = if (s.startsWith("${", j)) closing(s, j + 1) + 1 else j + 1
          i = j + 2
        case '"' =>
          var j = i + 1
          while (s.charAt(j) != '"')
            j = if (s.charAt(j) == '\\') j + 2
              else if (s.startsWith("${", j)) closing(s, j + 1) + 1 else j + 1
          i = j
        case '\'' if s.startsWith("\\", i + 1) => i = s.indexOf('\'', i + 3)
        case '\'' if i + 2 < s.length && s.charAt(i + 2) == '\'' => i += 2
        case '/' if s.startsWith("//", i) => i = s.indexOf('\n', i) - 1
        case '/' if s.startsWith("/*", i) => i = s.indexOf("*/", i + 2) + 1
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  private val MemoizeCall = "Silver\\.memoize\\s*\\(".r
  private val Materialize = "\\.(cache|persist|localCheckpoint)\\s*\\([^()]*\\)\\s*$".r

  /** (file:line, final expression) of every memoize body in `src`. */
  private def memoizeBodies(src: String): Seq[(Int, String)] =
    MemoizeCall.findAllMatchIn(src).map { m =>
      val args = closing(src, m.end - 1)
      val open = src.indexWhere(!_.isWhitespace, args + 1)
      assert(open > 0 && "({".contains(src.charAt(open)),
        s"memoize call without a body block at line ${lineOf(src, m.start)}")
      val body = src.substring(open + 1, closing(src, open))
      val code = body.split('\n').map(_.replaceAll("//.*$", "").trim).filter(_.nonEmpty)
      (lineOf(src, m.start), code.lastOption.getOrElse(""))
    }.toSeq

  test("no Silver.memoize body ends in .cache(), .persist() or .localCheckpoint()") {
    val bodies = for {
      (file, src) <- sources
      (line, last) <- memoizeBodies(src)
    } yield (s"$file:$line", last)
    assert(bodies.size > 50, s"lint found only ${bodies.size} memoize bodies")
    val bad = bodies.collect { case (at, last) if Materialize.findFirstIn(last).isDefined =>
      s"$at: $last" }
    assert(bad.isEmpty,
      "\nmemoize bodies that materialize their own result (memoize owns the " +
        "checkpoint — return the plain plan):\n" + bad.mkString("\n"))
  }

  private val MapDecl = "\\b(TrieMap|Map|SessionMemo)\\s*\\[".r

  /** Top-level comma-separated type arguments of the `[` at `open`. */
  private def typeArgs(src: String, open: Int): Seq[String] = {
    val inner = src.substring(open + 1, closing(src, open))
    val parts = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    inner.indices.foreach { i =>
      inner.charAt(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => parts += inner.substring(from, i).trim; from = i + 1
        case _ =>
      }
    }
    (parts += inner.substring(from).trim).result()
  }

  private val FrameType = "^(org\\.apache\\.spark\\.sql\\.)?(DataFrame|Dataset)\\b".r

  test("no frame-valued memo map is declared outside graft/model/") {
    val hits = for {
      (file, src) <- sources if !file.startsWith("graft/model/")
      m <- MapDecl.findAllMatchIn(src)
      args = typeArgs(src, m.end - 1)
      if args.size == 2 && FrameType.findFirstIn(args(1)).isDefined
    } yield s"$file:${lineOf(src, m.start)}: ${m.group(1)}[${args.mkString(", ")}]"
    assert(hits.isEmpty,
      "\nframe-valued memo maps outside graft/model/ (use Silver.memoize, " +
        "which keys by session):\n" + hits.mkString("\n"))
  }
}
