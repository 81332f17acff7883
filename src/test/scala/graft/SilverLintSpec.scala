package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint over `src/main/scala`: [[graft.model.Silver.once]] is the
  * one session memo, [[graft.model.Silver.memoize]] the one place a silver
  * is materialized, and [[graft.model.Silver.iterate]] the one place a
  * loop's rounds are.
  *
  *   1. A memoize body must return a PLAIN plan: a trailing `.cache()`,
  *      `.persist(...)` or `.localCheckpoint()` is a second
  *      materialization memoize then copies (or leaves in the
  *      CacheManager, which every action scans). An iterative body
  *      returns a round of `Silver.iterate`, already a leaf, which
  *      memoize keeps as-is.
  *   2. No `TrieMap`/`Map` with `DataFrame`- or `Dataset`-typed values,
  *      and no `TrieMap`, `SessionMemo` or `getOrElseUpdate` memo at all,
  *      outside `graft/model/`: [[graft.model.Silver.once]] is the one
  *      session memo. A DataFrame is bound to its session, and every side
  *      memo so far got that binding wrong, skipped a parameter in its
  *      key, built twice under concurrent callers, or duplicated what
  *      the memo already does.
  *   3. Outside `graft/model/`, a reused intermediate is a silver, not a
  *      materialization of its own: a `.cache()`/`.persist()` is a scoped
  *      temporary, unpersisted in a `finally` of the same `def`, and a
  *      `.localCheckpoint()` appears only in an allowlisted `def`, each
  *      with the reason a silver cannot stand in for it: a per-call
  *      snapshot. A loop's rounds go through `Silver.iterate`.
  *   4. A `Silver.memoize` or `Silver.once` name interpolates every
  *      parameter of its def other than `spark` and `dir` (a by-name
  *      parameter is the build itself), so two calls that differ in a
  *      parameter never share a value; an allowlisted def says why its
  *      name may leave one out.
  *   5. `SinglePartition` and `LogicalRDD(` appear in code only in
  *      `ColumnBridge`, so one function (`withMeasuredStats`) decides
  *      what a leaf states about its layout.
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

  /** Top-level comma-separated arguments of the `[` or `(` at `open`. */
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

  private val SideMemo = "\\b(TrieMap|SessionMemo|getOrElseUpdate)\\b".r

  test("no TrieMap, SessionMemo or getOrElseUpdate memo outside graft/model/") {
    val hits = for {
      (file, src) <- sources if !file.startsWith("graft/model/")
      m <- SideMemo.findAllMatchIn(src)
      before = src.substring(src.lastIndexOf('\n', m.start - 1) + 1, m.start)
      if !before.trim.startsWith("*") && !before.contains("//")
    } yield s"$file:${lineOf(src, m.start)}: ${m.group(1)}"
    assert(hits.isEmpty,
      "\nsession memos outside graft/model/ (a build-once value is a " +
        "Silver.once, keyed by session and every parameter):\n" + hits.mkString("\n"))
  }

  /** (name, first line, last line) of every `def` in `src`, by layout: a
    * def runs until the next non-blank line indented no deeper than its
    * own, other than a `:`/`=`/`)` continuation of its signature. */
  private val DefLine =
    ("^(\\s*)(?:(?:private|protected)(?:\\[\\w+\\])?\\s+|override\\s+|final\\s+|" +
      "implicit\\s+)*def\\s+(\\w+)").r

  private def defs(src: String): Seq[(String, Int, Int)] = {
    val lines = src.split("\n", -1)
    def indent(l: String) = l.indexWhere(!_.isWhitespace)
    def inside(l: String, ind: Int) =
      l.trim.isEmpty || indent(l) > ind || ":=)".contains(l.trim.head)
    lines.indices.flatMap { i =>
      DefLine.findPrefixMatchOf(lines(i)).map { m =>
        val end = lines.indexWhere(l => !inside(l, m.group(1).length), i + 1)
        (m.group(2), i + 1, if (end < 0) lines.length else end)
      }
    }
  }

  /** (line, innermost enclosing def, matched method) of every code
    * (non-comment) call of `method` in `src`. */
  private def sites(src: String, method: String): Seq[(Int, Option[(String, Int, Int)], String)] = {
    val ds = defs(src)
    s"\\.($method)\\(".r.findAllMatchIn(src).flatMap { m =>
      val line = lineOf(src, m.start)
      val before = src.substring(src.lastIndexOf('\n', m.start - 1) + 1, m.start)
      if (before.trim.startsWith("*") || before.contains("//")) None
      else Some((line, ds.filter(d => d._2 <= line && line <= d._3).maxByOption(_._2),
        m.group(1)))
    }.toSeq
  }

  test("a cache or persist outside graft/model/ is unpersisted in a finally " +
      "of its own def") {
    val hits = for {
      (file, src) <- sources if !file.startsWith("graft/model/")
      lines = src.split("\n", -1)
      (line, d, method) <- sites(src, "cache|persist")
    } yield {
      val (from, to) = d.fold((line, line))(x => (x._2, x._3))
      val upTo = lines.slice(from - 1, line).mkString("\n")
      val name = "\\b(\\w+)\\s*=\\s".r.findAllMatchIn(upTo).map(_.group(1)).toSeq.lastOption
      val rest = lines.slice(line - 1, to).mkString("\n")
      val scoped = name.exists(n =>
        s"(?s)finally\\s*(\\{[^}]*)?\\b$n\\.unpersist\\(".r.findFirstIn(rest).isDefined)
      (s"$file:$line: .$method() of ${name.getOrElse("?")} in def ${d.fold("?")(_._1)}", scoped)
    }
    assert(hits.size >= 4, s"lint found only ${hits.size} cache/persist sites")
    val bad = hits.collect { case (at, false) => at }
    assert(bad.isEmpty,
      "\ncaches outside graft/model/ with no finally-unpersist in their def " +
        "(make the relation a Silver.memoize silver, or scope it):\n" + bad.mkString("\n"))
  }

  /** (file, def) -> why the def checkpoints a relation itself. */
  private val checkpointers: Map[(String, String), String] = {
    val snapshot = "per-call snapshot: pinned before this call's appends or sized by its query"
    Map(
      ("graft/streaming/StreamingIndexMaintenance.scala", "maintainBatch") -> snapshot,
      ("graft/streaming/StreamingIndexMaintenance.scala", "buildSnapshotCells") -> snapshot,
      ("graft/streaming/StreamingIndexMaintenance.scala", "foldVectorBatch") -> snapshot,
      ("graft/vector/IndexStore.scala", "queryIvfPq") -> snapshot)
  }

  test("a localCheckpoint outside graft/model/ appears only in an " +
      "allowlisted def") {
    val hits = for {
      (file, src) <- sources if !file.startsWith("graft/model/")
      (line, d, _) <- sites(src, "localCheckpoint")
    } yield (file, d.map(_._1).getOrElse("?"), line)
    val bad = hits.filterNot { case (f, d, _) => checkpointers.contains((f, d)) }
      .map { case (f, d, l) => s"$f:$l in def $d" }
    assert(bad.isEmpty,
      "\nlocalCheckpoint outside the allowlist (a reused intermediate is a " +
        "Silver.memoize silver keyed by its parameters; a loop's rounds go " +
        "through Silver.iterate):\n" + bad.mkString("\n"))
    val stale = checkpointers.keySet -- hits.map(h => (h._1, h._2)).toSet
    assert(stale.isEmpty, s"allowlisted defs that no longer checkpoint: $stale")
  }

  private val MemoCall = "Silver\\.(memoize|once)\\s*\\(".r
  private val DefAt = "\\bdef\\s+(\\w+)".r

  /** The parameters of the def declared on `line` of `src` (1-based), in
    * every parameter list, as (name, by-name?). */
  private def params(src: String, line: Int): Seq[(String, Boolean)] = {
    val from = src.split("\n", -1).take(line - 1).map(_.length + 1).sum
    var open = from + DefAt.findFirstMatchIn(src.substring(from)).get.end
    val out = Seq.newBuilder[(String, Boolean)]
    while (src.charAt(open) == '(' || src.charAt(open) == '[') {
      if (src.charAt(open) == '(')
        typeArgs(src, open).filter(_.nonEmpty).foreach { p =>
          val Array(name, tpe) = p.stripPrefix("implicit ").split(":", 2).map(_.trim)
          out += ((name, tpe.startsWith("=>")))
        }
      open = src.indexWhere(!_.isWhitespace, closing(src, open) + 1)
    }
    out.result()
  }

  private val Splice = "\\$\\{[^}]*\\}|\\$\\w+".r

  /** `body` as code: comments dropped, and each string literal reduced
    * to its `$` splices. */
  private def code(body: String): String = {
    def splices(lit: String) = Splice.findAllIn(lit).mkString(" ", " ", " ")
    val noTriple = "(?s)\"\"\"(.*?)\"\"\"".r.replaceAllIn(body,
      m => java.util.regex.Matcher.quoteReplacement(splices(m.group(1))))
    "\"((?:[^\"\\\\\n]|\\\\.)*)\"".r.replaceAllIn(
      noTriple.replaceAll("(?m)//.*$", "").replaceAll("(?s)/\\*.*?\\*/", ""),
      m => java.util.regex.Matcher.quoteReplacement(splices(m.group(1))))
  }

  /** (file, def) -> why its memo name leaves out a parameter. */
  private val unnamedParams: Map[(String, String), String] = Map(
    ("graft/analytics/Graph.scala", "oriented") ->
      "the edges function is named by its caller's tag: one tag per edge rule")

  test("a memoize or once name interpolates every parameter of its def " +
      "that its build reads, other than spark and dir") {
    val hits = for {
      (file, src) <- sources if file != "graft/model/Silver.scala"
      ds = defs(src)
      m <- MemoCall.findAllMatchIn(src).toSeq
      line = lineOf(src, m.start)
      d <- ds.filter(d => d._2 <= line && line <= d._3).maxByOption(_._2).toSeq
    } yield {
      val args = closing(src, m.end - 1)
      val open = src.indexWhere(!_.isWhitespace, args + 1)
      val body = code(src.substring(open + 1, closing(src, open)))
      val name = typeArgs(src, m.end - 1)(1)
      val named = Splice.findAllIn(name).flatMap("\\w+".r.findAllIn).toSet + name
      val missing = params(src, d._2).collect {
        case (p, false) if p != "spark" && p != "dir" && !named(p) &&
          s"\\b$p\\b".r.findFirstIn(body).isDefined => p
      }
      ((file, d._1), s"$file:$line: ${m.group(1)} $name in def ${d._1} omits " +
        missing.mkString(", "), missing.nonEmpty)
    }
    assert(hits.size > 100, s"lint found only ${hits.size} memo calls")
    val bad = hits.collect { case (fd, at, true) if !unnamedParams.contains(fd) => at }
    assert(bad.isEmpty,
      "\nmemo names that leave out a parameter their build reads (two calls " +
        "that differ in it would share one value):\n" + bad.mkString("\n"))
    val stale = unnamedParams.keySet -- hits.collect { case (fd, _, true) => fd }
    assert(stale.isEmpty, s"allowlisted defs whose names carry every parameter: $stale")
  }

  private val bridge = "graft/functions/ColumnBridge.scala"
  private val LayoutStatement = "\\bSinglePartition\\b|\\bLogicalRDD\\(".r

  test("SinglePartition and LogicalRDD( appear only in ColumnBridge") {
    val hits = for {
      (file, src) <- sources
      m <- LayoutStatement.findAllMatchIn(code(src)).toSeq
    } yield (file, m.matched)
    assert(hits.collect { case (`bridge`, m) => m }.toSet ===
      Set("SinglePartition", "LogicalRDD("),
      "ColumnBridge.withMeasuredStats states a leaf's layout")
    val bad = hits.filter(_._1 != bridge).map { case (f, m) => s"$f: $m" }
    assert(bad.isEmpty,
      "\nleaf layout stated outside ColumnBridge (a silver's partitioning is " +
        "decided by withMeasuredStats):\n" + bad.mkString("\n"))
  }
}
