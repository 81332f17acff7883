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
  *   3. Outside `graft/model/`, a reused intermediate is a silver, not a
  *      materialization of its own: a `.cache()`/`.persist()` is a scoped
  *      temporary, unpersisted in a `finally` of the same `def`, and a
  *      `.localCheckpoint()` appears only in an allowlisted `def`, each
  *      with the reason a silver cannot stand in for it.
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
    assert(hits.size >= 5, s"lint found only ${hits.size} cache/persist sites")
    val bad = hits.collect { case (at, false) => at }
    assert(bad.isEmpty,
      "\ncaches outside graft/model/ with no finally-unpersist in their def " +
        "(make the relation a Silver.memoize silver, or scope it):\n" + bad.mkString("\n"))
  }

  /** (file, def) -> why the def checkpoints a relation itself. */
  private val checkpointers: Map[(String, String), String] = {
    val loop = "loop truncation: each round reads the previous round's leaf"
    val snapshot = "per-call snapshot: pinned before this call's appends or sized by its query"
    Map(
      ("graft/analytics/Graph.scala", "kCore") -> loop,
      ("graft/analytics/Graph.scala", "bfsHops") -> loop,
      ("graft/analytics/Graph.scala", "lpaCommunities") -> loop,
      ("graft/analytics/Graph.scala", "personalizedPagerank") -> loop,
      ("graft/analytics/Graph.scala", "weightedSssp") -> loop,
      ("graft/dedup/Dedup.scala", "dupClustersFrom") -> loop,
      ("graft/streaming/EventsBatch.scala", "absorptionProbability") -> loop,
      ("graft/streaming/EventsBatch.scala", "removalEffect") -> loop,
      ("graft/vector/Pca.scala", "leadingComponent") -> loop,
      ("graft/vector/Similarity.scala", "mmrDiversify") -> loop,
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
        "Silver.memoize silver keyed by its parameters):\n" + bad.mkString("\n"))
    val stale = checkpointers.keySet -- hits.map(h => (h._1, h._2)).toSet
    assert(stale.isEmpty, s"allowlisted defs that no longer checkpoint: $stale")
  }
}
