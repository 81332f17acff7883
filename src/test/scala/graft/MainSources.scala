package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every `.scala` file under `src/main/scala` as (path relative to it,
  * text), sorted by path — the input of the source-lint specs. */
object MainSources {

  val root = Paths.get("src/main/scala")

  lazy val files: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p))
      .toList.sortBy(_._1)
    finally walk.close()
  }

  def lineOf(src: String, at: Int): Int = src.substring(0, at).count(_ == '\n') + 1
}
