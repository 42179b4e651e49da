package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The `.scala` files under a source directory, with their text: what the
  * source checks read to assert what `src/main` defines or names. */
object SourceTree {
  def sources(dir: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }
}
