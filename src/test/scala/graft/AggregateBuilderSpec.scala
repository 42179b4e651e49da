package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceTree.sources

/** One aggregate builder: `Browser.aggregate` picks its own response plan,
  * so the server carries no copy of the one-pass eligibility rule, and
  * `aggregateFused` is a forwarder nothing in `src/main` calls. */
class AggregateBuilderSpec extends AnyFunSuite {

  private def occurrences(text: String, word: String): Int =
    word.r.findAllMatchIn(text).size

  test("the server names none of the browser's plan-choice inputs") {
    val names = Seq("aggregateFused", "WindowCalcs", "mixesDistinctAndSketch")
    val hits = for {
      (p, text) <- sources("src/main/scala/graft/server")
      n <- names if text.contains(n)
    } yield s"$p: $n"
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("src/main names aggregateFused only in its own definition") {
    val uses = sources("src/main/scala").map { case (p, text) =>
      p.getFileName.toString ->
        (occurrences(text, "aggregateFused") - occurrences(text, "def aggregateFused\\("))
    }.filter(_._2 != 0)
    assert(uses.isEmpty, uses.mkString("; "))
    val defs = sources("src/main/scala").collect {
      case (p, text) if text.contains("def aggregateFused(") => p.getFileName.toString
    }
    assert(defs == Seq("Browser.scala"))
  }
}
