package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceTree.sources

/** One implementation per operator in `src/main`: the interpreted and
  * recompute twins the specs compare against live in [[SpecTwins]] (test
  * sources), and no main source defines one of them. */
class SpecTwinsSpec extends AnyFunSuite {

  private val moved = Seq(
    "randomProjectionLambda", "dotLambda", "signBitsLambda",
    "gramPairsLambda", "mmrSelectRecompute", "languageIdLambda",
    "repetitionFeaturesLambda", "taggedWordGramsLambda",
    "taggedCharGramsLambda", "bleuViaGramJoin", "chrfViaGramJoin",
    "keepSplitPartsLambda", "wordNgramsLambda", "shingleHashesLambda",
    "simhash32Lambda", "zorderValueLambda", "canonicalizeLambda",
    "polyHashLambda", "langScoreLambda")

  private def defines(text: String, name: String): Boolean =
    s"\\bdef $name\\b".r.findFirstIn(text).isDefined

  test("src/main defines no spec twin; SpecTwins defines every one") {
    val inMain = for {
      (p, text) <- sources("src/main/scala")
      n <- moved if defines(text, n)
    } yield s"${p.getFileName}: $n"
    assert(inMain.isEmpty, inMain.mkString("; "))
    val twins = new String(Files.readAllBytes(
      Paths.get("src/test/scala/graft/SpecTwins.scala")), "UTF-8")
    assert(moved.filterNot(defines(twins, _)).isEmpty)
  }
}
