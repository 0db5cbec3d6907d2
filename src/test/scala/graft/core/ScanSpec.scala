package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Package-private scanning helpers of the kernel, checked against their
  * plain definitions.
  */
class ScanSpec extends AnyFunSuite {

  /** The definition: a case-insensitive match tried at every offset. */
  private def indexOfIgnoreCaseAtEveryOffset(s: String, needle: String, from: Int): Int =
    (math.max(0, from) to s.length - needle.length)
      .find(i => s.regionMatches(true, i, needle, 0, needle.length)).getOrElse(-1)

  test("indexOfIgnoreCase == a case-insensitive match tried at every offset") {
    val piece = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("<", "</", "</script", "</SCRIPT", "</ScRiPt>", "</scr", "</title", "<", "ſ", "K", "İ", ">"))
    val text = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
    val needle = Gen.oneOf("</script", "</title", "</style", "<link", "</a>")
    val params = SCTest.Parameters.default.withMinSuccessfulTests(2000)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val res = SCTest.check(params, Prop.forAll(text, needle, Gen.chooseNum(-2, 40)) { (s, nd, from) =>
      Html.indexOfIgnoreCase(s, nd, from) == indexOfIgnoreCaseAtEveryOffset(s, nd, from)
    })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    // a match that ends exactly at the end of the text
    assert(Html.indexOfIgnoreCase("x</SCRIPT", "</script", 0) == 1)
  }
}
