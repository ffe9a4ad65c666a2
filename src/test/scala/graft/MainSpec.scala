package graft

import org.scalatest.funsuite.AnyFunSuite

/** The CLI's argument contract: known --key value pairs parse, unknown
  * keys fail naming the key instead of being silently ignored. */
class MainSpec extends AnyFunSuite {

  test("parseArgs accepts known keys") {
    val opts = Main.parseArgs(Array("--pages", "p", "--out", "o", "--zoom", "10"))
    assert(opts == Map("pages" -> "p", "out" -> "o", "zoom" -> "10"))
  }

  test("parseArgs rejects an unknown key, naming it") {
    for (bad <- Seq("zom", "cover")) {
      val e = intercept[IllegalArgumentException] {
        Main.parseArgs(Array("--pages", "p", "--out", "o", s"--$bad", "10"))
      }
      assert(e.getMessage.contains(s"--$bad"), e.getMessage)
    }
  }
}
