package graft.core

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class JsonTextSpec extends AnyFunSuite {

  test("quote round-trips control characters, quotes and backslashes") {
    val msg = "line one\nline\ttwo \"quoted\" C:\\tmp \u0001 end"
    val line = "{" + JsonText.quote("err") + ":" + JsonText.quote(msg) + "}"
    assert(!line.exists(_ < ' '), s"raw control character in $line")
    assert(JsonMethods.parse(line) == JObject("err" -> JString(msg)))
  }
}
