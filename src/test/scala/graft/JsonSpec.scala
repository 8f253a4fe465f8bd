package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("escaped strings round-trip through a real JSON parser") {
    val mapper = new ObjectMapper()
    Seq("plain", "say \"hi\"", "back\\slash", "two\nlines", "tab\there",
      "bell\u0001", "\r\u001f", "naïve 数据 ✓", "").foreach { s =>
      assert(mapper.readValue(Json.str(s), classOf[String]) == s)
      val obj = mapper.readTree(s"""{${Json.str(s)}:${Json.str(s)}}""")
      assert(obj.get(s).asText == s)
    }
    assert(!Json.esc("a\nb\u0001").exists(_ < ' '), "no raw control characters")
  }
}
