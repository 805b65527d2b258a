package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The harness's one JSON escaper writes Verify's oracle_sql.json and
  * failed.json and the strings in Bench's JSON contract line. */
class HarnessSpec extends AnyFunSuite {

  test("jsonString escapes quote, backslash and control chars and " +
      "parses back to the same string") {
    val raw = "say \"hi\"\\path\tcol\r\nnext\u0001end"
    val escaped = Harness.jsonString(raw)
    assert(!escaped.exists(_ < ' '), s"raw control char in $escaped")
    assert(new ObjectMapper().readValue(escaped, classOf[String]) === raw)
  }
}
