package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness pieces that need no Spark session. */
class HarnessSpec extends AnyFunSuite {

  test("jsonStr: keys and values with quotes, backslashes and control chars round-trip through Jackson") {
    val key = "q\"b\\n\nr\rt\tc\u0001"
    val value = "SELECT '\"x\"' AS \"a\\b\"\n\r\t\u0001 -- end\u001f"
    val text = "{" + Harness.jsonStr(key) + ":" + Harness.jsonStr(value) + "}"
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    assert(root.size == 1, text)
    val field = root.properties().iterator().next()
    assert(field.getKey == key)
    assert(field.getValue.isTextual && field.getValue.asText == value)
  }
}
