package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.util.JsonFmt
import org.scalatest.funsuite.AnyFunSuite

class JsonFmtSpec extends AnyFunSuite {

  test("str: quotes, backslashes, control and non-BMP characters parse back through Jackson unchanged") {
    val mapper = new ObjectMapper()
    val cases = Seq(
      "say \"hi\"", "C:\\tmp\\x", "line1\nline2", "cr\rlf", "tab\there", "soh\u0001", "clef \uD834\uDD1E",
      "org.apache.spark.SparkException: Job aborted.\n\tat x.y(Z.scala:1)\r\n\"\\\u0001\uD834\uDD1E", "")
    for (s <- cases) {
      val line = s"""{"error":${JsonFmt.str(s)}}"""
      assert(!line.exists(c => c < ' '), s"raw control character in $line")
      assert(mapper.readTree(line).get("error").asText() == s, line)
    }
  }
}
