package graft

import java.nio.CharBuffer
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The JSON that [[Verify]] writes (`oracle_sql.json`, `_failed.json`,
  * `_timings.json`) must survive a strict UTF-8 write and parse back to
  * the strings it was given. No SparkSession.
  */
class VerifyJsonSpec extends AnyFunSuite {

  /** An error message cut by `_failed.json`'s `take(500)` between the two
    * halves of a surrogate pair: it ends in a lone high surrogate. */
  private val cutPair = ("x" * 499 + "\ud83d\ude00").take(500)

  private val cases = Seq(
    "c0 control" -> "tab\there, cr\r, nul\u0000, bell\u0007, unit sep\u001f",
    "quote and backslash" -> "say \"hi\" to C:\\tmp\\",
    "cut surrogate pair" -> cutPair)

  test("Verify's JSON object encodes to UTF-8, parses, and reads back " +
      "every key and value exactly") {
    assert(Character.isHighSurrogate(cutPair.last))
    val fields = cases.map { case (what, s) => (what + ": " + s) -> s }
    val text = Verify.obj(fields.map { case (k, v) => k -> Verify.str(v) })
    // Files.writeString's encoder: REPORT on a malformed char, not replace
    StandardCharsets.UTF_8.newEncoder().encode(CharBuffer.wrap(text))
    val node = new ObjectMapper().readTree(
      new String(text.getBytes(StandardCharsets.UTF_8), StandardCharsets.UTF_8))
    assert(node.size == fields.size)
    fields.foreach { case (k, v) =>
      assert(node.has(k), s"key lost: $k")
      assert(node.get(k).asText == v, s"value changed under $k")
    }
  }

  test("a plain-ASCII object keeps the old byte layout") {
    assert(Verify.obj(Seq("q_a" -> Verify.str("SELECT 1"),
      "q_b" -> "{\"sec\":0.5000,\"gc_ms\":3}")) ==
      """{"q_a": "SELECT 1","q_b": {"sec":0.5000,"gc_ms":3}}""")
  }
}
