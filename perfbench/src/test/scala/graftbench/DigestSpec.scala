package graftbench

import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val payload =
    """{"meta":[{"name":"id","type":"bigint"}],"data":[{"id":1}],"rows":1,"rows_before_limit_at_least":1}"""

  test("the digest check accepts the same payload") {
    assert(Digest.matches(Digest.sha256(payload), payload.getBytes("UTF-8")))
  }

  test("the digest check rejects a changed payload") {
    val expected = Digest.sha256(payload)
    assert(!Digest.matches(expected, payload.replace("\"id\":1}", "\"id\":2}").getBytes("UTF-8")))
    assert(!Digest.matches(expected, (payload + " ").getBytes("UTF-8")))
    assert(!Digest.matches(expected, Array.emptyByteArray))
    assert(!Digest.matches(null, payload.getBytes("UTF-8")))
  }

  test("served rows are read back from a FINAL payload") {
    val body = """{"meta":[],"data":[{"user_id":12,"event_id":345,"ts":"x"},{"user_id":7,"event_id":8,"ts":"y"}],"rows":2}"""
    val got = CdcMixed.ServedRow.findAllMatchIn(body).map(m => m.group(1).toLong -> m.group(2).toLong).toMap
    assert(got == Map(12L -> 345L, 7L -> 8L))
  }
}
