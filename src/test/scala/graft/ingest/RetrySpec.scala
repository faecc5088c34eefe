package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

/** S1 retry discipline (etl_job.py:64-80). */
class RetrySpec extends AnyFunSuite {
  test("succeeds on a later attempt and returns the value") {
    var calls = 0
    val out = Retry.withBackoff(attempts = 3, backoffMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("flaky") else 42
    }
    assert(out === 42 && calls === 3)
  }

  test("rethrows the final error after exhausting attempts") {
    var calls = 0
    val e = intercept[RuntimeException](Retry.withBackoff(attempts = 3, backoffMs = 1) {
      calls += 1
      throw new RuntimeException(s"fail $calls")
    })
    assert(e.getMessage === "fail 3" && calls === 3)
  }

  test("first-try success does not retry") {
    var calls = 0
    assert(Retry.withBackoff()( { calls += 1; "ok" }) === "ok")
    assert(calls === 1)
  }

  test("attempts below 1 is rejected up front, without calling fetch") {
    var calls = 0
    intercept[IllegalArgumentException](Retry.withBackoff(attempts = 0, backoffMs = 1) {
      calls += 1; "never"
    })
    assert(calls === 0)
  }
}
