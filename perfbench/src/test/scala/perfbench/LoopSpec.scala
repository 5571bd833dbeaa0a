package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LoopSpec extends AnyFunSuite {

  test("an operation that throws is a failed sample, not a dropped one") {
    val samples = Loop.timed(0.0, minOps = 4) { i =>
      if (i % 2 == 1) throw new IllegalStateException(s"boom $i")
    }
    assert(samples.size == 4)
    assert(samples.map(_.ok) == Vector(true, false, true, false))
    assert(samples(1).error.exists(_.contains("IllegalStateException: boom 1")))
    assert(samples.forall(_.seconds >= 0.0))
  }

  test("a fatal-looking throwable is counted too") {
    val s = Loop.attempt(throw new OutOfMemoryError("heap"))
    assert(!s.ok && s.error.exists(_.contains("OutOfMemoryError")))
  }

  test("the loop runs until the budget has passed") {
    val samples = Loop.timed(0.2, minOps = 1)(_ => Thread.sleep(20))
    assert(samples.size >= 5 && samples.size <= 15)
  }

  test("paired rounds alternate which side runs first and keep both") {
    val order = Vector.newBuilder[String]
    val pairs = Loop.timedPairs(0.0, minPairs = 3)(i => order += s"op$i") { i =>
      order += s"traced$i"; i
    }
    assert(pairs.map(_._2) == Vector(0, 1, 2))
    assert(order.result() == Vector("op0", "traced0", "traced1", "op1", "op2", "traced2"))
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }
}
