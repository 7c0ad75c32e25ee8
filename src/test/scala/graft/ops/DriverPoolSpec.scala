package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The concurrency helper's contract: results come back in
  * thunk order, every thunk runs to completion even when another one
  * fails, and the first failure (in thunk order) is rethrown with the
  * later ones attached as suppressed. */
class DriverPoolSpec extends AnyFunSuite {

  test("par returns results in thunk order; par2 pairs them") {
    assert(DriverPool.par(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
    assert(DriverPool.par(Seq(() => "only")) == Seq("only"))
    assert(DriverPool.par2(() => 1, () => "b") == ((1, "b")))
  }

  test("every thunk runs to completion; the first failure is rethrown " +
      "and the later ones are attached as suppressed") {
    val finished = new AtomicInteger(0)
    val thunks: Seq[() => Int] = Seq(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(300); finished.incrementAndGet() },
      () => throw new IllegalArgumentException("third"),
      () => { finished.incrementAndGet() })
    val e = intercept[IllegalStateException](DriverPool.par(thunks))
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(finished.get == 2,
      "a failure must not cancel or skip the other thunks")
  }

  test("a nested pool reports both branches' failures") {
    val e = intercept[RuntimeException](DriverPool.par2(
      () => DriverPool.par(Seq[() => Int](
        () => 1, () => throw new RuntimeException("inner"))),
      () => throw new RuntimeException("outer")))
    assert(e.getMessage == "inner")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("outer"))
  }
}
