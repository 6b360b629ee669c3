package graft

import graft.plans.Par
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicBoolean

class ParSpec extends AnyFunSuite {

  test("results keep input order whatever order the thunks finish in") {
    val out = Par.run((1 to 6).map(i => () => { Thread.sleep((6 - i) * 20L); i }))
    assert(out === (1 to 6))
  }

  test("a failure is rethrown only after a slower sibling thunk has finished") {
    val siblingDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException](Par.run(Seq[() => Int](
      () => throw boom,
      () => { Thread.sleep(300); siblingDone.set(true); 2 })))
    assert(e eq boom)
    assert(siblingDone.get(), "rethrown while a sibling thunk was still running")
  }

  test("with two failures the first in input order is thrown and the second suppressed") {
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    // the first thunk fails last: input order decides, not timing
    val e = intercept[IllegalStateException](Par.run(Seq[() => Int](
      () => { Thread.sleep(200); throw first },
      () => throw second,
      () => 3)))
    assert(e eq first)
    assert(e.getSuppressed.toSeq === Seq(second))
  }
}
