package graft.core

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("a failing leg rethrows only after its sibling has finished") {
    val siblingDone = new AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      Par.run[Unit](
        () => throw new IllegalStateException("leg failed"),
        () => { Thread.sleep(500); siblingDone.set(true) })
    }
    assert(err.getMessage == "leg failed")
    assert(siblingDone.get(), "Par.run threw while a sibling leg was still running")
  }

  test("results come back in argument order") {
    assert(Par.run(() => { Thread.sleep(100); 1 }, () => 2, () => 3) == Seq(1, 2, 3))
  }
}
