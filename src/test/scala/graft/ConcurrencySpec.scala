package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Concurrency

class ConcurrencySpec extends AnyFunSuite {

  test("inParallel: a failure surfaces after its started siblings finish") {
    val siblingDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val thrown = intercept[IllegalStateException] {
      Concurrency.inParallel("failing", Seq[() => Unit](
        () => throw boom,
        () => { Thread.sleep(500); siblingDone.set(true) }))
    }
    assert(thrown eq boom)
    assert(siblingDone.get(), "the slower sibling was interrupted")
  }
}
