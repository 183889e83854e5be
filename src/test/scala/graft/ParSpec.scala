package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Par

/** [[Par]] runs branches on a fixed 3-thread pool; a call made from
  * one of those threads must not wait on the same pool, or nesting
  * parks every thread for good. Each case runs under a timeout so a
  * deadlock fails the spec instead of hanging the suite. */
class ParSpec extends AnyFunSuite {

  private def within[T](body: => T): T =
    Await.result(Future(body)(ExecutionContext.global), 30.seconds)

  test("three whose branches each nest a both finishes under its timeout") {
    val (a, b, c) = within(Par.three(
      Par.both(1, 2),
      Par.both(3, 4),
      Par.both(Thread.currentThread.getName, 6)))
    assert(a === ((1, 2)) && b === ((3, 4)) && c._2 === 6)
    assert(c._1.startsWith("graft-par-"),
      s"a nested branch runs inline on its caller's pool thread, ran on ${c._1}")
  }

  test("a nested failure surfaces after every sibling ran") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException](within(Par.both(
      Par.both[Int, Int](throw new IllegalStateException("boom"),
        ran.incrementAndGet()),
      ran.incrementAndGet())))
    assert(e.getMessage === "boom")
    assert(ran.get === 2)
  }
}
