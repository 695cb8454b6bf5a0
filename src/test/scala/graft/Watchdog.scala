package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.Suite
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

/** Runs a parser or decoder call that could spin on hostile input:
  * `body` on a daemon thread, failed after `seconds`, so a call that
  * never returns fails its test instead of hanging the suite. */
trait Watchdog extends TimeLimits { this: Suite =>

  def within[T](seconds: Int)(body: => T): T = {
    implicit val signaler: Signaler = ThreadSignaler
    val f = Future(body)(ExecutionContext.global)
    failAfter(Span(seconds, Seconds)) { Await.result(f, Duration.Inf) }
  }
}
