package graft.core

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/** The one executor Plane A fans its independent units of work out on
  * (pipeline waves, model validation, per-file sync, YAML writes):
  * Scala's global pool, whose daemon threads number the available
  * processors and which adds a thread while one of them blocks in
  * `Await`. This mirrors the reference's thread-pool fan-out over
  * topologically sorted nodes (core/transforms.py:226-231). Results
  * always come back in input order, so callers stay deterministic.
  */
private[core] object Parallel {

  implicit val executor: ExecutionContext = ExecutionContext.global

  private val processors = Runtime.getRuntime.availableProcessors

  /** Runs `f` on every element concurrently and waits for all of them.
    * The outcomes come back in input order. The calling thread takes
    * elements too, beside up to one pool thread per processor, so a
    * call made from a pool thread still finishes when the pool is busy.
    */
  def attempt[A, B](xs: Seq[A])(f: A => B): Seq[Try[B]] = {
    val items = xs.toIndexedSeq
    val out = new Array[Try[B]](items.size)
    val next = new AtomicInteger()
    def drain(): Unit = {
      var i = next.getAndIncrement()
      while (i < items.size) {
        out(i) = Try(f(items(i)))
        i = next.getAndIncrement()
      }
    }
    val helpers = Seq.fill(math.min(items.size - 1, processors))(Future(drain()))
    drain()
    helpers.foreach(Await.ready(_, Duration.Inf))
    out.toSeq
  }

  /** [[attempt]], rethrowing the failure of the first element, in input
    * order, that failed.
    */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = attempt(xs)(f).map(_.get)
}
