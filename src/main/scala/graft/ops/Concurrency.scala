package graft.ops

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

/** The one concurrent-submission helper. A writer of several
  * independent tables submits them as concurrent Spark jobs: the
  * scheduler interleaves their tasks across cores, so a tiny side-table
  * write rides along with the corpus-sized one instead of serializing a
  * full job latency behind it, and concurrent first readers of a shared
  * cache build each partition once under the block manager's locks.
  */
private[graft] object Concurrency {

  /** Run `first` and `rest` concurrently, wait for all of them, and
    * return `first`'s result; a failure rethrows.
    */
  def all[A](first: () => A, rest: (() => Unit)*): A = {
    val head = Future(first())
    val tail = rest.map(job => Future(job()))
    tail.foreach(Await.result(_, Duration.Inf))
    Await.result(head, Duration.Inf)
  }
}
