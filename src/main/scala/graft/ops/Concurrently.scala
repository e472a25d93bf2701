package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

/** Runs one call's INDEPENDENT Spark actions at the same time: the actions
  * are only sequential because driver code would call them one after the
  * other, so the call's wall time becomes its slowest action, not the sum.
  *
  * Each action runs on its own daemon thread (a failed call never leaves a
  * thread pinning the JVM), and every job those threads start, including
  * jobs of a stream started from them, carries one job tag per call. The
  * first failure ends the call: that tag's jobs are cancelled (task threads
  * interrupted), the other threads are interrupted (a stream gate's wait
  * then stops its query), the call waits for them to end and rethrows the
  * ORIGINAL exception. So when a failed call returns, every sibling action
  * has ended and every job it started has been cancelled. Results come
  * back in call order.
  *
  * Calls nest: a thread inherits its parent's job tags, so cancelling an
  * outer call also cancels the jobs of any call made inside its actions. */
object Concurrently {

  /** How long a call waits for its actions before it fails them all with a
    * `TimeoutException`: a hung job must not wait forever, and a long
    * legitimate large-scale run must not be turned into a failure. */
  val Bound: FiniteDuration = 60.minutes

  private val calls = new AtomicLong(0)

  def all[T](spark: SparkSession)(actions: Seq[() => T]): Seq[T] = {
    val sc = spark.sparkContext
    val tag = s"graft-concurrently-${calls.incrementAndGet()}"
    val results = new Array[Any](actions.size)
    val failure = new AtomicReference[Throwable]()
    val pending = new AtomicInteger(actions.size)
    val settled = new CountDownLatch(1) // first failure, or the last success
    val threads = actions.zipWithIndex.map { case (action, i) =>
      val t = new Thread(() => {
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true)
        try {
          results(i) = action()
          if (pending.decrementAndGet() == 0) settled.countDown()
        } catch {
          case e: Throwable =>
            failure.compareAndSet(null, e)
            settled.countDown()
        }
      }, s"$tag-$i")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    try {
      if (actions.nonEmpty && !settled.await(Bound.toMillis, TimeUnit.MILLISECONDS))
        failure.compareAndSet(null,
          new TimeoutException(s"concurrent Spark actions did not finish within $Bound"))
    } catch { case e: InterruptedException => failure.compareAndSet(null, e) }
    Option(failure.get).foreach { e =>
      sc.cancelJobsWithTag(tag, s"a concurrent action failed: $e")
      threads.foreach(_.interrupt())
    }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[T]]
  }

  /** Two actions of different result types. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = all[Any](spark)(Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }
}
