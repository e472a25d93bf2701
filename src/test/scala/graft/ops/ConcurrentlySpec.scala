package graft.ops

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

class ConcurrentlySpec extends SparkSpec {

  private def helperThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.getName.startsWith("graft-concurrently-") && t.isAlive)

  test("actions run at the same time and results come back in call order") {
    // each action waits for the other: a serial run would time out here
    val both = new CountDownLatch(2)
    def action(v: Int): () => Int = () => {
      both.countDown()
      assert(both.await(10, TimeUnit.SECONDS), "the other action never ran")
      v
    }
    assert(Concurrently.all(spark)(Seq(action(1), action(2))) == Seq(1, 2))
    assert(Concurrently.both(spark)("a", 7L) == (("a", 7L)))
    assert(helperThreads.isEmpty)
  }

  test("a failed action cancels the sibling's Spark job and rethrows the original") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val ended = new ConcurrentLinkedQueue[(Int, Boolean)]()
    val tagged = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("graft-concurrently-"))) {
          tagged.add(e.jobId)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.add(e.jobId -> (e.jobResult == JobSucceeded))
    }
    sc.addSparkListener(listener)
    try {
      val boom = new IllegalStateException("boom")
      @volatile var thrownAt = 0L
      val thrown = intercept[IllegalStateException] {
        Concurrently.all(spark)(Seq(
          () => sc.parallelize(1 to 4, 4).map { x =>
            // a long job: only a cancellation ends it early
            val until = System.currentTimeMillis() + 120000
            while (System.currentTimeMillis() < until && !TaskContext.get().isInterrupted())
              Thread.sleep(20)
            x
          }.count(),
          () => {
            assert(started.await(30, TimeUnit.SECONDS), "the sibling's job never started")
            thrownAt = System.nanoTime()
            throw boom
          }))
      }
      assert(thrown eq boom, "the original exception, not a wrapper")
      val waited = (System.nanoTime() - thrownAt) / 1e9
      assert(waited < 5.0, s"the call rethrew $waited s after the failure")
      assert(helperThreads.isEmpty, "a helper thread outlived the call")
      eventually(timeout(Span(10, Seconds))) {
        val jobs = tagged.asScala.toSet
        assert(jobs.nonEmpty)
        assert(ended.asScala.filter { case (id, _) => jobs(id) }.map(_._2).toSeq == Seq(false),
          "the sibling's job must end as failed")
        assert(sc.statusTracker.getActiveJobIds.isEmpty)
      }
    } finally sc.removeSparkListener(listener)
  }
}
