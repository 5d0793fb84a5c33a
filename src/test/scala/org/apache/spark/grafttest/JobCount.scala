package org.apache.spark.grafttest

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs that `body` starts on the calling thread. The
  * jobs carry a job tag, so jobs of other threads are not counted, and
  * the listener bus is drained before and after, so every job start
  * posted during `body` has been seen when the count is returned.
  */
object JobCount {
  def apply(sc: SparkContext)(body: => Unit): Int = {
    val tag = s"job-count-${Thread.currentThread().getId}"
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
            .exists(_.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag)))
          jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(counter)
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(counter)
    }
    jobs.get
  }
}
