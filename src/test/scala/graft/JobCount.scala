package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Jobs scheduled while running `body`. The listener bus is flushed on
  * both sides, so jobs of earlier work do not leak into the count. */
object JobCount {
  def apply(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBarrier.waitUntilEmpty(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBarrier.waitUntilEmpty(sc)
      jobs.get()
    } finally sc.removeSparkListener(l)
  }
}
