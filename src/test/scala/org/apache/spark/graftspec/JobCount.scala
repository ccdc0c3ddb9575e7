package org.apache.spark.graftspec

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The number of Spark jobs a block starts. The count is read after
  * the listener bus (package-private in Spark) has delivered every
  * event posted while the block ran, so no job is missed.
  */
object JobCount {
  def of(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.listenerBus.waitUntilEmpty(60000L)
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty(60000L)
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}
