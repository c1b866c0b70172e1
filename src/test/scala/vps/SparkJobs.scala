package vps

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object SparkJobs {
  /** The Spark jobs `body` starts on this thread. A marker job run after it
    * drains the asynchronous listener bus: events arrive in order, so once
    * the marker's start is seen, so are the starts of every earlier job.
    */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (group, marker) = (s"jobs-${UUID.randomUUID()}", s"marker-${UUID.randomUUID()}")
    val started = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => started.incrementAndGet()
          case `marker` => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "the marker job's start never arrived")
      started.get
    } finally sc.removeSparkListener(listener)
  }
}
