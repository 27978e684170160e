package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job counting for specs that pin how many Spark jobs a call submits. */
object JobKit {

  /** Spark jobs `body` submits, counted by a listener on its job group. A
    * marker job submitted after it drains the listener bus: events arrive
    * in order, so once the marker ends every earlier job has been seen. */
  def jobsIn(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val markerId = new AtomicLong(-1)
    val drained = new CountDownLatch(1)
    def groupOf(e: SparkListenerJobStart) =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e) == group) jobs.incrementAndGet()
        else if (groupOf(e) == s"$group-marker") markerId.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerId.get) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "bus drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
