package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job counting for specs that pin how many Spark jobs a call submits. */
object JobKit {
  private val GroupKey = "spark.jobGroup.id"

  /** Spark jobs `body` submits under a job group of its own (the jobs of
    * threads that inherit it included). */
  def jobsIn(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${System.nanoTime()}"
    groupsIn(spark) {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }.count(_ == group)
  }

  /** The job group (null for none) of every Spark job `body` submits, in
    * job order: the jobs between two marker jobs. Events arrive in order,
    * so once the second marker ends every earlier job has been seen. The
    * markers keep the calling thread's job group. */
  def groupsIn(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val tag = s"groups-in-${System.nanoTime()}"
    val started = new ConcurrentLinkedQueue[(Int, String)]
    val markers = new ConcurrentHashMap[String, Integer]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).map(_.getProperty(GroupKey)).orNull
        if (group != null && group.startsWith(tag)) markers.put(group, e.jobId)
        else started.add((e.jobId, group))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (Option(markers.get(s"$tag-end")).contains(e.jobId)) drained.countDown()
    }
    def marker(name: String): Unit = {
      val caller = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, s"$tag-$name")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(GroupKey, caller)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      body
      marker("end")
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      val (from, to) = (markers.get(s"$tag-start").intValue, markers.get(s"$tag-end").intValue)
      started.toArray(Array.empty[(Int, String)]).toSeq
        .filter { case (id, _) => id > from && id < to }.sortBy(_._1).map(_._2)
    } finally sc.removeSparkListener(listener)
  }
}
