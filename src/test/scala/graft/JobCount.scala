package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches from the calling thread. */
object JobCount {

  /** `body`'s result and the number of Spark jobs it launched. The block
    * runs under its own job group, so only its jobs count; a marker job
    * run after it drains the listener bus (events reach a listener in
    * order, so once the marker's end arrives every earlier job has).
    */
  def of[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (group, marker) = (s"jobcount-$id", s"jobcount-marker-$id")
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def groupOf(e: SparkListenerJobStart): String =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e) == group) jobs.incrementAndGet()
        else if (groupOf(e) == marker) markerJobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
