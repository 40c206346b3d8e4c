package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts, read off a `SparkListener`. The
  * block runs under its own job group (AQE stage jobs and broadcast
  * threads inherit it). Listener events arrive asynchronously, so a
  * one-task drain job runs after the block: its end event is queued behind
  * every start event of the block, and once it arrives the count is final.
  */
object JobCounter {
  private val GroupKey = "spark.jobGroup.id"
  private val ids = new AtomicInteger

  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = ids.incrementAndGet()
    val (group, drainGroup) = (s"graft-jobcount-$n", s"graft-jobcount-drain-$n")
    val started = new AtomicInteger
    val drainJobs = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(GroupKey)).foreach {
          case `group`      => started.incrementAndGet()
          case `drainGroup` => drainJobs.add(e.jobId)
          case _            =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (drainJobs.contains(e.jobId)) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(drainGroup, "drain", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(drained.await(30, TimeUnit.SECONDS), "listener queue did not drain within 30 s")
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
