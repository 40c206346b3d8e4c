package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The progress of every streaming micro-batch a block runs, read off a
  * `SparkListener` the way perfbench's `Tracer` reads it: the listener bus
  * carries the progress events of every session, child sessions included.
  * `JobCounter`'s drain job runs after the block, so every event the block
  * posted has arrived when this returns.
  */
object StreamProgress {
  def record[T](spark: SparkSession)(body: => T): (T, Seq[StreamingQueryProgress]) = {
    val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: StreamingQueryListener.QueryProgressEvent => seen.add(p.progress)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (out, _) = JobCounter.count(spark)(body)
      (out, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The state-store instances of every stateful operator in `progress`. */
  def stateStores(progress: Seq[StreamingQueryProgress]): Seq[Long] =
    progress.flatMap(_.stateOperators.map(_.numStateStoreInstances))
}
