package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts what one block of driver code asks of the Spark scheduler: the
  * jobs it starts and the records its tasks write. Only jobs in the block's
  * own job group count, so work left running by another suite cannot leak
  * into the numbers. */
object SparkCounters {

  final case class Counts(jobs: Int, recordsWritten: Long)

  def measure[T](body: => T): (T, Counts) = {
    val sc = TestSpark.spark.sparkContext
    val group = s"graft-counted-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val records = new AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try {
      val result = body
      GraftTestAccess.drainListeners(sc)
      (result, Counts(jobs.get, records.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  def jobs(body: => Any): Int = measure(body)._2.jobs
}
