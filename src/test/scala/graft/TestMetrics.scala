package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Shared task-metrics accounting for the measured-evidence specs
  * (ShuffleVolumeSpec, ZOrderLayoutSpec) — one listener + quiesce
  * loop, so a fix to the accounting applies to every byte ceiling —
  * and the persisted-RDD readout the pin-lifetime specs share. */
object TestMetrics {

  /** Sum `field` over every task that runs during `action`. The
    * listener bus has no public flush, so quiesce is detected by the
    * counter holding still for 300 ms (10 s cap). Includes failed
    * attempts' metrics — for byte CEILINGS that only widens the
    * measured value, never hides an overrun. */
  def taskMetricSum(spark: SparkSession)(field: TaskMetrics => Long)(action: => Unit): Long =
    taskMetricAgg(spark)(field)(_ + _)(action)

  /** Max of `field` over every task — the per-task BALANCE readout
    * (a skewed reducer shows up here however flat the totals are). */
  def taskMetricMax(spark: SparkSession)(field: TaskMetrics => Long)(action: => Unit): Long =
    taskMetricAgg(spark)(field)(math.max)(action)

  private def taskMetricAgg(spark: SparkSession)(field: TaskMetrics => Long)(
      combine: (Long, Long) => Long)(action: => Unit): Long = {
    val total = new AtomicLong(0)
    // quiesce watches the EVENT COUNT, not the aggregate: for max (and
    // zero-valued tasks under sum) a delivery that doesn't move the
    // aggregate must still reset the stability clock, or the loop can
    // return before the largest/last task's event drains off the bus
    val events = new AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        events.incrementAndGet()
        if (m != null) total.getAndAccumulate(field(m), (a, b) => combine(a, b))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      quiesce(events)
      total.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Number of jobs started during `action` (same quiesce). */
  def jobCount(spark: SparkSession)(action: => Unit): Long = {
    val jobs = new AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      quiesce(jobs)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Ids of the RDDs the session keeps persisted — checkpoint pins
    * and cached frames. A run that frees its pins leaves this set as
    * it found it, apart from its result's own pin. */
  def persistent(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def quiesce(events: AtomicLong): Unit = {
    var last = -1L
    var stableSince = System.nanoTime()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
           (System.nanoTime() - stableSince) < 300L * 1000 * 1000) {
      val now = events.get()
      if (now != last) { last = now; stableSince = System.nanoTime() }
      Thread.sleep(50)
    }
  }
}
