package graft

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

/** The Spark jobs a block submits, for specs that pin job counts. */
object TestJobs {

  /** The input rows read by each Spark job `f` submits on this thread, in
    * submission order. */
  def inputRowsPerJob(spark: SparkSession)(f: => Any): Seq[Long] =
    perJob(spark, _.inputMetrics.recordsRead)(f)

  /** The shuffle records written by all Spark jobs `f` submits on this
    * thread, summed over their tasks. */
  def shuffleRecordsWritten(spark: SparkSession)(f: => Any): Long =
    perJob(spark, _.shuffleWriteMetrics.recordsWritten)(f).sum

  /** `metric` summed over the tasks of each Spark job `f` submits on this
    * thread, in submission order. A listener follows a fresh job group; a
    * marker job in the same group then flushes the listener bus, which
    * delivers events in order. */
  private def perJob(spark: SparkSession, metric: TaskMetrics => Long)(f: => Any): Seq[Long] = {
    val sc = spark.sparkContext
    val group = s"test-jobs-${System.nanoTime}"
    val totals = new ConcurrentLinkedQueue[AtomicLong]()
    val stageJob = new ConcurrentHashMap[Int, AtomicLong]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker")
            marker.countDown()
          else {
            val n = new AtomicLong
            totals.add(n)
            e.stageIds.foreach(stageJob.put(_, n))
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).filter(_ => e.taskMetrics != null)
          .foreach(_.addAndGet(metric(e.taskMetrics)))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try {
      f
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS))
      totals.toArray(Array.empty[AtomicLong]).toSeq.map(_.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
