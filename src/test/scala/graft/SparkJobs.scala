package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What Spark ran while a block ran, as a listener sees it: a marked job
  * runs after the block, and every job started and every shuffle byte
  * written before the marked job starts is counted. */
object SparkJobs {
  final case class Ran(jobs: Int, shuffleBytes: Long)

  def during(spark: SparkSession)(body: => Unit): Ran = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val shuffleBytes = new AtomicLong()
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.job.description") == "marker") marked.countDown()
        else if (marked.getCount > 0) jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (marked.getCount > 0 && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(marked.await(60, TimeUnit.SECONDS), "marker job not seen")
      Ran(jobs.get, shuffleBytes.get)
    } finally sc.removeSparkListener(listener)
  }
}
