package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. */
object SparkJobs {
  /** The block's result (or its failure) and the number of jobs it started.
    * Listener events post asynchronously, so the count is read once it has
    * stopped changing. */
  def counted[A](spark: SparkSession)(f: => A): (Try[A], Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try Try(f) finally {
      var last = -1
      var spins = 0
      while (jobs.get() != last && spins < 20) {
        last = jobs.get(); Thread.sleep(250); spins += 1
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    (result, jobs.get())
  }
}
