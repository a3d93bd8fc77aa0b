package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts on the calling thread: every
  * job it submits carries a local-property tag, and a listener counts
  * the tagged jobs at `onJobStart` once the listener bus has drained.
  * Pins the job cost of an operation, which at test and benchmark sizes
  * predicts its wall time better than its data volume does. */
object JobCount {

  private val Tag = "graft.test.job_count"

  /** Run `body` and return its result with the number of jobs it ran. */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) != null))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, "1")
    val out = try body
    finally {
      sc.setLocalProperty(Tag, null)
      org.apache.spark.graft.ListenerBusHook.drain(sc)
      sc.removeSparkListener(listener)
    }
    (out, jobs.get)
  }
}
