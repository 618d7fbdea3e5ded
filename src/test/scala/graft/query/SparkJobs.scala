package graft.query

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.TestSpark

/** Counting the Spark jobs a served call starts. */
object SparkJobs {
  private def spark = TestSpark.spark

  /** Jobs started by `f` on this thread (job group `group`). */
  def count(group: String)(f: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try f finally {
      sc.clearJobGroup()
      ListenerBusSync.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get()
  }

  /** `f` with adaptive execution off, as the benchmark runs, so a count
    * is the plan's own job structure. */
  def withoutAqe[T](f: => T): T = {
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try f finally conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
