package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one JVM-wide session, graft confs. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf = "/root/testdata/sf0.001"
}

abstract class GraftSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.Sf

  /** Jobs launched by `body`. Listener events arrive asynchronously, so a
    * tagged sentinel job runs after `body`: once the listener has seen
    * it, every job `body` launched has been counted. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
            p.getProperty("spark.job.description") == "spec-sentinel"))
          sentinelSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("spec-sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the sentinel job")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
