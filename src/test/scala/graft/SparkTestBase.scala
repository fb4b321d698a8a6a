package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, reused). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Spark jobs a measured body submitted and the shuffle bytes they wrote. */
final case class SparkWork(jobs: Int, shuffleWriteBytes: Long)

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs `body` submits from this thread, and the shuffle bytes
    * written by their stages. Jobs are tagged by job group; a tagged
    * sentinel job drains the asynchronous listener bus before the counts
    * are read.
    */
  protected def sparkWork(body: => Unit): SparkWork = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` =>
            jobs.incrementAndGet()
            js.stageIds.foreach(stages.add)
          case g if g == s"$group-sentinel" => drained.countDown()
          case _                            =>
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (stages.contains(sc.stageInfo.stageId))
          bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      SparkWork(jobs.get(), bytes.get())
    } finally sc.removeSparkListener(listener)
  }
}
