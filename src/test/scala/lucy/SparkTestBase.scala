package lucy

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.lucytest.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM (Test/fork=true,
  * so all suites share it; creating one per suite is the classic slow-
  * test pitfall). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("lucy-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Runs `body` and counts the Spark jobs it started from this thread
    * (tagged through a local property, so jobs of other threads — e.g. a
    * store's warm-behind — never count). The listener bus is drained
    * before the count is read.
    */
  protected def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tagKey = "lucy.test.jobTag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tagKey) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tagKey, tag)
    try {
      val r = body
      ListenerBus.drain(sc)
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
