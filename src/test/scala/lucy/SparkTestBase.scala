package lucy

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.lucytest.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import lucy.index.{Ingest, Stats}
import lucy.query.{NaiveSearch, QueryMode}

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
    * (tagged through a local property, so jobs that other threads start
    * never count). The listener bus is drained before the count is read.
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

  /** Two top-k answers agree bit for bit: same rows in the same order,
    * each with the same docId, raw score bits and nTerms.
    */
  protected def assertSame(got: DataFrame, want: DataFrame, ctx: String): Unit = {
    val g = got.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val w = want.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(g.length === w.length, s"$ctx: row count")
    g.zip(w).zipWithIndex.foreach { case (((gd, gs, gn), (wd, ws, wn)), i) =>
      assert(gd === wd, s"$ctx rank $i docId")
      assert(java.lang.Double.doubleToLongBits(gs) === java.lang.Double.doubleToLongBits(ws),
        s"$ctx rank $i score bits: got=$gs want=$ws")
      assert(gn === wn, s"$ctx rank $i nTerms")
    }
  }

  /** The exhaustive engine over a from-scratch ingest of `pages`. */
  protected def naiveOver(pages: DataFrame, q: String, m: QueryMode.Value, k: Int): DataFrame = {
    val cleaned = Ingest.cleanPages(pages)
    val docmap = Ingest.docmap(cleaned)
    NaiveSearch.forQuery(Ingest.termTf(cleaned), Ingest.tokPos(cleaned), docmap,
      Stats.corpusStats(docmap), q, m, k)
  }
}
