package lucy.stream

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.spark.lucytest.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import lucy.SparkFunSuite
import lucy.fixtures.PagesGen
import lucy.index._

/** Store metadata (pointer, tombstone log, build manifests) is committed
  * and read on the driver: none of these calls may start a Spark job.
  */
class MetadataJobsSpec extends SparkFunSuite {

  private lazy val tmp = Files.createTempDirectory("lucy-meta-jobs").toString
  private val TagKey = "lucy.test.jobTag"

  /** Runs `body` and counts the Spark jobs it started from this thread
    * (tagged through a local property, so jobs of other threads — e.g. a
    * store's warm-behind — never count). The listener bus is drained
    * before the count is read.
    */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(TagKey) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try {
      val r = body
      ListenerBus.drain(sc)
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  test("store metadata calls run zero Spark jobs: delete, composite view, pointer, tombstones, deltas") {
    import spark.implicits._
    val root = s"$tmp/store"
    IncrementalIndexer.bootstrap(PagesGen.pages(spark, 120), root)
    IncrementalIndexer.indexBatch(
      spark.range(120, 160).as[Long].map(PagesGen.page _).toDF(), root, 0L)
    val urls = (0L until 10L).map(i => s"https://example.org/p/$i")

    // the counter sees jobs at all
    assert(jobsIn(spark.range(3).count())._2 > 0)

    assert(jobsIn(IncrementalIndexer.deleteUrls(spark, root, urls))._2 === 0, "deleteUrls")
    val (view, viewJobs) = jobsIn(IncrementalIndexer.composite(spark, root))
    assert(viewJobs === 0, "composite()")
    view match {
      case t: TombstonedIndex =>
        assert(t.tombstoneIds.length === 10)
        assert(t.inner.asInstanceOf[CompositeIndex].parts.length === 2)
      case other => fail(s"expected a tombstoned base+delta view, got $other")
    }
    val (cur, curJobs) = jobsIn(IncrementalIndexer.readCurrent(spark, root))
    assert(curJobs === 0, "readCurrent")
    assert(cur === Some(IncrementalIndexer.CurrentPointer(0L, -1L)))
    val (ts, tsJobs) = jobsIn(IncrementalIndexer.readTombstones(spark, root))
    assert(tsJobs === 0, "readTombstones")
    assert(ts.toSeq === urls.map(lucy.LucySpec.docIdForUrl).sorted)
    val (deltas, deltaJobs) = jobsIn(IncrementalIndexer.listDeltas(spark, root))
    assert(deltaJobs === 0, "listDeltas")
    assert(deltas.map(_._1) === Seq(0L))
  }

  test("reading a build manifest this JVM never wrote runs zero Spark jobs") {
    val dir = s"$tmp/foreign"
    val d = new Path(s"$dir/meta/build")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(d)
    val out = fs.create(new Path(d, "part-00000.json"), true)
    val line = """{"fingerprint":"elsewhere","docs":42,"avgdl":7.25,"postings":99,""" +
      """"blocks":3,"numPartitions":2,"saltDfThreshold":1048576,"lang":"en",""" +
      """"docmapMs":1,"statsMs":2,"segmentsMs":3,"totalMs":6,"frontier":4,"sumDocLen":304}"""
    try out.write((line + "\n").getBytes("UTF-8")) finally out.close()
    fs.create(new Path(d, "_SUCCESS"), true).close()

    val (m, jobs) = jobsIn(Manifest.readBuild(spark, dir))
    assert(jobs === 0, "readBuild")
    assert(m === Some(BuildManifest("elsewhere", 42, 7.25, 99, 3, 2, 1L << 20, "en",
      1, 2, 3, 6, frontier = Some(4L), sumDocLen = Some(304L))))
  }
}
