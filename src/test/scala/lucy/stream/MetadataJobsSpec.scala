package lucy.stream

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import lucy.SparkFunSuite
import lucy.fixtures.PagesGen
import lucy.index._

/** Store metadata (pointer, masks, build manifests) is committed and
  * read on the driver: composing a view and its corpus stats start no
  * Spark job; a delete starts one: its docmap probe.
  */
class MetadataJobsSpec extends SparkFunSuite {

  private lazy val tmp = Files.createTempDirectory("lucy-meta-jobs").toString

  test("store metadata calls run zero Spark jobs: delete, composite view, pointer, tombstones, deltas") {
    import spark.implicits._
    val root = s"$tmp/store"
    IncrementalIndexer.bootstrap(PagesGen.pages(spark, 120), root)
    IncrementalIndexer.indexBatch(
      spark.range(120, 160).as[Long].map(PagesGen.page _).toDF(), root, 0L)
    val urls = (0L until 10L).map(i => s"https://example.org/p/$i")
    // the indexed ones (the lang filter drops some pages)
    val deleted = Ingest.cleanPages(PagesGen.pages(spark, 10)).select("docId").as[Long]
      .collect().sorted.toSeq

    // the counter sees jobs at all
    assert(jobsIn(spark.range(3).count())._2 > 0)

    // the delete's one probe of the live docmaps (their schemas are known
    // from the builds), a job every later view build used to pay for its
    // corpus stats
    assert(jobsIn(IncrementalIndexer.deleteUrls(spark, root, urls))._2 === 1, "deleteUrls")
    val (view, viewJobs) = jobsIn(IncrementalIndexer.composite(spark, root))
    assert(viewJobs === 0, "composite()")
    assert(view.parts.length === 2)
    assert(view.masks.map(_.toSeq) === Seq(deleted, Nil))
    val (stats, statsJobs) = jobsIn(view.corpusStats(spark))
    assert(statsJobs === 0, "corpusStats of base + delta + delete")
    val live = PagesGen.pages(spark, 160).filter(!col("url").isin(urls: _*))
    assert(stats === Stats.corpusStats(Ingest.docmap(Ingest.cleanPages(live))))
    val (cur, curJobs) = jobsIn(IncrementalIndexer.readCurrent(spark, root))
    assert(curJobs === 0, "readCurrent")
    assert(cur === Some(IncrementalIndexer.CurrentPointer(0L, -1L)))
    val (ts, tsJobs) = jobsIn(IncrementalIndexer.readTombstones(spark, root))
    assert(tsJobs === 0, "readTombstones")
    assert(ts.toSeq === deleted)
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
