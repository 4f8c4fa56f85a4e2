package lucy.index

import java.lang.Double.doubleToRawLongBits
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import lucy.SparkFunSuite
import lucy.stream.IncrementalIndexer
import lucy.stream.IncrementalIndexer.CurrentPointer

/** The one metadata codec (Manifest.write/read): every record type
  * round-trips exactly, older manifest lines still read, torn dirs read
  * as absent.
  */
class MetadataCodecSpec extends SparkFunSuite {

  private lazy val tmp = Files.createTempDirectory("lucy-codec").toString
  private lazy val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeLine(dir: String, line: String): Unit = {
    fs.mkdirs(new Path(dir))
    val out = fs.create(new Path(dir, "part-00000.json"), true)
    try out.write((line + "\n").getBytes("UTF-8")) finally out.close()
  }

  test("BuildManifest round-trips: avgdl bits, Longs past Int.MaxValue, optional fields") {
    val avgdls = Seq(1.0 / 3, 0.1 + 0.2, Double.MinPositiveValue, 1e300 / 7, 4.0)
    avgdls.zipWithIndex.foreach { case (a, i) =>
      val m = BuildManifest("fp \"quoted\" \\ \u0001 é", Int.MaxValue + 5L, a, 3L << 40, 7L, 4,
        1L << 20, "en", 1L, 2L, 3L, 6L,
        frontier = Some(Int.MaxValue + 1L + i), sumDocLen = Some(Long.MaxValue - i),
        stemming = Some(i % 2 == 0))
      Manifest.writeBuild(spark, s"$tmp/big$i", m)
      val got = Manifest.readBuild(spark, s"$tmp/big$i").get
      assert(got === m)
      assert(doubleToRawLongBits(got.avgdl) === doubleToRawLongBits(a), s"avgdl $a")
    }
    // small Option[Long] values must come back as Longs, not boxed Ints:
    // unboxing an Integer as Long would throw here
    val small = BuildManifest("s", 1, 1.5, 1, 1, 1, 1, "", 0, 0, 0, 0,
      frontier = Some(3L), sumDocLen = Some(0L))
    Manifest.writeBuild(spark, s"$tmp/small", small)
    val got = Manifest.readBuild(spark, s"$tmp/small").get
    assert(got.frontier.map(_ + 1L) === Some(4L))
    assert(got.sumDocLen.map(_ - 1L) === Some(-1L))
    assert(got.stemming === None)
    // still one JSON object per line for Spark's reader
    assert(spark.read.json(s"$tmp/small/meta/build").count() === 1)
  }

  test("manifest lines in the earlier byte format read back equal, and are still written") {
    val base = BuildManifest("fp", 111, 1.0, 10, 1, 4, 1L << 20, "en", 0, 0, 0, 0)
    val line = """{"fingerprint":"fp","docs":111,"avgdl":1.0,"postings":10,"blocks":1,""" +
      """"numPartitions":4,"saltDfThreshold":1048576,"lang":"en","docmapMs":0,""" +
      """"statsMs":0,"segmentsMs":0,"totalMs":0}"""
    writeLine(s"$tmp/old/meta/build", line)
    assert(Manifest.readBuild(spark, s"$tmp/old").isEmpty, "no _SUCCESS: torn, absent")
    fs.create(new Path(s"$tmp/old/meta/build/_SUCCESS"), true).close()
    assert(Manifest.readBuild(spark, s"$tmp/old") === Some(base))
    Manifest.writeBuild(spark, s"$tmp/new", base)
    val written = scala.io.Source.fromFile(s"$tmp/new/meta/build/part-00000.json", "UTF-8")
    try assert(written.mkString === line + "\n") finally written.close()

    writeLine(s"$tmp/old2/meta/build",
      """{"fingerprint":"fp","docs":111,"avgdl":1.0,"postings":10,"blocks":1,""" +
        """"numPartitions":4,"saltDfThreshold":1048576,"lang":"en","docmapMs":0,""" +
        """"statsMs":0,"segmentsMs":0,"totalMs":0,"frontier":7,"sumDocLen":5000000000}""")
    fs.create(new Path(s"$tmp/old2/meta/build/_SUCCESS"), true).close()
    assert(Manifest.readBuild(spark, s"$tmp/old2") ===
      Some(base.copy(frontier = Some(7L), sumDocLen = Some(5000000000L))))
  }

  test("CurrentPointer and PartitionManifest rows round-trip") {
    val ptr = CurrentPointer(Int.MaxValue + 2L, -1L)
    Manifest.write(spark, s"$tmp/ptr", Seq(ptr))
    assert(Manifest.read[CurrentPointer](spark, s"$tmp/ptr") === Some(Seq(ptr)))

    val rows = Seq(
      PartitionManifest(0, 3L, 1L << 33, 123456789012L, 17L, Int.MinValue, -1),
      PartitionManifest(1, 0L, 0L, 0L, 0L, 0, Int.MaxValue))
    Manifest.write(spark, s"$tmp/parts", rows)
    assert(Manifest.read[PartitionManifest](spark, s"$tmp/parts") === Some(rows))
    Manifest.write(spark, s"$tmp/none", Seq.empty[PartitionManifest])
    assert(Manifest.read[PartitionManifest](spark, s"$tmp/none") === Some(Seq.empty))
  }

  test("tombstones across generations read back sorted and distinct; torn and stray dirs ignored") {
    import spark.implicits._
    import IncrementalIndexer.Mask
    import lucy.LucySpec.docIdForUrl
    val root = s"$tmp/tomb"
    val u = (0 until 6).map(i => s"https://example.org/t/$i")
    IncrementalIndexer.bootstrap(u.zipWithIndex.map { case (url, i) =>
      lucy.fixtures.Page(url, new java.sql.Timestamp(i * 1000L), null, s"text $i", "en")
    }.toDF(), root)
    IncrementalIndexer.deleteUrls(spark, root, Seq(u(3), u(1), u(2), u(1)))
    IncrementalIndexer.deleteUrls(spark, root, Seq(u(2), u(5))) // u(2) is dead already
    writeLine(s"$root/deletes/del-9", s"""{"part":"base/gen-0","docId":${docIdForUrl(u(4))},"docLen":2}""")
    fs.mkdirs(new Path(s"$root/deletes/del-old"))
    fs.mkdirs(new Path(s"$root/deletes/9"))
    val want = Seq(1, 2, 3, 5).map(i => docIdForUrl(u(i))).sorted
    assert(IncrementalIndexer.readTombstones(spark, root).toSeq === want)
    assert(Manifest.generations(spark, s"$root/deletes", "del") === Seq(1L, 2L, 9L))
    assert(Manifest.read[Mask](spark, s"$root/deletes/del-2").map(_.map(m => (m.part, m.docId)))
      === Some(Seq(("base/gen-0", docIdForUrl(u(5))))))
  }
}
