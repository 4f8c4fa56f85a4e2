package lucy.stream

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import lucy.{LucySpec, SparkFunSuite}
import lucy.fixtures.PagesGen
import lucy.index.{IndexConfig, Manifest}
import lucy.query.{QueryMode, Searcher}

/** Commit points of store mutations: a misconfigured put or compaction
  * commits nothing, a crash between a mutation's records leaves the
  * last consistent view, and a view composed across a compaction's
  * commit, or across a delete and a put, is consistent.
  */
class StoreCommitSpec extends SparkFunSuite {

  private lazy val tmp = Files.createTempDirectory("lucy-commit").toString
  private lazy val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val probes = Seq(
    ("spark shuffle", QueryMode.And, 10),
    ("recrawl", QueryMode.Or, 100),
    ("wa", QueryMode.Prefix, 10))

  private def assertAnswers(root: String, pages: org.apache.spark.sql.DataFrame, ctx: String): Unit = {
    val view = IncrementalIndexer.composite(spark, root)
    probes.foreach { case (q, m, k) =>
      assertSame(Searcher.search(spark, view, q, m, k), naiveOver(pages, q, m, k), s"$ctx[$q/$m]")
    }
  }

  test("put and compact refuse a stemming flag that differs from the store's") {
    import spark.implicits._
    val root = s"$tmp/stem"
    IncrementalIndexer.bootstrap(PagesGen.pages(spark, 120), root)
    val flipped = IndexConfig(stemming = !LucySpec.stemming)
    def assertNames(e: IllegalArgumentException): Unit = {
      assert(e.getMessage.contains(root), e.getMessage)
      assert(e.getMessage.contains(s"stemming=${LucySpec.stemming}"), e.getMessage)
      assert(e.getMessage.contains(s"stemming=${!LucySpec.stemming}"), e.getMessage)
    }
    val delta = spark.range(120, 160).as[Long].map(PagesGen.page _).toDF()
    assertNames(intercept[IllegalArgumentException](
      IncrementalIndexer.indexBatch(delta, root, 0L, flipped)))
    assert(!Manifest.stageDone(spark, s"$root/deltas/delta-0/meta/build"), "no delta manifest")
    assert(IncrementalIndexer.listDeltas(spark, root).isEmpty)
    assertNames(intercept[IllegalArgumentException](
      IncrementalIndexer.compact(spark, root, flipped)))
    assert(Manifest.generations(spark, s"$root/base", "gen") === Seq(0L), "no base generation")
    assert(IncrementalIndexer.readCurrent(spark, root).map(_.gen) === Some(0L))
    // the store's own flag still works
    IncrementalIndexer.indexBatch(delta, root, 0L)
    assertAnswers(root, PagesGen.pages(spark, 160), "after")
  }

  test("a put whose masks never committed is invisible; replaying it equals a scratch index") {
    val root = s"$tmp/putcrash"
    val base = PagesGen.pages(spark, 200)
    IncrementalIndexer.bootstrap(base, root)
    val recrawls = PagesGen.recrawl(spark, 60, 1000000L)
    IncrementalIndexer.indexBatch(recrawls, root, 0L)
    // the crash window: the delta's build manifest committed, its masks not
    fs.delete(new Path(s"$root/deltas/delta-0/meta/masks"), true)
    assert(Manifest.stageDone(spark, s"$root/deltas/delta-0/meta/build"))
    assert(IncrementalIndexer.composite(spark, root).parts.length === 1, "the delta is not live")
    assertAnswers(root, base, "crashed")

    IncrementalIndexer.indexBatch(recrawls, root, 0L)
    assert(IncrementalIndexer.composite(spark, root).parts.length === 2)
    assertAnswers(root, base.unionByName(recrawls), "replayed")
  }

  test("a delete generation without _SUCCESS is ignored") {
    val root = s"$tmp/delcrash"
    val pages = PagesGen.pages(spark, 200)
    IncrementalIndexer.bootstrap(pages, root)
    val committed = (0L until 200L by 7).map(i => s"https://example.org/p/$i")
    IncrementalIndexer.deleteUrls(spark, root, committed)
    IncrementalIndexer.deleteUrls(spark, root, (1L until 200L by 7).map(i => s"https://example.org/p/$i"))
    fs.delete(new Path(s"$root/deletes/del-2/_SUCCESS"), false)
    assertAnswers(root, pages.filter(!col("url").isin(committed: _*)), "torn")
  }

  test("a view of the pre-compaction delete log and the post-compaction pointer equals the contents") {
    val root = s"$tmp/lograce"
    val base = PagesGen.pages(spark, 200)
    IncrementalIndexer.bootstrap(base, root)
    val recrawls = PagesGen.recrawl(spark, 60, 1000000L)
    IncrementalIndexer.indexBatch(recrawls, root, 0L)
    val deleted = (0L until 200L by 9).map(i => s"https://example.org/p/$i")
    IncrementalIndexer.deleteUrls(spark, root, deleted)
    // a view's reads, split by a compaction: the log first, then the
    // compaction commits its pointer and purges the log, then the pointer
    val log = IncrementalIndexer.deleteLog(spark, root)
    assert(log.nonEmpty)
    IncrementalIndexer.compact(spark, root)
    assert(IncrementalIndexer.deleteLog(spark, root).isEmpty, "the compaction purged the log")
    val view = IncrementalIndexer.viewOf(spark, root, IncrementalIndexer.liveParts(spark, root), log)
    val contents = base.unionByName(recrawls).filter(!col("url").isin(deleted: _*))
    probes.foreach { case (q, m, k) =>
      assertSame(Searcher.search(spark, view, q, m, k), naiveOver(contents, q, m, k), s"raced[$q/$m]")
    }

    // a record dir purged between its _SUCCESS check and the data read
    // reads as absent
    val purged = s"$root/deletes/del-9"
    Manifest.write(spark, purged, log.head._2)
    fs.delete(new Path(s"$purged/part-00000.json"), false)
    assert(Manifest.read[IncrementalIndexer.Mask](spark, purged) === None)
  }

  test("a delete and a re-adding put inside a view's reads: the view re-reads the delete log") {
    val root = s"$tmp/readdrace"
    val base = PagesGen.pages(spark, 200)
    IncrementalIndexer.bootstrap(base, root)
    val readded = (0L until 60L by 4).map(i => s"https://example.org/p/$i")
    val recrawls = PagesGen.recrawl(spark, 60, 1000000L).filter(col("url").isin(readded: _*))
    // between the view's first log read and its parts listing, a delete
    // commits and a put re-adds the deleted urls
    var firstLog = Seq.empty[(Long, Seq[IncrementalIndexer.Mask])]
    val view = IncrementalIndexer.composite(spark, root, () => {
      firstLog = IncrementalIndexer.deleteLog(spark, root)
      IncrementalIndexer.deleteUrls(spark, root, readded)
      IncrementalIndexer.indexBatch(recrawls, root, 0L)
    })
    assert(view.parts.length === 2 && IncrementalIndexer.deleteLog(spark, root).length === 1)
    val contents = base.filter(!col("url").isin(readded: _*)).unionByName(recrawls)
    probes.foreach { case (q, m, k) =>
      assertSame(Searcher.search(spark, view, q, m, k), naiveOver(contents, q, m, k), s"readded[$q/$m]")
    }
    // composed from the first log read alone, both versions of each
    // re-added url are live
    val once = IncrementalIndexer.viewOf(spark, root, view.parts, firstLog)
    assert(once.corpusStats(spark).n === view.corpusStats(spark).n + readded.length)
  }
}
