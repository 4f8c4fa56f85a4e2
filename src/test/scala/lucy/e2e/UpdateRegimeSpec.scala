package lucy.e2e

import java.nio.file.Files
import java.sql.Timestamp
import lucy.{LucyStore, SparkFunSuite}
import lucy.fixtures.{Page, PagesGen}
import lucy.query.{QueryEngine, QueryMode}

/** The update regime of a live store, with nothing compacted: a base, a
  * put of new urls, a put that recrawls urls with changed text, a late
  * recrawl with an OLDER warc_ts (which must lose), a delete of an
  * updated url and of a base url, and a re-add of the deleted base url.
  * After every mutation, every search through the same store must equal
  * a from-scratch index of the store's contents bit for bit — docId,
  * score bits and nTerms — in the gather shape and in the forced
  * distributed shapes. The store's part cache carries each part's
  * entries from one view into the next, under the next view's masks.
  */
class UpdateRegimeSpec extends SparkFunSuite {

  private val day = 86400000L

  /** url i re-crawled `shiftMs` later, carrying the text of another page. */
  private def changed(i: Long, shiftMs: Long): Page = {
    val p = PagesGen.page(i)
    val other = PagesGen.page(i + 100000L)
    Page(p.url, new Timestamp(p.warc_ts.getTime + shiftMs), other.html, other.text, p.lang)
  }

  private val probes = Seq(
    ("spark shuffle", QueryMode.And, 10),
    ("wand heap", QueryMode.Or, 10),
    ("spark", QueryMode.Or, 400),
    ("spark shuffle", QueryMode.Phrase, 10),
    ("wa", QueryMode.Prefix, 10))

  test("live store == scratch index of its contents: update, delete, re-add, no compaction") {
    import spark.implicits._
    val root = Files.createTempDirectory("lucy-update").toString + "/store"
    val store = new LucyStore(spark, root)
    // the store's contents by page ordinal
    val docs = scala.collection.mutable.LinkedHashMap[Long, Page]()
    def check(ctx: String): Unit = {
      val contents = docs.values.toSeq.toDF()
      val exchange = new QueryEngine(spark, store.view, gatherMaxPostings = 0L)
      probes.foreach { case (q, m, k) =>
        val want = naiveOver(contents, q, m, k)
        assertSame(store.search(q, m, k), want, s"$ctx gather[$q/$m/k=$k]")
        assertSame(exchange.search(q, m, k), want, s"$ctx exchange[$q/$m/k=$k]")
      }
    }
    try {
      store.bootstrap(PagesGen.pages(spark, 300))
      (0L until 300L).foreach(i => docs(i) = PagesGen.page(i))
      check("bootstrap")

      val added = (300L until 340L).map(PagesGen.page)
      store.put(added.toDF(), batchId = 0L)
      (300L until 340L).zip(added).foreach { case (i, p) => docs(i) = p }
      check("put")

      val recrawled = (0L until 300L by 5).map(i => i -> changed(i, day))
      store.put(recrawled.map(_._2).toDF(), batchId = 1L)
      docs ++= recrawled
      check("recrawl")

      // older than the base version: the base stays live, the new row is masked
      store.put(Seq(changed(21L, -day)).toDF(), batchId = 2L)
      check("stale recrawl")

      store.delete(Seq(PagesGen.page(10).url, PagesGen.page(7).url)) // 10 was just updated
      docs --= Seq(10L, 7L)
      check("delete")

      val readded = changed(7L, 2 * day)
      store.put(Seq(readded).toDF(), batchId = 3L)
      docs(7L) = readded
      check("re-add")
    } finally store.close()
  }
}
