package lucy.e2e

import java.nio.file.Files
import java.sql.Timestamp
import lucy.{LucyStore, SparkFunSuite}
import lucy.fixtures.{Page, PagesGen}
import lucy.query.{QueryEngine, QueryMode}

/** The update regime of a live store, with nothing compacted: a base, a
  * delta that recrawls urls with changed text (one of them with an OLDER
  * warc_ts, which must lose), a delete of an updated url and of a base
  * url, and a re-add of the deleted base url. Every search must equal a
  * from-scratch index of the store's current contents bit for bit —
  * docId, score bits and nTerms — in the gather shape and in the forced
  * distributed shapes.
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
    try {
      store.bootstrap(PagesGen.pages(spark, 300))
      val recrawled = (0L until 300L by 5).map(changed(_, day))
      val stale = changed(21L, -day) // older than the base version: the base stays live
      store.put((recrawled ++ (300L until 340L).map(PagesGen.page) :+ stale).toDF(), batchId = 0L)
      val deleted = Seq(PagesGen.page(10).url, PagesGen.page(7).url) // 10 was just updated
      store.delete(deleted)
      val readded = changed(7L, 2 * day)
      store.put(Seq(readded).toDF(), batchId = 1L)

      val contents = ((0L until 340L).filterNot(i => i == 10L || i == 7L).map { i =>
        if (i < 300L && i % 5 == 0) changed(i, day) else PagesGen.page(i)
      } :+ readded).toDF()
      val exchange = new QueryEngine(spark, store.view, gatherMaxPostings = 0L)
      probes.foreach { case (q, m, k) =>
        val want = naiveOver(contents, q, m, k)
        assertSame(store.search(q, m, k), want, s"gather[$q/$m/k=$k]")
        assertSame(exchange.search(q, m, k), want, s"exchange[$q/$m/k=$k]")
      }
    } finally store.close()
  }
}
