package lucy.e2e

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import lucy.{LucySpec, LucyStore, SparkFunSuite}
import lucy.fixtures.PagesGen
import lucy.query.QueryMode

/** The full lucy.js store lifecycle through the one public facade:
  * bootstrap → put (add + update) → delete → search (all modes) →
  * compact — at every step search results are BIT-EQUAL to the naive
  * engine over a from-scratch view of the store's current contents.
  */
class LucyStoreSpec extends SparkFunSuite {

  private val probes = Seq(
    ("spark shuffle", QueryMode.And, 10),
    ("wand heap", QueryMode.Or, 10),
    ("spark shuffle", QueryMode.Phrase, 10),
    ("wa", QueryMode.Prefix, 10))

  test("store lifecycle: bootstrap, put, delete, search, compact") {
    import spark.implicits._
    val root = Files.createTempDirectory("lucy-store").toString + "/store"
    val store = new LucyStore(spark, root)

    // bootstrap 200 docs
    store.bootstrap(PagesGen.pages(spark, 200))
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(PagesGen.pages(spark, 200), q, m, k),
        s"bootstrap[$q/$m]")
    }

    // put: 100 new docs + re-put is a no-op (exactly-once)
    val delta = spark.range(200, 300).as[Long].map(PagesGen.page _).toDF()
    store.put(delta, batchId = 0L)
    store.put(delta, batchId = 0L)
    val after300 = PagesGen.pages(spark, 300)
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(after300, q, m, k), s"put[$q/$m]")
    }

    // delete 30 urls: masked view matches naive over survivors
    val delUrls = (0L until 300L by 10).map(i => s"https://example.org/p/$i")
    store.delete(delUrls)
    val survivors = after300.filter(!col("url").isin(delUrls.map(_.asInstanceOf[Any]): _*))
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(survivors, q, m, k), s"deleted[$q/$m]")
    }

    // compact: same answers from the folded base
    store.compact()
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(survivors, q, m, k), s"compacted[$q/$m]")
    }

    // searchWithUrls attaches display urls for the top hit
    val withUrls = store.searchWithUrls("spark shuffle", QueryMode.And, 3).collect()
    assert(withUrls.nonEmpty && withUrls.forall(_.getAs[String]("url").startsWith("https://")))
    // and the deleted url can come back
    store.put(spark.range(0, 1).as[Long].map(PagesGen.page _).toDF(), batchId = 1L)
    val back = store.search("spark", QueryMode.Or, 500).collect().map(_.getLong(0)).toSet
    assert(back.contains(LucySpec.docIdForUrl("https://example.org/p/0")))

    // ---- an update is a delete plus an add: between compactions the
    // replaced version's postings no longer match, and every answer is
    // bit-equal to a from-scratch view of the contents
    val p7Url = "https://example.org/p/7"
    val p7Id = LucySpec.docIdForUrl(p7Url)
    val newP7 = Seq(lucy.fixtures.Page(p7Url,
      java.sql.Timestamp.valueOf("2025-06-01 00:00:00"), null,
      "xylophone quartz zebra", "en")).toDF()
    store.put(newP7, batchId = 2L)
    val oldTok = LucySpec.tokenize(
      lucy.text.HtmlText.extractFromHtml(PagesGen.page(7).html)).head
    val contents = survivors
      .union(spark.range(0, 1).as[Long].map(PagesGen.page _).toDF())
      .filter(col("url") =!= p7Url)
      .union(newP7)
    val pre = store.search(oldTok, QueryMode.Or, 1000).collect().map(_.getLong(0)).toSet
    assert(!pre.contains(p7Id), s"pre-compact: the replaced version's '$oldTok' posting is masked")
    val newHits = store.search("xylophone", QueryMode.Or, 10).collect().map(_.getLong(0)).toSet
    assert(newHits === Set(p7Id))
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(contents, q, m, k), s"updated[$q/$m]")
    }
    // compaction changes no answer
    store.compact()
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(contents, q, m, k), s"updated+compacted[$q/$m]")
    }
    val post = store.search(oldTok, QueryMode.Or, 1000).collect().map(_.getLong(0)).toSet
    assert(!post.contains(p7Id), "post-compact: replaced version's postings are purged")
  }
}
