package lucy.e2e

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import lucy.{LucySpec, LucyStore, SparkFunSuite}
import lucy.fixtures.{Page, PagesGen}
import lucy.query.QueryMode

/** The full lucy.js store lifecycle through the one public facade:
  * bootstrap → put (add + update) → delete → search (all modes) →
  * compact — at every step search results are BIT-EQUAL to the naive
  * engine over a from-scratch view of the store's current contents,
  * also after close() and while searches race the mutations.
  */
class LucyStoreSpec extends SparkFunSuite {

  private val day = 86400000L

  /** url i re-crawled `days` days later, carrying the text of another page. */
  private def recrawl(i: Long, days: Int): Page = {
    val p = PagesGen.page(i)
    val other = PagesGen.page(i + 100000L * days)
    Page(p.url, new Timestamp(p.warc_ts.getTime + days * day), other.html, other.text, p.lang)
  }

  /** The pages of `ids`, with the ids in `recrawled` at their recrawl. */
  private def contents(ids: Seq[Long], recrawled: Map[Long, Int]): DataFrame = {
    import spark.implicits._
    ids.map(i => recrawled.get(i).fold(PagesGen.page(i))(recrawl(i, _))).toDF()
  }

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

  test("close() leaves the store usable: put, delete, search and compact after it") {
    import spark.implicits._
    val root = Files.createTempDirectory("lucy-store-close").toString + "/store"
    val store = new LucyStore(spark, root)
    def check(ids: Seq[Long], recrawled: Map[Long, Int], ctx: String): Unit = {
      val want = contents(ids, recrawled)
      probes.foreach { case (q, m, k) =>
        assertSame(store.search(q, m, k), naiveOver(want, q, m, k), s"$ctx[$q/$m]")
      }
    }
    store.bootstrap(PagesGen.pages(spark, 200))
    check(0L until 200L, Map.empty, "bootstrap")
    store.close()

    // a put of new urls and recrawls, then a delete of a recrawled and a
    // base url, each committed and searchable after close()
    store.put(((0L until 200L by 7).map(recrawl(_, 1)) ++ (200L until 240L).map(PagesGen.page)).toDF(),
      batchId = 0L)
    val recrawled = (0L until 200L by 7).map(_ -> 1).toMap
    check(0L until 240L, recrawled, "put after close")
    store.delete(Seq(PagesGen.page(14).url, PagesGen.page(15).url))
    val live = (0L until 240L).filterNot(Set(14L, 15L))
    check(live, recrawled, "delete after close")
    store.compact()
    check(live, recrawled, "compact after close")
    store.close()
  }

  test("the part cache outlives the view: a put scans only its delta, a delete runs no job, compaction retires the base") {
    import spark.implicits._
    val root = Files.createTempDirectory("lucy-store-cache").toString + "/store"
    val store = new LucyStore(spark, root)
    val (q, m, k) = ("spark shuffle", QueryMode.And, 10)
    store.bootstrap(PagesGen.pages(spark, 200))
    val base = store.view.parts.head.dir
    assertSame(store.search(q, m, k), naiveOver(contents(0L until 200L, Map.empty), q, m, k), "bootstrap")
    val baseEntry = store.partCache.get(base, "spark")
    assert(baseEntry.flatMap(_.streams).exists(_.nonEmpty), "the base's gathered blocks are cached")

    // a put of new urls and recrawls (which mask base rows): the repeated
    // query reads only the new delta, and the base's entry is the same one
    val recrawled = (0L until 200L by 4).map(_ -> 1).toMap
    store.put((recrawled.keys.toSeq.sorted.map(recrawl(_, 1)) ++ (200L until 250L).map(PagesGen.page)).toDF(),
      batchId = 0L)
    // (a gather's answer is a LocalRelation: all its jobs run inside search)
    val (afterPut, putJobs, plans) = plansIn(store.search(q, m, k))
    val scanned = plans.flatMap(scannedPaths)
    assert(putJobs >= 1 && scanned.nonEmpty, "the new delta is read")
    assert(scanned.forall(_.contains("/deltas/delta-0/")), s"scans outside the new delta: $scanned")
    assert(store.partCache.get(base, "spark").exists(e => baseEntry.exists(_ eq e)), "the base's entry survives")
    val live = 0L until 250L
    assertSame(afterPut, naiveOver(contents(live, recrawled), q, m, k), "put")

    // a delete changes only masks: the repeated query runs no job
    store.delete(Seq(PagesGen.page(8).url, PagesGen.page(9).url, PagesGen.page(210).url))
    val afterDelete = live.filterNot(Set(8L, 9L, 210L))
    val (afterDel, deleteJobs) = jobsIn(store.search(q, m, k))
    assert(deleteJobs === 0, "every (part, term) pair hits the part cache")
    assertSame(afterDel, naiveOver(contents(afterDelete, recrawled), q, m, k), "delete")

    // compaction retires the base and the delta: their entries leave
    store.compact()
    assertSame(store.search(q, m, k), naiveOver(contents(afterDelete, recrawled), q, m, k), "compact")
    val newBase = store.view.parts.map(_.dir)
    assert(newBase.length === 1 && newBase.head != base)
    assert(store.partCache.get(base, "spark").isEmpty && store.partCache.get(s"$root/deltas/delta-0", "spark").isEmpty,
      "the retired parts' entries leave")
    assert(store.partCache.get(newBase.head, "spark").nonEmpty)
    store.close()
    assert(store.partCache.sizeBytes === 0L, "close() clears the part cache")
  }

  test("searches racing put, delete, close() and compact see one state the store passed through") {
    import spark.implicits._
    val root = Files.createTempDirectory("lucy-store-race").toString + "/store"
    val store = new LucyStore(spark, root)
    // states in commit order; compaction does not change the contents
    val boot = 0L until 200L
    val put0 = (0L until 200L by 5).map(_ -> 1).toMap
    val afterPut0 = 0L until 260L
    val deleted = Set(10L, 11L, 120L, 121L, 122L)
    val afterDelete = afterPut0.filterNot(deleted)
    val put1 = put0 ++ (30L until 60L by 3).map(_ -> 2) ++ Map(10L -> 2)
    val afterPut1 = afterDelete :+ 10L
    val states = Seq(boot -> Map.empty[Long, Int], afterPut0 -> put0,
      afterDelete -> put0, afterPut1 -> put1)

    def rows(df: DataFrame) =
      df.collect().toSeq.map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getInt(2)))
    val answers = probes.map { case (q, m, k) =>
      states.map { case (ids, rc) => rows(naiveOver(contents(ids, rc), q, m, k)) }
    }
    store.bootstrap(PagesGen.pages(spark, 200))

    @volatile var done = false
    val seen = probes.map(_ => new java.util.concurrent.ConcurrentLinkedQueue[Seq[(Long, Long, Int)]]())
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val searchers = probes.zipWithIndex.map { case ((q, m, k), i) =>
      new Thread(() =>
        try while (!done) seen(i).add(rows(store.search(q, m, k)))
        catch { case t: Throwable => failures.add(t) }, s"searcher-$m")
    }
    searchers.foreach(_.start())
    try {
      store.put(put0.keys.toSeq.sorted.map(recrawl(_, 1)).toDF()
        .union((200L until 260L).map(PagesGen.page).toDF()), batchId = 0L)
      store.delete(deleted.toSeq.map(PagesGen.page(_).url))
      store.close()
      store.put(((30L until 60L by 3) :+ 10L).map(recrawl(_, 2)).toDF(), batchId = 1L)
      store.compact()
      Thread.sleep(500) // the last state gets searched too
    } finally {
      done = true
      searchers.foreach(_.join())
    }
    assert(failures.isEmpty, s"a search threw: ${failures.peek()}")

    // each searcher's answers walk the states forward: a search never
    // sees a state older than one its thread already saw
    val walked = probes.zip(answers).zip(seen).map { case (((q, m, _), want), got) =>
      assert(!got.isEmpty, s"race[$q/$m]: no search completed")
      var at = 0
      val visited = scala.collection.mutable.LinkedHashSet[Int]()
      got.forEach { a =>
        val next = want.indexWhere(_ == a, at)
        assert(next >= 0, s"race[$q/$m]: an answer matches no state from $at on: $a")
        at = next
        visited += next
      }
      visited.size
    }
    assert(walked.exists(_ > 1), "the searches overlapped the mutations")
    store.close()
  }
}
