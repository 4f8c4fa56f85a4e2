package lucy.query

import java.nio.file.Files
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import lucy.{LucySpec, LucyStore, SparkFunSuite}
import lucy.fixtures.PagesGen
import lucy.index.{IndexBuilder, LucyIndex}
import lucy.stream.IncrementalIndexer

/** J4 url join-back: the engine's top-k, in order, with urls read from
  * the engine's own view.
  */
class UrlJoinSpec extends SparkFunSuite {

  private lazy val tmp = Files.createTempDirectory("lucy-urls").toString

  private lazy val index = {
    IndexBuilder.build(PagesGen.pages(spark, 300), s"$tmp/idx")
    LucyIndex(s"$tmp/idx")
  }

  test("searchWithUrls keeps the top-k rows, order and columns; a warm call runs one job") {
    val engine = new QueryEngine(spark, index)
    val withUrls = engine.searchWithUrls("spark shuffle", QueryMode.Or, 10)
    assert(withUrls.schema.map(f => (f.name, f.dataType)) === Seq("docId" -> LongType,
      "score" -> DoubleType, "nTerms" -> IntegerType, "url" -> StringType))
    val got = withUrls.collect()
    val top = engine.search("spark shuffle", QueryMode.Or, 10).collect()
    assert(got.length === 10)
    assert(got.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq ===
      top.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq)
    got.foreach(r => assert(LucySpec.docIdForUrl(r.getString(3)) === r.getLong(0)))

    // terms cached, so the one job is the pruned docmap read
    val (again, jobs) = jobsIn(engine.searchWithUrls("spark shuffle", QueryMode.Or, 10).collect())
    assert(jobs === 1)
    assert(again.toSeq === got.toSeq)

    val empty = engine.searchWithUrls("the and", QueryMode.And, 10)
    assert(empty.schema === withUrls.schema)
    assert(empty.collect().isEmpty)
  }

  test("LucyStore.searchWithUrls joins against the engine's view, not a newer one") {
    val root = s"$tmp/store"
    val store = new LucyStore(spark, root)
    try {
      import spark.implicits._
      store.bootstrap(PagesGen.pages(spark, 200))
      store.put(spark.range(200, 240).as[Long].map(PagesGen.page _).toDF(), batchId = 0L)
      store.delete(Seq("https://example.org/p/1"))
      val before = store.searchWithUrls("spark shuffle", QueryMode.And, 3).collect()
      assert(before.nonEmpty)
      // a warm call over base + delta + tombstones reads the urls in
      // one job: the pruned docmap read
      val (repeat, jobs) = jobsIn(store.searchWithUrls("spark shuffle", QueryMode.And, 3).collect())
      assert(jobs === 1)
      assert(repeat.toSeq === before.toSeq)
      // a mutation the cached engine has not seen yet
      IncrementalIndexer.deleteUrls(spark, root, Seq(before.head.getString(3)))
      val after = store.searchWithUrls("spark shuffle", QueryMode.And, 3).collect()
      assert(after.toSeq === before.toSeq)
    } finally store.close()
  }
}
