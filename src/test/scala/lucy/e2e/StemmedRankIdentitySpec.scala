package lucy.e2e

import java.nio.file.Files
import lucy.SparkFunSuite
import lucy.fixtures.PagesGen
import lucy.index._
import lucy.query._

/** Stemming-ON rank identity (§8.7 r3; VERDICT r2 #6): the frozen
  * default is stemming=false, but SURVEY.md §0.1 reconciliation may
  * demand a flip. This spec proves the flip is already wired end-to-end:
  * the Porter-stemmed pipeline (IndexConfig.stemming=true + the stem
  * query flag) reproduces the committed golden_queries_stem.json for
  * BOTH engines on the same frozen corpus and query set — so
  * reconciliation is one LucySpec val change plus zero code.
  */
class StemmedRankIdentitySpec extends SparkFunSuite {

  private lazy val goldens: Map[String, Golden] = {
    import spark.implicits._
    spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[Golden]].schema)
      .json("src/test/resources/golden_queries_stem.json")
      .as[Golden].collect().map(g => g.id -> g).toMap
  }

  private lazy val env = {
    val pages = PagesGen.pages(spark, lucy.tools.GenGoldens.corpusSize)
    val dir = Files.createTempDirectory("lucy-rank-stem").toString + "/idx"
    IndexBuilder.build(pages, dir,
      IndexConfig(saltDfThreshold = 200, maxSalts = 8, stemming = true))
    val cleaned = Ingest.cleanPages(pages, stem = true)
    val docmap = Ingest.docmap(cleaned)
    (LucyIndex(dir), Ingest.termTf(cleaned), Ingest.tokPos(cleaned), docmap,
      Stats.corpusStats(docmap))
  }

  test("stemming relabels the fixture vocab bijectively: goldens coincide, vocabulary differs") {
    assert(goldens.keySet === QuerySet.reference.map(_.id).toSet)
    // On THIS corpus Porter maps every fixture-vocab word to a DISTINCT
    // stem (verified: zero merges), so tf/df/docLen — hence every BM25
    // score and docId — are invariant under the flip and the stem
    // goldens equal the default goldens byte-for-byte. Pin the theorem
    // AND pin that the pipeline really runs on stemmed terms, so the
    // coincidence can never mask a dead flag.
    import spark.implicits._
    val plain = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[Golden]].schema)
      .json("src/test/resources/golden_queries.json")
      .as[Golden].collect().map(g => g.id -> g).toMap
    QuerySet.reference.foreach(q =>
      assert(plain(q.id).hits.toSeq === goldens(q.id).hits.toSeq,
        s"${q.id}: bijective relabeling must leave hits invariant"))

    val (index, termTf, _, _, _) = env
    val vocab = index.termStats(spark).select("term").collect().map(_.getString(0)).toSet
    assert(vocab.contains("shuffl") && !vocab.contains("shuffle"),
      "the index must hold STEMMED terms")
    assert(termTf.select("term").distinct().collect().map(_.getString(0)).toSet === vocab)
  }

  test("stemming buys inflected-query robustness (the observable flip effect)") {
    val (index, termTf, _, docmap, stats) = env
    // "shuffling" never occurs in the corpus surface forms; under
    // stemming it reaches the "shuffl" postings — identically to
    // "shuffle" — in BOTH engines. Without stemming it matches nothing.
    val a = NaiveSearch.search(termTf, docmap, stats, "shuffling", QueryMode.And, 10, stem = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val b = NaiveSearch.search(termTf, docmap, stats, "shuffle", QueryMode.And, 10, stem = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.nonEmpty && a.toSeq === b.toSeq)
    val fast = Searcher.search(spark, index, "shuffling", QueryMode.And, 10, stem = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fast.toSeq === a.toSeq)
    assert(NaiveSearch.search(termTf, docmap, stats, "shuffling", QueryMode.And, 10,
      stem = false).collect().isEmpty, "unstemmed query form must miss the stemmed index")
  }

  test("searching the stemmed index unstemmed fails loudly, naming the dir and both flags") {
    val (index, _, _, _, _) = env
    assert(index.manifest(spark).get.stemming === Some(true))
    val calls = Seq[(String, () => Any)](
      "Searcher.search" -> (() => Searcher.search(spark, index, "shuffle", QueryMode.And, 10,
        stem = false)),
      "QueryEngine" -> (() => new QueryEngine(spark, CompositeIndex(Seq(index)), stem = false)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(index.dir), name)
      assert(e.getMessage.contains("stemming=true") && e.getMessage.contains("stemming=false"), name)
    }
    new QueryEngine(spark, index, stem = true) // the matching flag passes
  }

  test("naive engine (stemming=true) is rank-identical to the stem goldens") {
    val (_, termTf, tokPos, docmap, stats) = env
    QuerySet.reference.foreach { q =>
      val got = NaiveSearch.forQuery(termTf, tokPos, docmap, stats, q.query, q.mode, q.k,
        stem = true)
        .collect().map(r => GoldenHit(r.getLong(0),
          java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getInt(2)))
      assert(got.toSeq === goldens(q.id).hits.toSeq, s"naive-stem ${q.id}")
    }
  }

  test("WAND fast path (stemmed index + stemmed queries) is rank-identical to the stem goldens") {
    val (index, _, _, _, _) = env
    QuerySet.reference.foreach { q =>
      val got = Searcher.search(spark, index, q.query, q.mode, q.k, stem = true)
        .collect().map(r => GoldenHit(r.getLong(0),
          java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getInt(2)))
      assert(got.toSeq === goldens(q.id).hits.toSeq, s"wand-stem ${q.id}")
    }
  }
}
