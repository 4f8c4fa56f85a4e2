package lucy.e2e

import java.nio.file.Files
import lucy.SparkFunSuite
import lucy.fixtures.PagesGen
import lucy.index._
import lucy.query._
import lucy.stream.IncrementalIndexer

/** Hostile-shape corpora through the FULL pipeline: multi-byte varint
  * territory (tf > 127, docLen > 16383), empty documents, single-token
  * documents, and salted composites — each checked bit-equal against
  * the naive engine.
  */
class EdgeCaseSpec extends SparkFunSuite {

  private lazy val tmp = Files.createTempDirectory("lucy-edge").toString

  test("extreme tf and docLen: multi-byte varints end-to-end") {
    import spark.implicits._
    val pages = (0 until 60).map { i =>
      val text = i % 4 match {
        case 0 => ("spark " * 500) + "needle"            // tf=500 (2-byte tf varint)
        case 1 => ("filler" + i + " ") * 17000 + "spark" // docLen > 16383 (3-byte dl varint)
        case 2 => ""                                      // empty doc (docLen 0, in docmap)
        case _ => "spark"                                 // single token
      }
      (s"u$i", new java.sql.Timestamp(i * 1000L), null.asInstanceOf[Array[Byte]], text, "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
    val dir = s"$tmp/extreme"
    val m = IndexBuilder.build(pages, dir)
    assert(m.docs === 60) // empty docs stay in the docmap
    val idx = LucyIndex(dir)
    val cleaned = Ingest.cleanPages(pages)
    val (docmap, termTf) = (Ingest.docmap(cleaned), Ingest.termTf(cleaned))
    val stats = Stats.corpusStats(docmap)
    for ((q, mode, k) <- Seq(("spark", QueryMode.And, 60), ("needle spark", QueryMode.And, 10),
      ("needle filler3", QueryMode.Or, 10))) {
      assertSame(Searcher.search(spark, idx, q, mode, k),
        NaiveSearch.search(termTf, docmap, stats, q, mode, k), s"extreme[$q]")
    }
  }

  test("salted base + salted deltas composite, queried and compacted") {
    import spark.implicits._
    val root = s"$tmp/saltycomposite"
    val cfg = IndexConfig(saltDfThreshold = 40, maxSalts = 8)
    IncrementalIndexer.bootstrap(PagesGen.pages(spark, 300), root, cfg)
    val delta = spark.range(300L, 500L).as[Long].map(PagesGen.page _).toDF()
    IncrementalIndexer.indexBatch(delta, root, 0L, cfg)
    val comp = IncrementalIndexer.composite(spark, root)
    // salting engaged in both parts
    assert(comp.parts.length === 2)
    comp.parts.foreach(p => assert(p.segments(spark).select("salt").distinct().count() > 1, p.dir))

    val all = PagesGen.pages(spark, 500)
    val cleaned = Ingest.cleanPages(all)
    val (docmap, termTf) = (Ingest.docmap(cleaned), Ingest.termTf(cleaned))
    val stats = Stats.corpusStats(docmap)
    for ((q, mode) <- Seq(("spark shuffle", QueryMode.And), ("the spark", QueryMode.Or),
      ("index posting term", QueryMode.Or))) {
      assertSame(Searcher.search(spark, comp, q, mode, 15),
        NaiveSearch.search(termTf, docmap, stats, q, mode, 15), s"salted-comp[$q]")
    }
    IncrementalIndexer.compact(spark, root, cfg)
    val after = IncrementalIndexer.composite(spark, root)
    for ((q, mode) <- Seq(("spark shuffle", QueryMode.And), ("the spark", QueryMode.Or))) {
      assertSame(Searcher.search(spark, after, q, mode, 15),
        NaiveSearch.search(termTf, docmap, stats, q, mode, 15), s"salted-compacted[$q]")
    }
  }

  test("null text == empty text across the text-analysis operators (r4, PF4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import lucy.pipeline.{Dedup, TextAnalysis}
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
    def row(df: org.apache.spark.sql.DataFrame, cols: String*) = {
      val m = df.select(col("doc_id") +: cols.map(col): _*)
        .collect().map(r => r.getLong(0) -> cols.indices.map(i => r.get(i + 1))).toMap
      assert(m(1L) === m(2L), s"null and empty text must agree on ${cols.mkString(",")}")
      m(1L)
    }
    assert(row(TextAnalysis.langId(docs), "n_tokens", "stop_ratio", "predicted_lang")
      === Seq(0, 0.0, "unknown"))
    // a contentless doc scores 0.0 — the null-ignoring least() used to
    // give NULL text a len_score of 1.0 and quality 0.4
    assert(row(TextAnalysis.qualityScore(docs), "quality") === Seq(0.0))
    assert(row(TextAnalysis.tokenCounts(docs), "ws_tokens", "word_tokens", "bpe_ish_tokens")
      === Seq(1, 0, 1))
    assert(row(TextAnalysis.fingerprints(TextAnalysis.simhashes(docs)), "fingerprint", "simhash")
      === Seq(1125899906842597L, 0L))
    // sketch dedups: no shingles -> no candidate pairs, no crash
    assert(Dedup.ngramJaccardPairs(docs).count() === 0L)
    assert(Dedup.simhashPairs(docs).count() >= 0L)
  }
}
