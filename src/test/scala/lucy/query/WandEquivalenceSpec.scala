package lucy.query

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import lucy.SparkFunSuite
import lucy.fixtures.PagesGen
import lucy.index._

/** THE most important test in the repo (SURVEY.md §4.4): the WAND fast
  * path must equal the exhaustive naive engine exactly — same top-k
  * docIds, bit-equal Double scores, same (score DESC, docId ASC) order —
  * over generated corpora, both modes, salted and unsalted indexes.
  */
class WandEquivalenceSpec extends SparkFunSuite {

  private lazy val tmp = Files.createTempDirectory("lucy-eq").toString

  private case class Env(index: LucyIndex, termTf: DataFrame, tokPos: DataFrame,
                         docmap: DataFrame, stats: CorpusStats)

  private def buildBoth(n: Long, cfg: IndexConfig, tag: String): Env = {
    val pages = PagesGen.pages(spark, n)
    val dir = s"$tmp/$tag"
    IndexBuilder.build(pages, dir, cfg)
    val cleaned = Ingest.cleanPages(pages)
    Env(LucyIndex(dir), Ingest.termTf(cleaned), Ingest.tokPos(cleaned),
      Ingest.docmap(cleaned), Stats.corpusStats(Ingest.docmap(cleaned)))
  }

  private val queries = Seq(
    ("spark", QueryMode.And, 10),
    ("spark shuffle", QueryMode.Phrase, 10),      // head-head phrase
    ("wand heap", QueryMode.Phrase, 10),          // tail phrase
    ("spark the shuffle", QueryMode.Phrase, 10),  // stopword elision
    ("spark spark", QueryMode.Phrase, 10),        // repeated slot
    ("spark zzznotfound", QueryMode.Phrase, 10),  // absent term
    ("the and", QueryMode.Phrase, 10),            // stopword-only phrase
    ("wa", QueryMode.Prefix, 10),                 // wand/warc/watermark
    ("s", QueryMode.Prefix, 25),                  // broad expansion
    ("zzz", QueryMode.Prefix, 10),                // no matching terms
    ("spark shuffle", QueryMode.And, 10),
    ("spark shuffle", QueryMode.Or, 10),
    ("spark shuffle partition index", QueryMode.And, 10),
    ("spark shuffle partition index", QueryMode.Or, 25),
    ("wand heap", QueryMode.And, 5),
    ("varint", QueryMode.Or, 100),
    ("snippet anchor entity", QueryMode.Or, 10),   // tail terms
    ("the spark and shuffle", QueryMode.And, 10),  // stopword-laden
    ("Spark, SHUFFLE!", QueryMode.Or, 10),         // punctuation/case
    ("spark spark shuffle", QueryMode.And, 10),    // duplicate terms
    ("zzznotfound", QueryMode.Or, 10),             // absent term
    ("spark zzznotfound", QueryMode.And, 10),      // absent term AND
    ("spark zzznotfound", QueryMode.Or, 10),
    ("the and of", QueryMode.And, 10),             // stopword-only
    ("merge", QueryMode.And, 1),                   // k=1
    ("sort join scan", QueryMode.Or, 200),         // k > matches
    // r3 bench head-combinations (bucket-exchange shape at scale) —
    // property-forced through all shapes here too
    ("spark shuffle index", QueryMode.And, 10),
    ("spark shuffle index posting query", QueryMode.And, 10),
    ("spark shuffle index posting query merge", QueryMode.Or, 100)
  )

  /** Force an execution shape: gatherMax = Long.MaxValue → scatter-gather
    * (driver kernel); gatherMax = 0 → distributed (single-term scan-local
    * or multi-term bucket exchange).
    */
  private def searchForced(index: LucyIndex, q: String, m: QueryMode.Value, k: Int,
                           gatherMax: Long): DataFrame =
    new QueryEngine(spark, index, gatherMaxPostings = gatherMax).search(q, m, k)

  test("WAND == naive on a 600-doc corpus (unsalted), all execution shapes") {
    val env = buildBoth(600, IndexConfig(), "unsalted")
    queries.foreach { case (q, m, k) =>
      val naive = NaiveSearch.forQuery(env.termTf, env.tokPos, env.docmap, env.stats, q, m, k)
      assertSame(searchForced(env.index, q, m, k, Long.MaxValue), naive, s"gather[$q/$m/k=$k]")
      assertSame(searchForced(env.index, q, m, k, 0L), naive, s"dist[$q/$m/k=$k]")
    }
  }

  test("WAND == naive with aggressive salting (threshold 50, maxSalts 8)") {
    val env = buildBoth(600, IndexConfig(saltDfThreshold = 50, maxSalts = 8), "salted")
    // head terms have df ≫ 50 → multiple salt streams per term
    val salts = env.index.segments(spark).select("salt").distinct().count()
    assert(salts > 1, "salting must actually engage")
    queries.foreach { case (q, m, k) =>
      val naive = NaiveSearch.forQuery(env.termTf, env.tokPos, env.docmap, env.stats, q, m, k)
      assertSame(searchForced(env.index, q, m, k, Long.MaxValue), naive, s"salted-gather[$q/$m/k=$k]")
      assertSame(searchForced(env.index, q, m, k, 0L), naive, s"salted-dist[$q/$m/k=$k]")
    }
  }

  test("bucket routing arithmetic: numBuckets 1, 2, 3 cover [0, Long.MaxValue]") {
    for (nb <- Seq(1, 2, 3)) {
      val width = Searcher.bucketWidth(nb)
      assert(width > 0, s"numBuckets=$nb width must be positive, got $width")
      // every probe docId lands in exactly one bucket whose range contains it
      // docIds are 63-bit non-negative; drop probes that overflow (width+1
      // when width == Long.MaxValue)
      val probes = Seq(0L, 1L, width - 1, width, width + 1,
        Long.MaxValue - 1, Long.MaxValue).filter(_ >= 0).distinct
      probes.foreach { d =>
        val b = d / width
        val lo = b * width
        val hi = Searcher.bucketEndInclusive(b, width)
        assert(lo <= d && d <= hi, s"numBuckets=$nb docId=$d bucket=$b range=[$lo,$hi]")
      }
      // top bucket is end-inclusive at Long.MaxValue
      val topBucket = Long.MaxValue / width
      assert(Searcher.bucketEndInclusive(topBucket, width) === Long.MaxValue)
    }
  }

  test("kernel scores a document with docId == Long.MaxValue (end-inclusive ranges)") {
    // Hand-built postings: term 0 in docs {10, Long.MaxValue}, term 1 in
    // docs {10, 20, Long.MaxValue}. The ADVICE r1 bug treated MaxValue as
    // the exhausted sentinel and could never score it.
    def blocksFor(term: String, ti: Int, docs: Seq[Long]) =
      (ti, 0, PostingBlock.pack(lucy.Hashing.termHash(term), term, 0,
        docs.iterator.map(d => (d, 1, 5, PostingBlock.encodePositions(Array(0))))).toArray)
    val plan = QueryPlan(Array("aa", "bb"), Array(2L, 3L), n = 10, avgdl = 5.0,
      conjunctive = true, k = 10)
    val groups = Seq(
      blocksFor("aa", 0, Seq(10L, Long.MaxValue)),
      blocksFor("bb", 1, Seq(10L, 20L, Long.MaxValue)))
    val hits = lucy.query.Wand.topK(plan, groups, 0L, Long.MaxValue).toArray
    assert(hits.map(_.docId).sorted === Array(10L, Long.MaxValue))

    // OR mode too, and restricted ranges exclude / include the boundary
    val orPlan = plan.copy(conjunctive = false)
    val orHits = lucy.query.Wand.topK(orPlan, groups, 0L, Long.MaxValue).toArray
    assert(orHits.map(_.docId).sorted === Array(10L, 20L, Long.MaxValue))
    val below = lucy.query.Wand.topK(orPlan, groups, 0L, Long.MaxValue - 1).toArray
    assert(below.map(_.docId).sorted === Array(10L, 20L))
    val onlyTop = lucy.query.Wand.topK(orPlan, groups, Long.MaxValue, Long.MaxValue).toArray
    assert(onlyTop.map(_.docId) === Array(Long.MaxValue))
  }

  test("prefix expansion is tombstone-aware when the cap binds (ADVICE r2)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 200 docs, each carrying a unique zz-prefixed term → the "zz" prefix
    // matches 200 > maxPrefixExpand(128) terms. Deleting docs 10..69 fully
    // deletes 60 of the FIRST 128 raw expansion slots: a raw-stats
    // expansion would burn those slots and miss zz128..zz187, diverging
    // from the naive engine over the surviving corpus.
    val pages = (0 until 200).map { i =>
      (s"u$i", new java.sql.Timestamp(i * 1000L), null.asInstanceOf[Array[Byte]],
        f"zz$i%03d common filler", "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
    val dir = s"$tmp/prefixdel"
    IndexBuilder.build(pages, dir)
    val deletedUrls = (10 until 70).map(i => s"u$i")
    val tombstones = deletedUrls.map(lucy.LucySpec.docIdForUrl).sorted.toArray
    val tidx = TombstonedIndex(LucyIndex(dir), tombstones)

    val survivors = pages.filter(!col("url").isin(deletedUrls.map(_.asInstanceOf[Any]): _*))
    val cleaned = Ingest.cleanPages(survivors)
    val (docmap, termTf) = (Ingest.docmap(cleaned), Ingest.termTf(cleaned))
    val stats = Stats.corpusStats(docmap)
    val naive = NaiveSearch.prefixSearch(termTf, docmap, stats, "zz", 150)
    assert(naive.count() === 128, "expansion cap must bind on the surviving corpus")

    // ADVICE r2 routing fix: lookupTerms scores with the exact post-delete
    // df but preserves the raw df — the volume a gather/scan will touch
    val st = tidx.lookupTerms(spark, Seq("common"))("common")
    assert(st.df === 140L, "post-delete df")
    assert(st.gatherDf === 200L, "raw df for routing")

    assertSame(Searcher.search(spark, tidx, "zz", QueryMode.Prefix, 150), naive,
      "prefix+delete (direct)")

    // QueryEngine path: expansion cache keyed by (prefix, cap) — repeat
    // queries must reuse entries without crossing caps
    val eng = new QueryEngine(spark, tidx)
    assertSame(eng.search("zz", QueryMode.Prefix, 150), naive, "prefix+delete (engine)")
    assertSame(eng.search("zz", QueryMode.Prefix, 150), naive, "prefix+delete (engine, cached)")
  }

  test("prefix over-expansion at the ceiling: survivors-so-far, exact after compact (r4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import lucy.stream.IncrementalIndexer
    // 300 docs, each with a unique zz-prefixed term; deleting the first
    // 250 urls fully tombstones every term in the first ~250 ascending
    // expansion slots — the pathological fully-deleted run. With the
    // production ceiling (2^22) the over-expansion loop walks past it
    // (128 → 256 → 512 ⊇ all 300 matches) and stays exact; with the
    // ceiling pinned at 256 the loop must STOP and return the survivors
    // found in the first 256 raw slots only (zz250..zz255).
    val pages = (0 until 300).map { i =>
      (s"u$i", new java.sql.Timestamp(i * 1000L), null.asInstanceOf[Array[Byte]],
        f"zz$i%03d common filler", "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
    val root = s"$tmp/prefixceil"
    IncrementalIndexer.bootstrap(pages, root)
    IncrementalIndexer.deleteUrls(spark, root, (0 until 250).map(i => s"u$i"))
    val masked = IncrementalIndexer.composite(spark, root)

    val surviving = pages.filter(!col("url").isin((0 until 250).map(i => s"u$i": Any): _*))
    val cleaned = Ingest.cleanPages(surviving)
    val (docmap, termTf) = (Ingest.docmap(cleaned), Ingest.termTf(cleaned))
    val stats = Stats.corpusStats(docmap)
    val naive = NaiveSearch.prefixSearch(termTf, docmap, stats, "zz", 150)
    assert(naive.count() === 50, "50 surviving zz docs")

    // default ceiling: over-expansion exhausts the matches → exact
    assertSame(Searcher.search(spark, masked, "zz", QueryMode.Prefix, 150), naive,
      "prefix ceiling (default, exact)")

    def searchCeil(idx: SearchableIndex, ceiling: Int) =
      new QueryEngine(spark, idx, expandCeiling = ceiling).search("zz", QueryMode.Prefix, 150)

    // ceiling 256: partial result = survivors within the first 256 raw
    // slots, which score exactly like the OR query over those six terms
    // (prefix scoring IS disjunctive over the expanded set)
    val partialOracle = NaiveSearch.search(termTf, docmap, stats,
      (250 until 256).map(i => f"zz$i%03d").mkString(" "), QueryMode.Or, 150)
    assert(partialOracle.count() === 6)
    assertSame(searchCeil(masked, 256), partialOracle,
      "prefix ceiling (256, survivors-so-far)")

    // compact() purges the tombstones: the raw expansion then returns
    // only survivors, so even the tiny ceiling is exact again
    IncrementalIndexer.compact(spark, root)
    val compacted = IncrementalIndexer.composite(spark, root)
    assertSame(Searcher.search(spark, compacted, "zz", QueryMode.Prefix, 150), naive,
      "post-compact (default ceiling)")
    assertSame(searchCeil(compacted, 256), naive, "post-compact (ceiling 256)")
  }

  test("exact ties break by docId: duplicate documents") {
    import spark.implicits._
    // 40 identical docs + 10 others → guaranteed equal scores
    val pages = (0 until 50).map { i =>
      val text = if (i < 40) "alpha beta gamma" else "alpha delta epsilon zeta"
      (s"u$i", new java.sql.Timestamp(i * 1000L), null.asInstanceOf[Array[Byte]], text, "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
    val dir = s"$tmp/ties"
    IndexBuilder.build(pages, dir)
    val index = LucyIndex(dir)
    val cleaned = Ingest.cleanPages(pages)
    val (docmap, termTf) = (Ingest.docmap(cleaned), Ingest.termTf(cleaned))
    val stats = Stats.corpusStats(docmap)
    for ((m, k) <- Seq((QueryMode.And, 7), (QueryMode.Or, 13), (QueryMode.Or, 45))) {
      assertSame(
        Searcher.search(spark, index, "alpha beta", m, k),
        NaiveSearch.search(termTf, docmap, stats, "alpha beta", m, k),
        s"ties[$m/k=$k]")
    }
  }
}
