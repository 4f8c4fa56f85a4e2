package lucy.stream

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import lucy.SparkFunSuite
import lucy.fixtures.{Page, PagesGen}
import lucy.index._
import lucy.query.{NaiveSearch, QueryMode, Searcher}

/** Streaming increments ≡ batch build (SURVEY.md §5.2 "e2e: streaming"):
  * 3 micro-batches unioned at query time, then compacted, must match the
  * single batch build bit-for-bit on query results.
  */
class IncrementalSpec extends SparkFunSuite {

  private lazy val tmp = Files.createTempDirectory("lucy-inc").toString

  private val queries = Seq(
    ("spark shuffle", QueryMode.And, 10),
    ("index posting", QueryMode.Or, 15),
    ("wand", QueryMode.Or, 10))

  test("3 url-disjoint micro-batches == 1 batch build; compaction preserves") {
    import spark.implicits._
    val root = s"$tmp/disjoint"
    val all = PagesGen.pages(spark, 450)

    // drive via a real streaming query: MemoryStream of doc ordinals
    val stream = MemoryStream[Long](spark)
    val pagesStream = stream.toDS().map(PagesGen.page _).toDF()
    val q = IncrementalIndexer.start(pagesStream, root, s"$root/ckpt")
    try {
      stream.addData(0L until 150L: _*); q.processAllAvailable()
      stream.addData(150L until 300L: _*); q.processAllAvailable()
      stream.addData(300L until 450L: _*); q.processAllAvailable()
    } finally q.stop()

    assert(IncrementalIndexer.listDeltas(spark, root).map(_._1) === Seq(0L, 1L, 2L))
    val composite = IncrementalIndexer.composite(spark, root)

    // reference: naive engine over the full corpus
    val cleaned = Ingest.cleanPages(all)
    val (docmap, termTf) = (Ingest.docmap(cleaned), Ingest.termTf(cleaned))
    val stats = Stats.corpusStats(docmap)
    assert(composite.corpusStats(spark) === stats)
    for ((qs, m, k) <- queries) {
      assertSame(Searcher.search(spark, composite, qs, m, k),
        NaiveSearch.search(termTf, docmap, stats, qs, m, k), s"pre-compact[$qs]")
    }

    // compact → single-base composite, same results
    val cm = IncrementalIndexer.compact(spark, root)
    assert(cm.docs === stats.n)
    val after = IncrementalIndexer.composite(spark, root)
    assert(after.parts.length === 1)
    for ((qs, m, k) <- queries) {
      assertSame(Searcher.search(spark, after, qs, m, k),
        NaiveSearch.search(termTf, docmap, stats, qs, m, k), s"post-compact[$qs]")
    }
  }

  test("windowed ingest metrics with watermark (ST2/ST3)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stream = MemoryStream[Long](spark)
    val pagesStream = stream.toDS().map(PagesGen.page _).toDF()
    val q = IndexingMetrics.docsPerWindow(pagesStream, "1 minute", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("ingest_metrics").start()
    try {
      // warc_ts = epoch + i seconds → i in [0, 300) spans 5 one-minute windows
      stream.addData(0L until 300L: _*)
      // advance the watermark far enough to close them
      stream.addData(5000L, 5001L)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql("select * from ingest_metrics").collect()
    val total = rows.map(_.getLong(3)).sum
    assert(total === 300L) // all 5 closed windows emitted, all langs
    assert(rows.map(_.getString(2)).toSet.contains("en"))
    // per-window totals are 60 docs across langs
    val perWindow = rows.groupBy(_.getTimestamp(0)).view.mapValues(_.map(_.getLong(3)).sum)
    assert(perWindow.values.toSet === Set(60L))
  }

  test("ST5: streaming session windows close on watermark == batch sessionize (r4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val stream = MemoryStream[(Int, Long)](spark)
    val ev = stream.toDS().toDF("user_id", "off")
      .select(col("user_id"), timestamp_seconds(col("off")).as("ts"), lit(2.5).as("value"))
    val q = ev.withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      // user 1: two events 10 s apart (one session), one isolated event;
      // user 2: one event. Then a far-future event closes everything.
      stream.addData((1, 0L), (1, 10L), (1, 100L), (2, 5L))
      q.processAllAvailable()
      stream.addData((1, 10000L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql(
      """select user_id, unix_seconds(session_window.start) as s,
        |unix_seconds(session_window.end) as e, n_events, total_value
        |from sessions""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    // session end = last event + gap (Spark session-window semantics)
    assert(got === Set((1, 0L, 40L, 2L, 5.0), (1, 100L, 130L, 1L, 2.5), (2, 5L, 35L, 1L, 2.5)))

    // batch twin through the SAME operator surface: Relational.sessionize
    // over the equivalent static frame (closed sessions only)
    val static = Seq((1, 0L), (1, 10L), (1, 100L), (2, 5L))
      .toDF("user_id", "off")
      .select(col("user_id"), timestamp_seconds(col("off")).as("ts"), lit(2.5).as("value"))
    val batch = lucy.pipeline.Relational.sessionize(static, "30 seconds")
      .select(col("user_id"), unix_seconds(col("session_start")),
        unix_seconds(col("session_end")), col("n_events"), col("total_value"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(batch === got, "streaming closed sessions must equal the batch operator")
  }

  test("recrawled urls: compaction keeps the latest version") {
    import spark.implicits._
    val root = s"$tmp/recrawl"
    IncrementalIndexer.bootstrap(PagesGen.pages(spark, 120), root)
    // batch 0: recrawls of the first 60 docs with a marker token
    IncrementalIndexer.indexBatch(PagesGen.recrawl(spark, 60, 1000000L), root, 0L)
    IncrementalIndexer.compact(spark, root)
    val idx = IncrementalIndexer.composite(spark, root)
    assert(idx.parts.length === 1)

    // reference: naive over the deduped union (latest warc_ts wins)
    val union = PagesGen.pages(spark, 120).unionByName(PagesGen.recrawl(spark, 60, 1000000L))
    val cleaned = Ingest.cleanPages(union)
    val (docmap, termTf) = (Ingest.docmap(cleaned), Ingest.termTf(cleaned))
    val stats = Stats.corpusStats(docmap)
    assert(idx.corpusStats(spark).n === stats.n) // no duplicate docs
    for ((qs, m, k) <- Seq(("recrawl", QueryMode.Or, 100), ("spark recrawl", QueryMode.And, 10))) {
      assertSame(Searcher.search(spark, idx, qs, m, k),
        NaiveSearch.search(termTf, docmap, stats, qs, m, k), s"recrawl[$qs]")
    }
    // exactly-once: replaying a batch id is a no-op
    val before = idx.segments(spark).count()
    IncrementalIndexer.indexBatch(PagesGen.recrawl(spark, 60, 1000000L), root, 0L)
    assert(IncrementalIndexer.composite(spark, root).segments(spark).count() === before)
  }

  test("deletes: masked view bit-equal to naive over survivors; compaction purges; re-add") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = s"$tmp/deletes"
    val all = PagesGen.pages(spark, 300)
    IncrementalIndexer.bootstrap(all, root)

    // delete every 5th url (hits head and tail terms alike)
    val delUrls = (0L until 300L by 5).map(i => s"https://example.org/p/$i")
    IncrementalIndexer.deleteUrls(spark, root, delUrls)
    val masked = IncrementalIndexer.composite(spark, root)
    assert(masked.masks.map(_.length).sum === delUrls.length, "registered deletes must mask the view")

    // the oracle: naive engine over the surviving corpus only
    val surviving = all.filter(!col("url").isin(delUrls.map(_.asInstanceOf[Any]): _*))
    val cleaned = Ingest.cleanPages(surviving).cache()
    val (docmap, termTf) = (Ingest.docmap(cleaned), Ingest.termTf(cleaned))
    val stats = Stats.corpusStats(docmap)
    queries.foreach { case (qs, m, k) =>
      assertSame(
        Searcher.search(spark, masked, qs, m, k),
        NaiveSearch.search(termTf, docmap, stats, qs, m, k), s"masked[$qs]")
    }
    // a deleted doc never surfaces even with k ≫ matches
    val deletedIds = delUrls.map(lucy.LucySpec.docIdForUrl).toSet
    val big = Searcher.search(spark, masked, "spark", QueryMode.Or, 500)
      .collect().map(_.getLong(0)).toSet
    assert(big.intersect(deletedIds).isEmpty)

    // compaction physically purges: tombstone log cleared, postings gone
    IncrementalIndexer.compact(spark, root)
    val after = IncrementalIndexer.composite(spark, root)
    assert(after.masks.forall(_.isEmpty), "purged log must not mask")
    assert(IncrementalIndexer.readTombstones(spark, root).isEmpty, "log purged")
    assert(after.docmap(spark).count() === docmap.count())
    val decodedIds = after.segments(spark).drop("srcPart").as[SegmentRow]
      .flatMap(r => PostingBlock.decode(r.toBlock).docIds).collect().toSet
    assert(decodedIds.intersect(deletedIds).isEmpty, "purge must drop postings")
    queries.foreach { case (qs, m, k) =>
      assertSame(
        Searcher.search(spark, after, qs, m, k),
        NaiveSearch.search(termTf, docmap, stats, qs, m, k), s"compacted[$qs]")
    }

    // re-add a deleted url after compaction: it scores again
    IncrementalIndexer.indexBatch(
      spark.range(0, 1).as[Long].map(PagesGen.page _).toDF(), root, 77L)
    val readded = IncrementalIndexer.composite(spark, root)
    val hits = Searcher.search(spark, readded, "spark", QueryMode.Or, 500)
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(lucy.LucySpec.docIdForUrl("https://example.org/p/0")))
    cleaned.unpersist()
  }

  test("ST4: replaying upstream across batches does not double-count df/cf") {
    import spark.implicits._
    val root = s"$tmp/st4"
    val stream = MemoryStream[Long](spark)
    val pagesStream = stream.toDS().map(PagesGen.page _).toDF()
    val q = IncrementalIndexer.start(pagesStream, root, s"$root/ckpt",
      IndexConfig(streamDedupWatermark = Some("10 hours")))
    try {
      stream.addData(0L until 100L: _*); q.processAllAvailable()
      // a replaying source re-delivers the SAME 100 pages in a new batch
      stream.addData(0L until 100L: _*); q.processAllAvailable()
      // plus genuinely new docs so the second batch isn't empty
      stream.addData(100L until 150L: _*); q.processAllAvailable()
    } finally q.stop()

    val idx = IncrementalIndexer.composite(spark, root)
    // reference: each doc indexed exactly once
    val cleaned = Ingest.cleanPages(PagesGen.pages(spark, 150))
    val stats = Stats.corpusStats(Ingest.docmap(cleaned))
    assert(idx.corpusStats(spark) === stats, "replay must not inflate N/avgdl")
    val expectedDf = Ingest.termTf(cleaned).groupBy($"term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotDf = idx.lookupTerms(spark, expectedDf.keys.toSeq).map { case (t, st) => t -> st.df }
    assert(gotDf === expectedDf, "replay must not inflate df")
    assert(idx.termStats(spark).select("term").distinct().as[String].collect().toSet
      === expectedDf.keySet, "no term beyond the reference vocabulary")
  }

  test("pointer: generational commits survive crash windows; lost pointer recovers (ADVICE r1)") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val root = s"$tmp/pointer"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    IncrementalIndexer.bootstrap(PagesGen.pages(spark, 120), root)
    assert(IncrementalIndexer.readCurrent(spark, root)
      === Some(IncrementalIndexer.CurrentPointer(0L, -1L)))

    // a torn write (new generation dir without _SUCCESS) must not hide
    // the last committed pointer — the old overwrite-in-place scheme did
    fs.mkdirs(new Path(s"$root/current/p-99"))
    assert(IncrementalIndexer.readCurrent(spark, root).map(_.gen) === Some(0L))
    fs.delete(new Path(s"$root/current/p-99"), true)

    // delta + compact → a NEW pointer generation commits, old pruned to ≤2
    IncrementalIndexer.indexBatch(
      spark.range(120, 160).as[Long].map(PagesGen.page _).toDF(), root, 0L)
    IncrementalIndexer.compact(spark, root)
    assert(IncrementalIndexer.readCurrent(spark, root).map(_.gen) === Some(1L))
    val gens = fs.listStatus(new Path(s"$root/current")).map(_.getPath.getName)
    assert(gens.length <= 2, s"old pointer generations must be pruned: ${gens.mkString(",")}")

    // stray dirs are not generations: a non-numeric delta dir and a base
    // dir without the gen- prefix (even one holding a manifest) are ignored
    fs.mkdirs(new Path(s"$root/deltas/delta-tmp"))
    Manifest.writeBuild(spark, s"$root/base/7", LucyIndex(s"$root/base/gen-1").manifest(spark).get)
    assert(IncrementalIndexer.listDeltas(spark, root).map(_._1) === Seq(0L))

    // pointer dir lost entirely → composite recovers the highest base gen
    fs.delete(new Path(s"$root/current"), true)
    assert(IncrementalIndexer.readCurrent(spark, root) === None)
    val comp = IncrementalIndexer.composite(spark, root)
    assert(comp.parts.exists(_.dir.endsWith("gen-1")), "recovered view must serve the base")
    assert(comp.segments(spark).count() > 0)

    // ADVICE r2: the recovered frontier comes from the base generation's
    // OWN manifest, so the already-compacted delta-0 is NOT re-included —
    // df (hence idf) is exact, not merely per-doc-deduplicated
    assert(comp.parts.length === 1, "compacted delta must not be re-included on recovery")
    val cleaned160 = Ingest.cleanPages(PagesGen.pages(spark, 160))
    val wantDf = Ingest.termTf(cleaned160).groupBy($"term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val recDf = comp.lookupTerms(spark, wantDf.keys.toSeq).map { case (t, st) => t -> st.df }
    assert(recDf === wantDf, "recovered view df must be exact (ADVICE r2 double-count)")
    assert(comp.termStats(spark).select("term").distinct().as[String].collect().toSet
      === wantDf.keySet, "no term beyond the reference vocabulary")
  }
}
