package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import lucy.fixtures.Page
import lucy.index.{Ingest, IndexBuilder, LucyIndex, Stats}
import lucy.query.{NaiveSearch, QueryEngine, Searcher}

/** serve: the batch user. A timed IndexBuilder.build, then a warm
  * QueryEngine answering the seeded mix, first from one client, then from
  * four; then the curation batch (near-dup detection and ANN), which only
  * per-layer metrics report.
  */
object Serve {
  val Pages = 44000L
  val WarmupPages = 300L

  def pageOff(bucket: Int): Long = bucket * 10000000L

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val t = c.tracer
    val off = pageOff(c.bucket)
    val mix = Mix.serve(c.bucket, off, Pages)
    val golden = Goldens.read(c.goldens, "serve", c.bucket)

    // Set-up: a small warm-up build, its engine warmed, a few queries.
    val (_, setupS) = Setup.three(c, "serve.setup") { i =>
      val dir = c.dir(s"warmup-$i")
      IndexBuilder.build(Mix.pages(spark, off + Pages + i * WarmupPages, WarmupPages), dir)
      val e = new QueryEngine(spark, LucyIndex(dir)).warm()
      mix.take(3).foreach(q => e.search(q.query, q.mode, q.k).collect())
    }
    c.put("setup_s", setupS, "s")
    spark.catalog.clearCache() // the warm-up engines' pins

    val dir = c.dir("index")
    val (m, buildMs) = Stat.timedMs {
      t.span("index.build", "build")(IndexBuilder.build(Mix.pages(spark, off, Pages), dir))
    }
    c.op(m.docs > 0 && m.postings > 0)
    c.put("ingest_docs_per_s", Pages / (buildMs / 1000.0), "docs/s")

    val index = LucyIndex(dir)
    val df = Mix.lookup(spark, index, mix)
    val shapes = mix.map(q => q.key -> Mix.shape(q, df)).toMap
    val engine = new QueryEngine(spark, index)
    val warmMs = Stat.timedMs(t.span("engine.warm", "warm")(engine.warm()))._2
    val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

    def search(phase: String)(q: Q): Searches.Done =
      Searches.one(c, q, Map("phase" -> phase, "shape" -> shapes(q.key)._1),
        golden.get(q.key).orElse(Some(IndexedSeq((-1L, -1L)))), strict = true)(
        engine.search(q.query, q.mode, q.k))

    c.log("built and warmed")
    Searches.phase(c, mix, 4, "warmup", 0.0)(search("warmup"))
    c.log("warm-up pass")
    val p1 = Searches.phase(c, mix, 1, "p1", c.seconds * 500.0, minPasses = 2)(search("p1"))
    val p2 = Searches.phase(c, mix, 4, "p2", c.seconds * 500.0, minPasses = 2)(search("p2"))
    c.log(s"phases: ${p1.done.length} + ${p2.done.length} searches")
    c.put("search_p50_ms", Stat.median(p1.latencies), "ms")
    c.put("search_qps", p2.qps, "1/s")
    Curate.batch(c)

    if (c.traced) {
      t.drain()
      Layers.build(c, m, dir)
      c.put("engine.warm_ms", warmMs, "ms")
      c.put("engine.cached_bytes", cachedBytes.toDouble, "bytes")
      Layers.searches(c, Set("p1"), Set("p2"))
      val (tailPct, tailMs) = Stat.tail(p1.latencies)
      c.put("search.tail_pct", tailPct, "%")
      c.put("search.tail_ms", tailMs, "ms")
      val distinct = shapes.values.map(_._1).toSeq
      c.put("serve.gather_queries", distinct.count(_ == "gather").toDouble, "count")
      c.put("serve.exchange_queries", distinct.count(_ == "exchange").toDouble, "count")
      val ceiling = Searcher.defaultGatherMaxPostings.toDouble
      c.put("serve.crossover_margin",
        shapes.values.filter(s => s._1 == "gather" || s._1 == "exchange")
          .map(s => math.abs(s._2 / ceiling - 1.0)).min, "ratio")
      c.put("serve.index_bytes_per_text_byte", Stat.dirBytes(dir) / textBytes(spark, off).toDouble, "ratio")
    }
  }

  /** Bytes of extracted text the build indexed (English pages). */
  private def textBytes(spark: SparkSession, off: Long): Double = {
    import spark.implicits._
    Mix.pages(spark, off, Pages).as[Page].filter(_.lang == "en").map { p =>
      val text = if (p.text != null) p.text else lucy.text.HtmlText.extractFromHtml(p.html)
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    }.agg(sum(col("value"))).head().getLong(0).toDouble
  }

  /** Golden answers for one bucket, from NaiveSearch over the same
    * pages the run indexes. Also refuses a mix with a query within ±10%
    * of the 2^20 gather ceiling. */
  def makeGoldens(spark: SparkSession, bucket: Int, out: Path): Unit = {
    val off = pageOff(bucket)
    val mix = Mix.serve(bucket, off, Pages)
    val cleaned = Ingest.cleanPages(Mix.pages(spark, off, Pages)).cache()
    val docmap = Ingest.docmap(cleaned).cache()
    val termTf = Ingest.termTf(cleaned).cache()
    val tokPos = Ingest.tokPos(cleaned).cache()
    val stats = Stats.corpusStats(docmap)
    val df = Stats.termStats(termTf).collect().map { r =>
      r.getString(0) -> lucy.index.TermStats(r.getString(0), r.getLong(1), r.getLong(2))
    }.toMap
    val ceiling = Searcher.defaultGatherMaxPostings.toDouble
    mix.foreach { q =>
      val (shape, sum) = Mix.shape(q, df)
      println(f"bucket $bucket%d ${q.id}%-22s $shape%-8s $sum%9d")
      if (shape == "gather" || shape == "exchange")
        require(math.abs(sum / ceiling - 1.0) > 0.1, s"${q.id} is within 10% of the gather ceiling")
    }
    val shapes = mix.map(Mix.shape(_, df)._1)
    require(shapes.contains("gather") && shapes.contains("exchange"), "mix must hold both shapes")
    val answers = mix.map { q =>
      q.key -> Goldens.rows(NaiveSearch.forQuery(termTf, tokPos, docmap, stats, q.query, q.mode, q.k))
    }
    Goldens.write(out, "serve", bucket, answers)
    Seq(cleaned, docmap, termTf, tokPos).foreach(_.unpersist())
  }
}
