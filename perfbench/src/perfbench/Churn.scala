package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.chaining._
import org.apache.spark.sql.{DataFrame, SparkSession}
import lucy.LucyStore
import lucy.fixtures.{Page, PagesGen}
import lucy.index.{Ingest, Stats}
import lucy.query.NaiveSearch

/** store_churn: the lucy.js put + search user. Put batches (half new
  * urls, half recrawls of live ones) and a delete, each answered at once
  * by a zero-gap search burst; then, after a fixed think-time, steady
  * four-client searches. A compact() follows, then post-compaction
  * searches.
  */
object Churn {
  val BootPages = 1000L
  val Rounds = 2
  val NewPerPut = 100
  val RecrawlsPerPut = 100
  val DeletesPerRound = 24
  val DeleteEvery = 2
  val ThinkMs = 500L
  val SteadyPasses = 3
  /** The zero-gap burst, the same three queries after every mutation. */
  val Burst = Seq("gen_and2", "gen_or2", "ref_and_3mixed")

  def pageOff(bucket: Int): Long = 5000000L + bucket * 10000000L

  sealed trait Mutation { def round: Int; def id: String }
  final case class Put(round: Int, newOrds: Seq[Long], recrawls: Seq[Long], tsOffsetSec: Long)
      extends Mutation { def id = s"put$round" }
  final case class Delete(round: Int, ords: Seq[Long]) extends Mutation { def id = s"delete$round" }

  private def url(i: Long): String = PagesGen.page(i).url

  /** The bucket's mutation plan; the recrawled and deleted urls are drawn
    * from the urls live at that point. */
  def plan(bucket: Int): Seq[Mutation] = {
    val rnd = new Random(0xC0DE0000L + bucket)
    val off = pageOff(bucket)
    val live = mutable.LinkedHashSet[Long]((off until off + BootPages): _*)
    var next = off + BootPages
    (1 to Rounds).flatMap { r =>
      val fresh = (next until next + NewPerPut).toSeq
      next += NewPerPut
      val recrawls = rnd.shuffle(live.toSeq).take(RecrawlsPerPut)
      live ++= fresh
      val put = Put(r, fresh, recrawls, r * 100000000L)
      if (r % DeleteEvery != 0) Seq(put)
      else {
        val justUpdated = rnd.shuffle(recrawls).take(DeletesPerRound / 2)
        val others = rnd.shuffle(live.toSeq.filterNot(justUpdated.toSet)).take(DeletesPerRound / 2)
        live --= justUpdated ++ others
        Seq(put, Delete(r, justUpdated ++ others))
      }
    }
  }

  def bootPages(spark: SparkSession, bucket: Int): DataFrame =
    Mix.pages(spark, pageOff(bucket), BootPages)

  def putPages(spark: SparkSession, p: Put): DataFrame = {
    import spark.implicits._
    (p.newOrds.map(PagesGen.page) ++ p.recrawls.map(Mix.recrawl(_, p.tsOffsetSec))).toDF()
  }

  /** The store's contents after the whole plan: latest version per url. */
  def finalContents(spark: SparkSession, bucket: Int): DataFrame = {
    import spark.implicits._
    val off = pageOff(bucket)
    val docs = mutable.LinkedHashMap[Long, Page]()
    (off until off + BootPages).foreach(i => docs(i) = PagesGen.page(i))
    plan(bucket).foreach {
      case p: Put =>
        p.newOrds.foreach(i => docs(i) = PagesGen.page(i))
        p.recrawls.foreach(i => docs(i) = Mix.recrawl(i, p.tsOffsetSec))
      case d: Delete => d.ords.foreach(docs.remove)
    }
    docs.values.toSeq.toDF()
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val t = c.tracer
    val mix = Mix.churn(c.bucket, pageOff(c.bucket), BootPages)
    val golden = Goldens.read(c.goldens, "store_churn", c.bucket)
    val mutations = plan(c.bucket)

    // Set-up: bootstrap a store from the seeded corpus; the last one is
    // churned.
    val (stores, setupS) = Setup.three(c, "store.bootstrap") { i =>
      // a no-op delete starts the store's warm thread under a marker
      // property, so its jobs are told apart from the caller's
      val s = t.asWarmThread(new LucyStore(spark, c.dir(s"store-$i")).tap(_.delete(Nil)))
      s.bootstrap(bootPages(spark, c.bucket))
      s
    }
    c.put("setup_s", setupS, "s")
    stores.init.foreach(_.close())
    val store = stores.last
    val storeDir = c.dir("store-2")

    // shapes judged once on the bootstrapped view; the store stays far
    // below the gather ceiling throughout
    val lookedUp = Mix.lookup(spark, store.view, mix)
    val shapes = mix.map(q => q.key -> Mix.shape(q, lookedUp)._1).toMap

    def search(phase: String, op: String, expect: Boolean, strict: Boolean)(q: Q): Searches.Done =
      Searches.one(c, q, Map("phase" -> phase, "mutation" -> op, "shape" -> shapes(q.key)),
        if (expect) golden.get(q.key).orElse(Some(IndexedSeq((-1L, -1L)))) else None, strict)(
        store.search(q.query, q.mode, q.k))

    // let the set-up's warm-behind finish before the first mutation
    Thread.sleep(2 * ThinkMs)
    val lastMutation = mutations.last
    val putMs = mutable.ArrayBuffer[Double]()
    var putDocs = 0L
    val putBytes = mutable.ArrayBuffer[Long]()
    val fresh = mutable.ArrayBuffer[Searches.Done]()
    val finalState = mutable.ArrayBuffer[Searches.Done]()
    mutations.foreach { m =>
      m match {
        case p: Put =>
          val df = putPages(spark, p)
          putMs += Stat.timedMs(c.op { t.span("store.put", p.id)(store.put(df, p.round.toLong)); true })._2
          putDocs += p.newOrds.length + p.recrawls.length
          putBytes += Stat.dirBytes(s"$storeDir/deltas/delta-${p.round}")
        case d: Delete =>
          c.op { t.span("store.delete", d.id)(store.delete(d.ords.map(url))); true }
      }
      // zero-gap burst: fired the instant the mutation returns
      val isFinal = m eq lastMutation
      val burst = Burst.map(id => mix.find(_.id == id).get)
        .map(search("fresh", m.id, expect = isFinal, strict = false))
      fresh ++= burst
      if (isFinal) finalState ++= burst
    }
    c.log("mutations")
    Thread.sleep(ThinkMs)
    val live = Searches.phase(c, mix, 4, "live", 0.0, SteadyPasses)(
      search("live", "steady", expect = true, strict = false))
    finalState ++= live.done
    val partsBefore = lucy.stream.IncrementalIndexer.listDeltas(spark, storeDir).length + 1
    val bytesBefore = Stat.dirBytes(storeDir)
    val (_, compactMs) = Stat.timedMs(c.op(t.span("store.compact", "compact")(store.compact()).docs > 0))
    val bytesAfter = Stat.dirBytes(storeDir)
    c.log("compacted")
    val post = Searches.phase(c, mix, 4, "post", 0.0)(search("post", "compact", expect = true, strict = true))
    store.close()

    c.put("ingest_docs_per_s", putDocs / (putMs.sum / 1000.0), "docs/s")
    c.put("search_p50_ms", Stat.median(fresh.map(_.ms).toSeq), "ms")
    c.put("search_qps", live.qps, "1/s")

    if (c.traced) {
      t.drain()
      Layers.searches(c, Set("fresh"), Set("live"))
      c.put("store.live_exact_ratio",
        finalState.count(_.exact.contains(true)).toDouble / finalState.length, "ratio")
      val baseDir = java.nio.file.Paths.get(storeDir, "base")
      val newestBase = java.nio.file.Files.list(baseDir).iterator.asScala
        .filter(_.getFileName.toString.startsWith("gen-")).map(_.toString)
        .maxBy(_.split("gen-").last.toLong)
      Layers.store(c, Layers.StoreFacts(compactMs, partsBefore, putBytes.toSeq,
        bytesBefore, bytesAfter, Stat.dirBytes(newestBase), liveDocs(spark, c.bucket),
        live.latencies, post.latencies))
      val (tailPct, tailMs) = Stat.tail(fresh.map(_.ms).toSeq)
      c.put("search.tail_pct", tailPct, "%")
      c.put("search.tail_ms", tailMs, "ms")
    }
  }

  private def liveDocs(spark: SparkSession, bucket: Int): Long =
    Ingest.cleanPages(finalContents(spark, bucket)).count()

  /** Golden answers for one bucket: NaiveSearch over the store's final
    * contents, i.e. what a from-scratch index of them returns. */
  def makeGoldens(spark: SparkSession, bucket: Int, out: Path): Unit = {
    val mix = Mix.churn(bucket, pageOff(bucket), BootPages)
    val cleaned = Ingest.cleanPages(finalContents(spark, bucket)).cache()
    val docmap = Ingest.docmap(cleaned).cache()
    val termTf = Ingest.termTf(cleaned).cache()
    val tokPos = Ingest.tokPos(cleaned).cache()
    val stats = Stats.corpusStats(docmap)
    val answers = mix.map { q =>
      q.key -> Goldens.rows(NaiveSearch.forQuery(termTf, tokPos, docmap, stats, q.query, q.mode, q.k))
    }
    answers.foreach { case (k, hits) => println(s"bucket $bucket ${hits.length} $k") }
    Goldens.write(out, "store_churn", bucket, answers)
    Seq(cleaned, docmap, termTf, tokPos).foreach(_.unpersist())
  }
}
