package lucy.query

import java.nio.file.Files
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import lucy.SparkFunSuite
import lucy.fixtures.PagesGen
import lucy.index.{IndexBuilder, LucyIndex}
import lucy.stream.IncrementalIndexer

/** Spark jobs per execution shape: the gather shape collects once per
  * new term and then answers from the BlockCache with no job at all;
  * the distributed shapes start jobs on every query. A term lookup over
  * a multi-part view is one job with no exchange, and a masked view's
  * live df costs no job beyond the gather's block fetch.
  */
class QueryJobsSpec extends SparkFunSuite {

  private lazy val index = {
    val dir = Files.createTempDirectory("lucy-query-jobs").toString + "/idx"
    IndexBuilder.build(PagesGen.pages(spark, 300), dir)
    LucyIndex(dir)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getInt(2)))

  test("per-shape job counts: cache-hit gather 0, first gather and forced exchange >= 1") {
    val engine = new QueryEngine(spark, index)
    val (first, firstJobs) = jobsIn(rows(engine.search("spark shuffle", QueryMode.And, 10)))
    assert(first.nonEmpty)
    assert(firstJobs >= 1, "first gather looks up and fetches its terms")
    val (again, againJobs) = jobsIn {
      val df = engine.search("spark shuffle", QueryMode.And, 10)
      assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation], "gather shape")
      rows(df)
    }
    assert(againJobs === 0, "every term hits the BlockCache")
    assert(again.toSeq === first.toSeq)

    // forced distributed shapes; the first query of each fills the df
    // cache, so the counted repeat starts only the shape's own jobs
    val forced = new QueryEngine(spark, index, gatherMaxPostings = 0L)
    for ((q, exchange) <- Seq(("spark shuffle", true), ("spark", false))) {
      val expected = rows(engine.search(q, QueryMode.And, 10))
      rows(forced.search(q, QueryMode.And, 10))
      val (got, jobs) = jobsIn {
        val df = forced.search(q, QueryMode.And, 10)
        assert(df.queryExecution.executedPlan.toString.contains("Exchange") === exchange, q)
        rows(df)
      }
      assert(jobs >= 1, s"forced distributed shape [$q]")
      assert(got.toSeq === expected.toSeq, q)
    }
  }

  test("a multi-part view's term lookup: one job, no exchange, df/cf summed over the parts") {
    import spark.implicits._
    val root = Files.createTempDirectory("lucy-lookup-jobs").toString + "/store"
    IncrementalIndexer.bootstrap(PagesGen.pages(spark, 200), root)
    IncrementalIndexer.indexBatch(spark.range(200, 260).as[Long].map(PagesGen.page _).toDF(), root, 0L)
    val view = IncrementalIndexer.composite(spark, root)
    assert(view.parts.length === 2 && view.masks.forall(_.isEmpty), "base + a delta of new urls")

    val terms = Seq("spark", "shuffle", "wand")
    val (got, jobs, plans) = plansIn(view.lookupTerms(spark, terms))
    assert(jobs === 1, "one lookup job")
    assert(plans.nonEmpty && !plans.exists(_.toString.contains("Exchange")),
      s"no exchange in the lookup: ${plans.headOption}")

    assert(got.keySet === terms.toSet)
    terms.foreach { t =>
      val perPart = view.parts.map(_.lookupTerms(spark, Seq(t))(t))
      assert((got(t).df, got(t).cf) === ((perPart.map(_.df).sum, perPart.map(_.cf).sum)), t)
    }
  }

  test("a masked view's driver-side dead count equals Deletes.deletedDf for every term") {
    import spark.implicits._
    val root = Files.createTempDirectory("lucy-dead-count").toString + "/store"
    IncrementalIndexer.bootstrap(PagesGen.pages(spark, 200), root)
    // recrawls with other pages' text mask base rows; the delete masks
    // base and delta rows
    val recrawls = (0L until 200L by 3).map { i =>
      val p = PagesGen.page(i)
      p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 86400000L),
        html = PagesGen.page(i + 100000L).html, text = PagesGen.page(i + 100000L).text)
    }
    IncrementalIndexer.indexBatch((recrawls ++ (200L until 260L).map(PagesGen.page)).toDF(), root, 0L)
    IncrementalIndexer.deleteUrls(spark, root, Seq(0L, 1L, 3L, 201L, 202L).map(PagesGen.page(_).url))
    val view = IncrementalIndexer.composite(spark, root)
    assert(view.parts.length === 2 && view.masks.forall(_.nonEmpty), "both parts masked")

    val terms = view.parts.flatMap(_.termStats(spark).select("term").as[String].collect()).distinct
    // an engine that never gathers counts the dead postings with
    // Deletes.deletedDf, which decodes every block it reads
    val byJob = new QueryEngine(spark, view, gatherMaxPostings = 0L).lookup(terms)
    assert(byJob.values.exists(st => st.df < st.gatherDf), "the masks name some term's postings")
    val engine = new QueryEngine(spark, view)
    val (onDriver, jobs) = jobsIn(engine.lookup(terms))
    assert(jobs === 2, "the stats and the blocks, and no dead-count job")
    assert(onDriver.keySet === byJob.keySet)
    terms.foreach(t => assert(onDriver.get(t) === byJob.get(t), t))
  }
}
