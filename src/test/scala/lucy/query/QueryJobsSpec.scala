package lucy.query

import java.nio.file.Files
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import lucy.SparkFunSuite
import lucy.fixtures.PagesGen
import lucy.index.{IndexBuilder, LucyIndex}
import lucy.stream.IncrementalIndexer

/** Spark jobs per execution shape: the gather shape collects once per
  * new term and then answers from the BlockCache with no job at all;
  * the distributed shapes start jobs on every query. A term lookup over
  * a multi-part view is one job with no exchange.
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
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // jobsIn drains the listener bus, which also delivers the plans
    val (got, jobs) =
      try jobsIn(view.lookupTerms(spark, terms))
      finally spark.listenerManager.unregister(listener)
    assert(jobs === 1, "one lookup job")
    assert(!plans.isEmpty && !plans.stream().anyMatch(_.contains("Exchange")),
      s"no exchange in the lookup: ${plans.peek()}")

    assert(got.keySet === terms.toSet)
    terms.foreach { t =>
      val perPart = view.parts.map(_.lookupTerms(spark, Seq(t))(t))
      assert((got(t).df, got(t).cf) === ((perPart.map(_.df).sum, perPart.map(_.cf).sum)), t)
    }
  }
}
