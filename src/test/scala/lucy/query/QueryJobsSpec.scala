package lucy.query

import java.nio.file.Files
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import lucy.SparkFunSuite
import lucy.fixtures.PagesGen
import lucy.index.{IndexBuilder, LucyIndex}

/** Spark jobs per execution shape: the gather shape collects once per
  * new term and then answers from the BlockCache with no job at all;
  * the distributed shapes start jobs on every query.
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
}
