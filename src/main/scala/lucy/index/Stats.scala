package lucy.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level statistics needed by BM25 (SURVEY.md §2.4 A2–A4, A8). */
case class CorpusStats(n: Long, avgdl: Double)

/** Per-term statistics: document frequency + collection frequency.
  *
  * `df` is the LIVE df (masked postings excluded, see
  * QueryEngine.lookup); `rawDf` is what a scan of the term's
  * blocks physically touches, masked postings included (the -1 sentinel
  * means "same as df", as in an unmasked view). Routing between the
  * gather and distributed shapes must use rawDf (`gatherDf`): the gather
  * collects the raw blocks, so routing on the live df could pull the
  * masked postings beyond the measured driver-kernel crossover.
  */
case class TermStats(term: String, df: Long, cf: Long, rawDf: Long = -1L) {
  def gatherDf: Long = if (rawDf >= 0) rawDf else df
}

object Stats {

  /** A3 — N and exact avgdl over ALL docs (empty docs included, §8.4). */
  def corpusStats(docmap: DataFrame): CorpusStats = {
    val row = docmap.agg(count(lit(1)).as("n"), avg(col("docLen")).as("avgdl")).head()
    CorpusStats(row.getLong(0), if (row.isNullAt(1)) 0.0 else row.getDouble(1))
  }

  /** A4 — df/cf per term from the unique-(docId,term) tf table. */
  def termStats(termTf: DataFrame): DataFrame =
    termTf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** Prefix expansion (§8.6): the distinct matching terms in ascending
    * order, capped at maxExpand. StringStartsWith pushes to the parquet
    * scan of the term-sorted stats table, so this prunes like a range
    * probe.
    */
  def expandPrefix(termStatsDf: DataFrame, prefix: String, maxExpand: Int): Seq[String] =
    termStatsDf.select(col("term"))
      .filter(col("term").startsWith(prefix))
      .distinct()
      .orderBy(col("term")).limit(maxExpand)
      .collect().map(_.getString(0)).toSeq
}
