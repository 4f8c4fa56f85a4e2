package lucy.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level statistics needed by BM25 (SURVEY.md §2.4 A2–A4, A8). */
case class CorpusStats(n: Long, avgdl: Double)

/** Per-term statistics: document frequency + collection frequency.
  *
  * `rawDf` is the PRE-delete df — what a scan of the term's blocks will
  * physically touch. TombstonedIndex.lookupTerms sets df to the exact
  * post-delete value (scoring/idf) while preserving rawDf; for a plain
  * index the two coincide (the -1 sentinel means "same as df"). The
  * gather-vs-distributed routing decision must use rawDf: gatherLocal
  * collects the raw blocks, tombstones included, so routing on the
  * post-delete df could pull up to maxTombstones postings beyond the
  * measured driver-kernel crossover (ADVICE r2).
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

  /** Driver-side lookup for a small set of query terms — one tiny job
    * with an `isin` pushdown (SURVEY.md §3.2 stage 2).
    */
  def lookupTerms(termStatsDf: DataFrame, terms: Seq[String]): Map[String, TermStats] = {
    if (terms.isEmpty) return Map.empty
    import org.apache.spark.sql.Row
    termStatsDf.filter(col("term").isin(terms: _*))
      .select("term", "df", "cf").collect()
      .map { case Row(t: String, df: Long, cf: Long) => t -> TermStats(t, df, cf) }
      .toMap
  }

  /** Prefix expansion (§8.6 r2): matching terms in ascending order,
    * capped at maxExpand. StringStartsWith pushes to the parquet scan of
    * the term-sorted stats table, so this prunes like a range probe.
    */
  def expandPrefix(termStatsDf: DataFrame, prefix: String, maxExpand: Int): Seq[String] =
    termStatsDf.select(col("term"))
      .filter(col("term").startsWith(prefix))
      .distinct()
      .orderBy(col("term")).limit(maxExpand)
      .collect().map(_.getString(0)).toSeq
}
