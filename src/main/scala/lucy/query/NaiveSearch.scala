package lucy.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import lucy.LucySpec
import lucy.index.CorpusStats

/** Query mode (SURVEY.md §8.6, extended r2): AND = docs containing every
  * distinct query term; OR = any; Phrase = AND plus adjacency of the
  * query's token sequence (positions are indices into the POST-stopword
  * token stream, so stopwords elide: "new to york" matches docs where
  * "new york" are adjacent after filtering); Prefix = OR over the corpus
  * terms starting with the (tokenized) prefix, expanded in ascending
  * term order up to LucySpec.maxPrefixExpand.
  */
object QueryMode extends Enumeration {
  val And, Or, Phrase, Prefix = Value
  def parse(s: String): Value =
    if (s.equalsIgnoreCase("or")) Or
    else if (s.equalsIgnoreCase("phrase")) Phrase
    else if (s.equalsIgnoreCase("prefix")) Prefix
    else And
}

/** The naive exhaustive BM25 engine (SURVEY.md §7.1 M1).
  *
  * Pure DataFrame built-ins over the (docId, term, tf) table and the
  * docmap — every operator Catalyst-visible, BM25 as Column arithmetic,
  * top-k via `orderBy.limit` (planned as TakeOrderedAndProjectExec:
  * per-partition heap + driver merge, SURVEY.md §2.4 A7).
  *
  * Role: (a) the permanent correctness oracle the WAND fast path is
  * property-tested against (scores bit-equal — hence the explicit
  * ascending-term summation below, §8.4); (b) the DuckDB-translatable
  * twin for the driver harness (SURVEY.md §5.3).
  */
object NaiveSearch {

  private def emptyResult(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Double, Int)].toDF("docId", "score", "nTerms")
  }

  /** Score every doc matching ≥1 of `terms` (distinct, ascending):
    * (docId, score, nTerms). df(t) is corpus-wide (isin-pruned before the
    * aggregation); summation is the §8.4 deterministic fold.
    */
  def scoreAll(termTf: DataFrame, docmap: DataFrame, stats: CorpusStats,
               terms: Array[String]): DataFrame = {
    val matching = termTf.filter(col("term").isin(terms.map(_.asInstanceOf[Any]): _*))
    val dfPerTerm = matching.groupBy(col("term")).agg(count(lit(1)).as("df"))

    // Attach docLen (join on docId) and df (broadcast: ≤ |terms| rows).
    val scored = matching
      .join(docmap.select(col("docId"), col("docLen")), Seq("docId"))
      .join(broadcast(dfPerTerm), Seq("term"))
      .withColumn("addend",
        Bm25.addendCol(col("tf"), col("docLen"), col("df"), lit(stats.n), lit(stats.avgdl)))

    // Deterministic summation (§8.4): collect the ≤|terms| addends per
    // doc, sort by term, fold left — bit-identical across any parallelism.
    scored
      .groupBy(col("docId"))
      .agg(sort_array(collect_list(struct(col("term"), col("addend")))).as("parts"))
      .withColumn("score",
        aggregate(col("parts"), lit(0.0), (acc, x) => acc + x.getField("addend")))
      .withColumn("nTerms", size(col("parts")))
      .select(col("docId"), col("score"), col("nTerms"))
  }

  /** Top-k BM25 (And/Or). Returns (docId, score, nTerms) ordered by
    * score DESC, docId ASC, limited to k.
    */
  def search(termTf: DataFrame, docmap: DataFrame, stats: CorpusStats,
             query: String, mode: QueryMode.Value = QueryMode.And,
             k: Int = LucySpec.defaultK,
             stem: Boolean = LucySpec.stemming): DataFrame = {
    val spark = termTf.sparkSession
    val terms = LucySpec.tokenizeWith(query, stem).distinct.sorted
    // stopword-only / empty query ⇒ empty result, not an error (§8.6)
    if (terms.isEmpty) return emptyResult(spark)
    val perDoc = scoreAll(termTf, docmap, stats, terms)
    val filtered = mode match {
      case QueryMode.And => perDoc.filter(col("nTerms") === lit(terms.length))
      case _             => perDoc
    }
    filtered.orderBy(col("score").desc, col("docId").asc).limit(k)
  }

  /** Phrase top-k: docs where the query's token sequence occurs
    * contiguously in the post-stopword position stream, scored exactly
    * like the AND query over the phrase's distinct terms.
    *
    * tokPos: (docId, pos, term) — Ingest.tokPos.
    */
  def phraseSearch(tokPos: DataFrame, termTf: DataFrame, docmap: DataFrame,
                   stats: CorpusStats, query: String,
                   k: Int = LucySpec.defaultK,
                   stem: Boolean = LucySpec.stemming): DataFrame = {
    val spark = termTf.sparkSession
    val slots = LucySpec.tokenizeWith(query, stem)
    if (slots.isEmpty) return emptyResult(spark)
    val terms = slots.distinct.sorted
    // candidate phrase starts: intersect per-slot (docId, pos - slotNo)
    val starts = slots.zipWithIndex.map { case (t, j) =>
      tokPos.filter(col("term") === t)
        .select(col("docId"), (col("pos") - j).as("p"))
    }.reduce((a, b) => a.join(b, Seq("docId", "p")))
    val phraseDocs = starts.select(col("docId")).distinct()
    scoreAll(termTf, docmap, stats, terms)
      .join(phraseDocs, Seq("docId"), "left_semi")
      .filter(col("nTerms") === lit(terms.length))
      .orderBy(col("score").desc, col("docId").asc).limit(k)
  }

  /** Prefix top-k: OR over the ≤ maxExpand matching corpus terms in
    * ascending term order. The prefix itself is normalized through the
    * tokenizer (first token).
    */
  def prefixSearch(termTf: DataFrame, docmap: DataFrame, stats: CorpusStats,
                   query: String, k: Int = LucySpec.defaultK,
                   maxExpand: Int = LucySpec.maxPrefixExpand,
                   stem: Boolean = LucySpec.stemming): DataFrame = {
    val spark = termTf.sparkSession
    // the prefix is normalized (and under stemming, stemmed) through the
    // same tokenizer the corpus terms went through — both engines agree
    val prefix = LucySpec.tokenizeWith(query, stem).headOption.getOrElse("")
    if (prefix.isEmpty) return emptyResult(spark)
    val expanded = termTf.select(col("term")).distinct()
      .filter(col("term").startsWith(prefix))
      .orderBy(col("term")).limit(maxExpand)
      .collect().map(_.getString(0))
    if (expanded.isEmpty) return emptyResult(spark)
    scoreAll(termTf, docmap, stats, expanded)
      .orderBy(col("score").desc, col("docId").asc).limit(k)
  }

  /** Dispatch on mode — golden generation and rank-identity tests. */
  def forQuery(termTf: DataFrame, tokPos: DataFrame, docmap: DataFrame,
               stats: CorpusStats, query: String, mode: QueryMode.Value,
               k: Int, stem: Boolean = LucySpec.stemming): DataFrame = mode match {
    case QueryMode.Phrase => phraseSearch(tokPos, termTf, docmap, stats, query, k, stem)
    case QueryMode.Prefix =>
      prefixSearch(termTf, docmap, stats, query, k, LucySpec.maxPrefixExpand, stem)
    case m                => search(termTf, docmap, stats, query, m, k, stem)
  }
}
