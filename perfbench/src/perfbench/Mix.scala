package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import lucy.LucySpec
import lucy.fixtures.{Page, PagesGen}
import lucy.index.{SearchableIndex, TermStats}
import lucy.query.{QueryMode, QuerySet, Searcher}

/** One search a client issues. */
final case class Q(id: String, query: String, mode: QueryMode.Value, k: Int) {
  def key: String = s"$mode|$k|$query"
}

/** Seeded query mixes drawn from the fixture vocabulary, and the shape
  * each query routes to.
  */
object Mix {
  val terms: Array[String] = PagesGen.vocab.filterNot(LucySpec.stopwords)
  private val stopwords = LucySpec.stopwords.toSeq.sorted

  /** Pages [off, off + n) of the fixture corpus. */
  def pages(spark: SparkSession, off: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(off, off + n).as[Long].map(PagesGen.page _).toDF()
  }

  /** The fixture's own zipf draw, restricted to non-stopwords. */
  private def zipfTerm(rnd: Random): String = {
    var w = PagesGen.word(rnd.nextLong() & Long.MaxValue, rnd.nextInt(1 << 20))
    while (LucySpec.stopwords(w)) w = PagesGen.word(rnd.nextLong() & Long.MaxValue, rnd.nextInt(1 << 20))
    w
  }
  private def zipfTerms(rnd: Random, n: Int): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    while (out.size < n) out += zipfTerm(rnd)
    out.toSeq
  }

  /** Queries every mix shares: typed terms, a phrase taken from a corpus
    * page, a prefix, an absent term and a stopword-only query. */
  private def common(rnd: Random, pageOff: Long, pageCount: Long): Seq[Q] = {
    val page = pageOff + (rnd.nextLong() & Long.MaxValue) % pageCount
    val j = rnd.nextInt(18)
    val phrase = s"${PagesGen.word(page, j)} ${PagesGen.word(page, j + 1)}"
    Seq(
      Q("gen_and2", zipfTerms(rnd, 2).mkString(" "), QueryMode.And, 10),
      Q("gen_and3", zipfTerms(rnd, 3).mkString(" "), QueryMode.And, 10),
      Q("gen_or2", zipfTerms(rnd, 2).mkString(" "), QueryMode.Or, 10),
      Q("gen_or4", zipfTerms(rnd, 4).mkString(" "), QueryMode.Or, 10),
      Q("gen_phrase", phrase, QueryMode.Phrase, 10),
      Q("gen_prefix", terms(rnd.nextInt(terms.length)).take(2), QueryMode.Prefix, 10),
      Q("gen_absent", s"${zipfTerm(rnd)} zq${java.lang.Long.toHexString(rnd.nextLong() & 0xffffffL)}",
        QueryMode.And, 10),
      Q("gen_stoponly", rnd.shuffle(stopwords).take(2 + rnd.nextInt(2)).mkString(" "), QueryMode.Or, 10))
  }

  /** serve: the 30 reference queries, the common generated ones, one long
    * gather-shape OR, and two head-term combinations whose Σ raw df is
    * far above the 2^20 gather ceiling (bucket-exchange shape). */
  def serve(bucket: Int, pageOff: Long, pageCount: Long): Seq[Q] = {
    val rnd = new Random(0x5E7E0000L + bucket)
    val ref = QuerySet.reference.map(q => Q("ref_" + q.id, q.query, q.mode, q.k))
    val tailHalf = terms.drop(terms.length / 2)
    def allBut(n: Int) = {
      val drop = rnd.shuffle(tailHalf.toSeq).take(n).toSet
      rnd.shuffle(terms.filterNot(drop).toSeq).mkString(" ")
    }
    ref ++ common(rnd, pageOff, pageCount) ++ Seq(
      Q("gen_or16", rnd.shuffle(terms.toSeq).take(16).mkString(" "), QueryMode.Or, 10),
      Q("gen_and_head57", allBut(3), QueryMode.And, 10),
      Q("gen_or_head55", allBut(5), QueryMode.Or, 10))
  }

  /** store_churn: the common generated queries plus one on the recrawl
    * marker term and two reference queries. */
  def churn(bucket: Int, pageOff: Long, pageCount: Long): Seq[Q] = {
    val rnd = new Random(0xC4A50000L + bucket)
    common(rnd, pageOff, pageCount) ++ Seq(
      Q("gen_recrawl", s"recrawl ${zipfTerm(rnd)}", QueryMode.Or, 10),
      Q("ref_and_3mixed", "spark shuffle delta", QueryMode.And, 10),
      Q("ref_or_4tail", "catalyst codegen tungsten columnar", QueryMode.Or, 10))
  }

  /** Search terms as the engine tokenises them (prefix: None). */
  def queryTerms(q: Q): Option[Seq[String]] = q.mode match {
    case QueryMode.Prefix => None
    case _ => Some(LucySpec.tokenizeWith(q.query, LucySpec.stemming).distinct.sorted.toSeq)
  }

  /** The shape the engine routes a query to, judged from outside with
    * the same rule: Σ raw df of the present terms against
    * Searcher.defaultGatherMaxPostings. Single-term queries above the
    * ceiling would take the single-term shape; no fixture corpus that
    * fits a run has df > 2^20, so it never occurs here. */
  def shape(q: Q, df: Map[String, TermStats]): (String, Long) = queryTerms(q) match {
    case None => ("prefix", 0L)
    case Some(ts) =>
      val present = ts.filter(df.contains)
      val conj = q.mode != QueryMode.Or
      if (ts.isEmpty || present.isEmpty || (conj && present.length < ts.length)) ("empty", 0L)
      else {
        val sum = present.map(df(_).gatherDf).sum
        if (sum <= Searcher.defaultGatherMaxPostings) ("gather", sum)
        else if (present.length == 1) ("single", sum)
        else ("exchange", sum)
      }
  }

  def lookup(spark: SparkSession, index: SearchableIndex, mix: Seq[Q]): Map[String, TermStats] =
    index.lookupTerms(spark, mix.flatMap(q => queryTerms(q).getOrElse(Nil)).distinct)

  /** A recrawl of fixture page i, as PagesGen.recrawl makes one: a later
    * warc_ts and a marker token appended to the body. */
  def recrawl(i: Long, tsOffsetSec: Long): Page = {
    val p = PagesGen.page(i)
    val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
      .replace("</p>", " recrawl</p>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Page(p.url, new java.sql.Timestamp(p.warc_ts.getTime + tsOffsetSec * 1000L), html,
      if (i % 2 == 0) null else lucy.text.HtmlText.extractFromHtml(html), p.lang)
  }
}
