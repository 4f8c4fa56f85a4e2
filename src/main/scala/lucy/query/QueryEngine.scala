package lucy.query

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField}
import lucy.LucySpec
import lucy.index.{CorpusStats, Deletes, SearchableIndex, Stats, TermStats}

/** Warm serving handle over an immutable index — the analog of lucy.js's
  * in-memory live index for a query-serving deployment, and the one
  * place a query string becomes a [[QueryPlan]].
  *
  * What one engine per view buys, query after query:
  *  - corpus stats computed once (manifest arithmetic), not per query;
  *  - term df lookups and prefix expansions cached per term (the first
  *    query for a term pays one tiny pruned job; repeats are map hits);
  *  - gathered posting blocks cached per term (BlockCache);
  *  - one shared relation per artifact, so file listing and footer
  *    reads are paid once.
  *
  * `warm()` additionally pins segments and term stats into the Spark
  * block-manager cache (InMemoryRelation): later scans read columnar
  * batches from memory with batch-level stat pruning on termHash instead
  * of parquet from disk. Safe because a LucyIndex dir is immutable
  * (compaction writes a NEW generation dir). A live store never calls
  * it — its base must not be pinned (LucyStore pins deltas only).
  *
  * Query tokens are stemmed iff the index's terms were: the flag comes
  * from the parts' build manifests (`SearchableIndex.stemming`).
  *
  * `gatherMaxPostings` and `expandCeiling` exist so specs can force the
  * distributed shapes and the over-expansion ceiling at toy scale.
  *
  * Thread-safe: every cache is a concurrent map or synchronized, and
  * concurrent searches share one engine.
  */
class QueryEngine private[lucy] (spark: SparkSession, index: SearchableIndex,
                                 gatherMaxPostings: Long = Searcher.defaultGatherMaxPostings,
                                 expandCeiling: Int = 1 << 22) {

  def this(spark: SparkSession, index: SearchableIndex) =
    this(spark, index, Searcher.defaultGatherMaxPostings)

  private val stem = index.stemming(spark)
  // per-part dead docIds; the plan ships none when nothing is masked
  private val masks: Array[Array[Long]] =
    if (index.masks.forall(_.isEmpty)) Array.empty else index.masks.toArray
  lazy val stats: CorpusStats = index.corpusStats(spark)
  private val dfCache = TrieMap[String, Option[TermStats]]()
  // Gathered posting blocks per term (size-capped LRU; see BlockCache):
  // first query for a term pays one pruned collect job, repeats are pure
  // driver compute — the serving analog of lucy.js's in-memory index.
  private val blockCache = new BlockCache()
  // One shared relation per engine: planning against a fresh
  // spark.read.parquet per query re-lists files and re-reads footers on
  // the driver, which serializes concurrent clients.
  private lazy val segmentsDf = index.segments(spark)
  private lazy val termStatsDf = index.termStats(spark)
  private lazy val urlsDf = index.parts.map(_.docmap(spark).select(col("docId"), col("url")))
    .reduce(_ unionByName _)

  /** Pin index artifacts into executor memory; returns this. */
  def warm(): this.type = {
    segmentsDf.cache().count()
    termStatsDf.cache().count()
    stats
    this
  }

  /** Live df per term over the engine's own relations; cached per term. */
  private def lookup(terms: Seq[String]): Map[String, TermStats] = {
    val missing = terms.filterNot(dfCache.contains)
    if (missing.nonEmpty) {
      val fetched = Deletes.liveTerms(spark, termStatsDf, segmentsDf, masks.toSeq, missing)
      missing.foreach(t => dfCache.putIfAbsent(t, fetched.get(t)))
    }
    terms.flatMap(t => dfCache(t).map(t -> _)).toMap
  }

  // (prefix, cap) → expanded terms, keyed by both because the over-
  // expansion re-expands one prefix at growing caps. An engine serves
  // one immutable view (a store mutation builds a new engine), so
  // entries never cross a mask change.
  private val prefixCache = TrieMap[(String, Int), Seq[String]]()

  private def expand(prefix: String, cap: Int): Seq[String] =
    prefixCache.getOrElseUpdate((prefix, cap), Stats.expandPrefix(termStatsDf, prefix, cap))

  /** The first maxPrefixExpand terms starting with `prefix` that have a
    * live posting, ascending — the naive engine's term set over the live
    * corpus. Expansion runs over the RAW term stats, so a term whose
    * postings are all masked (deleted or superseded docs) can take a
    * slot. When the cap binds under masks, over-expand geometrically,
    * drop dead terms through the live-df lookup, and stop once the cap
    * holds only live terms or the matches run out (an expansion returned
    * fewer than asked). `expandCeiling` bounds the loop and the driver
    * collect (~100 MB of terms at 2^22) even when millions of matching
    * terms are dead; past it the engine returns the live terms found so
    * far, and compact() — which drops masked rows — restores exactness.
    */
  private def expandSurviving(prefix: String): Array[String] = {
    val max = LucySpec.maxPrefixExpand
    var cap = max
    var expanded = expand(prefix, cap)
    if (masks.isEmpty || expanded.length < cap) return expanded.toArray.sorted
    var surviving = expanded.filter(lookup(expanded).contains)
    while (surviving.length < max && expanded.length >= cap && cap < expandCeiling) {
      cap = math.min(cap * 2, expandCeiling)
      expanded = expand(prefix, cap)
      surviving = expanded.filter(lookup(expanded).contains)
    }
    surviving.take(max).toArray
  }

  /** Top-k BM25: (docId, score, nTerms) by score DESC, docId ASC. */
  def search(query: String, mode: QueryMode.Value = QueryMode.And,
             k: Int = LucySpec.defaultK): DataFrame = {
    val tokens = LucySpec.tokenizeWith(query, stem)
    val terms = mode match {
      case QueryMode.Prefix =>
        tokens.headOption.map(expandSurviving).getOrElse(Array.empty[String])
      case _ => tokens.distinct.sorted
    }
    // terms absent from the corpus: AND/Phrase can never match; OR drops them
    val dfMap = lookup(terms.toSeq)
    val conj = mode == QueryMode.And || mode == QueryMode.Phrase
    val present = terms.filter(dfMap.contains)
    if (present.isEmpty || (conj && present.length < terms.length))
      return spark.createDataFrame(new java.util.ArrayList[Row](), Searcher.resultSchema)
    val phraseSlots =
      if (mode == QueryMode.Phrase)
        tokens.map(t => java.util.Arrays.binarySearch(present.asInstanceOf[Array[AnyRef]], t))
      else Array.empty[Int]

    // Tiny immutable plan: captured in the task closure — at <1 KB the
    // closure IS the broadcast (an explicit torrent broadcast per query
    // costs more than it saves).
    val plan = QueryPlan(present, present.map(dfMap(_).df), stats.n, stats.avgdl,
      conjunctive = conj, k = k, phraseSlots = phraseSlots, masks = masks)

    // Routing and bucket sizing use the RAW postings volume: the gather
    // collects, and the exchange shuffles, the physical blocks, masked
    // postings included. Scoring idf uses the live df carried in the plan.
    val sumRawDf = present.map(dfMap(_).gatherDf).sum
    if (sumRawDf <= gatherMaxPostings) Searcher.gatherLocal(spark, segmentsDf, plan, blockCache)
    else {
      val blocks = Searcher.termBlocks(segmentsDf, present)
      val local =
        if (present.length == 1) Searcher.singleTermLocal(spark, blocks, plan)
        else Searcher.bucketedLocal(spark, blocks, plan, Searcher.numBuckets(spark, sumRawDf))
      local.toDF("docId", "score", "nTerms")
        .orderBy(col("score").desc, col("docId").asc)
        .limit(k)
    }
  }

  /** J4 — [[search]] with display urls from this engine's own view, so
    * a mutation committed after the engine was built never mixes views.
    * docId is the url's hash, so every part holding a docId holds the
    * same url: a pruned `docId IN (k ids)` scan of the parts' docmaps
    * needs no version resolution, and top-k never holds a masked doc, so
    * it needs no anti-join either. Rows keep the top-k order;
    * an id without a docmap row gets a null url.
    */
  def searchWithUrls(query: String, mode: QueryMode.Value = QueryMode.And,
                     k: Int = LucySpec.defaultK): DataFrame = {
    val top = search(query, mode, k).collect()
    val urls: Map[Long, String] =
      if (top.isEmpty) Map.empty
      else urlsDf.filter(col("docId").isin(top.map(r => r.getLong(0): Any).toSeq: _*))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = new java.util.ArrayList[Row](top.length)
    top.foreach(r => rows.add(Row(r.getLong(0), r.getDouble(1), r.getInt(2),
      urls.getOrElse(r.getLong(0), null))))
    spark.createDataFrame(rows, Searcher.resultSchema.add(StructField("url", StringType)))
  }
}
