package lucy.query

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructField}
import lucy.LucySpec
import lucy.index.{CorpusStats, Deletes, LucyIndex, PostingBlock, SearchableIndex, Stats, TermStats}

/** Warm serving handle over an immutable index view — the analog of
  * lucy.js's in-memory live index for a query-serving deployment, and
  * the one place a query string becomes a [[QueryPlan]].
  *
  * What an engine caches, query after query:
  *  - corpus stats computed once (manifest arithmetic), not per query;
  *  - per part and term, the raw df/cf and the gathered posting blocks
  *    (BlockCache, keyed by part dir): a query reads only the (part,
  *    term) pairs the cache lacks, in one pruned job per step over just
  *    those parts' relations. Part dirs are immutable, so these entries
  *    outlive the view: LucyStore hands one cache to each engine it
  *    builds, and a mutation leaves the unchanged parts' entries warm;
  *  - per term, the view's live df (the parts' raw dfs summed, minus the
  *    postings its masks name), and prefix expansions;
  *  - one shared relation per part and artifact, so file listing and
  *    footer reads are paid once.
  *
  * The view maps each part dir to its srcPart index and mask, so the
  * WAND kernel gets one cursor per (term, salt, part) stream, exactly as
  * a scan of the union of the parts would group them. `srcPart` belongs
  * to a view, so this is the only place that unions a view's relations
  * and tags their rows with it; a part's own relations carry no srcPart.
  *
  * `lookup` is the only code that computes a view's live df:
  * `SearchableIndex.lookupTerms` runs it through a throwaway engine.
  *
  * `warm()` additionally pins segments and term stats into the Spark
  * block-manager cache (InMemoryRelation): later scans read columnar
  * batches from memory with batch-level stat pruning on termHash instead
  * of parquet from disk. Safe because a LucyIndex dir is immutable
  * (compaction writes a NEW generation dir). A live store never calls
  * it: at corpus scale its base does not fit executor memory, and the
  * part cache already holds what its searches read.
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
                                 expandCeiling: Int = 1 << 22,
                                 cache: BlockCache = new BlockCache()) {

  def this(spark: SparkSession, index: SearchableIndex) =
    this(spark, index, Searcher.defaultGatherMaxPostings)

  private val stem = index.stemming(spark)
  // per-part dead docIds; the plan ships none when nothing is masked
  private val masks: Array[Array[Long]] =
    if (index.masks.forall(_.isEmpty)) Array.empty else index.masks.toArray
  lazy val stats: CorpusStats = index.corpusStats(spark)
  private val dfCache = TrieMap[String, Option[TermStats]]()
  // part dirs in view order: a dir's index is its srcPart in this view
  private val dirs = index.parts.map(_.dir).toIndexedSeq
  // One shared relation per part and artifact, each tagged with its
  // srcPart (the only place a view's relations get one): planning against a fresh spark.read.parquet per query
  // re-lists files and re-reads footers on the driver, which serializes
  // concurrent clients.
  private lazy val partSegments = tagged(_.segments(spark))
  private lazy val partTermStats = tagged(_.termStats(spark))
  private lazy val segmentsDf = partSegments.reduce(_ unionByName _)
  private lazy val termStatsDf = partTermStats.reduce(_ unionByName _)
  private lazy val urlsDf = index.parts.map(_.docmap(spark).select(col("docId"), col("url")))
    .reduce(_ unionByName _)

  private def tagged(rel: LucyIndex => DataFrame): IndexedSeq[DataFrame] =
    index.parts.indices.map(i => rel(index.parts(i)).withColumn("srcPart", lit(i)))

  /** Pin index artifacts into executor memory; returns this. */
  def warm(): this.type = {
    segmentsDf.cache().count()
    termStatsDf.cache().count()
    stats
    this
  }

  /** Per term, each part's cache entry, aligned with `dirs`. The pairs
    * the cache lacks are read by one pruned job over the term stats of
    * only the parts that lack one.
    */
  private def entries(terms: Seq[String]): Map[String, IndexedSeq[PartTerm]] = {
    val cached = terms.map(t => t -> dirs.map(cache.get(_, t))).toMap
    val lacking = dirs.indices.filter(i => terms.exists(cached(_)(i).isEmpty))
    val fetched: Map[(Int, String), TermStats] =
      if (lacking.isEmpty) Map.empty
      else lacking.map(partTermStats).reduce(_ unionByName _)
        .filter(col("term").isin(terms.filter(t => lacking.exists(cached(t)(_).isEmpty)): _*))
        .select("srcPart", "term", "df", "cf").collect()
        .map(r => (r.getInt(0), r.getString(1)) -> TermStats(r.getString(1), r.getLong(2), r.getLong(3)))
        .toMap
    terms.map(t => t -> dirs.indices.map(i => cached(t)(i).getOrElse {
      val e = fetched.get((i, t)).fold(PartTerm.absent)(st => PartTerm(Some(st), None))
      cache.put(dirs(i), t, e)
      e
    })).toMap
  }

  /** Per term, its (srcPart, blocks) streams across the view's parts.
    * The pairs not gathered yet are read by one pruned job over the
    * segments of only their parts.
    */
  private def streams(terms: Seq[String]): Map[String, Seq[(Int, Array[PostingBlock])]] = {
    val es = entries(terms)
    val ungathered = for (t <- terms; i <- dirs.indices if es(t)(i).streams.isEmpty) yield (i, t)
    val fetched =
      if (ungathered.isEmpty) Map.empty[(Int, String), Seq[(Int, Array[PostingBlock])]]
      else Searcher.fetchStreams(spark, ungathered.map(_._1).distinct.map(partSegments).reduce(_ unionByName _),
        ungathered.map(_._2).distinct)
    terms.map(t => t -> dirs.indices.flatMap { i =>
      es(t)(i).streams.getOrElse {
        val s = fetched.getOrElse((i, t), Nil)
        cache.put(dirs(i), t, es(t)(i).copy(streams = Some(s)))
        s
      }.map { case (_, blocks) => (i, blocks) }
    }).toMap
  }

  /** Live df per term, cached per term: the parts' raw df/cf summed,
    * minus the postings the view's masks name. While the terms' Σ raw df
    * is within gatherMaxPostings a gather fetches their blocks anyway,
    * so the masked postings are counted on the driver from the (cached)
    * blocks; above it `Deletes.deletedDf` counts them in one job.
    */
  private[lucy] def lookup(terms: Seq[String]): Map[String, TermStats] = {
    val missing = terms.filterNot(dfCache.contains)
    if (missing.nonEmpty) {
      val raw = entries(missing).flatMap { case (t, es) =>
        val st = es.flatMap(_.stats)
        if (st.isEmpty) None else Some(t -> TermStats(t, st.map(_.df).sum, st.map(_.cf).sum))
      }
      val live =
        if (masks.isEmpty || raw.isEmpty) raw
        else if (raw.valuesIterator.map(_.df).sum > gatherMaxPostings)
          Deletes.subtract(raw, Deletes.deletedDf(spark, segmentsDf, raw.keys.toSeq, masks.toSeq))
        else Deletes.subtract(raw, streams(raw.keys.toSeq).map { case (t, ss) =>
          t -> ss.map { case (i, blocks) => Deletes.deadPostings(blocks, masks(i)) }.sum
        })
      missing.foreach(t => dfCache.putIfAbsent(t, live.get(t)))
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
    if (sumRawDf <= gatherMaxPostings) Searcher.gatherLocal(spark, plan, streams(present.toSeq))
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
