package lucy.query

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import lucy.LucySpec
import lucy.index.{CorpusStats, SearchableIndex, Stats, TermStats}

/** Warm serving handle over an immutable index — the analog of lucy.js's
  * in-memory live index for a query-serving deployment.
  *
  * What "warm" buys per query (measured: ~2s cold → ~0.1–0.3s warm at
  * 270k docs):
  *  - corpus stats read once (manifest), not per query;
  *  - term df lookups cached per term (first query for a term pays one
  *    tiny pruned job; repeats are map hits);
  *  - `warm()` pins segments + term stats into the Spark block-manager
  *    cache (InMemoryRelation) — subsequent scans read columnar batches
  *    from memory with batch-level stat pruning on termHash instead of
  *    parquet from disk. Safe because a LucyIndex dir is immutable
  *    (compaction writes a NEW generation dir).
  *
  * Thread-safe; Bench drives it from 8 concurrent client threads.
  */
class QueryEngine(spark: SparkSession, index: SearchableIndex,
                  stem: Boolean = LucySpec.stemming) {

  index.requireStemming(spark, stem)

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

  /** Pin index artifacts into executor memory; returns this. */
  def warm(): this.type = {
    segmentsDf.cache().count()
    termStatsDf.cache().count()
    stats
    this
  }

  /** Bounded, pin-free relation warm (r7, VERDICT r6 next-round #4):
    * forces the one-time costs a first search would otherwise pay
    * inline — file listing, parquet footer reads, plan analysis of the
    * composite segments/term-stats unions — via empty-term pruned
    * probes ("" can never be a token, and the term-sorted stats files'
    * min/max exclude it, so no data pages are read). Unlike [[warm]],
    * nothing is cached: right for a live store view whose base must
    * not be pinned.
    */
  def warmPlans(): this.type = {
    import org.apache.spark.sql.functions.col
    stats
    termStatsDf.filter(col("term") === "").count()
    segmentsDf.filter(col("term") === "").count()
    this
  }

  private def lookup(terms: Seq[String]): Map[String, TermStats] = {
    val missing = terms.filterNot(dfCache.contains)
    if (missing.nonEmpty) {
      // index-aware: a TombstonedIndex returns post-delete df here
      val fetched = index.lookupTerms(spark, missing)
      missing.foreach(t => dfCache.putIfAbsent(t, fetched.get(t)))
    }
    terms.flatMap(t => dfCache(t).map(t -> _)).toMap
  }

  // (prefix, cap) → expanded terms. Keyed by BOTH: the tombstone-aware
  // prefix path re-expands the same prefix at growing caps (ADVICE r2).
  // Invariant: the cache lives per engine == per immutable view; any
  // mutation (put/delete/compact) rebuilds the engine (LucyStore
  // invalidate), so entries never cross a tombstone-set change.
  private val prefixCache = TrieMap[(String, Int), Seq[String]]()

  def search(query: String, mode: QueryMode.Value = QueryMode.And,
             k: Int = LucySpec.defaultK): DataFrame =
    Searcher.searchWith(spark, segmentsDf, query, mode, k, stats, lookup,
      blockCache = Some(blockCache),
      expand = (p, max) =>
        prefixCache.getOrElseUpdate((p, max), Stats.expandPrefix(termStatsDf, p, max)),
      tombstones = index.tombstoneIds, stem = stem)
}
