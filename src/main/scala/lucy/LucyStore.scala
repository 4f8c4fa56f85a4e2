package lucy

import org.apache.spark.sql.{DataFrame, SparkSession}
import lucy.index.{BuildManifest, IndexConfig, SearchableIndex}
import lucy.query.{BlockCache, QueryEngine, QueryMode}
import lucy.stream.IncrementalIndexer

/** The lucy.js user-facing surface, whole: a mutable document store with
  * a live full-text index. lucy.js hooks IndexedDB `put/add/delete` and
  * answers `search()` against the in-memory inverted index; this is the
  * cluster-scale equivalent over the delta/mask/compaction machinery
  * (SURVEY.md §3.3, §8.7):
  *
  *   - `put(pages)`   — add or replace documents (url-keyed: the latest
  *     warc_ts wins) → one delta index plus masks on the versions it
  *     replaced, exactly-once by the caller-supplied batch id.
  *   - `delete(urls)` — mask the urls' live versions; a later put adds
  *     them again.
  *   - `search(q)`    — top-k BM25 (And/Or/Phrase/Prefix) over the live
  *     view, BIT-EQUAL to a from-scratch index of the store's current
  *     contents after any sequence of puts and deletes: the view holds
  *     exactly one unmasked version of each live url (IncrementalIndexer).
  *   - `compact()`    — fold the parts' unmasked rows into a new base
  *     generation; answers do not change.
  *
  * Caches: every part dir is immutable until compaction retires it, so
  * what a search learns about a part — its term stats and gathered
  * posting blocks — belongs to the part, not to the view. The store
  * keeps one part cache (BlockCache, keyed by part dir and term) for
  * all its views; a view adds only its masks and the live dfs they
  * imply. A search right after a put therefore reads only the new
  * delta, and one right after a delete reads nothing. A part's entries
  * leave when its dir leaves the view. No relation is pinned in Spark's
  * cache: with the part cache in place, pinning each delta's relations
  * bought nothing (store_churn, 4 cores, untraced seeds 1 and 4–6,
  * medians with pins → without: zero-gap search p50 232 → 233 ms, put
  * ingest 51 → 59 docs/s).
  *
  * Concurrency: a single writer (one driver thread mutates a store), as
  * lucy.js's single JS thread is; concurrent searches share one
  * QueryEngine per view. A mutation commits, drops the cached engine
  * and returns; the next search builds the new view's engine on its own
  * thread. Nothing runs in the background, and `close()` releases the
  * part cache.
  */
final class LucyStore(spark: SparkSession, rootDir: String,
                      config: IndexConfig = IndexConfig()) {

  private var engineCache: Option[QueryEngine] = None

  // the part cache every engine of this store reads and fills
  private[lucy] val partCache = new BlockCache()

  private def invalidate(): Unit = synchronized { engineCache = None }

  private def engine: QueryEngine = synchronized {
    engineCache.getOrElse {
      val v = view
      partCache.retainDirs(v.parts.map(_.dir).toSet)
      val e = new QueryEngine(spark, v, cache = partCache)
      engineCache = Some(e)
      e
    }
  }

  /** Release everything this store cached: the part cache and the
    * engine. The store remains usable afterwards (the next search
    * rebuilds both); the intended use is end-of-life for long-lived
    * drivers and test suites that open many stores.
    */
  def close(): Unit = synchronized {
    partCache.clear()
    engineCache = None
  }

  /** The current searchable view (base + deltas, masked). */
  def view: SearchableIndex = IncrementalIndexer.composite(spark, rootDir)

  /** Bootstrap the store from an initial corpus (no-op analog: an empty
    * store works too — the first put creates the first delta).
    */
  def bootstrap(pages: DataFrame): BuildManifest = {
    val m = IncrementalIndexer.bootstrap(pages, rootDir, config)
    invalidate(); m
  }

  /** Add or replace documents. batchId is the exactly-once key:
    * re-putting the same id is a no-op (a replaying upstream is safe).
    */
  def put(pages: DataFrame, batchId: Long): Unit = {
    IncrementalIndexer.indexBatch(pages, rootDir, batchId, config)
    invalidate()
  }

  /** Delete documents by url. */
  def delete(urls: Seq[String]): Unit = {
    IncrementalIndexer.deleteUrls(spark, rootDir, urls)
    invalidate()
  }

  /** Fold deltas and deletes into a new base generation. */
  def compact(): BuildManifest = {
    val m = IncrementalIndexer.compact(spark, rootDir, config)
    invalidate(); m
  }

  def search(query: String, mode: QueryMode.Value = QueryMode.And,
             k: Int = LucySpec.defaultK): DataFrame =
    engine.search(query, mode, k)

  /** Search with urls attached (J4 join-back), both from one view. */
  def searchWithUrls(query: String, mode: QueryMode.Value = QueryMode.And,
                     k: Int = LucySpec.defaultK): DataFrame =
    engine.searchWithUrls(query, mode, k)
}
