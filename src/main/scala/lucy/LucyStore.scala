package lucy

import org.apache.spark.sql.{DataFrame, SparkSession}
import lucy.index.{BuildManifest, IndexConfig, SearchableIndex}
import lucy.query.{QueryEngine, QueryMode}
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
  * A serving QueryEngine (block cache + stats cache) is rebuilt whenever
  * the underlying view changes — mutation invalidates, reads are warm in
  * between. Single-writer semantics (one driver mutates a store), same
  * as lucy.js's single JS thread.
  */
final class LucyStore(spark: SparkSession, rootDir: String,
                      config: IndexConfig = IndexConfig()) {

  @volatile private var engineCache: Option[QueryEngine] = None

  private def invalidate(): Unit = {
    synchronized { engineCache = None }
    warmAsync()
  }

  // DELTA relation warm cache (r6, VERDICT r5 next-round #6): a
  // mutation invalidates the composite ENGINE, but the part directories
  // underneath (base generation, completed deltas) are immutable — only
  // compaction retires them. The r5 store soak paid for ignoring that:
  // the first 5 live searches over base+deltas cost 11.1 s vs 3.5 s
  // post-compaction, because every rebuilt engine re-planned every
  // part's relations from disk. Here each DELTA's segments / term-stats
  // / docmap relations are persisted ONCE per directory and survive
  // engine invalidation; Spark's plan-based cache substitution
  // (CacheManager matches any later scan of the same path) makes the
  // rebuilt composite's unions hit the in-memory copies without
  // CompositeIndex knowing the cache exists. The BASE generation is
  // deliberately NOT pinned: at corpus scale the base cannot live in
  // executor memory and its range-sorted parquet already serves pruned
  // termHash probes — deltas are the small, hot, every-query relations
  // (exactly lucy.js's in-memory recent-writes picture over a big
  // store). A put/delete warms only its NEW delta; compaction prunes
  // entries whose directories left the live view (unpersist —
  // block-manager memory stays bounded by the live delta set).
  private val warmedParts = scala.collection.concurrent.TrieMap[String, Seq[org.apache.spark.sql.Dataset[_]]]()

  // DELIBERATELY NOT persisted: the composite term-stats aggregation
  // (union of parts → groupBy term). Term lookups and prefix expansion
  // both filter on the grouping column, so Catalyst pushes the
  // predicate below the Aggregate into every part's scan — the base's
  // term-SORTED stats parquet serves them as min/max-pruned range
  // probes and the delta scans hit the part caches above; each lookup
  // is one delta-sized job. An earlier r6 draft persisted the full
  // aggregation per view generation instead: that materialization is a
  // full-VOCABULARY shuffle paid per MUTATION on the warm-behind
  // thread, racing ingest — a non-starter at corpus-scale base
  // vocabulary — and the interleaved 1 M-doc A/B
  // (store_ab_vs_*/store_ab_novs_*, BENCH/BASELINE.md round 6) showed
  // it buys nothing: steady-state warm live search identical
  // (2.37/2.50 s vs 2.32/2.38 s per 5 queries), zero-gap first search
  // identical, puts parity-to-better without it (best-of 19.3 s vs
  // 22.7 s for 5 × 50 k). The pushdown path wins on scale grounds at
  // equal measured cost.

  private def syncPartCache(v: SearchableIndex): Unit = {
    val live = v.parts.map(_.dir).toSet
    val liveDeltas = live.filter(_.contains("/deltas/"))
    warmedParts.keys.filterNot(liveDeltas.contains).toSeq.foreach { d =>
      warmedParts.remove(d).foreach(_.foreach(_.unpersist()))
    }
    liveDeltas.foreach { d =>
      warmedParts.getOrElseUpdate(d, {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        Seq(s"$d/segments", s"$d/stats/terms", s"$d/docmap")
          .map(p => lucy.index.LucyIndex.read(spark, p).persist(MEMORY_AND_DISK))
      })
    }
  }

  private def engine: QueryEngine = synchronized {
    engineCache.getOrElse {
      val v = view
      syncPartCache(v)
      val e = new QueryEngine(spark, v)
      engineCache = Some(e)
      e
    }
  }

  // Warm-BEHIND: after every mutation the next engine's one-time costs
  // — the relations' file listing and footers, the new delta's caches — are
  // paid on a background daemon thread, so the first post-mutation
  // search finds a warm engine instead of paying them inline (lucy.js
  // updates its in-memory index ON put; this is the async cluster
  // analog). Purely a read-side warm: single-writer semantics are
  // untouched, and a search racing the warm simply shares the same
  // synchronized engine build / lazy stats computation instead of
  // duplicating it. Back-to-back mutations coalesce (one pending warm).
  private val warmPool = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "lucystore-warm"); t.setDaemon(true); t
  }
  private val warmQueued = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def warmAsync(): Unit =
    if (warmQueued.compareAndSet(false, true))
      warmPool.submit(new Runnable {
        def run(): Unit = {
          warmQueued.set(false) // before the work: a mutation mid-warm re-queues
          try {
            val e = engine
            // corpus stats (manifest arithmetic), then the relation-level
            // one-time costs (file listing, parquet footers, union-plan analysis)
            // via pruned no-data probes: with the warm given think-time
            // to finish, the first live search costs the same as a
            // steady one. Deliberately SEQUENTIAL: under FIFO
            // scheduling a parallel warm hogs executor slots exactly
            // when a zero-gap search races it.
            e.warmPlans()
            // materialize the delta relation caches (delta-sized jobs;
            // idempotent — in-memory hits after the first build)
            warmedParts.values.flatten.foreach(_.count())
          } catch {
            case ex if scala.util.control.NonFatal(ex) =>
              // a persistent warm failure must never be silent — every
              // first search would degrade with no trace. The engine stays correct (searches build
              // it lazily); this is purely a performance warning.
              log.warn(s"background warm failed for $rootDir — first " +
                "post-mutation searches will pay the engine build inline", ex)
          }
        }
      })

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Release everything this store pinned (ADVICE r6 #1): shuts down
    * the warm executor and unpersists the delta relation caches. The
    * store remains usable afterwards (caches rebuild lazily; the warm
    * thread is simply gone), but the intended use is end-of-life for
    * long-lived drivers and test suites that open many stores.
    */
  def close(): Unit = {
    warmPool.shutdownNow()
    warmedParts.keys.toSeq.foreach { d =>
      warmedParts.remove(d).foreach(_.foreach(_.unpersist()))
    }
    synchronized { engineCache = None }
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
