package lucy.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import lucy.{Hashing, LucySpec}
import lucy.index.{PostingBlock, RunIterator, SearchableIndex, Stats}

/** A segment block row as shuffled to docId buckets (PostingBlock +
  * routing bucket). */
private[query] case class BucketedBlock(
    bucket: Long, srcPart: Int, termHash: Int, term: String, salt: Int, blockNo: Int,
    firstDocId: Long, lastDocId: Long, count: Int, maxTf: Int, minDocLen: Int,
    docsVarint: Array[Byte], tfsVarint: Array[Byte], dlsVarint: Array[Byte],
    posVarint: Array[Byte]) {
  def toBlock: PostingBlock = PostingBlock(termHash, term, salt, blockNo,
    firstDocId, lastDocId, count, maxTf, minDocLen, docsVarint, tfsVarint, dlsVarint,
    posVarint)
}

/** Top-k BM25 over the segment index — entry point 2 (SURVEY.md §3.2).
  *
  * Plan shape and why it scales:
  *
  *  1. PRUNED SCAN — `termHash isin(...)` is a literal predicate on a
  *     column the segments are range-partitioned AND sorted by, so
  *     parquet row-group min/max stats skip everything but the query
  *     terms' blocks. IO is proportional to the query terms' postings,
  *     not the corpus.
  *  2. Three execution shapes, picked by postings volume (Σ df over the
  *     query's terms — known exactly from the stats lookup):
  *
  *     a. SCATTER-GATHER (Σdf ≤ gatherMaxPostings, the common case):
  *        one job collects the pruned COMPRESSED blocks (a few bytes per
  *        posting) to the driver, which runs the same WAND kernel over
  *        the full docId range and returns a LocalRelation — zero
  *        shuffles, zero further jobs. This is the classic distributed-
  *        search serving shape (per-shard fetch + broker-side merge):
  *        a query touching ~10^6 postings is a ~MB transfer and a
  *        sub-ms kernel — scheduling a cluster-wide exchange for it
  *        costs 10-100× the work itself. Warm latency is one task wave.
  *
  *     b. SINGLE-TERM, any size: no per-doc co-location needed (every
  *        posting scores independently), so the kernel runs directly on
  *        the scan partitions — one job, no shuffle, TakeOrdered merge.
  *
  *     c. BUCKET EXCHANGE (multi-term, Σdf large): scoring needs all
  *        query terms co-located per docId. Blocks are routed to fixed
  *        arithmetic docId buckets (docId/width; docIds are xxhash64 →
  *        uniform, so buckets are balanced by construction — no
  *        sampling, no skew). Only the pruned blocks shuffle: for a
  *        4-term query on 10^12 docs this is a few GB against a
  *        PB-scale index. A block rarely straddles a bucket boundary
  *        (128 consecutive docIds in a 2^63 space); if it does, it is
  *        replicated to each overlapped bucket and the kernel evaluates
  *        only docs inside the bucket's range — each doc scored exactly
  *        once. Per-bucket WAND emits ≤k local hits;
  *        orderBy(score DESC, docId ASC).limit(k) plans as
  *        TakeOrderedAndProjectExec (per-partition heap + driver merge).
  *
  * Query-term stats (df per term, N, avgdl) are driver-looked-up (one
  * tiny pruned job over stats/terms) and broadcast inside QueryPlan.
  */
/** Driver-side cache of gathered posting blocks, keyed by term — the
  * serving-layer analog of lucy.js holding its whole index in memory.
  * Safe because a LucyIndex directory is immutable (compaction writes a
  * NEW generation dir and the engine is rebuilt on it): entries never
  * invalidate. Size-capped LRU so a long-running server holds only the
  * working set; each entry is ≤ gatherMaxPostings' worth of compressed
  * blocks. A cache hit makes a repeat-term query pure driver compute —
  * zero Spark jobs.
  *
  * Value shape: one entry per (salt, srcPart) stream, blocks sorted by
  * firstDocId — exactly the kernel's cursor grouping.
  *
  * Oversize policy (VERDICT r2): an entry larger than maxBytes is still
  * admitted — it evicts everything else and pins the cache above its cap
  * until the next put evicts it in turn. Deliberate (the alternative is
  * re-fetching the hottest term on every repeat), and bounded: one entry
  * is at most gatherMaxPostings' worth of compressed blocks, ≈ a few MB
  * of varint bytes (2^20 postings × ~2–4 B + 64 B/block overhead), so
  * the worst-case cache size is maxBytes + one gather.
  */
final class BlockCache(maxBytes: Long = 256L << 20) {
  private type Groups = Seq[((Int, Int), Array[PostingBlock])]
  private val map = new java.util.LinkedHashMap[String, (Long, Groups)](64, 0.75f, true)
  private var bytes = 0L

  def get(term: String): Option[Groups] = synchronized {
    Option(map.get(term)).map(_._2)
  }

  def put(term: String, groups: Groups): Unit = synchronized {
    if (map.containsKey(term)) return
    val sz = groups.iterator.flatMap(_._2).map(b =>
      b.docsVarint.length + b.tfsVarint.length + b.dlsVarint.length + b.posVarint.length + 64L).sum
    map.put(term, (sz, groups))
    bytes += sz
    val it = map.entrySet().iterator()
    while (bytes > maxBytes && it.hasNext) {
      val e = it.next()
      if (e.getKey != term) { bytes -= e.getValue._1; it.remove() }
    }
  }

  def sizeBytes: Long = synchronized(bytes)
}

object Searcher {

  /** Postings-volume ceiling for the scatter-gather path. 2^20 postings
    * ≈ 2–4 MB of varint blocks on the driver — bounded regardless of
    * corpus size because it counts POSTINGS, not documents. Queries
    * above it (head-term combinations at web scale) take the
    * distributed exchange. The value is MEASURED, not a guess: the
    * single-threaded driver kernel runs ~0.2 µs/posting, so ~1M
    * postings ≈ 200 ms ≈ the distributed path's fixed scheduling cost —
    * raising the cap to 2^22 made 1.8M-doc head queries ~40% slower
    * (driver kernel beyond the crossover), lowering it wastes cluster
    * round-trips on tiny queries.
    */
  val defaultGatherMaxPostings: Long = 1L << 20

  /** Default hard ceiling for tombstone-aware prefix over-expansion. */
  val defaultExpandCeiling: Int = 1 << 22

  private val resultSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("nTerms", IntegerType, nullable = false)))

  def search(spark: SparkSession, index: SearchableIndex, query: String,
             mode: QueryMode.Value = QueryMode.And,
             k: Int = LucySpec.defaultK,
             stem: Boolean = LucySpec.stemming): DataFrame = {
    index.requireStemming(spark, stem)
    searchWith(spark, index.segments(spark), query, mode, k, index.corpusStats(spark),
      terms => index.lookupTerms(spark, terms),
      expand = (p, max) => Stats.expandPrefix(index.termStats(spark), p, max),
      tombstones = index.tombstoneIds, stem = stem)
  }

  /** Search with externally supplied plan inputs. QueryEngine passes a
    * REUSED segments DataFrame and cached stats: re-creating the scan per
    * query repeats driver-side file listing + footer reads and was the
    * concurrency bottleneck in serving benchmarks — a warm server plans
    * against one shared relation.
    */
  def searchWith(spark: SparkSession, segments: DataFrame, query: String,
                 mode: QueryMode.Value, k: Int, stats: lucy.index.CorpusStats,
                 lookup: Seq[String] => Map[String, lucy.index.TermStats],
                 gatherMaxPostings: Long = defaultGatherMaxPostings,
                 blockCache: Option[BlockCache] = None,
                 expand: (String, Int) => Seq[String] = null,
                 tombstones: Array[Long] = Array.empty,
                 stem: Boolean = LucySpec.stemming,
                 expandCeiling: Int = defaultExpandCeiling): DataFrame = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), resultSchema)

    // term set (+ phrase slots) by mode (§8.6 r2). `stem` must match the
    // flag the index was built with (§8.7 r3): query tokens are stemmed
    // iff corpus tokens were.
    val slots: Array[String] = mode match {
      case QueryMode.Phrase => LucySpec.tokenizeWith(query, stem)
      case _ => Array.empty
    }
    var prefixDfMap: Map[String, lucy.index.TermStats] = null
    val terms: Array[String] = mode match {
      case QueryMode.Phrase => slots.distinct.sorted
      case QueryMode.Prefix =>
        val p = LucySpec.tokenizeWith(query, stem).headOption.getOrElse("")
        if (p.isEmpty) return empty
        require(expand != null, "Prefix mode needs a term-expansion source")
        val first = expand(p, LucySpec.maxPrefixExpand)
        if (tombstones.isEmpty || first.length < LucySpec.maxPrefixExpand)
          first.toArray.sorted
        else {
          // ADVICE r2: expansion runs over the RAW term stats, so when
          // the cap binds under deletion, fully-deleted terms (post-
          // delete df ≤ 0) would occupy expansion slots and the term set
          // would diverge from the naive engine's "first maxPrefixExpand
          // SURVIVING terms, ascending". Over-expand geometrically,
          // drop non-survivors via lookup (tombstone-aware), stop when
          // the cap is filled with survivors or matches are exhausted
          // (expansion returned fewer than asked). Each round is one
          // pruned stats scan over ≤cap terms; the loop only engages
          // when tombstones exist AND the cap binds.
          // Hard ceiling (default 2^22): guarantees termination and
          // bounds the driver-side expansion collect (~100 MB of terms)
          // even in the pathological state where millions of consecutive
          // matching terms are fully deleted. Beyond it the engine
          // returns the survivors found so far — compact() (which purges
          // tombstones) restores exactness; reaching the ceiling at all
          // implies a store far past its compaction debt. The parameter
          // exists so WandEquivalenceSpec can pin the partial-result
          // behavior without a 4M-term fixture (VERDICT r3 #7).
          val maxCap = expandCeiling
          var cap = LucySpec.maxPrefixExpand
          var expanded = first
          var stats = lookup(expanded)
          var surviving = expanded.filter(stats.contains)
          while (surviving.length < LucySpec.maxPrefixExpand &&
            expanded.length >= cap && cap < maxCap) {
            cap = math.min(cap * 2, maxCap)
            expanded = expand(p, cap)
            stats = lookup(expanded)
            surviving = expanded.filter(stats.contains)
          }
          val sel = surviving.take(LucySpec.maxPrefixExpand).toArray // ascending
          val selSet = sel.toSet
          prefixDfMap = stats.view.filterKeys(selSet).toMap
          sel
        }
      case _ => LucySpec.tokenizeWith(query, stem).distinct.sorted
    }
    if (terms.isEmpty) return empty

    val dfMap = if (prefixDfMap != null) prefixDfMap else lookup(terms.toSeq)
    // terms absent from the corpus: AND/Phrase can never match; OR drops them
    val conj = mode == QueryMode.And || mode == QueryMode.Phrase
    val present = terms.filter(dfMap.contains)
    if (conj && present.length < terms.length) return empty
    if (present.isEmpty) return empty
    val phraseSlots: Array[Int] =
      if (mode == QueryMode.Phrase)
        slots.map(t => java.util.Arrays.binarySearch(present.asInstanceOf[Array[AnyRef]], t))
      else Array.empty

    // Tiny immutable plan: captured in the task closure — at <1 KB the
    // closure IS the broadcast (an explicit torrent broadcast per query
    // costs more than it saves; "broadcasting query-term stats" at this
    // size means shipping them with the task).
    val plan = QueryPlan(present, present.map(dfMap(_).df), stats.n, stats.avgdl,
      conjunctive = conj, k = k, phraseSlots = phraseSlots, tombstones = tombstones)

    val hashes = present.map(t => Hashing.termHash(t).asInstanceOf[Any])
    val pruned = segments
      .filter(col("termHash").isin(hashes.toSeq: _*) &&
        col("term").isin(present.map(_.asInstanceOf[Any]).toSeq: _*))

    // Routing + bucket sizing use the RAW (pre-delete) postings volume:
    // the gather collects, and the exchange shuffles, the physical
    // blocks — tombstoned postings included (ADVICE r2). Scoring idf
    // still uses the exact post-delete df carried in the plan.
    val sumRawDf = present.map(dfMap(_).gatherDf).sum
    if (sumRawDf <= gatherMaxPostings) {
      gatherLocal(spark, segments, plan, blockCache)
    } else {
      val local =
        if (present.length == 1) singleTermLocal(spark, pruned, plan)
        else {
          // Bucket count sized to the work: candidates ≤ Σ df(query
          // terms); aim for ~64k postings per kernel invocation, capped
          // by the session's shuffle partitions. A fixed large D would
          // pay tens of idle tasks per query; a fixed small D would
          // bottleneck head queries at scale.
          val maxB = spark.sessionState.conf.numShufflePartitions
          val numBuckets = math.max(1L, math.min(maxB.toLong, sumRawDf / 65536 + 1)).toInt
          bucketedLocal(spark, pruned, plan, numBuckets)
        }
      local.toDF("docId", "score", "nTerms")
        .orderBy(col("score").desc, col("docId").asc)
        .limit(k)
    }
  }

  /** Shape (a): one collect job over the pruned compressed blocks (only
    * the terms missing from the block cache), WAND kernel + top-k merge
    * on the driver, result as a LocalRelation (a later .collect() runs
    * zero jobs; a fully cache-hit query runs zero jobs period).
    * Bit-identical to the distributed shapes: same kernel, same full
    * docId range, same total order.
    */
  private def gatherLocal(spark: SparkSession, segments: DataFrame, plan: QueryPlan,
                          blockCache: Option[BlockCache]): DataFrame = {
    import spark.implicits._
    val cached: Map[String, Seq[((Int, Int), Array[PostingBlock])]] =
      blockCache match {
        case Some(c) => plan.terms.iterator.flatMap(t => c.get(t).map(t -> _)).toMap
        case None => Map.empty
      }
    val missing = plan.terms.filterNot(cached.contains)

    val fetched: Map[String, Seq[((Int, Int), Array[PostingBlock])]] =
      if (missing.isEmpty) Map.empty
      else {
        val hashes = missing.map(t => Hashing.termHash(t).asInstanceOf[Any])
        val rows = segments
          .filter(col("termHash").isin(hashes.toSeq: _*) &&
            col("term").isin(missing.map(_.asInstanceOf[Any]).toSeq: _*))
          .select(col("srcPart"), col("termHash"), col("term"), col("salt"),
            col("blockNo"), col("firstDocId"), col("lastDocId"), col("count"), col("maxTf"),
            col("minDocLen"), col("docsVarint"), col("tfsVarint"), col("dlsVarint"),
        col("posVarint"))
          .withColumn("bucket", lit(0L))
          .as[BucketedBlock]
          .collect()
        val byTerm = rows.groupBy(_.term).map { case (t, g) =>
          t -> g.groupBy(r => (r.salt, r.srcPart)).toSeq.map { case (key, blocks) =>
            key -> blocks.sortBy(_.firstDocId).map(_.toBlock)
          }
        }
        // a present term can still collect zero blocks only if segments and
        // stats disagree; cache the empty groups too (harmless)
        val complete = missing.iterator.map(t => t -> byTerm.getOrElse(t, Seq.empty)).toMap
        blockCache.foreach(c => complete.foreach { case (t, g) => c.put(t, g) })
        complete
      }

    val groups = plan.terms.indices.flatMap { ti =>
      val t = plan.terms(ti)
      (cached.getOrElse(t, Seq.empty) ++ fetched.getOrElse(t, Seq.empty))
        .map { case (_, blocks) => (ti, blocks) }
    }

    val hits = Wand.topK(plan, groups, 0L, Long.MaxValue).toArray
    val top = hits.sorted(Wand.bestFirst).take(plan.k)
    val list = new java.util.ArrayList[Row](top.length)
    top.foreach(h => list.add(Row(h.docId, h.score, h.nTerms)))
    spark.createDataFrame(list, resultSchema)
  }

  /** Shape (b): single term, kernel directly on scan partitions. */
  private def singleTermLocal(spark: SparkSession, pruned: DataFrame, plan: QueryPlan) = {
    import spark.implicits._
    pruned
      .withColumn("bucket", lit(0L))
      .select(col("bucket"), col("srcPart"), col("termHash"), col("term"), col("salt"),
        col("blockNo"), col("firstDocId"), col("lastDocId"), col("count"), col("maxTf"),
        col("minDocLen"), col("docsVarint"), col("tfsVarint"), col("dlsVarint"),
        col("posVarint"))
      .as[BucketedBlock]
      .mapPartitions { rows =>
        val sorted = rows.toArray.sortBy(r => (r.term, r.salt, r.srcPart, r.firstDocId))
        val cursors = mutable.ArrayBuffer.empty[(Int, Array[PostingBlock])]
        RunIterator(sorted.iterator)(r => (r.term, r.salt, r.srcPart)).foreach {
          case ((t, _, _), g) =>
            val ti = plan.termIndex(t)
            if (ti >= 0) cursors += ((ti, g.map(_.toBlock).toArray))
        }
        Wand.topK(plan, cursors, 0L, Long.MaxValue)
      }
  }

  /** Bucket width such that docId div width ∈ [0, numBuckets] for
    * docIds in [0, Long.MaxValue]. numBuckets == 1 needs the explicit
    * branch: Long.MaxValue/1 + 1 would overflow to Long.MinValue
    * (regression-tested in WandEquivalenceSpec).
    */
  private[query] def bucketWidth(numBuckets: Int): Long =
    if (numBuckets <= 1) Long.MaxValue else Long.MaxValue / numBuckets + 1

  /** Inclusive end of a bucket's docId range. The topmost bucket
    * (Long.MaxValue div width) is end-inclusive at Long.MaxValue so a
    * docId of exactly Long.MaxValue is scoreable (ADVICE r1).
    */
  private[query] def bucketEndInclusive(bucket: Long, width: Long): Long =
    if (bucket >= Long.MaxValue / width) Long.MaxValue
    else (bucket + 1) * width - 1

  /** Shape (c): distributed bucket exchange. */
  private def bucketedLocal(spark: SparkSession, pruned: DataFrame, plan: QueryPlan,
                            numBuckets: Int) = {
    import spark.implicits._
    val width = bucketWidth(numBuckets)
    pruned
      .withColumn("bucket",
        explode(sequence(expr(s"firstDocId div ${width}L"), expr(s"lastDocId div ${width}L"))))
      .select(col("bucket"), col("srcPart"), col("termHash"), col("term"), col("salt"),
        col("blockNo"), col("firstDocId"), col("lastDocId"), col("count"), col("maxTf"),
        col("minDocLen"), col("docsVarint"), col("tfsVarint"), col("dlsVarint"),
        col("posVarint"))
      .repartition(numBuckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col("term"), col("salt"), col("srcPart"),
        col("firstDocId"))
      .as[BucketedBlock]
      .mapPartitions { rows =>
        RunIterator(rows)(_.bucket).flatMap { case (bucket, run) =>
          // buffer this bucket's pruned blocks, one cursor per (term, salt,
          // srcPart); rows arrive sorted by (term, salt, srcPart, firstDocId).
          // srcPart matters: different sub-indexes of a composite overlap in
          // docId space and must not be concatenated into one stream.
          val groups = mutable.ArrayBuffer.empty[(Int, Array[PostingBlock])]
          RunIterator(run)(r => (r.term, r.salt, r.srcPart)).foreach { case ((t, _, _), g) =>
            val ti = plan.termIndex(t)
            if (ti >= 0) groups += ((ti, g.map(_.toBlock).toArray))
          }
          Wand.topK(plan, groups, bucket * width, bucketEndInclusive(bucket, width))
        }
      }
  }

  /** J4 — attach urls for display (tiny isin-filtered broadcast join). */
  def searchWithUrls(spark: SparkSession, index: SearchableIndex, query: String,
                     mode: QueryMode.Value = QueryMode.And,
                     k: Int = LucySpec.defaultK): DataFrame =
    NaiveSearch.withUrls(search(spark, index, query, mode, k), index.docmap(spark))
}
