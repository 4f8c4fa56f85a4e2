package lucy.query

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import lucy.{Hashing, LucySpec}
import lucy.index.{PostingBlock, RunIterator, SearchableIndex, TermStats}

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

/** One index part's share of one term, as [[BlockCache]] holds it: the
  * term's raw df/cf in that part (None: the part lacks the term) and,
  * once gathered, its blocks per salt stream, each sorted by firstDocId
  * and so one kernel cursor (None: not gathered yet).
  */
final case class PartTerm(stats: Option[TermStats], streams: Option[Seq[(Int, Array[PostingBlock])]]) {
  private[query] def bytes: Long = 64L + streams.iterator.flatten.flatMap(_._2).map(b =>
    b.docsVarint.length + b.tfsVarint.length + b.dlsVarint.length + b.posVarint.length + 64L).sum
}

object PartTerm {
  /** The part does not hold the term: no stats and no blocks to gather. */
  val absent: PartTerm = PartTerm(None, Some(Nil))
}

/** Driver-side cache of term stats and gathered posting blocks, keyed by
  * (part dir, term) — the serving-layer analog of lucy.js holding its
  * whole index in memory. A part dir is immutable (a put writes a new
  * delta dir, compaction a new base generation), so an entry never goes
  * stale: it holds the part's RAW postings, masked ones included, and is
  * right for every view that holds the part, whatever that view's masks.
  * One cache therefore serves a store's successive views (LucyStore
  * hands its own to every engine it builds), and each engine applies its
  * view's masks when it reads an entry. A query whose (part, term) pairs
  * all hit is pure driver compute — zero Spark jobs.
  *
  * Size-capped LRU so a long-running server holds only the working set.
  * Oversize policy: an entry larger than maxBytes is still admitted — it
  * evicts everything else and pins the cache above its cap until the
  * next put evicts it in turn. Deliberate (the alternative is re-fetching
  * the hottest term on every repeat), and bounded: one entry is at most
  * gatherMaxPostings' worth of compressed blocks, ≈ a few MB of varint
  * bytes (2^20 postings × ~2–4 B + 64 B/block overhead), so the worst-
  * case cache size is maxBytes + one gather.
  */
final class BlockCache(maxBytes: Long = 256L << 20) {
  private val map = new java.util.LinkedHashMap[(String, String), (Long, PartTerm)](64, 0.75f, true)
  private var bytes = 0L

  def get(dir: String, term: String): Option[PartTerm] = synchronized {
    Option(map.get((dir, term))).map(_._2)
  }

  /** Holds `e` for (dir, term), replacing the entry there, and evicts the
    * least recently used other entries while the cache is over its cap.
    */
  def put(dir: String, term: String, e: PartTerm): Unit = synchronized {
    val key = (dir, term)
    val sz = e.bytes
    Option(map.put(key, (sz, e))).foreach(old => bytes -= old._1)
    bytes += sz
    val it = map.entrySet().iterator()
    while (bytes > maxBytes && it.hasNext) {
      val x = it.next()
      if (x.getKey != key) { bytes -= x.getValue._1; it.remove() }
    }
  }

  /** Drops the entries of every part dir outside `live`. */
  def retainDirs(live: Set[String]): Unit = synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val x = it.next()
      if (!live.contains(x.getKey._1)) { bytes -= x.getValue._1; it.remove() }
    }
  }

  def clear(): Unit = synchronized { map.clear(); bytes = 0L }

  def sizeBytes: Long = synchronized(bytes)
}

/** The execution shapes of top-k BM25 over the segment index (SURVEY.md
  * §3.2). [[QueryEngine]] turns a query into a [[QueryPlan]] and picks
  * the shape; this object holds the shapes, the bucket arithmetic and
  * two one-call entry points over a fresh engine.
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
  * Query-term stats (df per term, N, avgdl) are looked up on the driver
  * (one tiny pruned job over stats/terms) and ship inside the QueryPlan.
  */
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

  private[query] val resultSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("nTerms", IntegerType, nullable = false)))

  /** Top-k over `index` through a fresh [[QueryEngine]]. */
  def search(spark: SparkSession, index: SearchableIndex, query: String,
             mode: QueryMode.Value = QueryMode.And,
             k: Int = LucySpec.defaultK): DataFrame =
    new QueryEngine(spark, index).search(query, mode, k)

  /** J4 — top-k with display urls, through a fresh [[QueryEngine]]. */
  def searchWithUrls(spark: SparkSession, index: SearchableIndex, query: String,
                     mode: QueryMode.Value = QueryMode.And,
                     k: Int = LucySpec.defaultK): DataFrame =
    new QueryEngine(spark, index).searchWithUrls(query, mode, k)

  /** The blocks of `terms`: both literal IN-filters reach the parquet
    * scan, and the termHash one prunes row groups of the range-sorted
    * segments.
    */
  private[query] def termBlocks(segments: DataFrame, terms: Array[String]): DataFrame =
    segments.filter(col("termHash").isin(terms.map(t => Hashing.termHash(t): Any).toSeq: _*) &&
      col("term").isin(terms.map(t => t: Any).toSeq: _*))

  /** The PostingBlock columns a shape reads, plus the composite's
    * srcPart.
    */
  private val blockCols = Seq("srcPart", "termHash", "term", "salt", "blockNo", "firstDocId",
    "lastDocId", "count", "maxTf", "minDocLen", "docsVarint", "tfsVarint", "dlsVarint",
    "posVarint").map(col)

  /** Bucket count sized to the work: candidates ≤ Σ df(query terms);
    * aim for ~64k postings per kernel invocation, capped by the
    * session's shuffle partitions. A fixed large count would pay tens
    * of idle tasks per query; a fixed small one would bottleneck head
    * queries at scale.
    */
  private[query] def numBuckets(spark: SparkSession, sumRawDf: Long): Int = {
    val maxB = spark.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(maxB.toLong, sumRawDf / 65536 + 1)).toInt
  }

  /** The blocks of `terms` in `segments`, in one collect job: per
    * (srcPart, term), its salt streams, each sorted by firstDocId.
    */
  private[query] def fetchStreams(spark: SparkSession, segments: DataFrame,
                                  terms: Seq[String]): Map[(Int, String), Seq[(Int, Array[PostingBlock])]] = {
    import spark.implicits._
    termBlocks(segments, terms.toArray)
      .select(blockCols: _*)
      .withColumn("bucket", lit(0L))
      .as[BucketedBlock]
      .collect()
      .groupBy(r => (r.srcPart, r.term)).map { case (key, rows) =>
        key -> rows.groupBy(_.salt).toSeq.map { case (salt, bs) => salt -> bs.sortBy(_.firstDocId).map(_.toBlock) }
      }
  }

  /** Shape (a): the WAND kernel and top-k merge on the driver, over each
    * plan term's gathered (srcPart, blocks) streams (the engine fetches
    * the ones its cache lacks in one collect job); the result is a
    * LocalRelation, so a later .collect() runs zero jobs. Bit-identical
    * to the distributed shapes: same kernel, same full docId range, same
    * total order.
    */
  private[query] def gatherLocal(spark: SparkSession, plan: QueryPlan,
                                 streams: Map[String, Seq[(Int, Array[PostingBlock])]]): DataFrame = {
    val groups = plan.terms.indices.flatMap { ti =>
      streams.getOrElse(plan.terms(ti), Nil).map { case (srcPart, blocks) => (ti, srcPart, blocks) }
    }
    val hits = Wand.topK(plan, groups, 0L, Long.MaxValue).toArray
    val top = hits.sorted(Wand.bestFirst).take(plan.k)
    val list = new java.util.ArrayList[Row](top.length)
    top.foreach(h => list.add(Row(h.docId, h.score, h.nTerms)))
    spark.createDataFrame(list, resultSchema)
  }

  /** Shape (b): single term, kernel directly on scan partitions. */
  private[query] def singleTermLocal(spark: SparkSession, pruned: DataFrame, plan: QueryPlan) = {
    import spark.implicits._
    pruned
      .withColumn("bucket", lit(0L))
      .select(col("bucket") +: blockCols: _*)
      .as[BucketedBlock]
      .mapPartitions { rows =>
        val sorted = rows.toArray.sortBy(r => (r.term, r.salt, r.srcPart, r.firstDocId))
        val cursors = mutable.ArrayBuffer.empty[(Int, Int, Array[PostingBlock])]
        RunIterator(sorted.iterator)(r => (r.term, r.salt, r.srcPart)).foreach {
          case ((t, _, srcPart), g) =>
            val ti = plan.termIndex(t)
            if (ti >= 0) cursors += ((ti, srcPart, g.map(_.toBlock).toArray))
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
    * docId of exactly Long.MaxValue is scoreable.
    */
  private[query] def bucketEndInclusive(bucket: Long, width: Long): Long =
    if (bucket >= Long.MaxValue / width) Long.MaxValue
    else (bucket + 1) * width - 1

  /** Shape (c): distributed bucket exchange. */
  private[query] def bucketedLocal(spark: SparkSession, pruned: DataFrame, plan: QueryPlan,
                                   numBuckets: Int) = {
    import spark.implicits._
    val width = bucketWidth(numBuckets)
    pruned
      .withColumn("bucket",
        explode(sequence(expr(s"firstDocId div ${width}L"), expr(s"lastDocId div ${width}L"))))
      .select(col("bucket") +: blockCols: _*)
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
          val groups = mutable.ArrayBuffer.empty[(Int, Int, Array[PostingBlock])]
          RunIterator(run)(r => (r.term, r.salt, r.srcPart)).foreach { case ((t, _, srcPart), g) =>
            val ti = plan.termIndex(t)
            if (ti >= 0) groups += ((ti, srcPart, g.map(_.toBlock).toArray))
          }
          Wand.topK(plan, groups, bucket * width, bucketEndInclusive(bucket, width))
        }
      }
  }
}
