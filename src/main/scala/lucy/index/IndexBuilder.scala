package lucy.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Build configuration. numPartitions=0 → spark.sql.shuffle.partitions.
  * saltDfThreshold is LucySpec's 2^20 in production; tests lower it to
  * exercise the salted paths at toy scale.
  */
case class IndexConfig(
    numPartitions: Int = 0,
    saltDfThreshold: Long = lucy.LucySpec.saltDfThreshold,
    maxSalts: Int = lucy.LucySpec.maxSalts,
    lang: Option[String] = Some("en"),
    /** ST4: when set (e.g. "1 hour"), the streaming ingest drops
      * EXACT replays — same (url, warc_ts) — across micro-batches via
      * dropDuplicatesWithinWatermark state, so a replaying upstream
      * can't double-count df/cf between compactions. Genuine recrawls
      * (same url, NEW warc_ts) pass through — latest-wins belongs to
      * compaction (PF2), not the ingest filter.
      */
    streamDedupWatermark: Option[String] = None,
    /** §8.7 r3: Porter-stem tokens after the stopword/length filters.
      * Frozen OFF by LucySpec; a reconciliation event flips the LucySpec
      * val and every default follows. Query-side tokenization must use
      * the same flag (Searcher/QueryEngine stem parameter) — the
      * stemming-ON golden set + StemmedRankIdentitySpec prove the flip
      * end-to-end.
      */
    stemming: Boolean = lucy.LucySpec.stemming)

/** Anything the query path can search: one segment index or a
  * base+deltas composite (SURVEY.md §2.8 SET3).
  */
trait SearchableIndex {
  /** Segment blocks. MUST carry a `srcPart` column distinguishing
    * physically independent sub-indexes: blocks of one (term, salt,
    * srcPart) form a sorted, non-overlapping docId stream (a cursor);
    * streams from different parts overlap in docId space and must be
    * separate cursors in the kernel.
    */
  def segments(spark: SparkSession): DataFrame
  def docmap(spark: SparkSession): DataFrame
  def termStats(spark: SparkSession): DataFrame
  def corpusStats(spark: SparkSession): CorpusStats

  /** Query-term stats for planning. TombstonedIndex overrides this with
    * post-delete df (Deletes.deletedDf).
    */
  def lookupTerms(spark: SparkSession, terms: Seq[String]): Map[String, TermStats] =
    Stats.lookupTerms(termStats(spark), terms)

  /** Sorted docIds masked from this view (empty unless wrapped by
    * TombstonedIndex); the kernel skips them before they take heap slots.
    */
  def tombstoneIds: Array[Long] = Array.empty

  /** The physical index directories behind this view. */
  def parts: Seq[LucyIndex]

  /** Fails loudly when a part was built with a different stemming flag
    * than `stem`, the flag queries are tokenized with: the mismatch
    * would otherwise silently miss every inflected term. Parts whose
    * manifest does not record the flag are not checked.
    */
  def requireStemming(spark: SparkSession, stem: Boolean): Unit =
    for (p <- parts; built <- p.manifest(spark).flatMap(_.stemming) if built != stem)
      throw new IllegalArgumentException(s"index ${p.dir} was built with " +
        s"stemming=$built but is searched with stemming=$stem; search with the build's flag")
}

/** On-disk index layout:
  * {{{
  * indexDir/
  *   docmap/          parquet  docId, url, warc_ts, lang, docLen
  *   stats/terms/     parquet  term, df, cf — range-sorted by term, so
  *                             parquet min/max stats prune term lookups
  *   segments/        parquet  PostingBlock columns + partId — range-
  *                             partitioned and sorted by termHash, so
  *                             termHash isin(...) prunes row groups/files
  *   meta/partitions/ json     per-partition lineage + metrics
  *   meta/build/      json     BuildManifest (fingerprint, timings) — LAST
  * }}}
  */
case class LucyIndex(dir: String) extends SearchableIndex {
  def parts: Seq[LucyIndex] = Seq(this)
  def docmap(spark: SparkSession): DataFrame = spark.read.parquet(s"$dir/docmap")
  def termStats(spark: SparkSession): DataFrame = spark.read.parquet(s"$dir/stats/terms")
  def segments(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/segments").withColumn("srcPart", lit(0))
  def manifest(spark: SparkSession): Option[BuildManifest] = Manifest.readBuild(spark, dir)
  def corpusStats(spark: SparkSession): CorpusStats = {
    val m = manifest(spark).getOrElse(sys.error(s"no build manifest in $dir"))
    CorpusStats(m.docs, m.avgdl)
  }
}

/** Query-time union of a base index and delta indexes (SET3).
  *
  * Exact when parts are url-disjoint (pure appends). When a url was
  * recrawled into a delta and not yet compacted: the doc keeps its docId
  * (hash of url), the kernel scores AT MOST ONE posting per (term, doc)
  * — cursors of one term are probed first-match — and docmap/corpus
  * stats take the LATEST version per docId; stale postings of replaced
  * versions may still match until compaction merges them out
  * (SURVEY.md §2.9 ST2: the index is additive; dedup happens at
  * compaction). Compaction restores exact single-index semantics.
  */
object CompositeIndex {
  /** Driver bound for fastCorpusStats' collected small-part rows.
    * A `var` solely so IncrementalSpec can lower it to pin the
    * fast-path/fallback boundary without a 2²⁰-doc fixture (VERDICT r6
    * next-round #6); production code never writes it.
    */
  @volatile var smallSideLimit: Long = 1L << 20
}

case class CompositeIndex(parts: Seq[LucyIndex]) extends SearchableIndex {
  require(parts.nonEmpty, "composite of zero indexes")
  def segments(spark: SparkSession): DataFrame =
    parts.zipWithIndex.map { case (p, i) =>
      p.segments(spark).withColumn("srcPart", lit(i))
    }.reduce(_ unionByName _)
  def docmap(spark: SparkSession): DataFrame = {
    // latest version per docId wins (warc_ts tie → later part wins)
    val tagged = parts.zipWithIndex.map { case (p, i) =>
      p.docmap(spark).withColumn("srcIdx", lit(i))
    }.reduce(_ unionByName _)
    tagged.groupBy(col("docId"))
      .agg(max_by(struct(col("url"), col("warc_ts"), col("lang"), col("docLen")),
        struct(col("warc_ts"), col("srcIdx"))).as("r"))
      .select(col("docId"), col("r.url").as("url"), col("r.warc_ts").as("warc_ts"),
        col("r.lang").as("lang"), col("r.docLen").as("docLen"))
  }
  def termStats(spark: SparkSession): DataFrame =
    parts.map(_.termStats(spark)).reduce(_ unionByName _)
      .groupBy(col("term"))
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"))
  def corpusStats(spark: SparkSession): CorpusStats =
    if (parts.length == 1) parts.head.corpusStats(spark)
    else fastCorpusStats(spark).getOrElse(aggCorpusStats(spark))

  /** Shuffle-free composite stats (r6, VERDICT r5 next-round #6): the
    * base+deltas shape has ONE big part and small recent ones, and the
    * big part's manifest already carries exact (docs, Σ docLen). So:
    * collect the small parts' slim docmap rows (bounded — guard below),
    * probe the big part ONCE with a broadcast semi-join for the
    * overlapping docIds (a pipelined scan, no Exchange), and apply the
    * winner rule — max (warc_ts, srcIdx), identical to docmap()'s
    * max_by struct ordering — driver-side. N and Σ docLen corrections
    * are exact Long arithmetic; avgdl = Σ/N is the same division the
    * builder's avg produced (doc on BuildManifest.sumDocLen), pinned by
    * IncrementalSpec's bit-equal composite-vs-scratch scores. This was
    * the dominant first-query cost of a live store view: a full
    * docmap-union SHUFFLE per mutation, now one exchange-free pass.
    * Honest cost accounting: the semi-join's broadcast side is
    * delta-sized, but its SCAN side reads the whole big-part docmap
    * (column-pruned to 3 columns, pipelined, no shuffle) — one such
    * pass per view composition (the engine caches stats per view, the
    * warm-behind pays it off the query path). Exact stats under
    * url-update semantics need to learn the delta∩base overlap from
    * somewhere; without a docId-indexed base that is a scan per NEW
    * composition, amortized by batching puts.
    */
  private def fastCorpusStats(spark: SparkSession): Option[CorpusStats] = {
    val manifests = parts.map(_.manifest(spark))
    if (manifests.exists(m => m.isEmpty || m.get.sumDocLen.isEmpty)) return None
    val docsArr = manifests.map(_.get.docs)
    val bigIdx = docsArr.zipWithIndex.maxBy(_._1)._2
    if (docsArr.sum - docsArr(bigIdx) > CompositeIndex.smallSideLimit) return None
    val big = parts(bigIdx)
    // (docId, docLen, tsMicros, srcIdx) rows of every small part,
    // gathered in ONE union job (a collect per part was most of the
    // path's wall at 5+ deltas); unix_micros is an exact image of the
    // timestamp, so Long ordering == timestamp ordering in the max_by
    // struct
    // null warc_ts guard (ADVICE r6 #3): docmap()'s max_by and the
    // aggregation fallback tolerate null timestamps; this path must not
    // NPE on them. Long.MinValue sorts a null-ts row below every real
    // one — the same "loses every tie" rank a null has in the max_by
    // struct ordering.
    val smalls = parts.zipWithIndex.filter(_._2 != bigIdx).map { case (p, i) =>
      p.docmap(spark)
        .select(col("docId"), col("docLen").cast("long"),
          coalesce(unix_micros(col("warc_ts")), lit(Long.MinValue)),
          lit(i).as("srcIdx"))
    }.reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val smallIds = smalls.map(_._1).distinct
    val overlap: Map[Long, (Long, Long)] = if (smallIds.isEmpty) Map.empty else {
      import spark.implicits._
      big.docmap(spark)
        .select(col("docId"), col("docLen").cast("long"),
          coalesce(unix_micros(col("warc_ts")), lit(Long.MinValue)))
        .join(broadcast(smallIds.toSeq.toDF("docId")), Seq("docId"), "left_semi")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    // winner per small-involved docId over {big row?, small rows}
    val byId = smalls.groupBy(_._1)
    var n = docsArr(bigIdx)
    var sumLen = manifests(bigIdx).get.sumDocLen.get
    byId.foreach { case (id, rows) =>
      // max by (tsMicros, srcIdx); big's srcIdx is bigIdx
      val bestSmall = rows.maxBy(r => (r._3, r._4))
      overlap.get(id) match {
        case Some((bigLen, bigTs)) =>
          val smallWins = bestSmall._3 > bigTs ||
            (bestSmall._3 == bigTs && bestSmall._4 > bigIdx)
          if (smallWins) sumLen += bestSmall._2 - bigLen
        case None =>
          n += 1
          sumLen += bestSmall._2
      }
    }
    Some(CorpusStats(n, if (n == 0) 0.0 else sumLen.toDouble / n))
  }

  /** Fallback (pre-r6 manifests, or a small side too big for the
    * driver): SLIM winners aggregation — the scan and shuffle carry
    * (docId, docLen, warc_ts), not the url strings that dominate docmap
    * row width. Winner ordering is identical to docmap()'s.
    */
  private def aggCorpusStats(spark: SparkSession): CorpusStats = {
    val slim = parts.zipWithIndex.map { case (p, i) =>
      p.docmap(spark).select(col("docId"), col("docLen"), col("warc_ts"),
        lit(i).as("srcIdx"))
    }.reduce(_ unionByName _)
    val row = slim.groupBy(col("docId"))
      .agg(max_by(col("docLen"), struct(col("warc_ts"), col("srcIdx"))).as("docLen"))
      .agg(count(lit(1)).as("n"), avg(col("docLen")).as("avgdl")).head()
    CorpusStats(row.getLong(0), if (row.isNullAt(1)) 0.0 else row.getDouble(1))
  }
}

/** Batch index build — entry point 1 (SURVEY.md §3.1).
  *
  * Stage structure and shuffles (r2: the old explode + groupBy(docId,
  * term) tf-aggregation shuffle is GONE — a doc's postings never span
  * rows, so tf/positions are computed per document in one mapper pass,
  * Ingest.termPostingsUdf):
  *  1. scan + lang filter (pushed to parquet) .......... no shuffle
  *  2. url dedup (max_by hash agg) ..................... SHUFFLE on url
  *  3. extractText + tokenize UDFs, docId .............. pipelined
  *  4. docmap write
  *  5. per-doc posting extraction (tf + varint positions) pipelined UDF
  *  6. term stats agg .................................. SHUFFLE on term (small output)
  *  7. head-term salting ............................... broadcast join (tiny)
  *  8. range exchange + sort by (termHash,term,salt) ... SHUFFLE (the big one)
  *  9. streaming block pack ............................ mapPartitions
  * 10. segments write + manifests (manifest LAST)
  *
  * Resume (BASELINE.json:14): each output dir's _SUCCESS is the stage
  * checkpoint; completed stages are skipped on re-run. `fingerprint`
  * names the input (caller supplies, e.g. "path@snapshot"); a non-empty
  * mismatch forces a full rebuild into a clean dir. All stage outputs
  * are deterministic functions of the input (fixed-seed hashing, pure
  * UDFs), so re-running a missing stage after a crash reproduces
  * byte-identical logical content.
  */
object IndexBuilder {

  def build(pages: DataFrame, indexDir: String,
            config: IndexConfig = IndexConfig(),
            fingerprint: String = ""): BuildManifest = {
    val spark = pages.sparkSession
    Manifest.readBuild(spark, indexDir) match {
      case Some(m) if fingerprint.isEmpty || m.fingerprint == fingerprint =>
        return m // complete build already present
      case Some(m) =>
        sys.error(s"index at $indexDir was built from '${m.fingerprint}', " +
          s"refusing to overwrite with '$fingerprint' — use a fresh dir")
      case None => ()
    }
    // Stages 1–3; persisted because docmap, stats and segments all
    // consume it. MEMORY_AND_DISK: at cluster scale this is the classic
    // materialize-once tradeoff (tokens ≈ corpus size; spills to disk).
    val cleaned = Ingest.cleanPages(pages, config.lang, config.stemming)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Stage 5 input: (docId, docLen, term, tf, posBytes) — computed in
      // ONE local pass per document (Ingest.termPostingsUdf). A doc's
      // postings never span rows, so r1's groupBy(docId, term) shuffle
      // of the exploded token stream was pure wire cost; positions leave
      // the mapper already varint-compressed (~1 byte/token).
      val termTfDl = cleaned
        .select(col("docId"), size(col("tokens")).as("docLen"),
          explode(Ingest.termPostingsUdf(col("tokens"))).as("tp"))
        .select(col("docId"), col("docLen"), col("tp.term").as("term"),
          col("tp.tf").cast("long").as("tf"), col("tp.pos").as("posBytes"))
      writeIndex(Ingest.docmap(cleaned), termTfDl, indexDir, config, fingerprint)
    } finally cleaned.unpersist()
  }

  /** Stages 4–10 from prepared inputs — shared by the batch build and
    * the compaction path (which feeds merged winners instead of a fresh
    * ingest, SURVEY.md §3.3 step 4).
    */
  def writeIndex(docmapSrc: DataFrame, termTfDlSrc: DataFrame, indexDir: String,
                 config: IndexConfig, fingerprint: String,
                 frontier: Option[Long] = None,
                 persistPostings: Boolean = false): BuildManifest = {
    val spark = docmapSrc.sparkSession
    val t0 = System.nanoTime()
    // r7 (guide §1.2 step 1 — don't compute things twice): termTfDl
    // feeds THREE full passes — the term-stats aggregation (stage 6),
    // repartitionByRange's range-boundary sampling, and the pack/write
    // pass (stages 7–10). When the frame is EXPENSIVE to recompute —
    // compaction's re-decode of every part's posting blocks + the
    // winners join — the caller asks for one materialization to serve
    // all three (persistPostings=true; measured on the frozen bench:
    // store_compact 17.5 → 12.1 s, compact_50k_plus_10k 6.3 → 5.1 s at
    // idle). The BATCH build deliberately does NOT (its three passes
    // re-run only the per-doc posting UDF over the already-cached
    // `cleaned` frame, and the interleaved idle A/B showed the persist
    // costing MORE than the recomputes there: index_build 7.8 → 9.1 s —
    // the classic materialize-vs-recompute call, made per producer).
    // Unpersisted as soon as the segments stage has committed; on the
    // resume path a never-evaluated persist is free.
    val termTfDl =
      if (persistPostings) termTfDlSrc.persist(StorageLevel.MEMORY_AND_DISK)
      else termTfDlSrc
    try {
      writeIndexStages(docmapSrc, termTfDl, indexDir, config, fingerprint, frontier, t0)
    } finally if (persistPostings) termTfDl.unpersist()
  }

  private def writeIndexStages(docmapSrc: DataFrame, termTfDl: DataFrame, indexDir: String,
                               config: IndexConfig, fingerprint: String,
                               frontier: Option[Long], t0: Long): BuildManifest = {
    val spark = docmapSrc.sparkSession
    // marker FIRST: partial builds are identity-guarded too (ADVICE r1)
    Manifest.claimFingerprint(spark, indexDir, fingerprint)
    val numPartitions =
      if (config.numPartitions > 0) config.numPartitions
      else spark.sessionState.conf.numShufflePartitions

    // Stage 4: docmap
    val tDocmap0 = System.nanoTime()
    if (!Manifest.stageDone(spark, s"$indexDir/docmap")) {
      // docmap file count follows the index's partition sizing, not the
      // upstream shuffle width (coalesce never widens; equal is a no-op)
      docmapSrc.coalesce(numPartitions).write.mode("overwrite").parquet(s"$indexDir/docmap")
    }
    val docmap = spark.read.parquet(s"$indexDir/docmap")
    val docmapMs = (System.nanoTime() - tDocmap0) / 1000000

    // One pass over docmap: corpus stats (A3) + the §8.5 collision check
    // (distinct docId must equal distinct url).
    val statsRow = docmap.agg(count(lit(1)), avg(col("docLen")),
      count_distinct(col("docId")), count_distinct(col("url")),
      coalesce(sum(col("docLen")), lit(0L))).head()
    val stats = CorpusStats(statsRow.getLong(0),
      if (statsRow.isNullAt(1)) 0.0 else statsRow.getDouble(1))
    val sumDocLen = statsRow.getLong(4)
    require(statsRow.getLong(2) == statsRow.getLong(3),
      s"docId collision: ${statsRow.getLong(2)} distinct docIds for " +
        s"${statsRow.getLong(3)} urls (LucySpec §8.5)")

    // Scale-adaptive partition sizing (r7, guide §2 "derive from input
    // size rather than a constant"): the session's shuffle width is the
    // CAP, not the width — a 10k-doc delta was paying 32 sort/pack tasks
    // and writing 32 near-empty segment files per put (and every later
    // composite-view scan re-opened all of them). Σ docLen (exact, from
    // the stats pass above) is a tight upper bound on posting rows, so
    // size the range exchange to ~512k postings per partition, capped at
    // the configured width — the 270k-doc bench build derives ≥ 32 and
    // keeps its exact r6 plan; only genuinely small inputs narrow.
    // An explicit config.numPartitions still pins everything.
    val segParts =
      if (config.numPartitions > 0) numPartitions
      else math.max(1, math.min(numPartitions.toLong,
        sumDocLen / 524288L + 1L).toInt)
    val statsParts = math.max(1, math.min(numPartitions / 4, segParts))

    // Stage 6: term stats
    val tStats0 = System.nanoTime()
    if (!Manifest.stageDone(spark, s"$indexDir/stats/terms")) {
      // statsParts == 1 skips RangePartitioner's sampling job entirely
      // (rangeBounds are empty for a single partition)
      Stats.termStats(termTfDl)
        .repartitionByRange(statsParts, col("term"))
        .sortWithinPartitions(col("term"))
        .write.mode("overwrite").parquet(s"$indexDir/stats/terms")
    }
    val termStats = spark.read.parquet(s"$indexDir/stats/terms")
    val statsMs = (System.nanoTime() - tStats0) / 1000000

    // Stages 7–10: salting, range partition, pack, write
    val tSeg0 = System.nanoTime()
    if (!Manifest.stageDone(spark, s"$indexDir/segments")) {
      val head = Postings.headTerms(termStats, config.saltDfThreshold, config.maxSalts)
      val blocks = Postings.packBlocks(Postings.salted(termTfDl, head), segParts)
      blocks.toDF()
        .withColumn("partId", spark_partition_id())
        .write.mode("overwrite").parquet(s"$indexDir/segments")
    }
    val segments = spark.read.parquet(s"$indexDir/segments")
    val segmentsMs = (System.nanoTime() - tSeg0) / 1000000

    // Per-partition manifest rows: aggregated once (one row per segment
    // partition), committed, totals summed driver-side; a resumed build
    // reads the committed rows back instead.
    val pms = Manifest.read[PartitionManifest](spark, s"$indexDir/meta/partitions").getOrElse {
      import spark.implicits._
      val rows = Manifest.partitionManifests(segments).as[PartitionManifest].collect().toSeq
      Manifest.write(spark, s"$indexDir/meta/partitions", rows)
      rows
    }

    val m = BuildManifest(
      fingerprint = fingerprint,
      docs = stats.n, avgdl = stats.avgdl,
      postings = pms.map(_.postings).sum, blocks = pms.map(_.blocks).sum,
      numPartitions = segParts,
      saltDfThreshold = config.saltDfThreshold,
      lang = config.lang.getOrElse(""),
      docmapMs = docmapMs, statsMs = statsMs, segmentsMs = segmentsMs,
      totalMs = (System.nanoTime() - t0) / 1000000,
      frontier = frontier,
      sumDocLen = Some(sumDocLen),
      stemming = Some(config.stemming))
    Manifest.writeBuild(spark, indexDir, m) // manifest LAST = build complete
    m
  }
}
