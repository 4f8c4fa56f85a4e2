package lucy.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
    /** When set (e.g. "1 hour"), the streaming ingest drops EXACT replays
      * — same (url, warc_ts) — across micro-batches via
      * dropDuplicatesWithinWatermark state. N and df stay exact without
      * it (a replayed row is a version like any other: the put masks
      * the older copy); the filter only saves re-indexing replays.
      */
    streamDedupWatermark: Option[String] = None,
    /** §8.7: Porter-stem tokens after the stopword/length filters.
      * Frozen OFF by LucySpec; a reconciliation event flips the LucySpec
      * val and every default follows. The build manifest records the
      * flag and the query path tokenizes with it
      * (SearchableIndex.stemming) — the stemming-ON golden set +
      * StemmedRankIdentitySpec prove the flip end-to-end.
      */
    stemming: Boolean = lucy.LucySpec.stemming)

/** A docmap row of a view's live document, as a probe returns it:
  * `part` indexes the view's parts; a null warc_ts reads as
  * Long.MinValue µs, so it loses every tie.
  */
case class LiveDoc(part: Int, docId: Long, tsMicros: Long, docLen: Long)

object LiveDoc {
  /** The rows of docmap frames, each tagged with its part index, in
    * one collect job.
    */
  def collect(docmaps: Seq[(DataFrame, Int)]): Seq[LiveDoc] =
    docmaps.map { case (d, i) =>
      d.select(lit(i).as("part"), col("docId"),
        coalesce(unix_micros(col("warc_ts")), lit(Long.MinValue)).as("ts"),
        col("docLen").cast("long").as("docLen"))
    }.reduce(_ unionByName _).collect().toSeq
      .map(r => LiveDoc(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
}

/** Anything the query path can search: a set of immutable parts plus a
  * mask per part (SURVEY.md §2.8 SET3).
  *
  * Invariant: every live document sits in exactly one (part, docId)
  * pair that no mask names. A document's older versions and deleted
  * documents are masked in their parts, so the union of the parts'
  * unmasked rows is exactly the view's contents — no read-time version
  * resolution anywhere.
  *
  * A view is data: parts, masks and manifest arithmetic. It builds no
  * relation over its parts; [[lucy.query.QueryEngine]] is the one place
  * that unions them and tags each row with its part's index (`srcPart`),
  * and compaction reads each part's own relations.
  */
trait SearchableIndex {

  /** The physical index directories behind this view. */
  def parts: Seq[LucyIndex]

  /** Per part, aligned with `parts`: its dead docIds, sorted ascending. */
  def masks: Seq[Array[Long]]

  /** Live documents and their Σ docLen. */
  def totals(spark: SparkSession): (Long, Long)

  /** N and avgdl. Σ docLen / N is the same Double division Spark's
    * avg(docLen) performs (an exact Double sum below 2^53), so the stats
    * are bit-equal to an aggregation over a from-scratch docmap.
    */
  final def corpusStats(spark: SparkSession): CorpusStats = {
    val (n, len) = totals(spark)
    CorpusStats(n, if (n == 0) 0.0 else len.toDouble / n)
  }

  /** Query-term stats for planning: per term its live df (the parts' raw
    * df summed, minus the postings the masks name), raw df and cf; a term
    * with no live posting is absent. The one df path is
    * [[lucy.query.QueryEngine]]'s lookup, here through a throwaway engine
    * (as `Searcher.search` runs a search), so parts that disagree on
    * stemming fail here as a search over them does.
    */
  def lookupTerms(spark: SparkSession, terms: Seq[String]): Map[String, TermStats] =
    new lucy.query.QueryEngine(spark, this).lookup(terms)

  /** The live docmap rows of `ids`: one pruned scan of the parts'
    * docmaps (one collect job); rows the masks name are dropped.
    */
  def liveDocs(spark: SparkSession, ids: Iterable[Long]): Seq[LiveDoc] =
    if (ids.isEmpty) Seq.empty
    else LiveDoc.collect(parts.zipWithIndex.map { case (p, i) =>
      p.docmap(spark).filter(col("docId").isInCollection(ids)) -> i
    }).filter(d => java.util.Arrays.binarySearch(masks(d.part), d.docId) < 0)

  /** The stemming flag the parts were built with, as their build
    * manifests record it; a manifest without the field counts as
    * LucySpec.stemming. Query tokens must be stemmed iff corpus tokens
    * were, so parts that disagree fail loudly here instead of silently
    * missing every inflected term in one of them.
    */
  def stemming(spark: SparkSession): Boolean = {
    val byFlag = parts.groupBy(_.manifest(spark).flatMap(_.stemming).getOrElse(lucy.LucySpec.stemming))
    require(byFlag.size == 1, "index parts disagree on stemming: " + byFlag.toSeq.sortBy(!_._1)
      .map { case (f, ps) => s"stemming=$f in ${ps.map(_.dir).mkString(", ")}" }
      .mkString("; ") + "; rebuild them with one flag")
    byFlag.keys.head
  }
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
  * Its relations are the stages as written; `srcPart` belongs to a view,
  * so only QueryEngine adds it.
  */
case class LucyIndex(dir: String) extends SearchableIndex {
  def parts: Seq[LucyIndex] = Seq(this)
  val masks: Seq[Array[Long]] = Seq(Array.emptyLongArray)
  def docmap(spark: SparkSession): DataFrame = LucyIndex.read(spark, s"$dir/docmap")
  def termStats(spark: SparkSession): DataFrame = LucyIndex.read(spark, s"$dir/stats/terms")
  def segments(spark: SparkSession): DataFrame = LucyIndex.read(spark, s"$dir/segments")
  def manifest(spark: SparkSession): Option[BuildManifest] = Manifest.readBuild(spark, dir)
  /** From the build manifest; a manifest without sumDocLen recovers it
    * from docs × avgdl (exact while Σ docLen < 2^51).
    */
  def totals(spark: SparkSession): (Long, Long) = {
    val m = manifest(spark).getOrElse(sys.error(s"no build manifest in $dir"))
    (m.docs, m.sumDocLen.getOrElse(math.round(m.avgdl * m.docs)))
  }
}

object LucyIndex {
  private val schemas = scala.collection.concurrent.TrieMap[String, StructType]()

  /** A committed parquet stage of an index dir. Spark infers a parquet
    * schema by reading a footer in a Spark job; a committed stage never
    * changes, so each path's schema is inferred once per JVM and every
    * later read (each view, probe and engine) passes it and runs no job.
    */
  private[lucy] def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemas.getOrElseUpdate(path, spark.read.parquet(path).schema)).parquet(path)
}

/** The dead documents of one part: sorted docIds and their Σ docLen. */
case class PartMask(docIds: Array[Long], sumDocLen: Long)

/** Query-time union of parts (a base and delta indexes), each with its
  * mask, aligned with `parts` (none: nothing is masked). N and avgdl are
  * manifest arithmetic — the parts' totals minus the masks' — and run no
  * Spark job.
  */
case class CompositeIndex(parts: Seq[LucyIndex], dead: Seq[PartMask] = Nil) extends SearchableIndex {
  require(parts.nonEmpty, "composite of zero indexes")
  require(dead.isEmpty || dead.length == parts.length, "one mask per part")
  val masks: Seq[Array[Long]] =
    if (dead.isEmpty) parts.map(_ => Array.emptyLongArray) else dead.map(_.docIds)
  def totals(spark: SparkSession): (Long, Long) = {
    val ts = parts.map(_.totals(spark))
    (ts.map(_._1).sum - dead.map(_.docIds.length.toLong).sum,
      ts.map(_._2).sum - dead.map(_.sumDocLen).sum)
  }
}

/** Batch index build — entry point 1 (SURVEY.md §3.1).
  *
  * Stage structure and shuffles. A document's postings never span rows,
  * so tf and positions are computed per document in one mapper pass
  * (Ingest.termPostingsUdf) and no stage aggregates by (docId, term):
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
      // postings never span rows, so no shuffle groups the exploded
      // token stream; positions leave the mapper already
      // varint-compressed (~1 byte/token).
      val termTfDl = cleaned
        .select(col("docId"), size(col("tokens")).as("docLen"),
          explode(Ingest.termPostingsUdf(col("tokens"))).as("tp"))
        .select(col("docId"), col("docLen"), col("tp.term").as("term"),
          col("tp.tf").cast("long").as("tf"), col("tp.pos").as("posBytes"))
      writeIndex(Ingest.docmap(cleaned), termTfDl, indexDir, config, fingerprint)
    } finally cleaned.unpersist()
  }

  /** Stages 4–10 from prepared inputs — shared by the batch build and
    * the compaction path (which feeds the parts' unmasked rows instead of
    * a fresh ingest, SURVEY.md §3.3 step 4).
    */
  def writeIndex(docmapSrc: DataFrame, termTfDl: DataFrame, indexDir: String,
                 config: IndexConfig, fingerprint: String,
                 frontier: Option[Long] = None): BuildManifest = {
    val spark = docmapSrc.sparkSession
    val t0 = System.nanoTime()
    // marker FIRST: a partial build is identity-guarded too, so a resume
    // with another fingerprint refuses before any stage is reused
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
    val docmap = LucyIndex.read(spark, s"$indexDir/docmap")
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

    // Partition sizing derives from the input: the session's shuffle
    // width is the CAP, not the width, so a small delta does not pay one
    // sort/pack task and one near-empty segment file per shuffle
    // partition (files every later view scan re-opens). Σ docLen (exact,
    // from the stats pass above) is a tight upper bound on posting rows,
    // so the range exchange gets ~512k postings per partition, capped at
    // the configured width, which a build reaches once Σ docLen passes
    // width × 512k. An explicit config.numPartitions still pins
    // everything.
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
    val termStats = LucyIndex.read(spark, s"$indexDir/stats/terms")
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
    val segments = LucyIndex.read(spark, s"$indexDir/segments")
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
