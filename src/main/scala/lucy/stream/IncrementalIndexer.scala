package lucy.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import lucy.index._

/** Incremental index maintenance — entry point 3 (SURVEY.md §3.3).
  *
  * lucy.js keeps its inverted index live under IndexedDB put/add/delete
  * inside the store's transactions; the cluster-scale analog is
  * Structured Streaming micro-batches appending DELTA indexes next to a
  * BASE index, unioned at query time and periodically compacted:
  *
  * {{{
  * rootDir/
  *   base/gen-<G>/        full LucyIndex (gen-0 = initial batch build)
  *   deltas/delta-<id>/   one LucyIndex per micro-batch
  *   deletes/del-<n>/     tombstone log generation, one {docId} per line
  *   current/p-<n>/       json pointer {gen, compactedThrough} — LAST
  * }}}
  *
  * Every metadata record here — the `current` pointer generations
  * `current/p-<n>/`, the tombstone log `deletes/del-<n>/` and each part's
  * build manifest — is committed and read through the one protocol in
  * [[lucy.index.Manifest]]: JSON-lines data, then `_SUCCESS`; torn dirs
  * read as absent; generation dirs listed by exact prefix. No Spark job
  * runs on these paths.
  *
  * Exactly-once: delta dirs are named by batchId; a replayed batch finds
  * the completed manifest (fingerprint "delta-<id>") and is a no-op —
  * IndexBuilder's stage checkpoints make a half-written delta resume
  * instead of duplicating. The `current` pointer is committed LAST (and
  * pruned to its two newest generations), so a crash anywhere leaves a
  * consistent view (SURVEY.md §7.3 item 4).
  *
  * Watermark/late data (ST2): recrawls of a url landing in a later batch
  * are additive until compaction, where PF2 (latest warc_ts per url)
  * picks the winner — late rows are never dropped.
  */
object IncrementalIndexer {

  case class CurrentPointer(gen: Long, compactedThrough: Long)

  /** One line of a tombstone log generation. */
  case class Tombstone(docId: Long)

  def start(pagesStream: DataFrame, rootDir: String, checkpointDir: String,
            config: IndexConfig = IndexConfig()): StreamingQuery = {
    // ST4 (optional): cross-batch replay dedup on (url, warc_ts) in the
    // state store. Keyed on BOTH columns: a replayed delivery is
    // identical, a genuine recrawl carries a new warc_ts and must pass.
    val deduped = config.streamDedupWatermark.fold(pagesStream)(w =>
      pagesStream.withWatermark("warc_ts", w)
        .dropDuplicatesWithinWatermark("url", "warc_ts"))
    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        indexBatch(batch, rootDir, id, config)
      }
      .start()
  }

  /** One micro-batch → one delta index (idempotent by batchId).
    *
    * (r6 note: right-sizing delta partitions to the batch — fewer,
    * larger files — was tried for the live-search task fan-out and
    * REVERTED: it cut put parallelism ~proportionally while the
    * query-side tax turned out to be per-RELATION planning, not
    * per-file tasks. Callers who want narrow deltas pin
    * config.numPartitions.)
    */
  def indexBatch(batch: DataFrame, rootDir: String, batchId: Long,
                 config: IndexConfig = IndexConfig()): Unit = {
    if (batch.isEmpty) return
    IndexBuilder.build(batch, s"$rootDir/deltas/delta-$batchId", config,
      fingerprint = s"delta-$batchId")
  }

  /** The searchable view: current base + all completed deltas beyond the
    * compaction frontier, masked by any registered tombstones.
    */
  def composite(spark: SparkSession, rootDir: String): SearchableIndex = {
    val cur = currentOrRecovered(spark, rootDir)
    val base = cur.filter(_.gen >= 0).map(c => LucyIndex(s"$rootDir/base/gen-${c.gen}"))
    val frontier = cur.map(_.compactedThrough).getOrElse(-1L)
    val deltas = listDeltas(spark, rootDir)
      .filter { case (id, _) => id > frontier }
      .map(_._2)
    val parts = CompositeIndex(base.toSeq ++ deltas)
    val ts = readTombstones(spark, rootDir)
    if (ts.isEmpty) parts else TombstonedIndex(parts, ts)
  }

  // ---- deletes (the lucy.js `delete()` hook analog; see
  // lucy.index.Deletes for the query-time semantics) ---------------------

  /** Register url deletions: docIds are the deterministic url hashes
    * (§8.5 — no lookup needed), committed as a generational tombstone
    * log `deletes/del-<n>/`. Idempotent: re-deleting is a no-op at read
    * time (tombstones union + distinct). The mask holds until `compact()`
    * physically purges the docs and clears the log; a later re-add of
    * the url then resurrects it.
    */
  def deleteUrls(spark: SparkSession, rootDir: String, urls: Seq[String]): Unit = {
    if (urls.isEmpty) return
    val ids = urls.map(lucy.LucySpec.docIdForUrl).distinct.sorted
    val next = Manifest.generations(spark, s"$rootDir/deletes", "del").maxOption.getOrElse(0L) + 1
    Manifest.write(spark, s"$rootDir/deletes/del-$next", ids.map(Tombstone))
  }

  /** All registered tombstones (complete generations only), sorted. */
  def readTombstones(spark: SparkSession, rootDir: String): Array[Long] =
    tombstoneLog(spark, rootDir).flatMap(_._2).distinct.sorted.toArray

  /** Committed tombstone generations with their docIds, ascending. */
  private def tombstoneLog(spark: SparkSession, rootDir: String): Seq[(Long, Seq[Long])] =
    Manifest.generations(spark, s"$rootDir/deletes", "del").flatMap { g =>
      Manifest.read[Tombstone](spark, s"$rootDir/deletes/del-$g").map(ts => g -> ts.map(_.docId))
    }

  /** Sort-merge compaction (SURVEY.md §2.5 J5, §3.3 step 4): decode all
    * live parts' postings, keep only each doc's LATEST version (PF2 at
    * compaction), and re-run the shared index-write stages (range
    * exchange + sort + streaming re-pack) into base/gen-(G+1). The merge
    * is the same big sort the batch build uses — Spark's external sorter
    * does the k-way work, spilling as needed.
    */
  def compact(spark: SparkSession, rootDir: String,
              config: IndexConfig = IndexConfig()): BuildManifest = {
    import spark.implicits._
    val cur = currentOrRecovered(spark, rootDir)
    val gen = cur.map(_.gen).getOrElse(-1L)
    val frontier = cur.map(_.compactedThrough).getOrElse(-1L)
    val deltas = listDeltas(spark, rootDir).filter(_._1 > frontier)
    val parts = (cur.filter(_.gen >= 0).map(c => LucyIndex(s"$rootDir/base/gen-${c.gen}")).toSeq
      ++ deltas.map(_._2))
    require(parts.nonEmpty, s"nothing to compact in $rootDir")

    // tombstones registered up to now are purged by this compaction:
    // their docs drop out of winners (and thus postings), and the log
    // generations read here are cleared after the pointer commits
    val log = tombstoneLog(spark, rootDir)
    val tombstones = log.flatMap(_._2).distinct

    val tagged = parts.zipWithIndex.map { case (p, i) =>
      p.docmap(spark).withColumn("srcIdx", lit(i))
    }.reduce(_ unionByName _)
    // winner version per docId: latest warc_ts, later part breaks ties
    val winnersAll = tagged.groupBy(col("docId"))
      .agg(max_by(struct(col("url"), col("warc_ts"), col("lang"), col("docLen"), col("srcIdx")),
        struct(col("warc_ts"), col("srcIdx"))).as("r"))
      .select(col("docId"), col("r.url").as("url"), col("r.warc_ts").as("warc_ts"),
        col("r.lang").as("lang"), col("r.docLen").as("docLen"),
        col("r.srcIdx").as("winSrc"))
    // r7: winners feeds BOTH the docmap write and the kept-postings join
    // below — persist the narrow frame so the all-parts docmap union +
    // groupBy runs once per compaction, not twice (unpersisted after
    // the new generation commits).
    val winners =
      (if (tombstones.isEmpty) winnersAll
       else winnersAll.join(
         broadcast(tombstones.toDF("docId")), Seq("docId"), "left_anti"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val postings = parts.zipWithIndex.map { case (p, i) =>
      p.segments(spark).as[SegmentRow].flatMap { r =>
        val d = PostingBlock.decode(r.toBlock)
        // per-doc posVarint substreams are self-contained (absolute
        // first + gaps): cut bytes, don't decode+re-encode (VERDICT r2)
        val ps = PostingBlock.slicePositions(r.toBlock, d.tfs)
        d.docIds.indices.iterator.map { j =>
          (r.term, d.docIds(j), d.tfs(j).toLong, d.docLens(j), ps(j), i)
        }
      }.toDF("term", "docId", "tf", "docLen", "posBytes", "srcIdx")
    }.reduce(_ unionByName _)

    val kept = postings
      .join(winners.select(col("docId"), col("winSrc")), Seq("docId"))
      .filter(col("srcIdx") === col("winSrc"))
      .select(col("docId"), col("docLen"), col("term"), col("tf"), col("posBytes"))

    val newGen = gen + 1
    val maxDelta = deltas.map(_._1).maxOption.getOrElse(frontier)
    val m =
      try IndexBuilder.writeIndex(winners.drop("winSrc"), kept,
        s"$rootDir/base/gen-$newGen", config, fingerprint = s"gen-$newGen",
        frontier = Some(maxDelta), // recorded for exact pointer recovery (ADVICE r2)
        persistPostings = true) // kept = full re-decode + join: materialize once
      finally winners.unpersist()
    writeCurrent(spark, rootDir, CurrentPointer(newGen, maxDelta)) // pointer LAST
    // purge the tombstone log generations this compaction applied (after
    // the pointer commit: a crash before this point just re-applies them)
    val fs = new Path(rootDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    log.foreach { case (g, _) => fs.delete(new Path(s"$rootDir/deletes/del-$g"), true) }
    m
  }

  // ---- current pointer: generation-numbered dirs, never overwritten in
  // place — an overwrite deletes the old pointer before the new one
  // commits, so a crash in the window (or a concurrent reader) would see
  // NO pointer and silently serve deltas without the base. Writers commit
  // current/p-<n+1>/ and then prune to the two highest; readers take the
  // highest committed generation. ---

  private def writeCurrent(spark: SparkSession, rootDir: String, c: CurrentPointer): Unit = {
    val gens = Manifest.generations(spark, s"$rootDir/current", "p")
    val next = gens.maxOption.getOrElse(0L) + 1
    Manifest.write(spark, s"$rootDir/current/p-$next", Seq(c))
    val fs = new Path(rootDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    (gens :+ next).dropRight(2).foreach(g => fs.delete(new Path(s"$rootDir/current/p-$g"), true))
  }

  def readCurrent(spark: SparkSession, rootDir: String): Option[CurrentPointer] =
    Manifest.generations(spark, s"$rootDir/current", "p").reverseIterator
      .flatMap(g => Manifest.read[CurrentPointer](spark, s"$rootDir/current/p-$g"))
      .nextOption().flatMap(_.headOption)

  /** Last-resort recovery: no readable pointer (e.g. the pointer dir was
    * lost) but committed base generations exist — serve the highest base
    * with a manifest rather than silently dropping the base.
    * compactedThrough comes from the base's OWN manifest frontier
    * (recorded at compaction), so already-folded deltas are NOT
    * re-included: re-inclusion would double-count their df in
    * CompositeIndex.termStats and shift idf even though each doc is
    * scored once. Manifests without a frontier recover with −1 — results
    * are then still dedup'd per doc but idf is inexact until the next
    * compact.
    */
  private def recoverPointer(spark: SparkSession, rootDir: String): Option[CurrentPointer] =
    Manifest.generations(spark, s"$rootDir/base", "gen").reverseIterator
      .flatMap(g => Manifest.readBuild(spark, s"$rootDir/base/gen-$g")
        .map(m => CurrentPointer(g, m.frontier.getOrElse(-1L))))
      .nextOption()

  private def currentOrRecovered(spark: SparkSession, rootDir: String): Option[CurrentPointer] =
    readCurrent(spark, rootDir).orElse(recoverPointer(spark, rootDir))

  /** Completed deltas (manifest present), ascending by batch id. */
  def listDeltas(spark: SparkSession, rootDir: String): Seq[(Long, LucyIndex)] =
    Manifest.generations(spark, s"$rootDir/deltas", "delta")
      .map(id => id -> LucyIndex(s"$rootDir/deltas/delta-$id"))
      .filter { case (_, idx) => Manifest.stageDone(spark, s"${idx.dir}/meta/build") }

  /** Bootstrap: promote an initial batch build to base/gen-0. */
  def bootstrap(pages: DataFrame, rootDir: String,
                config: IndexConfig = IndexConfig()): BuildManifest = {
    val spark = pages.sparkSession
    val m = IndexBuilder.build(pages, s"$rootDir/base/gen-0", config, fingerprint = "gen-0")
    writeCurrent(spark, rootDir, CurrentPointer(0L, -1L))
    m
  }
}
