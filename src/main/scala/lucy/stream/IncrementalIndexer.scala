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
  *   base/gen-<G>/          full LucyIndex (gen-0 = initial batch build)
  *   deltas/delta-<id>/     one LucyIndex per micro-batch, plus
  *     meta/masks/          the masks its put wrote
  *   deletes/del-<n>/       the masks one delete wrote
  *   current/p-<n>/         json pointer {gen, compactedThrough} — LAST
  * }}}
  *
  * Masks: each mutation commits the (part, docId) pairs it made dead,
  * one [[Mask]] line each with the doc's docLen. A put probes its docIds
  * against the other live parts; of two versions of a url the later
  * warc_ts wins and the later part breaks ties, and the loser is masked
  * — the older part's row, or the new delta's own row when an older
  * recrawl arrives late. A delete masks each url's live version. So
  * every live doc sits in exactly one unmasked (part, docId) pair, and
  * the view is exactly the store's contents (SearchableIndex). Records
  * naming a part outside the view (a compacted generation) are ignored.
  *
  * Every metadata record — the pointer, the masks and each part's build
  * manifest — is committed and read through [[lucy.index.Manifest]]:
  * JSON-lines data, then `_SUCCESS`; torn dirs read as absent;
  * generation dirs listed by exact prefix. Composing a view runs no
  * Spark job.
  *
  * Exactly-once: delta dirs are named by batchId, and a delta is live
  * only once its build manifest AND its masks are committed, so a crash
  * between the two leaves it invisible, never counted twice. Replaying
  * the batch id then writes the masks; replaying a live batch is a
  * no-op. IndexBuilder's stage checkpoints make a half-written delta
  * resume. Compaction commits the `current` pointer LAST (pruned to its
  * two newest generations), so a crash anywhere leaves a consistent view
  * (SURVEY.md §7.3 item 4).
  */
object IncrementalIndexer {

  case class CurrentPointer(gen: Long, compactedThrough: Long)

  /** One dead (part, docId) pair; `part` is the part's dir relative to
    * the store root.
    */
  case class Mask(part: String, docId: Long, docLen: Long)

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

  /** One micro-batch → one live delta index (idempotent by batchId). */
  def indexBatch(batch: DataFrame, rootDir: String, batchId: Long,
                 config: IndexConfig = IndexConfig()): Unit = {
    val spark = batch.sparkSession
    val dir = s"$rootDir/deltas/delta-$batchId"
    if (Manifest.stageDone(spark, s"$dir/meta/masks")) return // a live batch replayed
    val frontier = currentOrRecovered(spark, rootDir).map(_.compactedThrough).getOrElse(-1L)
    require(batchId > frontier,
      s"batch $batchId is at or below the compaction frontier $frontier of $rootDir")
    requireStemming(spark, rootDir, liveParts(spark, rootDir), config, "put")
    if (Manifest.readBuild(spark, dir).isEmpty) {
      if (batch.isEmpty) return
      IndexBuilder.build(batch, dir, config, fingerprint = s"delta-$batchId")
    }
    val view = viewOf(spark, rootDir, liveParts(spark, rootDir, pending = Some(batchId)),
      deleteLog(spark, rootDir))
    val j = view.parts.indexWhere(_.dir == dir)
    val fresh =
      if (view.parts.length == 1) Map.empty[Long, LiveDoc]
      else LiveDoc.collect(Seq(view.parts(j).docmap(spark) -> j)).map(d => d.docId -> d).toMap
    val masks = view.liveDocs(spark, fresh.keys).filter(_.part != j).map { old =>
      val d = fresh(old.docId)
      val loser = if (old.tsMicros > d.tsMicros || (old.tsMicros == d.tsMicros && old.part > j)) d else old
      Mask(relative(rootDir, view.parts(loser.part)), loser.docId, loser.docLen)
    }
    Manifest.write(spark, s"$dir/meta/masks", masks) // the delta is live from here
  }

  /** A put or a compaction must keep the live parts' stemming flag: a
    * mismatched put would commit a part every search then rejects, and
    * a mismatched compaction would relabel the postings' flag.
    */
  private def requireStemming(spark: SparkSession, rootDir: String, parts: Seq[LucyIndex],
                              config: IndexConfig, op: String): Unit =
    if (parts.nonEmpty) {
      val live = CompositeIndex(parts).stemming(spark)
      require(live == config.stemming, s"$op refused: the store at $rootDir is " +
        s"stemming=$live, the config asks for stemming=${config.stemming}")
    }

  /** The searchable view: current base + live deltas beyond the
    * compaction frontier, each with its masks. The delete log is read
    * BEFORE the pointer: a compaction that commits its pointer in
    * between has purged only records naming parts that then left the
    * view, and those are ignored. The log is read again AFTER the parts
    * are listed, and the view is composed anew while the two reads'
    * records differ: a delete committed in between, followed by a put
    * that re-adds its url, would otherwise leave both versions live.
    * Records are compared, not the highest generation, because delete
    * generations restart after a compaction purges the log.
    */
  def composite(spark: SparkSession, rootDir: String): SearchableIndex =
    composite(spark, rootDir, () => ())

  /** The view `composite` returns, running `afterLogRead` once between
    * the first log read and the first parts listing, where a spec
    * commits the mutations that race a view's reads.
    */
  private[stream] def composite(spark: SparkSession, rootDir: String,
                                afterLogRead: () => Unit): SearchableIndex = {
    @annotation.tailrec
    def settle(log: Seq[(Long, Seq[Mask])]): CompositeIndex = {
      val parts = liveParts(spark, rootDir)
      val again = deleteLog(spark, rootDir)
      if (again == log) viewOf(spark, rootDir, parts, log) else settle(again)
    }
    val log = deleteLog(spark, rootDir)
    afterLogRead()
    settle(log)
  }

  /** The live parts in view order: the current base, then the deltas
    * beyond the compaction frontier that are live — or `pending`, whose
    * masks are being written.
    */
  private[stream] def liveParts(spark: SparkSession, rootDir: String,
                                pending: Option[Long] = None): Seq[LucyIndex] = {
    val cur = currentOrRecovered(spark, rootDir)
    val frontier = cur.map(_.compactedThrough).getOrElse(-1L)
    val deltas = listDeltas(spark, rootDir) ++ pending.map(id => id -> LucyIndex(s"$rootDir/deltas/delta-$id"))
    cur.filter(_.gen >= 0).map(c => LucyIndex(s"$rootDir/base/gen-${c.gen}")).toSeq ++
      deltas.sortBy(_._1).filter(_._1 > frontier).map(_._2)
  }

  /** `parts` with the masks of every record, in their own masks or in
    * the delete `log`, that names one.
    */
  private[stream] def viewOf(spark: SparkSession, rootDir: String, parts: Seq[LucyIndex],
                             log: Seq[(Long, Seq[Mask])]): CompositeIndex = {
    val records = parts.flatMap(p => Manifest.read[Mask](spark, s"${p.dir}/meta/masks").getOrElse(Nil)) ++
      log.flatMap(_._2)
    val byPart = records.groupBy(m => s"$rootDir/${m.part}")
    val dead = parts.map(p => byPart.get(p.dir).fold(PartMask(Array.emptyLongArray, 0L))(ms =>
      PartMask(ms.map(_.docId).sorted.toArray, ms.map(_.docLen).sum)))
    CompositeIndex(parts, if (dead.exists(_.docIds.nonEmpty)) dead else Nil)
  }

  private def relative(rootDir: String, part: LucyIndex): String = part.dir.stripPrefix(rootDir + "/")

  // ---- deletes (the lucy.js `delete()` hook analog; see
  // lucy.index.Deletes for the query-time semantics) ---------------------

  /** Delete urls: mask the live version of each (docIds are the
    * deterministic url hashes, §8.5) — one pruned probe of the live
    * parts' docmaps — and commit the masks as a delete generation
    * `deletes/del-<n>/`. Urls with no live version are no-ops; a later
    * put of a deleted url adds it again.
    */
  def deleteUrls(spark: SparkSession, rootDir: String, urls: Seq[String]): Unit = {
    if (urls.isEmpty) return
    val parts = liveParts(spark, rootDir)
    if (parts.isEmpty) return
    val view = viewOf(spark, rootDir, parts, deleteLog(spark, rootDir))
    val masks = view.liveDocs(spark, urls.map(lucy.LucySpec.docIdForUrl).distinct)
      .map(d => Mask(relative(rootDir, view.parts(d.part)), d.docId, d.docLen))
    if (masks.isEmpty) return
    val next = Manifest.generations(spark, s"$rootDir/deletes", "del").maxOption.getOrElse(0L) + 1
    Manifest.write(spark, s"$rootDir/deletes/del-$next", masks)
  }

  /** The docIds the committed delete generations mask, sorted. */
  def readTombstones(spark: SparkSession, rootDir: String): Array[Long] =
    deleteLog(spark, rootDir).flatMap(_._2).map(_.docId).distinct.sorted.toArray

  /** Committed delete generations with their masks, ascending. */
  private[stream] def deleteLog(spark: SparkSession, rootDir: String): Seq[(Long, Seq[Mask])] =
    Manifest.generations(spark, s"$rootDir/deletes", "del").flatMap { g =>
      Manifest.read[Mask](spark, s"$rootDir/deletes/del-$g").map(g -> _)
    }

  /** Compaction (SURVEY.md §2.5 J5, §3.3 step 4): each live part's
    * UNMASKED postings and docmap rows — exactly the store's contents —
    * re-run the shared index-write stages (range exchange + sort +
    * streaming re-pack) into base/gen-(G+1). The merge is the same big
    * sort the batch build uses — Spark's external sorter does the k-way
    * work, spilling as needed.
    */
  def compact(spark: SparkSession, rootDir: String,
              config: IndexConfig = IndexConfig()): BuildManifest = {
    import spark.implicits._
    val cur = currentOrRecovered(spark, rootDir)
    val parts = liveParts(spark, rootDir)
    require(parts.nonEmpty, s"nothing to compact in $rootDir")
    requireStemming(spark, rootDir, parts, config, "compact")
    // the delete generations applied here are purged after the pointer
    // commits (their records name parts that then left the view)
    val log = deleteLog(spark, rootDir)
    val view = viewOf(spark, rootDir, parts, log)

    // each part's unmasked postings and docmap rows, read from the
    // part's own relations
    val (postings, docmaps) = view.parts.zip(view.masks).map { case (p, dead) =>
      val live = p.segments(spark).as[SegmentRow].flatMap { r =>
        val d = PostingBlock.decode(r.toBlock)
        // per-doc posVarint substreams are self-contained (absolute
        // first + gaps), so a posting's positions are cut as bytes,
        // never decoded and re-encoded
        val ps = PostingBlock.slicePositions(r.toBlock, d.tfs)
        d.docIds.indices.iterator
          .filter(j => java.util.Arrays.binarySearch(dead, d.docIds(j)) < 0)
          .map(j => (d.docIds(j), d.docLens(j), r.term, d.tfs(j).toLong, ps(j)))
      }.toDF("docId", "docLen", "term", "tf", "posBytes")
      val docmap =
        if (dead.isEmpty) p.docmap(spark)
        else p.docmap(spark).join(broadcast(dead.toSeq.toDF("docId")), Seq("docId"), "left_anti")
      (live, docmap)
    }.unzip

    val newGen = cur.map(_.gen).getOrElse(-1L) + 1
    val frontier = cur.map(_.compactedThrough).getOrElse(-1L)
    val maxDelta = (frontier +: listDeltas(spark, rootDir).map(_._1)).max
    // the frontier in the manifest lets a lost pointer recover without
    // re-including the deltas folded here (recoverPointer)
    val m = IndexBuilder.writeIndex(docmaps.reduce(_ unionByName _), postings.reduce(_ unionByName _),
      s"$rootDir/base/gen-$newGen", config, fingerprint = s"gen-$newGen",
      frontier = Some(maxDelta))
    writeCurrent(spark, rootDir, CurrentPointer(newGen, maxDelta)) // pointer LAST
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
    * re-included: their masks name the old base, so their docs would be
    * live twice. Manifests without a frontier recover with −1 and carry
    * that double count until the next compact.
    */
  private def recoverPointer(spark: SparkSession, rootDir: String): Option[CurrentPointer] =
    Manifest.generations(spark, s"$rootDir/base", "gen").reverseIterator
      .flatMap(g => Manifest.readBuild(spark, s"$rootDir/base/gen-$g")
        .map(m => CurrentPointer(g, m.frontier.getOrElse(-1L))))
      .nextOption()

  private def currentOrRecovered(spark: SparkSession, rootDir: String): Option[CurrentPointer] =
    readCurrent(spark, rootDir).orElse(recoverPointer(spark, rootDir))

  /** Live-able deltas — build manifest and masks committed — ascending
    * by batch id.
    */
  def listDeltas(spark: SparkSession, rootDir: String): Seq[(Long, LucyIndex)] =
    Manifest.generations(spark, s"$rootDir/deltas", "delta")
      .map(id => id -> LucyIndex(s"$rootDir/deltas/delta-$id"))
      .filter { case (_, idx) =>
        Seq("build", "masks").forall(m => Manifest.stageDone(spark, s"${idx.dir}/meta/$m"))
      }

  /** Bootstrap: promote an initial batch build to base/gen-0. */
  def bootstrap(pages: DataFrame, rootDir: String,
                config: IndexConfig = IndexConfig()): BuildManifest = {
    val spark = pages.sparkSession
    val m = IndexBuilder.build(pages, s"$rootDir/base/gen-0", config, fingerprint = "gen-0")
    writeCurrent(spark, rootDir, CurrentPointer(0L, -1L))
    m
  }
}
