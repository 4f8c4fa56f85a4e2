package lucy.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Masked documents — the lucy.js `delete()` hook analog (SURVEY.md
  * §1.1), and the read side of every update: an update is a delete of
  * the old version plus an add of the new one.
  *
  * A view names its dead (part, docId) pairs per part
  * (`SearchableIndex.masks`), and a search over it is BIT-EQUAL to the
  * naive engine over the live documents only:
  *
  *  - N and avgdl exclude the dead docs (`SearchableIndex.totals`);
  *  - df per query term is the raw index df MINUS the term's postings in
  *    dead pairs. `QueryEngine.lookup` is the one path that computes it:
  *    `deadPostings` over blocks a search gathers anyway, or `deletedDf`
  *    (a pruned scan of the query terms' blocks only, never a corpus
  *    scan) above the gather ceiling;
  *  - a WAND cursor over a part never lands on that part's dead docIds.
  *
  * The masks ship in the query plan's task closure; compaction drops
  * the dead rows physically and the masks with them.
  */
case class TombstonedIndex(inner: SearchableIndex, tombstoneIds: Array[Long])
    extends SearchableIndex {
  require(tombstoneIds.indices.drop(1).forall(i => tombstoneIds(i - 1) < tombstoneIds(i)),
    "tombstoneIds must be sorted ascending")
  require(tombstoneIds.length <= Deletes.maxTombstones,
    s"${tombstoneIds.length} tombstones exceed ${Deletes.maxTombstones}: compact first")

  def parts: Seq[LucyIndex] = inner.parts

  /** The ids are dead in every part, on top of the inner masks. */
  lazy val masks: Seq[Array[Long]] = inner.masks.map(m =>
    if (m.isEmpty) tombstoneIds else (m ++ tombstoneIds).distinct.sorted)

  /** The inner totals minus the ids' live rows, found by one probe. */
  def totals(spark: SparkSession): (Long, Long) = {
    val (n, len) = inner.totals(spark)
    val gone = inner.liveDocs(spark, tombstoneIds)
    (n - gone.length, len - gone.map(_.docLen).sum)
  }
}

object Deletes {

  /** Plan-closure ceiling for a TombstonedIndex id set (8 MB of sorted
    * longs).
    */
  val maxTombstones: Int = 1 << 20

  /** Raw term stats minus each term's `dead` postings; rawDf keeps the
    * physical count, and a term with no live posting is absent.
    */
  def subtract(raw: Map[String, TermStats], dead: Map[String, Long]): Map[String, TermStats] =
    raw.flatMap { case (t, st) =>
      val df = st.df - dead.getOrElse(t, 0L)
      if (df <= 0) None else Some(t -> st.copy(df = df, rawDf = st.df))
    }

  /** Postings of one part's `blocks` whose docId the sorted `dead` names.
    * A block whose [firstDocId, lastDocId] holds no dead id is not
    * decoded.
    */
  def deadPostings(blocks: Iterable[PostingBlock], dead: Array[Long]): Long =
    if (dead.isEmpty) 0L
    else blocks.iterator.map { b =>
      val at = java.util.Arrays.binarySearch(dead, b.firstDocId)
      val from = if (at >= 0) at else -at - 1
      if (from == dead.length || dead(from) > b.lastDocId) 0L
      else PostingBlock.decode(b).docIds.count(java.util.Arrays.binarySearch(dead, _) >= 0).toLong
    }.sum

  /** Per-term count of postings in dead (srcPart, docId) pairs — a
    * pruned scan of ONLY the given terms' blocks in the masked parts
    * (termHash isin pushdown), so the cost scales with the query, not
    * the corpus. One job; returns a tiny per-term map. `segments` is a
    * view's union tagged with `srcPart`, as QueryEngine builds it. It
    * decodes every block it reads, so an engine forced onto this branch
    * (`gatherMaxPostings = 0`) is the reference for the skipping
    * `deadPostings` (QueryJobsSpec).
    */
  def deletedDf(spark: SparkSession, segments: DataFrame, terms: Seq[String],
                masks: Seq[Array[Long]]): Map[String, Long] = {
    import spark.implicits._
    val masked = masks.indices.filter(masks(_).nonEmpty)
    if (terms.isEmpty || masked.isEmpty) return Map.empty
    val hashes = terms.map(t => lucy.Hashing.termHash(t).asInstanceOf[Any])
    val dead = masks.toArray // task closure
    segments
      .filter(col("termHash").isin(hashes: _*) &&
        col("term").isin(terms.map(_.asInstanceOf[Any]): _*) &&
        col("srcPart").isin(masked: _*))
      // partId carries srcPart through the SegmentRow encoder
      .withColumn("partId", col("srcPart")).drop("srcPart").as[SegmentRow]
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { r =>
          val ids = PostingBlock.decode(r.toBlock).docIds
          val d = dead(r.partId)
          var i = 0
          var n = 0L
          while (i < ids.length) {
            if (java.util.Arrays.binarySearch(d, ids(i)) >= 0) n += 1
            i += 1
          }
          if (n > 0) acc.update(r.term, acc.getOrElse(r.term, 0L) + n)
        }
        acc.iterator
      }
      .collect().groupMapReduce(_._1)(_._2)(_ + _) // ≤ terms × tasks rows: no shuffle
  }
}
