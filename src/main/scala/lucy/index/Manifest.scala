package lucy.index

import scala.jdk.CollectionConverters._
import scala.reflect.{ClassTag, classTag}
import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Build-level manifest (SRC4; BASELINE.json:14 "resumable from
  * checkpoint with per-partition lineage + metrics").
  */
case class BuildManifest(
    fingerprint: String,
    docs: Long,
    avgdl: Double,
    postings: Long,
    blocks: Long,
    numPartitions: Int,
    saltDfThreshold: Long,
    lang: String,
    docmapMs: Long,
    statsMs: Long,
    segmentsMs: Long,
    totalMs: Long,
    /** For a compacted base generation: the highest delta batchId folded
      * into it (IncrementalIndexer.compact). Lets a lost `current`
      * pointer be recovered EXACTLY — re-including an already-compacted
      * delta would double-count df in the view's summed term stats
      * (QueryEngine.lookup) and shift idf. None (plain batch builds,
      * older manifests) means "no deltas folded" (frontier −1).
      */
    @JsonDeserialize(contentAs = classOf[java.lang.Long]) // else small values box as Integer
    frontier: Option[Long] = None,
    /** Exact Σ docLen over this part's docmap: a view's N/avgdl are the
      * parts' sums minus their masks' (SearchableIndex.totals), with no
      * Spark job. docLen sums are exact Longs, and Spark's avg over ints
      * is the same sum/count double division while the sum is below
      * 2^53, so the derived avgdl is bit-equal to the agg in that regime.
      * None (older manifests) is recovered from docs × avgdl.
      */
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    sumDocLen: Option[Long] = None,
    /** The build's IndexConfig.stemming, which queries are tokenized
      * with (SearchableIndex.stemming); None (older manifests) reads as
      * LucySpec.stemming.
      */
    stemming: Option[Boolean] = None)

/** Per-partition lineage/metrics row for the segments stage. */
case class PartitionManifest(partId: Int, blocks: Long, postings: Long,
                             bytes: Long, terms: Long,
                             minTermHash: Int, maxTermHash: Int)

/** The metadata commit protocol — the only code that knows it. Build
  * manifests, partition manifests, the store's `current` pointer and its
  * masks are all records committed the same way:
  *
  *  - write: a record dir holds ONE JSON-lines data file (one object per
  *    line, so `spark.read.json` reads it too), written first, then the
  *    `_SUCCESS` marker. A crash before the marker leaves a torn dir that
  *    every reader treats as absent.
  *  - read: `_SUCCESS` present → parse the data file on the driver (a
  *    small file open, no Spark job); absent → None.
  *  - generations: a sequence of records lives in sibling dirs
  *    `<prefix>-<n>`; only names with that exact prefix and a numeric
  *    suffix count, so a stray dir never breaks a reader.
  *
  * Data is committed before its metadata (SURVEY.md §7.3 item 4): the
  * Spark-written docmap, stats and segments stages each carry their own
  * `_SUCCESS` ([[stageDone]]), and the build manifest is written LAST. A
  * missing record means its stage re-runs, which is idempotent because
  * every stage output is a deterministic function of the input.
  */
object Manifest {

  private val DataFile = "part-00000.json"

  // None fields are omitted, so older readers and older lines agree
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .setDefaultPropertyInclusion(JsonInclude.Include.NON_ABSENT)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def stageDone(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    fsOf(spark, p).exists(p)
  }

  /** Guard PARTIAL builds: a fingerprint marker is committed BEFORE any
    * stage output, so re-running build() into a dir holding a crashed
    * half-build of a DIFFERENT input refuses instead of silently resuming
    * from stale docmap/stats/segments stages. (The completed-manifest
    * fingerprint check only protects finished builds.) An empty requested
    * fingerprint means the caller opted out of input identity (tests/ad
    * hoc) — resume is then allowed against anything.
    */
  def claimFingerprint(spark: SparkSession, indexDir: String, fingerprint: String): Unit = {
    val p = new Path(s"$indexDir/meta/fingerprint")
    val fs = fsOf(spark, p)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val existing =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(fingerprint.isEmpty || existing == fingerprint,
        s"index dir $indexDir holds a partial build of '$existing', " +
          s"refusing to resume with '$fingerprint' — use a fresh dir")
    } else {
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true)
      try out.write(fingerprint.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Commit `records` as the record dir `dir`: data file, then `_SUCCESS`. */
  def write(spark: SparkSession, dir: String, records: Seq[AnyRef]): Unit = {
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    fs.delete(d, true)
    fs.mkdirs(d)
    val out = fs.create(new Path(d, DataFile), true)
    try {
      val w = new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8)
      records.foreach { r => w.write(json.writeValueAsString(r)); w.write('\n') }
      w.flush()
    } finally out.close()
    fs.create(new Path(d, "_SUCCESS"), true).close()
  }

  /** The records of a committed dir; None while `_SUCCESS` is missing,
    * and None too for a dir deleted after that check (a purge racing the
    * read).
    */
  def read[T: ClassTag](spark: SparkSession, dir: String): Option[Seq[T]] = {
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    if (!fs.exists(new Path(d, "_SUCCESS"))) return None
    val in: java.io.InputStream =
      try fs.open(new Path(d, DataFile))
      catch { case _: java.io.FileNotFoundException => return None }
    try Some(json.readerFor(classTag[T].runtimeClass).readValues[T](in).readAll().asScala.toSeq)
    finally in.close()
  }

  /** Ascending generation numbers n of the dirs `parentDir/<prefix>-<n>`. */
  def generations(spark: SparkSession, parentDir: String, prefix: String): Seq[Long] = {
    val dir = new Path(parentDir)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix + "-"))
      .flatMap(_.stripPrefix(prefix + "-").toLongOption)
      .sorted
  }

  def writeBuild(spark: SparkSession, indexDir: String, m: BuildManifest): Unit =
    write(spark, s"$indexDir/meta/build", Seq(m))

  def readBuild(spark: SparkSession, indexDir: String): Option[BuildManifest] =
    read[BuildManifest](spark, s"$indexDir/meta/build").flatMap(_.headOption)

  /** Per-partition metrics derived from the committed segments — one
    * tiny aggregation job over block metadata columns only (column
    * pruning skips the payload bytes).
    */
  def partitionManifests(segments: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    segments.groupBy(col("partId"))
      .agg(count(lit(1)).as("blocks"),
        sum(col("count")).as("postings"),
        sum(length(col("docsVarint")) + length(col("tfsVarint")) + length(col("dlsVarint"))).as("bytes"),
        count_distinct(col("term")).as("terms"),
        min(col("termHash")).as("minTermHash"),
        max(col("termHash")).as("maxTermHash"))
  }
}
