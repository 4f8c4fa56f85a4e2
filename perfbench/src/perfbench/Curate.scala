package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import lucy.fixtures.{NearDupGen, VecGen}
import lucy.pipeline.{CapStats, Dedup, Similarity}

/** The data-curation batch that serve runs after its searches:
  * near-duplicate detection over a planted near-dup corpus (MinHash-LSH
  * candidates, then clusters), and a batch of ANN queries answered by
  * two-level IVF and by LSH, scored against brute force.
  */
object Curate {
  val Docs = 2400L          // a multiple of 6: whole planted clusters
  val Vectors = 8000L
  val QueryEvery = 128L     // 62 or 63 queries
  val K = 10

  def docOff(bucket: Int): Long = bucket * 6L * 100003L
  def vecOff(bucket: Int): Long = bucket * Vectors

  final case class Inputs(docs: DataFrame, vecs: DataFrame, queries: DataFrame, nQueries: Long)

  def inputs(spark: SparkSession, bucket: Int): Inputs = {
    import spark.implicits._
    val off = docOff(bucket)
    val docs = spark.range(off, off + Docs).as[Long]
      .map(i => (i, NearDupGen.text(i))).toDF("doc_id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    val vo = vecOff(bucket)
    val vecs = VecGen.vectors(spark, vo + Vectors, parts = 4)
      .filter(col("vec_id") >= vo).persist(StorageLevel.MEMORY_ONLY)
    val queries = vecs.filter(col("vec_id") % QueryEvery === bucket % QueryEvery)
      .persist(StorageLevel.MEMORY_ONLY)
    docs.count(); vecs.count()
    Inputs(docs, vecs, queries, queries.count())
  }

  private def topK(rows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[(Long, Long)]] =
    rows.toSeq.map(r => (r.getLong(0), (r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2) }

  /** Share of the exact top-k found; false if a shared neighbour's cosine
    * differs from brute force's in any bit. */
  private def recall(got: Map[Long, Seq[(Long, Long)]], truth: Map[Long, Seq[(Long, Long)]]): (Double, Boolean) = {
    var hit = 0L
    var total = 0L
    var exact = true
    truth.foreach { case (q, ts) =>
      val g = got.getOrElse(q, Nil).toMap
      total += ts.length
      ts.foreach { case (nb, bits) =>
        g.get(nb).foreach { b => hit += 1; if (b != bits) exact = false }
      }
    }
    (hit.toDouble / math.max(1L, total), exact)
  }

  /** The curation batch: inputs materialised untimed, brute force once as
    * the truth, then one checked pass of near-dup detection and ANN. */
  def batch(c: Ctx): Unit = {
    val spark = c.spark
    val t = c.tracer
    val in = inputs(spark, c.bucket)
    val (truthRows, bruteMs) = Stat.timedMs(t.span("ann.brute", "truth")(
      Similarity.bruteCosineTopK(in.vecs, in.queries, K).collect()))
    val truth = topK(truthRows)
    c.op(truth.size == in.nQueries && truth.values.forall(_.length == K))
    val truePairs = NearDupGen.truePairs(Docs)
    val pass = {
      val id = "pass"
      CapStats.clear()
      var pairs: Array[(Long, Long)] = null
      val (cand, minhashMs) = Stat.timedMs(t.span("dedup.minhash", id) {
        val p = Dedup.minhashLshCandidates(in.docs).persist(StorageLevel.MEMORY_ONLY)
        pairs = p.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
        p
      })
      val (clusters, clustersMs) = Stat.timedMs(t.span("dedup.clusters", id) {
        Dedup.nearDupClusters(cand).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      })
      cand.unpersist()
      Dedup.releaseCaches()
      val pairRecall =
        pairs.count { case (a, b) => NearDupGen.clusterOf(a) == NearDupGen.clusterOf(b) }.toDouble / truePairs
      // every planted cluster must come out as one cluster
      val clustered = (docOff(c.bucket) until docOff(c.bucket) + Docs).groupBy(NearDupGen.clusterOf)
        .values.forall { ids => ids.length < 2 || ids.map(clusters.getOrElse(_, -1L)).distinct.length == 1 }
      c.op(pairRecall >= 0.9 && clustered)
      val (ivf, ivfMs) = Stat.timedMs(t.span("ann.ivf2", id)(
        Similarity.ivfTwoLevelTopK(in.vecs, in.queries, K, corpusCount = Vectors).collect()))
      val (ivfRecall, ivfExact) = recall(topK(ivf), truth)
      c.op(ivfExact && ivfRecall >= 0.8)
      val (lsh, lshMs) = Stat.timedMs(t.span("ann.lsh", id)(
        Similarity.lshCosineTopK(in.vecs, in.queries, K, corpusCount = Vectors).collect()))
      val (lshRecall, lshExact) = recall(topK(lsh), truth)
      c.op(lshExact)
      (minhashMs, clustersMs, pairs.length, pairRecall, ivfMs, ivfRecall, lshMs, lshRecall)
    }
    Seq(in.docs, in.vecs, in.queries).foreach(_.unpersist())
    c.log("curation batch")

    if (c.traced) {
      t.drain()
      val (minhashMs, clustersMs, pairs, pairRecall, ivfMs, ivfRecall, lshMs, lshRecall) = pass
      c.put("dedup.minhash_ms", minhashMs, "ms")
      c.put("dedup.clusters_ms", clustersMs, "ms")
      c.put("dedup.candidate_pairs", pairs.toDouble, "count")
      c.put("dedup.pair_recall", pairRecall, "ratio")
      c.put("dedup.cap_drops", CapStats.all.map(_.droppedBuckets).sum.toDouble, "count")
      c.put("dedup.shuffle_write_bytes", t.stageTotals(
        (t.named("dedup.minhash") ++ t.named("dedup.clusters")).flatMap(t.jobsUnder)).shuffleWrite.toDouble,
        "bytes")
      c.put("ann.ivf2_ms", ivfMs, "ms")
      c.put("ann.lsh_ms", lshMs, "ms")
      c.put("ann.brute_ms", bruteMs, "ms")
      c.put("ann.ivf2_recall", ivfRecall, "ratio")
      c.put("ann.lsh_recall", lshRecall, "ratio")
      c.put("ann.jobs", (t.named("ann.ivf2") ++ t.named("ann.lsh")).flatMap(t.jobsUnder).length.toDouble,
        "count")
    }
  }
}
