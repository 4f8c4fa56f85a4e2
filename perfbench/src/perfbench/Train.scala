package perfbench

import java.nio.file.{Files, Paths}
import lucy.LucyStore
import lucy.index.{IndexBuilder, LucyIndex}
import lucy.pipeline.{Dedup, Similarity}
import lucy.query.{QueryEngine, QuerySet}

/** A small pass over every code path the workloads use, run once at build
  * time so the JVM can record the classes they load (Spark SQL, Parquet,
  * the library) in an archive every run then starts from. Its timings
  * mean nothing. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(args.indexOf("--work") + 1))
    Files.createDirectories(work)
    val spark = Main.session(work)
    try {
      val dir = work.resolve("index").toString
      IndexBuilder.build(Mix.pages(spark, 0L, 500L), dir)
      val e = new QueryEngine(spark, LucyIndex(dir)).warm()
      QuerySet.reference.foreach(q => e.search(q.query, q.mode, q.k).collect())
      val store = new LucyStore(spark, work.resolve("store").toString)
      store.bootstrap(Mix.pages(spark, 1000L, 300L))
      store.put(Churn.putPages(spark, Churn.Put(1, 2000L until 2050L, 1000L until 1050L, 1000L)), 1L)
      store.search("spark shuffle").collect()
      store.delete(Seq(lucy.fixtures.PagesGen.page(1001L).url))
      store.search("wand heap", lucy.query.QueryMode.Or).collect()
      store.compact()
      store.search("s", lucy.query.QueryMode.Prefix).collect()
      store.close()
      val in = Curate.inputs(spark, 0)
      Dedup.nearDupClusters(Dedup.minhashLshCandidates(in.docs)).collect()
      Dedup.releaseCaches()
      Similarity.ivfTwoLevelTopK(in.vecs, in.queries, 10, corpusCount = Curate.Vectors).collect()
      Similarity.lshCosineTopK(in.vecs, in.queries, 10, corpusCount = Curate.Vectors).collect()
      Similarity.bruteCosineTopK(in.vecs, in.queries, 10).collect()
    } finally spark.stop()
  }
}
