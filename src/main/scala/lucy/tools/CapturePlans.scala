package lucy.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import lucy.Hashing
import lucy.fixtures.PagesGen
import lucy.index.{IndexBuilder, IndexConfig, Ingest, LucyIndex}
import lucy.query.{QueryEngine, QueryMode}

/** Regenerates PLANS.md — the physical-plan evidence document — from a
  * 5000-doc index at local[8]. Run whenever the plan-shaping code
  * changes: `sbt "runMain lucy.tools.CapturePlans"`.
  */
object CapturePlans {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = "/tmp/plans-idx-v2"
    IndexBuilder.build(PagesGen.pages(spark, 5000), dir)
    val index = LucyIndex(dir)

    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

    val sb = new StringBuilder
    sb.append(
      s"""# PLANS — physical-plan evidence (`.explain("formatted")`, regenerated ${java.time.LocalDate.now})
         |
         |Why these plans are the ones we want at 100 TB:
         |
         |1. **Pruned segment scan** — both `termHash` and `term` literal IN-filters
         |   reach the parquet scan (`PushedFilters`); segments are range-
         |   partitioned AND sorted by `termHash`, so row-group min/max stats skip
         |   everything but the query terms' blocks. `ReadSchema` shows column
         |   pruning: a metadata-only projection reads 4 columns and NEVER the
         |   payload bytes — note `posVarint` (the r2 positions stream) absent.
         |2. **Distributed query (bucket-exchange shape)** — one Exchange (the
         |   docId-bucket co-location shuffle, sized by Σ df of the query terms —
         |   NOT the corpus), one MapPartitions (the WAND kernel), then
         |   `TakeOrderedAndProject` (per-partition heap + driver merge) instead
         |   of a global sort. The scatter-gather shape (the warm-serving default
         |   for bounded-volume queries) is the same pruned scan followed by a
         |   single collect — no exchange at all, so there is no plan to show:
         |   the evidence is the job count (0–1 jobs/query, Bench phase B).
         |3. **Posting extraction** — r2 removed the explode + groupBy(docId,term)
         |   exchange entirely: tf + varint positions are computed per document
         |   inside one projected UDF pass, so the ONLY wide exchange left in the
         |   build between dedup and the final range sort is the range exchange
         |   itself. The plan shows Project(UDF) → Generate(explode) feeding the
         |   RangePartitioning exchange directly.
         |4. **Phrase scan** — the positions column rides the same pruned scan.
         |   Query paths deliberately carry `posVarint` in ALL modes so one block
         |   cache serves And/Or/Phrase alike (design note in PostingBlock.scala);
         |   metadata-only consumers (stats, manifests, PLAN1) prune it away.
         |5. **Bench-scale bucket fan-out (PLAN2b, r3)** — the same exchange
         |   shape captured from a REAL 270k-doc index under natural routing:
         |   and_head5x's Σ raw df (~1.15M) crosses the 2^20 gather ceiling, so
         |   the engine picks the distributed shape on its own, with a real
         |   multi-bucket REPARTITION_BY_NUM and the matching bucket-width
         |   divisor — evidence the 100×-critical path doesn't rot behind the
         |   warm gather path.
         |
         |Raw captures below (PLAN1–4: 5000-doc index; PLAN2b: 270k-doc index;
         |local[8]).
         |""".stripMargin)

    // PLAN1: metadata-only pruned scan
    val p1 = index.segments(spark)
      .filter(col("termHash") === Hashing.termHash("varint") && col("term") === "varint")
      .select(col("term"), col("count"), col("firstDocId"))
    sb.append("\n```\n=====PLAN1: pruned segment scan (termHash pushdown, posVarint pruned away)\n")
    sb.append(planOf(p1))

    // PLAN2: distributed bucket-exchange query (forced)
    val forced = new QueryEngine(spark, index, gatherMaxPostings = 0L)
    val p2 = forced.search("spark shuffle", QueryMode.And, 10)
    sb.append("\n=====PLAN2: distributed query (pruned scan -> bucket exchange -> WAND -> TakeOrdered)\n")
    sb.append(planOf(p2))

    // PLAN3: build posting extraction (no aggregation exchange)
    val cleaned = Ingest.cleanPages(PagesGen.pages(spark, 5000))
    val p3 = cleaned
      .select(col("docId"), size(col("tokens")).as("docLen"),
        explode(Ingest.termPostingsUdf(col("tokens"))).as("tp"))
      .select(col("docId"), col("docLen"), col("tp.term").as("term"),
        col("tp.tf").cast("long").as("tf"), col("tp.pos").as("posBytes"))
    sb.append("\n=====PLAN3: per-doc posting extraction (UDF; no groupBy exchange)\n")
    sb.append(planOf(p3))

    // PLAN4: phrase query distributed (posVarint read)
    val p4 = forced.search("spark shuffle", QueryMode.Phrase, 10)
    sb.append("\n=====PLAN4: phrase query (positions column in ReadSchema)\n")
    sb.append(planOf(p4))

    // PLAN2b (r3, VERDICT r2 #2): the bucket-exchange shape at BENCH
    // scale — a real 270k-doc index where Σ raw df of the and_head5x
    // terms (~1.15M) exceeds the 2^20 gather ceiling, so the NATURAL
    // routing (no forced gatherMax) picks the exchange, the bucket
    // fan-out is > 1 (REPARTITION_BY_NUM sized by Σdf/65536), and the
    // Generate divisor is the real bucket width.
    val dir2 = "/tmp/plans-idx-bench-v2"
    IndexBuilder.build(PagesGen.pages(spark, 270000, 16), dir2,
      IndexConfig(saltDfThreshold = 1L << 16, maxSalts = 16))
    val p2b = new QueryEngine(spark, LucyIndex(dir2))
      .search("spark shuffle index posting query", QueryMode.And, 10)
    sb.append("\n=====PLAN2b: bucket exchange at bench scale (270k docs, and_head5x, natural routing)\n")
    sb.append(planOf(p2b))

    // PLAN5/6 (r4): the ANN scale paths over a generated vector corpus.
    // What to read for: the corpus side NEVER appears below an
    // Exchange — LSH joins corpus bands against a BroadcastExchange of
    // query bands, then re-attaches vectors via a second broadcast of
    // the candidate set; IVF joins the corpus's narrow assignment map
    // against a BroadcastExchange of (query × nprobe) probe rows. The
    // only Exchanges are on the candidate/result side (distinct + window
    // rank over candidates), whose volume is bounded by bucket/cell
    // sizing, not corpus size.
    val vecs = lucy.fixtures.VecGen.vectors(spark, 20000, parts = 8)
    val vq = vecs.filter(col("vec_id") < 4)
    val p5 = lucy.pipeline.Similarity.lshCosineTopK(vecs, vq, k = 5, corpusCount = 20000)
    sb.append("\n=====PLAN5: sign-LSH ANN (bands broadcast, ids-only candidates, corpus unshuffled)\n")
    sb.append(planOf(p5))
    val p6 = lucy.pipeline.Similarity.ivfCosineTopK(vecs, vq, k = 5, corpusCount = 20000,
      sampleCap = 4096, iters = 2)
    sb.append("\n=====PLAN6: IVF ANN (broadcast probe join onto narrow assignment map)\n")
    sb.append(planOf(p6))

    // PLAN7 (r4): as-of join — what to read for: NO join node at all;
    // one Exchange hashpartitioning(key) feeding a Window with
    // last(ignoreNulls). The quadratic range-join shape never appears.
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val refs = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts")).agg(max_by(col("value"), col("event_id")).as("amount"))
    val p7 = lucy.pipeline.Relational.asofJoin(ev, refs, "user_id", "ts")
    sb.append("\n=====PLAN7: as-of join (union + ONE keyed exchange + window; no join node)\n")
    sb.append(planOf(p7))

    // PLAN8 (r4): two-level IVF — same corpus-unshuffled probe-join
    // shape as PLAN6 with the (k1+k2)·d assignment UDF in the map.
    val p8 = lucy.pipeline.Similarity.ivfTwoLevelTopK(vecs, vq, k = 5,
      corpusCount = 20000, sampleCap = 4096, iters = 2)
    sb.append("\n=====PLAN8: two-level IVF ANN (broadcast multi-probe join, corpus unshuffled)\n")
    sb.append(planOf(p8))

    // PLAN9 (r5): multi-probe sign-LSH under the saturated n=10^12
    // geometry. What to read for: the probe expansion lives entirely in
    // the BROADCAST side (the query band rows — Generate over the probe
    // UDF feeding a BroadcastExchange); the corpus band frame is the
    // same unshuffled narrow map as PLAN5, so probing costs ×2^probeBits
    // broadcast rows, never a corpus pass. The hot-bucket cap, when
    // engaged, appears as a BroadcastHashJoin LeftAnti against the
    // collected hot keys — also broadcast-side, also corpus-unshuffled.
    val p9 = lucy.pipeline.Similarity.lshCosineTopK(vecs, vq, k = 5,
      numPlanes = 60, bandBits = 30, probeBits = 8)
    sb.append("\n=====PLAN9: multi-probe sign-LSH (probe expansion broadcast-side; corpus unshuffled)\n")
    sb.append(planOf(p9))
    sb.append("```\n")

    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
