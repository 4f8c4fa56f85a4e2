package perfbench

import lucy.index.BuildManifest

/** Per-layer metrics of a traced run, computed from the spans and the
  * Spark jobs attributed to them. Layers a workload does not touch
  * report 0.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    // lucy.index
    "build.docmap_ms" -> "ms", "build.stats_ms" -> "ms", "build.segments_ms" -> "ms",
    "build.jobs" -> "count", "build.tasks" -> "count", "build.task_cpu_ms" -> "ms",
    "build.gc_ms" -> "ms", "build.shuffle_write_bytes" -> "bytes", "build.spill_bytes" -> "bytes",
    "build.postings" -> "count", "build.blocks" -> "count", "build.index_bytes" -> "bytes",
    "serve.index_bytes_per_text_byte" -> "ratio",
    // lucy.query
    "serve.gather_queries" -> "count", "serve.exchange_queries" -> "count",
    "serve.crossover_margin" -> "ratio",
    "engine.warm_ms" -> "ms", "engine.cached_bytes" -> "bytes",
    "search.gather.share" -> "ratio", "search.gather.call_ms" -> "ms",
    "search.gather.jobs_per_query" -> "count", "search.gather.zero_job_ratio" -> "ratio",
    "search.gather.self_ms" -> "ms",
    "search.exchange.share" -> "ratio", "search.exchange.call_ms" -> "ms",
    "search.exchange.collect_ms" -> "ms", "search.exchange.jobs_per_query" -> "count",
    "search.exchange.tasks_per_query" -> "count", "search.exchange.shuffle_bytes_per_query" -> "bytes",
    "search.prefix.call_ms" -> "ms", "search.empty.call_ms" -> "ms",
    "search.task_wait_ms" -> "ms", "search.tail_pct" -> "%", "search.tail_ms" -> "ms",
    // lucy.stream + lucy.LucyStore
    "store.put.call_ms" -> "ms", "store.put.jobs" -> "count", "store.put.bytes_written" -> "bytes",
    "store.delete.call_ms" -> "ms", "store.delete.jobs" -> "count",
    "store.warm.jobs" -> "count", "store.warm.busy_ms" -> "ms",
    "store.fresh_search.jobs" -> "count", "store.fresh_search.job_ms" -> "ms",
    "store.fresh_search.self_ms" -> "ms", "store.live_search.jobs" -> "count",
    "store.live_search_p50_ms" -> "ms", "store.post_search_p50_ms" -> "ms",
    "store.compact_s" -> "s", "store.compact.jobs" -> "count",
    "store.compact.shuffle_write_bytes" -> "bytes", "store.compact.bytes_written" -> "bytes",
    "store.parts" -> "count", "store.live_exact_ratio" -> "ratio", "store.disk_bytes_per_live_doc.pre" -> "bytes",
    "store.disk_bytes_per_live_doc.post" -> "bytes",
    // lucy.pipeline
    "dedup.minhash_ms" -> "ms", "dedup.clusters_ms" -> "ms", "dedup.candidate_pairs" -> "count",
    "dedup.cap_drops" -> "count", "dedup.shuffle_write_bytes" -> "bytes",
    "dedup.pair_recall" -> "ratio", "ann.ivf2_ms" -> "ms", "ann.lsh_ms" -> "ms",
    "ann.brute_ms" -> "ms", "ann.ivf2_recall" -> "ratio", "ann.lsh_recall" -> "ratio", "ann.jobs" -> "count")

  def fill(c: Ctx): Unit =
    all.foreach { case (n, u) => if (!c.metrics.contains(n)) c.put(n, 0.0, u) }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def build(c: Ctx, m: BuildManifest, dir: String): Unit = {
    val t = c.tracer
    val js = t.named("index.build").flatMap(t.jobsUnder)
    val st = t.stageTotals(js)
    c.put("build.docmap_ms", m.docmapMs.toDouble, "ms")
    c.put("build.stats_ms", m.statsMs.toDouble, "ms")
    c.put("build.segments_ms", m.segmentsMs.toDouble, "ms")
    c.put("build.jobs", js.length.toDouble, "count")
    c.put("build.tasks", st.tasks.toDouble, "count")
    c.put("build.task_cpu_ms", st.cpuNs / 1e6, "ms")
    c.put("build.gc_ms", st.gcMs.toDouble, "ms")
    c.put("build.shuffle_write_bytes", st.shuffleWrite.toDouble, "bytes")
    c.put("build.spill_bytes", st.spill.toDouble, "bytes")
    c.put("build.postings", m.postings.toDouble, "count")
    c.put("build.blocks", m.blocks.toDouble, "count")
    c.put("build.index_bytes", Stat.dirBytes(dir).toDouble, "bytes")
  }

  /** Search metrics by shape. Latencies and job counts come from the
    * `single`-client phases; contention (task wait) from the `multi`
    * ones. */
  def searches(c: Ctx, single: Set[String], multi: Set[String]): Unit = {
    val t = c.tracer
    val ss = t.named("search")
    def phase(s: Span) = s.attrs.getOrElse("phase", "")
    def shape(s: Span) = s.attrs.getOrElse("shape", "")
    val timed = ss.filter(s => single(phase(s)) || multi(phase(s)))
    val one = ss.filter(s => single(phase(s)))
    def of(xs: Seq[Span], sh: String) = xs.filter(shape(_) == sh)
    def share(sh: String) = of(timed, sh).length.toDouble / math.max(1, timed.length)
    def callMs(sh: String) = Stat.median(of(one, sh).map(_.ms))

    val gather = of(one, "gather")
    c.put("search.gather.share", share("gather"), "ratio")
    c.put("search.gather.call_ms", callMs("gather"), "ms")
    c.put("search.gather.jobs_per_query", mean(of(timed, "gather").map(t.jobsUnder(_).length.toDouble)), "count")
    c.put("search.gather.zero_job_ratio",
      gather.count(t.jobsUnder(_).isEmpty).toDouble / math.max(1, gather.length), "ratio")
    c.put("search.gather.self_ms", Stat.median(gather.map(t.selfMs)), "ms")

    val exchange = of(timed, "exchange")
    val collects = of(one, "exchange").flatMap(t.subtree).filter(_.name == "search.collect")
    def perQuery(f: StageAgg => Double) = mean(exchange.map(s => f(t.stageTotals(t.jobsUnder(s)))))
    c.put("search.exchange.share", share("exchange"), "ratio")
    c.put("search.exchange.call_ms", callMs("exchange"), "ms")
    c.put("search.exchange.collect_ms", Stat.median(collects.map(_.ms)), "ms")
    c.put("search.exchange.jobs_per_query", mean(exchange.map(t.jobsUnder(_).length.toDouble)), "count")
    c.put("search.exchange.tasks_per_query", perQuery(_.tasks.toDouble), "count")
    c.put("search.exchange.shuffle_bytes_per_query", perQuery(_.shuffleWrite.toDouble), "bytes")

    c.put("search.prefix.call_ms", callMs("prefix"), "ms")
    c.put("search.empty.call_ms", callMs("empty"), "ms")
    val contended = t.stageTotals(ss.filter(s => multi(phase(s))).flatMap(t.jobsUnder))
    c.put("search.task_wait_ms", contended.waitMs.toDouble / math.max(1L, contended.tasks), "ms")
  }

  final case class StoreFacts(compactMs: Double, parts: Int, putBytes: Seq[Long],
                              bytesBefore: Long, bytesAfter: Long, baseBytes: Long, liveDocs: Long,
                              liveMs: Seq[Double], postMs: Seq[Double])

  def store(c: Ctx, f: StoreFacts): Unit = {
    val t = c.tracer
    val puts = t.named("store.put")
    val deletes = t.named("store.delete")
    val searches = t.named("search")
    val fresh = searches.filter(_.attrs.get("phase").contains("fresh"))
    val live = searches.filter(_.attrs.get("phase").contains("live"))
    val compact = t.named("store.compact").flatMap(t.jobsUnder)
    c.put("store.put.call_ms", Stat.median(puts.map(_.ms)), "ms")
    c.put("store.put.jobs", mean(puts.map(t.jobsUnder(_).length.toDouble)), "count")
    c.put("store.put.bytes_written", mean(f.putBytes.map(_.toDouble)), "bytes")
    c.put("store.delete.call_ms", Stat.median(deletes.map(_.ms)), "ms")
    c.put("store.delete.jobs", mean(deletes.map(t.jobsUnder(_).length.toDouble)), "count")
    c.put("store.warm.jobs", t.warmJobs.length.toDouble, "count")
    c.put("store.warm.busy_ms", t.busyMs(t.warmJobs), "ms")
    c.put("store.fresh_search.jobs", mean(fresh.map(t.jobsUnder(_).length.toDouble)), "count")
    c.put("store.fresh_search.job_ms", mean(fresh.map(t.jobCoveredMs)), "ms")
    c.put("store.fresh_search.self_ms", Stat.median(fresh.map(t.selfMs)), "ms")
    c.put("store.live_search.jobs", mean(live.map(t.jobsUnder(_).length.toDouble)), "count")
    c.put("store.live_search_p50_ms", Stat.median(f.liveMs), "ms")
    c.put("store.post_search_p50_ms", Stat.median(f.postMs), "ms")
    c.put("store.compact_s", f.compactMs / 1000.0, "s")
    c.put("store.compact.jobs", compact.length.toDouble, "count")
    c.put("store.compact.shuffle_write_bytes", t.stageTotals(compact).shuffleWrite.toDouble, "bytes")
    c.put("store.compact.bytes_written", f.baseBytes.toDouble, "bytes")
    c.put("store.parts", f.parts.toDouble, "count")
    c.put("store.disk_bytes_per_live_doc.pre", f.bytesBefore.toDouble / f.liveDocs, "bytes")
    c.put("store.disk_bytes_per_live_doc.post", f.bytesAfter.toDouble / f.liveDocs, "bytes")
  }
}
