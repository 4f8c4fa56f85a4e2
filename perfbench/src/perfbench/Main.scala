package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything one workload run needs. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Tracer, val work: Path, val goldens: Path) {
  /** Every input is a pure function of this bucket: the seed selects one
    * of `Buckets` generator samples (and the golden answers made for it). */
  val bucket: Int = Math.floorMod(seed, Main.Buckets.toLong).toInt
  val traced: Boolean = tracer.enabled
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private val t0 = System.nanoTime()
  /** Progress on stderr. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")
  def dir(name: String): String = work.resolve(name).toString

  /** One operation: counted as attempted, and as failed if it throws or
    * its check returns false. */
  def op(check: => Boolean): Boolean = {
    attempted += 1
    val ok = try check catch { case e: Exception =>
      System.err.println(s"operation failed: $e"); false }
    if (!ok) failed += 1
    ok
  }
}

/** The benchmark's set-up: three set-ups started together, so the JVM's
  * one-time costs are paid once; setup_s is the median of their walls. */
object Setup {
  def three[T](c: Ctx, name: String)(f: Int => T): (Seq[T], Double) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val runs = (0 until 3).map { i =>
        pool.submit(new java.util.concurrent.Callable[(T, Double)] {
          def call(): (T, Double) = Stat.timedMs(c.tracer.span(name, s"setup$i")(f(i)))
        })
      }.map(_.get())
      c.log(s"set-ups ${runs.map(_._2 / 1000.0).mkString(" ")}")
      (runs.map(_._1), Stat.median(runs.map(_._2 / 1000.0)))
    } finally pool.shutdown()
  }
}

object Stat {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** Highest percentile with at least ten samples beyond it, and its
    * value; (0, 0) below eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.length < 11) (0.0, 0.0)
    else {
      val s = xs.sorted
      (100.0 * (s.length - 10) / s.length, s(s.length - 11))
    }
  def timedMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.endsWith(".crc")).map(Files.size).sum
      finally s.close()
    }
  }
}

/** Golden top-k answers: `mode|k|query` → (docId, raw score bits). */
object Goldens {
  type TopK = IndexedSeq[(Long, Long)]

  def rows(df: DataFrame): TopK =
    df.collect().toIndexedSeq.map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))

  def file(dir: Path, workload: String, bucket: Int): Path =
    dir.resolve(s"$workload-b$bucket.tsv")

  def read(dir: Path, workload: String, bucket: Int): Map[String, TopK] = {
    val f = file(dir, workload, bucket)
    require(Files.exists(f), s"missing golden answers $f")
    Files.readAllLines(f).asScala.filter(_.nonEmpty).map { line =>
      val Array(key, hits) = line.split("\t", -1)
      key -> (if (hits.isEmpty) IndexedSeq.empty else hits.split(",").toIndexedSeq.map { h =>
        val Array(d, s) = h.split(":")
        (d.toLong, java.lang.Long.parseUnsignedLong(s, 16))
      })
    }.toMap
  }

  def write(dir: Path, workload: String, bucket: Int, answers: Seq[(String, TopK)]): Unit = {
    Files.createDirectories(dir)
    val lines = answers.map { case (k, hits) =>
      k + "\t" + hits.map { case (d, s) => s"$d:${java.lang.Long.toHexString(s)}" }.mkString(",")
    }
    Files.write(file(dir, workload, bucket), lines.asJava)
  }
}

object Main {
  val Buckets = 8

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def jvmMetrics(c: Ctx): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
    val peak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    c.put("jvm.gc_ms", gcMs.toDouble, "ms")
    c.put("jvm.peak_heap_mb", peak / 1048576.0, "MiB")
  }

  private def json(c: Ctx): String = {
    val ms = c.metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${c.failed == 0}, "attempted": ${c.attempted}, "failed": ${c.failed}, "metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required")))
    val goldens = Paths.get(arg(args, "--goldens").getOrElse(sys.error("--goldens required")))
    Files.createDirectories(work)
    val spark = session(work)
    try {
      arg(args, "--make-goldens") match {
        case Some(buckets) =>
          // Golden answers: NaiveSearch (the library's exhaustive oracle)
          // over each bucket's inputs; written once, read by every run.
          val bs = if (buckets == "all") (0 until Buckets) else buckets.split(",").toSeq.map(_.toInt)
          bs.foreach { b =>
            workload match {
              case "serve" => Serve.makeGoldens(spark, b, goldens)
              case "store_churn" => Churn.makeGoldens(spark, b, goldens)
              case w => sys.error(s"no golden answers for $w")
            }
          }
        case None =>
          val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
          val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
          val traced = arg(args, "--trace").contains("1")
          val tracer = new Tracer(spark.sparkContext, traced)
          val c = new Ctx(spark, seed, seconds, tracer, work, goldens)
          workload match {
            case "serve" => Serve.run(c)
            case "store_churn" => Churn.run(c)
            case w => sys.error(s"unknown workload $w")
          }
          tracer.drain()
          if (traced) {
            Layers.fill(c)
            tracer.write(work.resolve(s"trace-$workload-$seed.jsonl"))
          }
          jvmMetrics(c)
          c.put("ops_failed_ratio", c.failed.toDouble / math.max(1L, c.attempted), "ratio")
          println("PERFBENCH_RESULT " + json(c))
      }
    } finally spark.stop()
  }
}
