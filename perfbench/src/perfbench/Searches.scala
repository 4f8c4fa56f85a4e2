package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.DataFrame

/** One timed search, and closed-loop phases of them. */
object Searches {

  /** A search as a client sees it: the call plus collecting its rows.
    * `expect` is the golden top-k when one exists for this state;
    * `strict` makes a mismatch a failed operation (otherwise it is only
    * counted as inexact). */
  final case class Done(q: Q, ms: Double, exact: Option[Boolean])

  def one(c: Ctx, q: Q, attrs: Map[String, String], expect: Option[Goldens.TopK],
          strict: Boolean)(call: => DataFrame): Done = {
    var got: Goldens.TopK = null
    var ms = 0.0
    val ok = c.op {
      ms = Stat.timedMs {
        c.tracer.span("search", q.id, attrs) {
          val df = c.tracer.span("search.call", q.id)(call)
          got = c.tracer.span("search.collect", q.id)(Goldens.rows(df))
        }
      }._2
      !strict || expect.forall(_ == got)
    }
    Done(q, ms, if (!ok) Some(false) else expect.map(_ == got))
  }

  final case class Phase(done: Seq[Done], wallMs: Double) {
    def qps: Double = done.length / (wallMs / 1000.0)
    def latencies: Seq[Double] = done.map(_.ms)
  }

  /** Closed loop: `clients` threads each take the next query and wait for
    * its reply before taking another. Queries come in whole passes over
    * the mix, each pass in its own seeded order; passes keep starting
    * until `minPasses` have started and `minMs` has elapsed, so every
    * phase holds the mix in equal proportion. */
  def phase(c: Ctx, mix: Seq[Q], clients: Int, name: String, minMs: Double, minPasses: Int = 1)
           (run: Q => Done): Phase = {
    val rnd = new Random(c.seed * 1000003L + name.hashCode)
    val t0 = System.nanoTime()
    var pass = Iterator.empty[Q]
    var passes = 0
    def next(): Option[Q] = synchronized {
      if (!pass.hasNext && (passes < minPasses || (System.nanoTime() - t0) / 1e6 < minMs)) {
        pass = rnd.shuffle(mix).iterator
        passes += 1
      }
      if (pass.hasNext) Some(pass.next()) else None
    }
    val done = new ConcurrentLinkedQueue[Done]()
    def client(): Unit = {
      var q = next()
      while (q.isDefined) { done.add(run(q.get)); q = next() }
    }
    if (clients == 1) client()
    else {
      val pool = Executors.newFixedThreadPool(clients)
      try {
        val fs = (0 until clients).map(_ => pool.submit(new Runnable { def run(): Unit = client() }))
        fs.foreach(_.get())
      } finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
    }
    Phase(done.asScala.toSeq, (System.nanoTime() - t0) / 1e6)
  }
}
