package lucy.query

import org.scalatest.funsuite.AnyFunSuite
import scala.util.chaining._
import lucy.index.{PostingBlock, TermStats}

/** BlockCache unit behavior: size accounting, LRU eviction under the
  * byte cap, access-order refresh, idempotent puts, and entries keyed by
  * (part dir, term). (Equivalence of cached vs uncached SEARCH results
  * is covered by WandEquivalenceSpec, UpdateRegimeSpec and the bench
  * warm path; this pins the cache mechanics themselves.)
  */
class BlockCacheSpec extends AnyFunSuite {

  private def entryOf(term: String, nBytes: Int) = {
    val b = PostingBlock(lucy.Hashing.termHash(term), term, 0, 0, 1L, 1L, 1, 1, 5,
      new Array[Byte](nBytes), Array[Byte](0), Array[Byte](5),
      PostingBlock.encodePositions(Array(0)))
    PartTerm(Some(TermStats(term, 1L, 1L)), Some(Seq(0 -> Array(b))))
  }

  test("put/get roundtrip; re-put is a no-op; size accounted") {
    val c = new BlockCache(maxBytes = 10000)
    assert(c.get("p", "a").isEmpty)
    c.put("p", "a", entryOf("a", 100))
    val sz = c.sizeBytes
    assert(sz > 100, "payload + overhead accounted")
    c.put("p", "a", entryOf("a", 100)) // idempotent
    assert(c.sizeBytes === sz)
    assert(c.get("p", "a").nonEmpty)
    assert(c.get("q", "a").isEmpty, "an entry belongs to one part dir")
  }

  test("LRU eviction under the byte cap keeps recently-used terms") {
    val entryBytes = {
      val c0 = new BlockCache(); c0.put("p", "probe", entryOf("probe", 1000)); c0.sizeBytes
    }
    val c = new BlockCache(maxBytes = entryBytes * 3)
    c.put("p", "t1", entryOf("t1", 1000))
    c.put("p", "t2", entryOf("t2", 1000))
    c.put("p", "t3", entryOf("t3", 1000))
    assert(c.get("p", "t1").nonEmpty && c.get("p", "t2").nonEmpty && c.get("p", "t3").nonEmpty)
    // touch t1 so t2 is the LRU victim when t4 overflows the cap
    c.get("p", "t1")
    c.put("p", "t4", entryOf("t4", 1000))
    assert(c.get("p", "t2").isEmpty, "LRU entry must be evicted")
    assert(c.get("p", "t1").nonEmpty && c.get("p", "t3").nonEmpty && c.get("p", "t4").nonEmpty)
    assert(c.sizeBytes <= entryBytes * 3)
  }

  test("an entry larger than the cap still serves (evicts everything else)") {
    val c = new BlockCache(maxBytes = 10)
    c.put("p", "big", entryOf("big", 1000))
    assert(c.get("p", "big").nonEmpty, "the just-put term is never self-evicted")
  }

  test("retainDirs drops the entries of parts outside the view; a gathered entry replaces its stats-only one") {
    val c = new BlockCache()
    c.put("base", "t", PartTerm(Some(TermStats("t", 1L, 1L)), None))
    val statsOnly = c.sizeBytes
    c.put("base", "t", entryOf("t", 100))
    assert(c.get("base", "t").flatMap(_.streams).nonEmpty && c.sizeBytes > statsOnly)
    c.put("delta-1", "t", entryOf("t", 100))
    c.put("delta-1", "u", PartTerm.absent)
    c.retainDirs(Set("base"))
    assert(c.get("base", "t").nonEmpty)
    assert(c.get("delta-1", "t").isEmpty && c.get("delta-1", "u").isEmpty)
    assert(c.sizeBytes === new BlockCache().tap(_.put("base", "t", entryOf("t", 100))).sizeBytes)
    c.clear()
    assert(c.get("base", "t").isEmpty && c.sizeBytes === 0L)
  }

  test("TombstonedIndex guards: sortedness and the compact-first cap") {
    import lucy.index.{Deletes, LucyIndex, TombstonedIndex}
    val inner = LucyIndex("/nonexistent") // never touched by the guards
    intercept[IllegalArgumentException] {
      TombstonedIndex(inner, Array(5L, 3L))
    }
    val e = intercept[IllegalArgumentException] {
      TombstonedIndex(inner, Array.tabulate(Deletes.maxTombstones + 1)(_.toLong))
    }
    assert(e.getMessage.contains("compact"))
  }
}
