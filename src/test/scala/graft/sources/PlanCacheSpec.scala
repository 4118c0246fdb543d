package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** The planning cache's weight bound, and the zone-map test the index
  * consult shares with the chunk planner.
  */
class PlanCacheSpec extends AnyFunSuite {

  test("plan cache evicts least-recently-used entries by weight; an oversize entry is not kept") {
    val c = new GraftScan.PlanCache(10)
    c.put("a", "A", 4)
    c.put("b", "B", 4)
    assert(c.get("a").contains("A")) // a is now the most recently used
    c.put("c", "C", 4) // 12 > 10: evicts b, the least recently used
    assert(c.get("b").isEmpty && c.get("a").contains("A") && c.get("c").contains("C"))
    c.put("d", "D", 11) // heavier than the whole cache: not kept, evicts nothing
    assert(c.get("d").isEmpty && c.get("a").nonEmpty && c.get("c").nonEmpty)
    c.put("e", "E", 0) // weightless entries still count 1
    (0 until 10).foreach(i => c.put(s"z$i", "Z", 0))
    assert(c.get("a").isEmpty && c.get("c").isEmpty && c.get("e").isEmpty)
    assert((0 until 10).forall(i => c.get(s"z$i").nonEmpty))
    c.put("z0", "Z0", 3) // re-weighing an entry evicts to fit
    assert(c.get("z0").contains("Z0") && (1 until 3).forall(i => c.get(s"z$i").isEmpty))
  }

  test("integer zone maps compare floating bounds as Spark coerces them") {
    // Spark compares a long with a double as doubles: Long.MaxValue rounds
    // to 2^63, and 2^53 + 1 rounds to 2^53
    val max = Long.MaxValue
    assert(GraftScan.chunkMayMatch(1, max, max, Some(9.223372036854775807e18), None))
    val big = (1L << 53) + 1
    assert(GraftScan.chunkMayMatch(1, big, big, None, Some((1L << 53).toDouble)))
    assert(GraftScan.chunkMayMatch(1, big, big, Some((1L << 53).toDouble), None))
    // and a long with a float as floats
    assert(GraftScan.chunkMayMatch(1, (1L << 24) + 1, (1L << 24) + 1,
      None, Some(java.lang.Float.valueOf((1 << 24).toFloat))))
    // exact integral bounds still prune; NaN bounds follow NaN-largest
    assert(!GraftScan.chunkMayMatch(1, 0L, 9L, Some(10L), None))
    assert(!GraftScan.chunkMayMatch(1, 0L, 9L, Some(Double.NaN), None))
    assert(GraftScan.chunkMayMatch(1, 0L, 9L, None, Some(Double.NaN)))
    // IN probes past exact integer conversion cannot prune integer chunks
    assert(GraftScan.inMayMatch(1, big, big,
      GraftScan.mkInProbe(Array[Any]((1L << 53).toDouble))))
  }
}
