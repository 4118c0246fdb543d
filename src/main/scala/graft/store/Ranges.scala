package graft.store

import scala.collection.mutable

/** Interval arithmetic over global [start, stop) row ranges — the ONE
  * implementation shared by driver-side selection planning
  * (GraftScan.planSelection), index-bucket routing (GraftScan, Columns.gather)
  * and executor-side membership-filter refinement (Decode.refineUnit).
  */
object Ranges {

  /** Sort + coalesce overlapping/adjacent ranges. */
  def merge(rs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    if (rs.isEmpty) return Seq.empty
    val sorted = rs.sortBy(_._1)
    val out = mutable.ArrayBuffer(sorted.head)
    sorted.tail.foreach { case (a, b) =>
      val (la, lb) = out.last
      if (a <= lb) out(out.size - 1) = (la, math.max(lb, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  /** Sorted granule-bucket ids (`row_id / g`) → the [start, stop) row
    * ranges they cover, adjacent buckets coalesced.
    */
  def fromBuckets(sorted: Array[Long], g: Long): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i < sorted.length) {
      val s = sorted(i) * g
      var e = sorted(i) + 1
      while (i + 1 < sorted.length && sorted(i + 1) == e) { e = sorted(i + 1) + 1; i += 1 }
      out += ((s, e * g))
      i += 1
    }
    out.toSeq
  }

  /** Two-pointer intersection; inputs are normalized (merged) first so
    * overlapping input ranges cannot make the walk skip coverage.
    */
  def intersect(x0: Seq[(Long, Long)], y0: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val x = merge(x0)
    val y = merge(y0)
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    var j = 0
    while (i < x.length && j < y.length) {
      val lo = math.max(x(i)._1, y(j)._1)
      val hi = math.min(x(i)._2, y(j)._2)
      if (lo < hi) out += ((lo, hi))
      if (x(i)._2 < y(j)._2) i += 1 else j += 1
    }
    out.toSeq
  }
}
