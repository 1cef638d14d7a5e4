package graft.core

/** Sorted, disjoint index windows (the visible ranges of the segments
  * a row-level operation scanned) plus the region arithmetic both
  * sides of a copy-on-write rewrite need: the task-side writer rolls
  * its output file whenever a row crosses a region boundary, and the
  * driver-side commit groups the resulting files by region to splice
  * each replaced range independently.
  *
  * Region ids: `i >= 0` = inside the i-th window; negative = the gap
  * before window `-(id+1)` (id -1 is the space below every window,
  * -(n+1) the space above the last). Gap ids are only used to keep
  * gap files from merging across an intervening replaced range.
  */
final class RangeRegions(gs: GSchema,
    val ranges: IndexedSeq[(IndexKey, IndexKey, Closed)])
    extends Serializable {

  def isEmpty: Boolean = ranges.isEmpty

  def regionOf(k: IndexKey): Int = {
    // binary search: greatest i with ranges(i).start <= k
    var lo = 0
    var hi = ranges.length - 1
    var cand = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (gs.cmpKey(ranges(mid)._1, k) <= 0) { cand = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (cand >= 0) {
      val (a, b, cl) = ranges(cand)
      if (gs.within(k, k, a, b, cl)) cand else -(cand + 2)
    } else -1
  }
}
