package graft

/** Read-only view of the query memo's lookup counters, which the program
  * keeps package-private. */
object PerfbenchMemo {
  def lookups: (Long, Long) = queries.MemoCache.lookupCounts
}
