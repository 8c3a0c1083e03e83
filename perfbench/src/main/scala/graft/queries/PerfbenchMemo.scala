package graft.queries

/** The catalog's per-session memos, which are private to the queries.
  * The benchmark empties them with `clearCache()` after each query, so
  * every timed sweep builds, persists and reads them as a fresh session
  * does.
  */
object PerfbenchMemo {
  def clear(): Unit = {
    QueryShared.edgeMemo.synchronized(QueryShared.edgeMemo.clear())
    QueryShared.componentStoreMemo.synchronized(QueryShared.componentStoreMemo.clear())
  }
}
