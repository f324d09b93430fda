package graft.core

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** Values computed once per (live session, key). Stopped sessions are
  * evicted on the next lookup: weak keys alone would never collect here,
  * because memoized frames strongly reference their session. A
  * computation that throws leaves no entry, so the next lookup computes
  * again. */
private[graft] final class SessionMemo[K, V <: AnyRef] {
  private val bySession = new java.util.HashMap[SparkSession, ConcurrentHashMap[K, V]]()

  def apply(spark: SparkSession, key: K)(compute: => V): V = {
    val perSession = bySession.synchronized {
      bySession.keySet.removeIf(s => s.sparkContext.isStopped)
      bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap[K, V]())
    }
    perSession.computeIfAbsent(key, _ => compute)
  }
}
