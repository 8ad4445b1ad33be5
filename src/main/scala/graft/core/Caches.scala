package graft.core

import org.apache.spark.sql.SparkSession

/** Shared infrastructure for the library's per-session memos and
  * derived-artifact tags (one implementation instead of a divergent
  * copy per call site).
  *
  * Weak session keys alone CANNOT reclaim these caches: the cached
  * values (DataFrames, plans) strongly reference their SparkSession, so
  * a WeakHashMap entry's value pins its own key forever. Instead every
  * access purges entries whose SparkContext has stopped — a stopped
  * session's plans become unreachable on the next cache touch from any
  * session. */
object Caches {

  final class PerSession[V] {
    private val entries =
      new java.util.IdentityHashMap[SparkSession, V]()

    /** The session's cached value, built by `mk` on first access.
      * Entries of stopped sessions are dropped on every call. */
    def get(spark: SparkSession)(mk: => V): V = synchronized {
      val it = entries.entrySet().iterator()
      while (it.hasNext)
        if (it.next().getKey.sparkContext.isStopped) it.remove()
      val cur = entries.get(spark)
      if (cur != null) cur
      else {
        val v = mk
        entries.put(spark, v)
        v
      }
    }
  }

  /** A per-session keyed memo: each (session, key) value is built once
    * by `mk`, under the session map's lock, so two threads of one
    * session never build the same key twice. */
  final class Keyed[K, V] {
    private val maps = new PerSession[scala.collection.mutable.Map[K, V]]

    def get(spark: SparkSession, key: K)(mk: => V): V = {
      val m = maps.get(spark)(scala.collection.mutable.Map.empty[K, V])
      m.synchronized(m.getOrElseUpdate(key, mk))
    }
  }

  /** Hex md5 prefix of `s` — the collision-safe, recomputable tag every
    * derived artifact (bucketed tables, IVF index, z-order layout,
    * scaled copies) keys on. */
  def md5Tag(s: String, len: Int = 12): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(len)
}
