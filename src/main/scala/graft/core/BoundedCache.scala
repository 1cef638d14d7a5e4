package graft.core

import java.util.concurrent.atomic.AtomicLong

/** The one driver cache policy: a JVM-wide LRU over content-addressed
  * decodes. Every key names its value by content — revision ids are
  * `hextime-sha1(payload)`, chunks and schemas are keyed by their
  * bytes — so an entry can never go stale and the only policy is size.
  *
  * Entries are kept in access order and weighed by `weigh` (1 per
  * entry by default, or rows). After an insert the eldest entries are
  * dropped until the total weight is back within `budget`, never the
  * entry just inserted: a single value heavier than the whole budget
  * still caches. A hot key re-read during a sweep over many cold keys
  * stays young and survives it. All access goes through one lock;
  * loads run outside it.
  */
final class BoundedCache[K, V <: AnyRef](budget: Long,
    weigh: V => Long = (_: V) => 1L) {
  private val map = new java.util.LinkedHashMap[K, V](64, 0.75f, true)
  private var total = 0L
  private val missCount = new AtomicLong(0L)

  /** The cached value, else `load`'s. `load` runs outside the lock, so
    * misses on different keys never serialize behind one decode; two
    * racing misses on one key may both load, and the first insert
    * wins — both callers get the same instance. */
  def getOrLoad(k: K)(load: => V): V = {
    val hit = synchronized(map.get(k))
    if (hit != null) return hit
    missCount.incrementAndGet()
    val v = load
    synchronized {
      val prev = map.get(k)
      if (prev != null) prev else { insert(k, v); v }
    }
  }

  /** The cached value, refreshing its recency; never loads, never
    * counts a miss. */
  def peek(k: K): Option[V] = synchronized(Option(map.get(k)))

  def put(k: K, v: V): Unit = synchronized(insert(k, v))

  /** Compare-and-set: install `v` only while the entry is still
    * `expected` (by reference; null = absent), so a writer never
    * overwrites what a concurrent writer installed after its read. */
  def replace(k: K, expected: V, v: V): Boolean = synchronized {
    (map.get(k) eq expected) && { insert(k, v); true }
  }

  def clear(): Unit = synchronized { map.clear(); total = 0L }

  /** loads run by [[getOrLoad]] so far (never reset) */
  def misses: Long = missCount.get()

  def totalWeight: Long = synchronized(total)

  private def insert(k: K, v: V): Unit = {
    val old = map.put(k, v) // access order: `k` is now the youngest
    if (old != null) total -= weigh(old)
    total += weigh(v)
    val eldest = map.values().iterator()
    while (total > budget && map.size() > 1) {
      total -= weigh(eldest.next()); eldest.remove()
    }
  }
}
