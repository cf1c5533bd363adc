package graft.serving

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

/** Serving-layer result memoization (reference
  * `services/analysis_cache.py:11-48`): TTL'd, thread-safe, with prefix
  * or predicate invalidation — keys look like `loyalty:{period}:{top}:{party}`.
  * Orthogonal to Spark (caches COLLECTED results, not plans); the Spark
  * analog for hot inputs is `df.persist`, used separately.
  *
  * Misses are single-flight: concurrent callers of one key share one
  * computation. A failed computation is rethrown to every caller waiting
  * on it and is not cached, so the next call computes again.
  */
class AnalysisCache[V](ttlMillis: Long = 3600L * 1000,
    clock: () => Long = () => System.currentTimeMillis(),
    maxEntries: Int = 10000) {

  private case class Entry(value: V, at: Long)
  private val store = new ConcurrentHashMap[String, Entry]()
  private val inFlight = new ConcurrentHashMap[String, CompletableFuture[V]]()

  def getOrCompute(key: String)(compute: => V): V =
    get(key).getOrElse {
      val mine = new CompletableFuture[V]()
      val running = inFlight.putIfAbsent(key, mine)
      if (running != null) {
        try running.join()
        catch { case e: CompletionException => throw Option(e.getCause).getOrElse(e) }
      } else {
        try {
          // a flight that finished between the miss and the claim stored
          // its result before leaving inFlight
          val v = get(key).getOrElse {
            val now = clock()
            val v = compute
            publish(key, mine, Entry(v, now))
            v
          }
          mine.complete(v)
          v
        } catch {
          case e: Throwable => mine.completeExceptionally(e); throw e
        } finally inFlight.remove(key, mine)
      }
    }

  /** Stores a finished computation unless its key was invalidated while
    * it ran: the result may predate the invalidation.
    */
  private def publish(key: String, flight: CompletableFuture[V], entry: Entry): Unit =
    synchronized {
      if (inFlight.get(key) eq flight) {
        store.put(key, entry)
        if (store.size() > maxEntries) evict(entry.at)
      }
    }

  /** Entry-count bound: every distinct param combination is a key, so an
    * unbounded map is a slow memory leak under adversarial query
    * diversity. Over the cap: drop expired entries first, then the
    * oldest until within bound (oldest-inserted ≈ least recently
    * computed under a TTL'd read-through cache).
    */
  private def evict(now: Long): Unit = {
    store.entrySet().removeIf(e => now - e.getValue.at >= ttlMillis)
    val over = store.size() - maxEntries
    if (over > 0) {
      import scala.jdk.CollectionConverters._
      store.entrySet().asScala.toSeq
        .sortBy(_.getValue.at)
        .take(over)
        .foreach(e => store.remove(e.getKey))
    }
  }

  def get(key: String): Option[V] = {
    val now = clock()
    Option(store.get(key)).filter(e => now - e.at < ttlMillis).map(_.value)
  }

  /** Invalidate every key starting with `prefix` (reference semantics:
    * a data refresh drops `loyalty:` etc. wholesale).
    */
  def invalidatePrefix(prefix: String): Int = invalidateIf(_.startsWith(prefix))

  /** Invalidate every key `drop` accepts; returns the number of stored
    * entries dropped.
    */
  def invalidateIf(drop: String => Boolean): Int = synchronized {
    // later callers start a new computation instead of joining one that
    // may read the data being invalidated
    inFlight.keySet().removeIf(k => drop(k))
    var n = 0
    val it = store.keySet().iterator()
    while (it.hasNext) {
      if (drop(it.next())) { it.remove(); n += 1 }
    }
    n
  }

  /** The stored keys, expired or not. */
  private[serving] def keys: Set[String] = {
    import scala.jdk.CollectionConverters._
    store.keySet().asScala.toSet
  }

  def size: Int = store.size()
}
