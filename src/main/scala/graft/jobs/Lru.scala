package graft.jobs

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}
import java.util.concurrent.atomic.AtomicLong

/** Small bounded LRU for long-lived serving caches (readers, footers,
  * plan fragments). A serving process that cycles exports or codebooks
  * must not grow driver memory without bound — the unbounded
  * ConcurrentHashMaps these replace leaked one entry per epoch/codebook
  * forever.
  *
  * Concurrency contract (the serving hot path): `get` HITS are
  * lock-free — a ConcurrentHashMap read plus one volatile stamp write —
  * and a MISS computes `mk` entirely OUTSIDE any map-wide lock behind a
  * per-key future (first caller computes, racers await that key's
  * future only). One cold footer parse therefore never blocks another
  * key's hit or compute. The round-12 form ran both lookup and compute
  * under a single monitor (LinkedHashMap in access order mutates on
  * read), which serialized even cache hits across ALL keys — invisible
  * to single-threaded probes, a real p99 cliff under concurrent
  * lookups (perfbench's bm25_serve `jobs.lookup.overlap_p99_ms`
  * measures it).
  *
  * Eviction is approximate-LRU: each access bumps a global-clock stamp;
  * inserts past `maxEntries` evict the smallest-stamp COMPLETED entries
  * under a dedicated eviction lock (never the map), skipping in-flight
  * computes. `remove`/`removeIf` lets an exporter invalidate the epochs
  * it just pruned instead of relying on callers to remember a clear
  * call. A failed `mk` removes its entry (waiters rethrow the cause;
  * the next get retries).
  */
private[graft] final class Lru[K, V](maxEntries: Int) {
  require(maxEntries > 0, s"maxEntries must be positive, got $maxEntries")

  private final class Entry(val fut: CompletableFuture[V]) {
    @volatile var stamp: Long = tick.incrementAndGet()
  }

  private val tick = new AtomicLong()
  private val m = new ConcurrentHashMap[K, Entry]()
  private val evictLock = new Object

  /** Get-or-compute: `mk` runs at most once per live key (per-key
    * future memoization), outside every lock shared with other keys.
    */
  def get(k: K)(mk: K => V): V = {
    val hit = m.get(k)
    if (hit != null) { hit.stamp = tick.incrementAndGet(); await(hit) }
    else {
      val fresh = new Entry(new CompletableFuture[V])
      val prev = m.putIfAbsent(k, fresh)
      if (prev != null) { prev.stamp = tick.incrementAndGet(); await(prev) }
      else {
        val v =
          try mk(k)
          catch {
            case t: Throwable =>
              m.remove(k, fresh)
              fresh.fut.completeExceptionally(t)
              throw t
          }
        fresh.fut.complete(v)
        evictIfNeeded()
        v
      }
    }
  }

  private def await(e: Entry): V =
    try e.fut.join()
    catch {
      case ce: CompletionException if ce.getCause != null => throw ce.getCause
    }

  private def evictIfNeeded(): Unit =
    if (m.size() > maxEntries) evictLock.synchronized {
      while (m.size() > maxEntries) {
        var bestK: Option[K] = None
        var bestStamp = Long.MaxValue
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          // never evict an in-flight compute: its waiters hold the
          // future, and dropping the entry would let mk run twice
          if (e.getValue.fut.isDone && e.getValue.stamp < bestStamp) {
            bestStamp = e.getValue.stamp
            bestK = Some(e.getKey)
          }
        }
        bestK match {
          case Some(k) => m.remove(k); ()
          case None => return // everything in flight — nothing evictable
        }
      }
    }

  /** Peek without computing or touching the access stamp (tests). */
  def peek(k: K): Option[V] = Option(m.get(k)).flatMap { e =>
    if (e.fut.isDone && !e.fut.isCompletedExceptionally) Some(e.fut.join())
    else None
  }

  def removeIf(pred: K => Boolean): Unit = {
    val it = m.keySet().iterator()
    while (it.hasNext) if (pred(it.next())) it.remove()
  }

  def clear(): Unit = m.clear()

  def size: Int = m.size()
}
