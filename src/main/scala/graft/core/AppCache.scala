package graft.core

import java.util.concurrent.ConcurrentHashMap

/** Shared discipline for the session-scoped memo caches: every value is
  * (or holds) a localCheckpoint-backed frame, so keys lead with
  * `sparkContext.applicationId` — a fresh context in the same JVM must
  * never see a dead context's checkpoint blocks. `get` additionally
  * evicts entries from dead contexts on the way in: only one context is
  * live per JVM at a time, so any entry keyed by a different
  * applicationId is unreachable garbage (a long-lived JVM cycling
  * SparkContexts — test harnesses — would otherwise accumulate plans
  * referencing dead blocks indefinitely).
  */
object AppCache {
  // Every cache that ever flows through `get` self-registers here, so
  // the serialization-hygiene audit can enumerate ALL memoized values
  // (not just the ones a spec author remembered) and prove none pins a
  // session — the round-9 Observation/trainingSummary bug class.
  //
  // IDENTITY semantics are load-bearing: ConcurrentHashMap inherits
  // CONTENTS-based equals/hashCode from AbstractMap, so a plain
  // keySet would (a) reject a new cache as a "duplicate" of any other
  // map that happened to be empty at registration time — that cache's
  // memos then silently never trimmed — and (b) re-add the same map
  // after its contents (and hash) changed, duplicating it in every
  // enumeration. Both observed (SerializationHygieneSpec's columnar
  // trim test caught (a); the trim debug listing showed (b)).
  private val registry = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[ConcurrentHashMap[_, _], java.lang.Boolean]()))

  // r14: LRU bookkeeping for the budget trim (SCALING sf10 addendum
  // #3: 260 entries' app-lifetime checkpoint memos BECAME the heap at
  // sf10 — GC thrash, g3 ~8× — because nothing ever evicted them).
  // Keys pair the cache BY IDENTITY with the entry key — the map's
  // contents-based hash would strand every touch record the moment
  // the map mutates.
  private final class IdKey(val m: AnyRef, val k: Any) {
    override def hashCode: Int =
      System.identityHashCode(m) * 31 + (if (k == null) 0 else k.hashCode)
    override def equals(o: Any): Boolean = o match {
      case other: IdKey => (other.m eq m) && other.k == k
      case _ => false
    }
  }
  private val tick = new java.util.concurrent.atomic.AtomicLong()
  private val lastTouch = new ConcurrentHashMap[IdKey, java.lang.Long]()

  /** `key` must lead with the current applicationId. */
  def get[K <: Product, V](cache: ConcurrentHashMap[K, V], key: K)(mk: => V): V = {
    registry.add(cache)
    val app = key.productElement(0)
    cache.keySet.removeIf(k => k.productElement(0) != app)
    lastTouch.put(new IdKey(cache, key), tick.incrementAndGet())
    cache.computeIfAbsent(key, _ => mk)
  }

  // a synchronizedSet must be manually locked around iteration
  private def cachesSnapshot: Seq[ConcurrentHashMap[_, _]] = {
    import scala.jdk.CollectionConverters._
    registry.synchronized { registry.asScala.toSeq }
  }

  /** Audit surface: a snapshot of every value currently memoized in any
    * registered cache. */
  def allCachedValues: Seq[Any] = {
    import scala.jdk.CollectionConverters._
    cachesSnapshot.flatMap(_.values.asScala.toSeq)
  }

  private def framesOf(v: Any): Seq[org.apache.spark.sql.DataFrame] =
    v match {
      case ds: org.apache.spark.sql.Dataset[_] => Seq(ds.toDF())
      case p: Product => p.productIterator.collect {
        case ds: org.apache.spark.sql.Dataset[_] => ds.toDF()
      }.toSeq
      case _ => Seq.empty
    }

  /** Budget-aware LRU eviction of the checkpoint-backed memo values —
    * called at ENTRY BOUNDARIES (Bench/Verify, between queries: the
    * one point where no in-flight plan can still hold an evicted
    * frame). Accounts only memory-RESIDENT block bytes (disk-spilled
    * checkpoint blocks don't pressure the heap); while the total
    * exceeds `budgetBytes`, least-recently-touched entries are dropped
    * from their maps and their checkpoint RDDs unpersisted — refcounted
    * across entries first, because two memos may legitimately share
    * one checkpointed frame and a shared RDD must outlive its last
    * reference (a localCheckpoint cannot recompute). A re-request
    * simply rebuilds: correctness is untouched, the memo just stops
    * being app-lifetime once it stops fitting. Returns
    * (entriesEvicted, bytesReleased). */
  def trimToBudget(spark: org.apache.spark.sql.SparkSession,
                   budgetBytes: Long): (Int, Long) = {
    import scala.jdk.CollectionConverters._
    val memBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> i.memSize).toMap
    // (id, release): checkpoint RDDs release via raw RDD unpersist (a
    // checkpoint cannot recompute, the entry rebuild makes a NEW one);
    // cached-plan frames MUST release via Dataset.unpersist — the
    // CacheManager entry stays coherent and the next scan re-caches —
    // because unpersisting the columnar-buffer RDD directly would pin
    // its storage level at NONE and the "evict = rebuild on demand"
    // contract would silently become "never cached again".
    final case class Ent(cache: ConcurrentHashMap[_, _], key: Any,
                         rdds: Seq[(Int, () => Unit)], bytes: Long,
                         touch: Long)
    val sc = spark.sparkContext
    val ents = cachesSnapshot.flatMap { c =>
      c.entrySet.asScala.toSeq.map { e =>
        val rdds = framesOf(e.getValue)
          .flatMap { f =>
            val ck = org.apache.spark.sql.GraftColumnBridge
              .checkpointRddId(f).map { id =>
                id -> (() => sc.getPersistentRDDs.get(id)
                  .foreach(_.unpersist(blocking = false)))
              }
            ck.orElse(org.apache.spark.sql.GraftColumnBridge
              .cachedPlanRddId(f).map { id =>
                id -> (() => { f.unpersist(blocking = false); () })
              })
          }
          .distinctBy(_._1)
        Ent(c, e.getKey, rdds,
          rdds.map { case (id, _) => memBytes.getOrElse(id, 0L) }.sum,
          Option(lastTouch.get(new IdKey(c, e.getKey))).map(_.longValue).getOrElse(0L))
      }
    }
    // refcount each RDD across ALL entries (evicted or not): release
    // only when the last referencing entry goes
    val refs = scala.collection.mutable.Map.empty[Int, Int]
    ents.foreach(_.rdds.foreach { case (id, _) =>
      refs(id) = refs.getOrElse(id, 0) + 1 })
    // total over DISTINCT rdds (two entries may share one frame)
    var total = refs.keys.map(memBytes.getOrElse(_, 0L)).sum
    var freed = 0L; var n = 0
    for (e <- ents.sortBy(_.touch) if total > budgetBytes && e.bytes > 0) {
      e.cache.asInstanceOf[ConcurrentHashMap[Any, Any]].remove(e.key)
      lastTouch.remove(new IdKey(e.cache, e.key))
      e.rdds.foreach { case (id, release) =>
        refs(id) -= 1
        if (refs(id) == 0) {
          release()
          val b = memBytes.getOrElse(id, 0L)
          freed += b; total -= b
        }
      }
      n += 1
    }
    (n, freed)
  }
}
