package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The session memo: one table of built values, keyed by a short
  * literal name per call site plus that site's key arguments
  * (`memo(spark, "graph.tpch", dir) { … }`).
  *
  * App-switch rule: every value is (or holds) a localCheckpoint- or
  * cache-backed frame, and a fresh SparkContext in the same JVM must
  * never see a dead context's blocks. Only one context is live per JVM,
  * so the table remembers the applicationId it was filled under and
  * each call compares it with the live one; on a mismatch the WHOLE
  * table is cleared (a JVM cycling contexts — test harnesses — would
  * otherwise keep dead plans referenced).
  *
  * Builds run outside the map's lock. Builds nest (Louvain's build asks
  * for the KNN memo, a model fit for the training-set memo), and a
  * build run inside `computeIfAbsent` that touches the same map is a
  * recursive update (JDK 17: IllegalStateException or a hang). So the
  * map holds only a small slot per key; the build runs under the slot's
  * own lock, which builds a key once under concurrent requests. A build
  * that throws stores nothing and the next request builds again.
  *
  * Trim contract: see [[trimToBudget]]; [[allCachedValues]] lists the
  * built values only.
  */
object AppCache {
  private final class Slot {
    @volatile var value: Option[Any] = None
    @volatile var touch: Long = 0L
  }
  private val table = new ConcurrentHashMap[(String, Seq[Any]), Slot]()
  private val tick = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var liveApp: String = null

  /** The memoized value of `build` under (`name`, `key`) for the live
    * application; `name` is a literal unique to the call site. */
  def memo[V](spark: SparkSession, name: String, key: Any*)(build: => V): V = {
    val app = spark.sparkContext.applicationId
    if (app != liveApp) synchronized {
      if (app != liveApp) { table.clear(); liveApp = app }
    }
    val slot = table.computeIfAbsent((name, key.toList), _ => new Slot)
    slot.touch = tick.incrementAndGet()
    slot.synchronized {
      if (slot.value.isEmpty) slot.value = Some(build)
      slot.value.get.asInstanceOf[V]
    }
  }

  /** Audit surface: a snapshot of every value currently memoized. */
  def allCachedValues: Seq[Any] = {
    import scala.jdk.CollectionConverters._
    table.values.asScala.toSeq.flatMap(_.value)
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
    * from the table and their checkpoint RDDs unpersisted — refcounted
    * across entries first, because two memos may legitimately share
    * one checkpointed frame and a shared RDD must outlive its last
    * reference (a localCheckpoint cannot recompute). A re-request
    * simply rebuilds: correctness is untouched, the memo just stops
    * being app-lifetime once it stops fitting. Returns
    * (entriesEvicted, bytesReleased). */
  def trimToBudget(spark: SparkSession, budgetBytes: Long): (Int, Long) = {
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
    final case class Ent(key: (String, Seq[Any]), slot: Slot,
                         rdds: Seq[(Int, () => Unit)], bytes: Long,
                         touch: Long)
    val sc = spark.sparkContext
    val ents = table.entrySet.asScala.toSeq.flatMap { e =>
      e.getValue.value.map { v =>
        val rdds = framesOf(v)
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
        Ent(e.getKey, e.getValue, rdds,
          rdds.map { case (id, _) => memBytes.getOrElse(id, 0L) }.sum,
          e.getValue.touch)
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
      table.remove(e.key, e.slot)
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
