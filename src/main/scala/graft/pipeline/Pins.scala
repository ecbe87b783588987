package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Run-scoped registry for operator-internal persist pins.
  *
  * Several operators pin an intermediate frame because two consumers must
  * observe ONE physical layout (RowIds/Budget: range partitioning samples
  * its bounds, so un-pinned re-execution could partition the two branches
  * differently) or because a frame feeds several joins (Dedup postings,
  * classifier vocab tables). Those pins are correctness- or cost-bearing,
  * but they have no caller-visible lifecycle: a long-lived session
  * composing many such operators accumulates cache entries until the
  * executors evict under pressure.
  *
  * Every such internal pin routes through [[pin]], and the run boundaries
  * ([[graft.Engine.release]], [[Pipeline.RunResult.release]], or any
  * library caller at its own batch boundary) call [[flush]] to unpersist
  * exactly the operator-internal scratch — without the catalog-wide cache
  * clear's collateral drop of the caller's OWN cached frames.
  *
  * Scope: PER DRIVER THREAD. Each flow (a batch run, a streaming query's
  * execution thread) accumulates pins in its own registry, and [[flush]]
  * releases (a) the calling thread's own pins and (b) any DEAD thread's
  * orphaned pins — scratch from completed flows that never reached their
  * own boundary (e.g. a finished stream-execution thread). Pins of a
  * still-LIVE foreign thread are left alone: unpersisting them would be
  * the one correctness-sensitive case (a sampled-exchange pin released
  * between its two consumers), and with per-thread scope two genuinely
  * concurrent flows — e.g. two streaming queries whose foreachBatch each
  * pins — simply never see each other. To close the awaitTermination
  * race (the stream execution thread unblocks its caller from a finally
  * block while still briefly alive), flush gives each live foreign owner
  * a short join before deciding: a terminating thread dies within the
  * window and its pins release in the SAME flush; a genuinely concurrent
  * flow survives it and keeps its pins.
  *
  * Unpersisting a frame another plan still references is safe in Spark
  * (the dependent plan recomputes through the pinned lineage), so a
  * too-early flush costs recomputation, never correctness — except
  * between the two consumers of a sampled-exchange pin, which is why
  * flush sits at run boundaries, never inside an operator, and why live
  * foreign registries are never touched. */
object Pins {

  /** Per-owner pin queues. Dead owners' entries are reaped by the next
    * [[flush]] (adoption), so the map cannot grow beyond the set of live
    * pinning threads plus not-yet-adopted completed flows. */
  private val registries =
    new ConcurrentHashMap[Thread, ConcurrentLinkedQueue[Dataset[_]]]()

  /** How long [[flush]] waits for a live foreign owner to terminate
    * before leaving its pins alone (covers the awaitTermination race —
    * a stream execution thread's finally unblocks its caller while the
    * thread is still winding down). */
  private val TerminatingJoinMillis = 500L

  /** Persist `ds` at the Dataset default level (MEMORY_AND_DISK — the same
    * level `.cache()` uses) and register it for the next [[flush]]. */
  def pin[T](ds: Dataset[T]): Dataset[T] = pin(ds, StorageLevel.MEMORY_AND_DISK)

  /** Persist `ds` at `level` and register it in the calling thread's own
    * registry (per-flow scope — see above; never throws on concurrency). */
  def pin[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    val q = registries.computeIfAbsent(Thread.currentThread(),
      _ => new ConcurrentLinkedQueue[Dataset[_]]())
    ds.persist(level)
    q.add(ds)
    ds
  }

  /** Unpersist (non-blocking) the calling thread's pins plus any dead
    * owner's orphans. A live foreign owner gets a short join (it may be
    * mid-termination after awaitTermination); if it survives the window
    * it is a genuinely concurrent flow and keeps its pins — that flow
    * flushes at its own boundary. */
  def flush(): Unit = {
    val me = Thread.currentThread()
    release(registries.remove(me))
    val it = registries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val owner = e.getKey
      if (owner.isAlive) {
        try owner.join(TerminatingJoinMillis)
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      }
      if (!owner.isAlive) {
        it.remove()
        release(e.getValue)
      }
    }
  }

  private def release(q: ConcurrentLinkedQueue[Dataset[_]]): Unit =
    if (q != null) {
      var d = q.poll()
      while (d != null) {
        d.unpersist(blocking = false)
        d = q.poll()
      }
    }

  /** Pins currently registered across ALL flows and not yet flushed
    * (diagnostic). */
  def activeCount: Int = {
    var n = 0
    val it = registries.values().iterator()
    while (it.hasNext) n += it.next().size()
    n
  }
}
