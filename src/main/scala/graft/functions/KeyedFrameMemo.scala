package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.GraftSession.knob

/** The one cross-call frame cache: every shared artifact the library
  * reuses across calls (traversal projections, the triangle family's
  * adjacency, the GraphQueries (session, dir) labelings, the text and
  * vector artifacts) is an entry of some instance, so all of them run
  * one policy and one byte ledger. Keys are input frame OBJECTS
  * (identity-keyed: DataFrame equality is reference equality), tuples
  * over them, or (session, dir) pairs.
  *
  * Eviction is LRU, never wholesale, and budgeted in BYTES across
  * every memo instance (see the companion): the block manager charges
  * storage in bytes, so bytes — measured from the checkpointed RDD's
  * own storage info at build time — are what the budget caps; a count
  * cap alone let a board's worth of sf1 frames pile up ~80 s of
  * residency drag (r11 sf1 bisection). Past the global budget the
  * globally least-recently-fetched frames are dropped; past 64 entries
  * in one memo (spec-suite throwaway frames, usually too small to
  * register in bytes) that memo drops to its 16 most recent. Eviction
  * only DROPS the memo's own reference, it never unpersists. A
  * checkpointed RDD cannot be recomputed, so the release of its blocks
  * is delegated to Spark's ContextCleaner
  * (`spark.cleaner.referenceTracking`, on by default): every persisted
  * RDD is weak-ref-registered at persist time, and its blocks are
  * unpersisted exactly when the RDD object itself is garbage-collected.
  * A plan composed from a memo handle holds the LogicalRDD — and
  * therefore the RDD — strongly, so no amount of memo churn between
  * composing a plan and executing it can invalidate the handle: the
  * lifetime IS the reachability of the consumer plan (MemoChurnSpec
  * pins 300 evictions + System.gc between handle fetch and execution).
  * The one eager path is [[KeyedFrameMemo.release]], for an owner that
  * retires the key frame itself.
  *
  * A [[KeyedMemo]] is the same cache over a driver-side value (a
  * collected adjacency), sized by `bytesOf`: it shares the registry,
  * the byte ledger, the LRU and [[KeyedFrameMemo.release]], and holds
  * no blocks, so dropping it frees heap only. */
private[graft] class KeyedMemo[K, V](bytesOf: V => Long, free: V => Unit) {
  import KeyedFrameMemo._
  private[functions] val frames =
    scala.collection.concurrent.TrieMap.empty[K, V]
  private[functions] val stamps =
    scala.collection.concurrent.TrieMap.empty[K, Long]
  private[functions] val sizes =
    scala.collection.concurrent.TrieMap.empty[K, Long]
  register(this)
  private[functions] def drop(key: Any): Unit = {
    frames.remove(key.asInstanceOf[K])
    stamps.remove(key.asInstanceOf[K])
    sizes.remove(key.asInstanceOf[K])
  }
  /** Drop `key` and free its value now. */
  private[functions] def evict(key: Any): Unit = {
    frames.get(key.asInstanceOf[K]).foreach(free)
    drop(key)
  }
  /** Non-building lookup: lets a measured dispatch choose its plan
    * based on whether a sibling query ALREADY paid for the shared
    * frame, without forcing the build itself (the D4b prefix join
    * rides D4's pair frame only when it exists). Touches the LRU
    * stamp on hit so riding keeps the frame warm. */
  def peek(key: K): Option[V] = {
    val f = frames.get(key)
    if (f.isDefined) stamps.put(key, globalTick.incrementAndGet())
    f
  }
  def getOrBuild(key: K)(build: => V): V = {
    if (frames.contains(key)) MemoStats.recordHit()
    else MemoStats.recordBuild()
    var built = false
    val out = frames.getOrElseUpdate(key, {
      if (frames.size > 64) {
        val keep = stamps.toSeq.sortBy(-_._2).take(16).map(_._1).toSet
        (frames.keySet.toSet -- keep - key).foreach(drop)
        gcNudgeAsync()
      }
      built = true
      build
    })
    stamps.put(key, globalTick.incrementAndGet())
    if (built) {
      // measure AFTER build: the heavy builds end in an eager
      // localCheckpoint(true), so the blocks exist now; lazy (non-
      // checkpointed) frames measure 0 and ride the count backstop
      sizes.put(key, bytesOf(out))
      sweepOverBudget(this, key)
    }
    out
  }
}

/** A memo of checkpointed frames, sized by their persisted blocks. */
private[graft] class KeyedFrameMemo[K]
    extends KeyedMemo[K, DataFrame](KeyedFrameMemo.frameBytes,
      KeyedFrameMemo.unpersistCheckpoint)

/** The registry and global byte ledger over every [[KeyedFrameMemo]]
  * instance — residency is a property of the one block manager all
  * memos share, so the budget is global, not per-memo. */
private[graft] object KeyedFrameMemo {
  private[functions] val globalTick = new java.util.concurrent.atomic.AtomicLong()
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[KeyedMemo[_, _]]
  private[functions] def register(m: KeyedMemo[_, _]): Unit = { registry.add(m); () }
  private def memos: Seq[KeyedMemo[_, _]] = registry.asScala.toSeq

  /** Drop, from every memo, each entry keyed by `df` (the key itself
    * or one component of a tuple key), and unpersist the checkpoint
    * blocks of each dropped frame now: the release point for an owner
    * about to unpersist `df` itself (an engine's `close()`), so the
    * derived frames do not stay resident until the LRU or the
    * collector reaches them. A plan composed over a released frame can
    * no longer run. */
  private[graft] def release(df: DataFrame): Unit = memos.foreach { m =>
    m.frames.keys.filter {
      case p: Product => p.productIterator.contains(df)
      case k => k == df
    }.foreach(m.evict)
  }

  /** Unpersist the blocks of a frame that IS a checkpoint (its plan is
    * the LogicalRDD leaf); a frame composed over another frame's
    * checkpoint is left alone, since those blocks are not its own. */
  private[functions] def unpersistCheckpoint(df: DataFrame): Unit =
    try if (!df.sparkSession.sparkContext.isStopped)
      df.queryExecution.analyzed match {
        case lr: LogicalRDD => lr.rdd.unpersist(false); ()
        case _ => ()
      }
    catch { case _: Exception => () }

  /** Eagerly release a SUPERSEDED round frame's checkpoint blocks (the
    * first checkpoint leaf of its plan): a checkpointed frame's
    * storage lives behind its LogicalRDD leaf, invisible to the
    * CacheManager, and otherwise lingers until the ContextCleaner
    * happens to GC the reference — across a 190-query bench session
    * that lingering storage is the observed multi-second GC-spike
    * source. ONLY call on frames whose every consumer has already
    * been eagerly materialized (the next round's checkpoint): the
    * blocks are the frame's only substance, so a late consumer would
    * have nothing to recompute from. Never on a memo's frame: the
    * memo's LRU, or [[release]], releases those. */
  private[graft] def releaseRound(df: DataFrame): Unit =
    try if (!df.sparkSession.sparkContext.isStopped)
      df.queryExecution.analyzed.collectFirst {
        case lr: LogicalRDD => lr.rdd.unpersist(false)
      }
    catch { case _: Exception => () }

  /** The fixed-round loop: `rounds` applications of `step` from
    * `init`, each round checkpointed, so round t never re-derives
    * t−1, and the round it superseded released as soon as it is
    * materialized. `init` is never released: it may be memo-owned
    * (`nodesOf`) or still read by every round (seeds). `inputs` are
    * the loop's private checkpoints (an edge frame the rounds probe,
    * a seed frame), released once the rounds are done, except those
    * the result still reads: when no round ran, the result is `init`,
    * which may be built on one of them. Every frame released here is
    * itself a checkpoint, so only its own blocks go. The result is
    * the last round's checkpoint. */
  private[graft] def iterate(init: DataFrame, rounds: Int,
      inputs: DataFrame*)(step: DataFrame => DataFrame): DataFrame = {
    val out = (1 to rounds).foldLeft(init) { (prev, _) =>
      val next = step(prev).localCheckpoint(true)
      if (prev ne init) unpersistCheckpoint(prev)
      next
    }
    val read = rddIds(out)
    inputs.filterNot(in => rddIds(in).subsetOf(read))
      .foreach(unpersistCheckpoint)
    out
  }

  /** Ids of the checkpointed RDDs `df`'s plan reads. */
  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  /** Default max(6 GiB, heap/4): the floor is ~1/4 of the 24 GiB
    * organic-board heap — big enough that the sf0.1 gate board
    * (Σ shared artifacts ≈ 1 GiB) never evicts, small enough that
    * an sf1 board's tail can't hold every earlier query's
    * checkpoints resident — and the heap/4 term scales the budget
    * with the memory the operator was actually given (guide-§5
    * posture: storage residency should be a fraction of the
    * execution heap, not a constant tuned for one host). The fixed
    * 6 GiB starved the r15 sf10 board: its 64 GiB generation JVMs
    * still evicted the simhash pair frame between dedup_simhash and
    * its histogram twin (124 s rebuild) and the shared rerank frame
    * between sim_topk and embed_knn_purity (134 s rebuild). Override
    * via GRAFT_MEMO_BUDGET_MB (env) or -Dgraft.memo.budget.mb. */
  private[graft] def budgetBytes: Long =
    knob("graft.memo.budget.mb", "GRAFT_MEMO_BUDGET_MB")
      .map(_ << 20)
      .getOrElse(math.max(6L << 30, Runtime.getRuntime.maxMemory / 4))

  /** Persisted bytes (memory + disk) of the frame's checkpointed
    * RDD leaves, from the driver's own storage listing — no job
    * runs. 0 for frames with no LogicalRDD leaf or whose session
    * has stopped. */
  private[graft] def frameBytes(df: DataFrame): Long = try {
    if (df.sparkSession.sparkContext.isStopped) 0L
    else {
      val ids = rddIds(df)
      if (ids.isEmpty) 0L
      else df.sparkSession.sparkContext.getRDDStorageInfo
        .filter(i => ids.contains(i.id)).map(i => i.memSize + i.diskSize)
        .sum
    }
  } catch { case _: Exception => 0L }

  private[graft] def residentBytes: Long =
    memos.map(_.sizes.values.foldLeft(0L)(_ + _)).sum

  /** Entries below this size are invisible to the byte sweep:
    * dropping a sub-MiB frame toward a GiB-scale overage frees
    * nothing, yet the old pure-age sweep evicted exactly those
    * first — small-but-expensive-to-REBUILD frames built early in a
    * board (the r15 sf10 boards rebuilt the ~100 KB shared rerank
    * frame at a 134 s rebuild cost, and the ~MB simhash pair frame
    * at 124 s, while multi-GiB shingle checkpoints kept the ledger
    * over budget). Worst-case unswept residency is bounded by the
    * per-memo 64-entry count cap: 64 entries × <1 MiB ≈ 64 MiB per
    * memo — noise against the ≥6 GiB budget. */
  private val SweepFloorBytes: Long = 1L << 20

  /** Drop globally-oldest entries ≥ [[SweepFloorBytes]] until the
    * ledger fits the budget (the just-built entry is exempt — a
    * single artifact larger than the budget must still serve its
    * consumers). Best-effort under concurrency: a racing rebuild
    * costs wasted work, never correctness (reachability owns
    * lifetime). */
  private[functions] def sweepOverBudget(owner: KeyedMemo[_, _], key: Any): Unit = {
    var total = residentBytes
    if (total <= budgetBytes) return
    val byAge = memos.flatMap { m =>
      m.stamps.toSeq.map { case (k, t) =>
        (t, m, k.asInstanceOf[Any])
      }
    }.sortBy(_._1)
    var dropped = false
    byAge.iterator.takeWhile(_ => total > budgetBytes).foreach {
      case (_, m, k) =>
        val b = m.sizes.asInstanceOf[
          scala.collection.concurrent.TrieMap[Any, Long]].getOrElse(k, 0L)
        if (b >= SweepFloorBytes && !(m.eq(owner) && k == key)) {
          m.drop(k)
          total -= b
          dropped = true
        }
    }
    if (dropped) gcNudgeAsync()
  }

  /** Rate-limited (≥60 s apart), asynchronous collector nudge so
    * the ContextCleaner reaps dropped frames' blocks promptly
    * rather than at the next organic full GC — which a large-heap
    * board may not reach for minutes. Never synchronous in the
    * build path (a forced full GC is a multi-second stop-the-world
    * on 24-64 GiB heaps — r11 paid it once per eviction sweep), and
    * under -XX:+DisableExplicitGC the backstop is the session's
    * `spark.cleaner.periodicGC.interval` (GraftSession/Bench/Verify
    * set 2min). Consumers still pinning a frame keep it reachable,
    * so this is promptness, never a correctness bet. */
  private val lastGcNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private[functions] def gcNudgeAsync(): Unit = {
    val now = System.nanoTime()
    val prev = lastGcNanos.get()
    if (now - prev > 60L * 1000L * 1000L * 1000L
        && lastGcNanos.compareAndSet(prev, now)) {
      val t = new Thread(() => System.gc(), "graft-memo-gc-nudge")
      t.setDaemon(true)
      t.start()
    }
  }
}

/** The common case: a memo keyed by one input frame's identity. */
private[graft] final class FrameMemo extends KeyedFrameMemo[DataFrame]
