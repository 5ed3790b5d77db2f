package graft.functions

import java.util.concurrent.atomic.AtomicLong

/** Global counters for the shared-frame memo layer: every
  * [[KeyedFrameMemo]] build and hit.
  *
  * Purpose: bench ATTRIBUTION. Board totals under shared memos are
  * honest, but a per-query median is positional — the first consumer
  * of a shared artifact pays its materialization, later consumers
  * ride. Every memo build/hit bumps these counters, and graft.Bench
  * reads the delta around each query's first timed run, so a
  * round-over-round per-query delta can be read as "payer swapped"
  * vs "plan regressed" without knowing board order. */
object MemoStats {
  private val builtCtr = new AtomicLong()
  private val hitCtr = new AtomicLong()
  def recordBuild(): Unit = { builtCtr.incrementAndGet(); () }
  def recordHit(): Unit = { hitCtr.incrementAndGet(); () }
  /** (memos built so far, memo hits so far). */
  def snapshot: (Long, Long) = (builtCtr.get(), hitCtr.get())
}
