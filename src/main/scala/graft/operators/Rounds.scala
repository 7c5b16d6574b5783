package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}

/** The round policy of every iterative operator — label propagation,
  * star contraction, peeling, coloring, doubling, BFS, k-means, EM —
  * owned in one place instead of re-written per loop:
  *
  *  - Truncation. A round's frame is `localCheckpoint`ed, so the next
  *    round plans from a LogicalRDD leaf instead of the whole loop's
  *    lineage (a round that reads its input k times would otherwise
  *    grow the logical plan k× per round, and Catalyst re-analysis —
  *    not data — becomes the cost). Eager truncation materializes the
  *    round in its own job; lazy truncation on the round's first
  *    action. The choice is per loop and measured: kCore and coreness
  *    lose with lazy (the fused count-plus-pipeline job plans its joins
  *    without materialized-size stats), kTrussPeel, betweenness and
  *    label propagation win with it.
  *  - Release. Round r−1 is freed only after an action has read EVERY
  *    partition of round r — an eager truncation, a full count or
  *    aggregate. `isEmpty`/`head` do not qualify: they read part of a
  *    lazy round, whose missing blocks still recompute from r−1. A
  *    frame the returned plan still reads is never freed.
  *  - Bound. A fixpoint loop still changing after `maxIters` rounds
  *    fails, naming the loop.
  *  - Ledger. Every loop records its EFFECTIVE rounds: rounds that
  *    changed the data, not the final no-change verification round —
  *    the count an unrolled oracle replay must dominate
  *    (UnrollMarginSpec pins q132/q137/q177 against their unrolls).
  *
  * Freed frames give back their blocks deterministically — the
  * ContextCleaner would reclaim them only after a GC — so the
  * operators' "nothing leaks per call" contract is testable. On a
  * cluster a lost executor fails the in-flight job (re-run): the
  * standard localCheckpoint trade (use a reliable checkpoint directory
  * instead when executors are preemptible).
  */
object Rounds {

  private val ledger =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Effective rounds of the most recent run of `loop`. */
  def last(loop: String): Option[Int] = Option(ledger.get(loop)).map(_.intValue)

  /** Truncates `df`'s lineage at a checkpoint. */
  def truncate(df: DataFrame, eager: Boolean): DataFrame =
    df.localCheckpoint(eager)

  /** Frees frames nothing reads again: a checkpointed frame drops its
    * blocks, a persisted one its cache entry (no-op otherwise). */
  def release(dead: DataFrame*): Unit = dead.foreach { df =>
    GraftBridge.checkpointRdd(df) match {
      case Some(rdd) => rdd.unpersist(blocking = false)
      case None => df.unpersist()
    }
  }

  /** An operator's result under the Graph cache contract: as is, or —
    * with `release` — truncated eagerly (which reads every partition)
    * and self-contained, its `cached` inputs freed.
    */
  def finish(out: DataFrame, release: Boolean, cached: DataFrame*): DataFrame =
    if (!release) out
    else {
      val pinned = truncate(out, eager = true)
      this.release(cached: _*)
      pinned
    }

  /** Runs `round(1)`, `round(2)`, … until one reports that it changed
    * nothing (returns true) or `maxIters` rounds have run. Records the
    * rounds that changed something; returns whether the loop
    * converged.
    */
  def loop(name: String, maxIters: Int)(round: Int => Boolean): Boolean = {
    var r = 0
    var converged = false
    while (!converged && r < maxIters) {
      r += 1
      converged = round(r)
    }
    ledger.put(name, if (converged) r - 1 else r)
    converged
  }

  /** Iterates `step` from `init` to its fixpoint and returns the final
    * round. Each round is truncated; `converged(prev, next)` is the
    * round's convergence action and must read every partition of
    * `next` (a count or a full aggregate), after which `prev` — `init`
    * included — is released.
    */
  def fixpoint(name: String, init: DataFrame, eager: Boolean,
      maxIters: Int = Int.MaxValue)(step: DataFrame => DataFrame)(
      converged: (DataFrame, DataFrame) => Boolean): DataFrame = {
    var cur = init
    val done = loop(name, maxIters) { _ =>
      val next = truncate(step(cur), eager)
      val stop = converged(cur, next)
      release(cur)
      cur = next
      stop
    }
    require(done, s"$name did not converge in $maxIters rounds")
    cur
  }

  /** Exactly `rounds` rounds of `step(prev, round)` from `init` — the
    * fixed-count loops (k-means updates, rank doubling). Rounds are
    * truncated eagerly, which reads every partition, so each
    * predecessor is released as soon as its successor exists.
    */
  def iterate(name: String, init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var cur = init
    loop(name, rounds) { r =>
      val next = truncate(step(cur, r), eager = true)
      release(cur)
      cur = next
      false
    }
    cur
  }

  /** BFS frontier loop: round d builds `step(frames)` from the frames
    * so far (`init` first) and the loop stops at the first empty one.
    * Rounds are truncated lazily — the `isEmpty` probe materializes
    * what it needs and later reads fill the rest, one job per round
    * instead of checkpoint + probe — and a probe reads only part of a
    * lazy round, so nothing is released: every non-empty frame is
    * returned, in order.
    */
  def frontier(name: String, init: DataFrame)(
      step: Seq[DataFrame] => DataFrame): Seq[DataFrame] = {
    val frames = scala.collection.mutable.ArrayBuffer(init)
    loop(name, Int.MaxValue) { _ =>
      val next = truncate(step(frames.toSeq), eager = false)
      val empty = next.isEmpty
      if (!empty) frames += next
      empty
    }
    frames.toSeq
  }
}
