package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * Persist-lifecycle scope for operator-internal caches.
 *
 * Several lazy operators (`nearDupPairs`, `simhashPairs`, `boilerplate`,
 * `embedNearDup`, `semanticDedup`, `quantizeEmbeddings`, the LM tables)
 * persist an intermediate frame that their returned plan consumes more
 * than once — without the barrier the expensive stage (shingling, LSH
 * folds, corpus aggregation) would run once per consumer. Because the
 * returned plan is LAZY, the operator itself can never know when the
 * caller's action has completed, so by default those caches live until
 * `spark.catalog.clearCache()` — fine for a batch job, an accumulating
 * leak for a long-lived session composing many operators.
 *
 * [[scoped]] is the explicit release hook: every frame an operator
 * persists or locally checkpoints inside the block is released
 * (non-blocking) when the block exits, success or failure. Run the
 * ACTION inside the scope so the caches are live while the plan
 * executes and released right after — a released checkpoint, unlike an
 * unpersisted cache, cannot be recomputed:
 *
 * {{{
 * val pairs = Caches.scoped {
 *   TextOps.nearDupPairs(docs, threshold = 0.8).collect()
 * }
 * // no operator cache outlives the block
 * }}}
 *
 * Scopes nest (each block releases only its own registrations) and are
 * thread-confined: plan construction happens on the calling thread, so a
 * thread-local suffices and concurrent sessions cannot release each
 * other's caches.
 */
object Caches {

  private val active = new ThreadLocal[ArrayBuffer[() => Unit]]

  /** Register `release` with the innermost active [[scoped]] block (no-op
    * when no scope is active — the pre-existing plan-lifetime behavior). */
  private def register(release: () => Unit): Unit = {
    val scope = active.get()
    if (scope != null) scope += release
  }

  /** Persist `df`, registering it with the innermost active [[scoped]]
    * block. Operators call this instead of `df.persist`. */
  private[graft] def persist(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val p = df.persist(level)
    register(() => p.unpersist(false))
    p
  }

  /** Eagerly checkpoint `df` into executor blocks, registering the
    * blocks with the innermost active [[scoped]] block. Operators call
    * this instead of `df.localCheckpoint`. */
  private[graft] def localCheckpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    register(() => release(c))
    c
  }

  /** Free a [[localCheckpoint]]'s blocks now. A local checkpoint keeps
    * no file copy — its blocks ARE the checkpoint — and
    * `Dataset.unpersist` does not reach them, so the RDD itself is
    * unpersisted. Only for a frame nothing reads again. */
  private[graft] def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

  /** Run `f`; release every frame graft operators persisted or
    * checkpointed during it. */
  def scoped[T](f: => T): T = {
    val outer = active.get()
    val mine = ArrayBuffer.empty[() => Unit]
    active.set(mine)
    try f
    finally {
      if (outer != null) active.set(outer) else active.remove()
      mine.foreach(_())
    }
  }
}
