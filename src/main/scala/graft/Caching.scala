package graft

import org.apache.spark.sql.DataFrame

/** Session-wide registry of persisted DataFrames.
  *
  * Operators that persist reuse points (LSH signatures, pruned shingle
  * sets, distinct-vector tables) register them here instead of calling
  * `.persist()` bare; harness code (Verify / Bench / specs) calls
  * [[release]] after consuming each query so cached blocks never leak
  * across a long-lived session. DataFrames are lazy — the operator cannot
  * unpersist before its result is consumed, so the unpersist point has to
  * live with whoever materializes the result; this registry is that
  * hand-off.
  */
object Caching {
  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` and track it for the next [[release]]. */
  def cache(df: DataFrame): DataFrame = {
    val c = df.persist()
    registry.add(c)
    c
  }

  /** Whether no DataFrame is tracked — nothing awaits [[release]]. */
  private[graft] def isEmpty: Boolean = registry.isEmpty

  /** Unpersist ONE tracked DataFrame eagerly — for iterative operators
    * (label propagation) that must drop round N's cache before round
    * N+1, long before the harness-level [[release()]] runs. */
  def release(df: DataFrame): Unit = {
    registry.remove(df)
    df.unpersist()
  }

  /** Unpersist every tracked DataFrame (blocking=false: async drop),
    * and purge gate-created temp directories ([[TempDirs]]) — the two
    * registries share the release point because they share the reason:
    * a gate's resources outlive the gate function, and only the
    * harness knows when the result has been consumed. */
  def release(): Unit = {
    var df = registry.poll()
    while (df != null) {
      df.unpersist()
      df = registry.poll()
    }
    TempDirs.purge()
  }
}
