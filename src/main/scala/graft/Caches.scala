package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry for shared checkpointed intermediates (minhash
  * signatures, shingle sets, the flat gram index, IVF cell maps).
  *
  * Why not bare `df.persist()` inside each operator: the operator
  * functions return LAZY plans — the caller materializes them — so an
  * operator can never unpersist its own intermediates, and independent
  * callers that rebuild the same plan re-persist it (CacheManager
  * "already cached" churn). Over a 100-query session those orphaned
  * caches accumulate into storage-pool bloat and GC pressure; at
  * cluster scale they squeeze the executor storage pool.
  *
  * Instead every shared intermediate registers here under a stable
  * (session, key) pair: the FIRST caller builds and checkpoints it,
  * later callers in the same session reuse the same block set (exactly the
  * "one checkpointed sketch table feeding many consumers" shape a
  * 100 TB pipeline runs), and the session driver ([[Bench]]/[[Verify]],
  * or any long-lived service) calls [[clearAll]] between queries so no
  * query inherits another's storage.
  */
object Caches {

  // Keyed by the CacheManager OBJECT (default reference equality /
  // identity hashCode), not its identity hash alone — hashes collide,
  // and a collision would hand a caller a DataFrame bound to another
  // (possibly stopped) session.
  private val reg = TrieMap.empty[(AnyRef, String), DataFrame]

  // Per-key monitor objects for sharedCheckpoint's eager builds
  // (TrieMap.getOrElseUpdate is atomic, so one monitor per key).
  private val buildLocks = TrieMap.empty[(AnyRef, String), AnyRef]

  /** Get-or-build the DataFrame for `key` in this session's cache
    * scope. Keyed by the shared CacheManager, not the session object:
    * `newSession()` forks share one CacheManager, and keying per fork
    * would rebuild what the shared scope already holds. `build` runs
    * at most once per (cache scope, key) until [[clearAll]].
    *
    * The build is materialized via an EAGER `localCheckpoint`, not
    * `persist`: the registered DataFrame scans a lineage-TRUNCATED
    * block set, so every consumer's task binary serializes a one-node
    * LogicalRDD instead of the build's full plan tree. Measured motivation (r17 optimization round): a
    * consumer stage over a PERSISTED customer-sized cache shipped
    * ~1 MB task binaries (the InMemoryRelation keeps the whole
    * recompute plan in the RDD closure) and spent more wall time in
    * task deserialization than in compute; the checkpointed form
    * ships kilobytes. Use for caches with many downstream consumers
    * whose build plans are deep; the trade is the iterative-loop one
    * documented in [[Checkpoints]] — blocks are unrecoverable if an
    * executor dies, and the handle must not be re-collected after
    * [[clearAll]] (go back through the operator, which rebuilds). */
  def sharedCheckpoint(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    reg.filterInPlace { case (_, df) => !df.sparkSession.sparkContext.isStopped }
    val k = (spark.sharedState.cacheManager: AnyRef, key)
    reg.get(k) match {
      case Some(df) => df
      case None =>
        // Per-key build lock (r17 ADVICE): the build here is EAGER
        // (localCheckpoint materializes immediately), so a putIfAbsent
        // race would have BOTH first callers run the full corpus-scale
        // build job before one loses. Serialize builders per key so
        // exactly one materializes; losers re-read the registry.
        val lock = buildLocks.getOrElseUpdate(k, new Object)
        lock.synchronized {
          reg.get(k) match {
            case Some(df) => df
            case None =>
              val df = Checkpoints.releaseOnClear(build.localCheckpoint())
              reg.put(k, df)
              df
          }
        }
    }
  }

  /** Unpersist every registered intermediate and forget it, and drain
    * the deferred checkpoint-release queue ([[Checkpoints]]) — local
    * checkpoint blocks never enter the CacheManager, so without this
    * they'd survive every cache-clearing path and rot the session.
    * Safe to call with stopped sessions in the registry. */
  def clearAll(): Unit = {
    reg.values.foreach { df =>
      try df.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    reg.clear()
    buildLocks.clear()
    Checkpoints.releasePending()
  }
}
