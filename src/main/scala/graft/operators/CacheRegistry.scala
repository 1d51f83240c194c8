package graft.operators

import org.apache.spark.sql.DataFrame

/** Lifecycle tracker for DataFrames an operator persists but whose
  * consuming action runs in the CALLER (e.g. the shingle/signature
  * intermediates in [[Dedup]] — they must stay cached until the
  * caller's write/collect, so the operator itself can never safely
  * unpersist them). Spark's CacheManager pins such blocks for the
  * session's lifetime otherwise, and a long session running the
  * near-dup family repeatedly (Bench, the test suite) would steadily
  * leak storage memory.
  *
  * Registries are INSTANCES so each caller can scope its own
  * lifecycle: pass a fresh `new CacheRegistry` into an operator run
  * and release it when that run's results are materialized, without
  * touching any other in-flight query's intermediates.
  * [[CacheRegistry.global]] is the default for single-driver use
  * (Bench/Verify drive queries sequentially and release after each);
  * its contract is single-owner — concurrent query drivers sharing
  * `global` would release each other's live caches, so they must pass
  * their own instances instead. Anything tracked but never released
  * stays pinned until the session ends (exactly Spark's own behavior
  * for an unmanaged persist).
  */
final class CacheRegistry {
  private val live = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private val dirs = scala.collection.mutable.ArrayBuffer[String]()

  def track(df: DataFrame): DataFrame = synchronized { live += df; df }

  /** A local temp directory a query's result still scans (e.g. the
    * temp tables of the snapshot queries): deleted at [[releaseAll]],
    * once the caller has materialized the result. */
  def trackDir(dir: String): String = synchronized { dirs += dir; dir }

  /** Unpersist (non-blocking) everything tracked since the last call,
    * and delete the tracked directories. */
  def releaseAll(): Unit = synchronized {
    live.foreach(df => try df.unpersist(false) catch { case _: Throwable => () })
    live.clear()
    dirs.foreach { d =>
      try graft.sources.LocalStore.delete(
        new org.apache.hadoop.fs.Path(d), recursive = true)
      catch { case _: java.io.IOException => () }
    }
    dirs.clear()
  }
}

object CacheRegistry {
  /** Default registry for sequential single-owner drivers. */
  val global: CacheRegistry = new CacheRegistry

  def track(df: DataFrame): DataFrame = global.track(df)
  def trackDir(dir: String): String = global.trackDir(dir)
  def releaseAll(): Unit = global.releaseAll()
}
