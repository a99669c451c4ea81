package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** `CacheOnce(df)` caches `df` unless the session's CacheManager
  * already holds data for a plan semantically equal to `df`'s, and
  * returns `df` either way: a query over it reads that one cached copy.
  *
  * Why: operators that cache an internal frame (MinHash signatures,
  * pinned-layout ids) and gate fixtures that materialize shared models
  * re-derive the SAME plan across invocations. Spark keeps one entry
  * per plan already, but a repeat `.cache()` logs a CacheManager
  * "Asked to cache already cached data" warning each time; the lookup
  * keeps that out of the logs. An entry a caller has `unpersist()`ed is
  * gone from the CacheManager, so the next call caches again.
  */
object CacheOnce {

  // synchronized: the lookup-then-cache pair is atomic across callers.
  // It covers a lookup and the (lazy) .cache() call, never an
  // evaluation, so contention is negligible.
  def apply(df: DataFrame): DataFrame = synchronized {
    if (!Bridge.isCached(df)) df.cache()
    df
  }
}
