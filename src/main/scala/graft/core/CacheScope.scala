package graft.core

import org.apache.spark.sql.DataFrame

/** Per-batch cache lifetime: every frame cached through a scope is
  * unpersisted when the scope closes, on success or failure alike. A
  * long-lived maintainer otherwise leaks one storage entry per cached
  * frame per batch whose write throws before its hand-placed unpersist.
  *
  * Unpersists are non-blocking: the frames' last consumers (the state
  * writes) have finished by the time the scope closes.
  *
  * Frames that concurrent jobs build must not be cached over one
  * another: when an adaptive cache fails to build, Spark re-caches every
  * entry built over it while holding the failed entry's lock, which
  * deadlocks against a job that is building the outer entry.
  */
final class CacheScope {
  private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Cache `df` until the scope closes. */
  def cached(df: DataFrame): DataFrame = synchronized {
    val c = df.cache()
    held += c
    c
  }

  /** Unpersist every frame cached so far. */
  def release(): Unit = synchronized {
    held.foreach(_.unpersist(blocking = false))
    held.clear()
  }
}

object CacheScope {

  /** Run `body` with a fresh scope, released in a `finally`. */
  def apply[T](body: CacheScope => T): T = {
    val scope = new CacheScope
    try body(scope) finally scope.release()
  }
}
