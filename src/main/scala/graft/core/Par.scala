package graft.core

/** Concurrent Spark-action submission (guide §2.6 "overlap independent
  * jobs"): the versioned-state maintainers issue several small,
  * INDEPENDENT write jobs per micro-batch, and submitting them serially
  * from the driver leaves the session idle through each job's tail —
  * the replay gates' profiles are long chains of 1-4-task stages. Spark's
  * scheduler runs concurrent jobs fine; actions are only sequential
  * because driver code calls them sequentially.
  *
  * A fresh bounded pool per call: the thunk count is tiny (2-4), pool
  * setup is microseconds next to a Spark job, and tearing it down keeps
  * no idle threads alive between batches. Failures propagate: the first
  * failing thunk's exception (in argument order) rethrows only after
  * every thunk has finished, so no sibling write is still running when
  * the caller recovers.
  */
object Par {

  def run[T](thunks: (() => T)*): Seq[T] =
    if (thunks.size <= 1) thunks.map(_()).toSeq
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val futures = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[T] {
            override def call(): T = t()
          })
        }
        val outcomes = futures.map { f =>
          try Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Left(Option(e.getCause).getOrElse(e))
          }
        }
        outcomes.map(_.fold(e => throw e, identity)).toSeq
      } finally { pool.shutdown(); () }
    }
}
