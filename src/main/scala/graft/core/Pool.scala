package graft.core

import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}

/** The engine's one driver-side worker pool (optimization guide §2.6:
  * actions are only sequential because the driver calls them
  * sequentially; overlapping small writes overlaps their planning and
  * job-scheduling latency). Every tick-path fan-out — same-priority
  * datasource snapshots, a snapshot commit's sink writes, the fleet
  * commit's per-server markers — runs through [[drainAll]], so they
  * share one failure rule. */
object Pool {

  /** Run every unit of `work` on at most `threads` threads and return
    * the results IN INPUT ORDER; zero or one unit runs inline on the
    * calling thread.
    *
    * Every unit joins before this returns or rethrows, so a failure
    * never leaves a sibling writing behind the caller's back: the
    * reachable on-disk states are those of a sequential loop
    * interrupted mid-way. The first failure in input order is then
    * rethrown unwrapped (the throwable a sequential loop would have
    * surfaced). A non-`Exception` throwable (an `Error` — OOM, a
    * linkage failure) is fatal: unstarted units are cancelled
    * (`shutdownNow`, which also interrupts the running ones), units
    * already running are still waited for, and that throwable is
    * rethrown. */
  def drainAll[T](threads: Int, work: Seq[() => T]): Seq[T] = {
    if (work.sizeIs <= 1) return work.map(_())
    val pool = Executors.newFixedThreadPool(math.min(threads, work.size))
    val done = new ExecutorCompletionService[T](pool)
    var fatal: Throwable = null
    val futures =
      try {
        val fs = work.map(w => done.submit(() => w()))
        var joined = 0
        while (joined < fs.size && fatal == null) {
          try done.take().get()
          catch { case e: ExecutionException => e.getCause match {
            case _: Exception => () // rethrown in input order below
            case t => fatal = t
          } }
          joined += 1
        }
        fs
      } catch { case t: Throwable => fatal = t; Nil }
      finally {
        if (fatal != null) pool.shutdownNow() else pool.shutdown()
        while (!pool.awaitTermination(1, TimeUnit.MINUTES)) ()
      }
    if (fatal != null) throw fatal
    futures.map { f =>
      try f.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }
}
