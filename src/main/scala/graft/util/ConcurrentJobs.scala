package graft.util

import org.apache.spark.SparkContext

import java.util.concurrent.{Callable, CancellationException, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Driver-side tasks that each submit Spark jobs, run side by side so
  * their jobs overlap on the executors (one table's single-task CSV write
  * next to another table's parquet stages).
  *
  * Failure contract: the first task to fail cancels its siblings' jobs
  * (all of them run under one job group) and stops queued tasks from
  * starting; every task is then waited for — each wait ends with that
  * task's own completion or failure — the pool is shut down, and the first
  * error is rethrown with the others suppressed. Nothing is left running
  * and no thread outlives the call.
  */
object ConcurrentJobs {

  /** Run `tasks` on a pool of `min(tasks, defaultParallelism)` daemon
    * threads named `<name>-<i>`; results come back in task order.
    */
  def runAll[T](sc: SparkContext, name: String, tasks: Seq[() => T]): Seq[T] = {
    if (tasks.isEmpty) return Nil
    val group = s"$name-${java.util.UUID.randomUUID().toString.take(8)}"
    val threadNo = new AtomicInteger
    val pool = Executors.newFixedThreadPool(math.min(tasks.size, sc.defaultParallelism),
      (r: Runnable) => {
        val t = new Thread(r, s"$name-${threadNo.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    val failed = new AtomicBoolean
    val done = new ExecutorCompletionService[T](pool)
    var drained = false
    try {
      val futures = tasks.map(task => done.submit(new Callable[T] {
        def call(): T = {
          if (failed.get) throw new CancellationException(s"$group: a sibling task failed")
          sc.setJobGroup(group, name, interruptOnCancel = false)
          task()
        }
      }))
      var error: Throwable = null
      tasks.foreach { _ =>
        val f = done.take()
        try f.get()
        catch {
          case e: ExecutionException =>
            val cause = Option(e.getCause).getOrElse(e)
            if (error == null) {
              error = cause
              failed.set(true)
              sc.cancelJobGroup(group)
            } else if (!cause.isInstanceOf[CancellationException]) error.addSuppressed(cause)
        }
      }
      drained = true
      if (error != null) throw error
      futures.map(_.get())
    } finally {
      // the wait above ends early only when this thread is interrupted:
      // then the tasks still running are cancelled here
      if (!drained) {
        failed.set(true)
        sc.cancelJobGroup(group)
      }
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
