package graft.core

/** Runs independent Spark actions as concurrent jobs.
  *
  * Each action gets its own thread, created on every call from the calling
  * thread. Spark keeps a thread's local properties (job group, job
  * description, scheduler pool, any caller-set key) and its active session
  * in inheritable thread locals, so every job an action submits carries
  * exactly what the caller set: `cancelJobGroup` reaches it, and listeners
  * attribute it to the caller's work. A pool of long-lived threads would
  * keep whatever the caller had set when the pool was built.
  *
  * The scheduler decides how the concurrent jobs share the cores; the
  * number of actions is the number of threads, so callers pass a handful of
  * sinks, not one action per row.
  */
object Jobs {

  /** Runs every action, waits until all have finished, then rethrows the
    * first failure in declaration order (later failures are suppressed
    * into it). If the caller is interrupted while waiting, the actions'
    * threads are interrupted too before the interrupt propagates. */
  def concurrently(actions: (() => Unit)*): Unit = {
    val failures = new Array[Throwable](actions.size)
    val threads = actions.zipWithIndex.map { case (action, i) =>
      val t = new Thread(() =>
        try action()
        catch { case e: Throwable => failures(i) = e },
        s"graft-jobs-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch {
      case e: InterruptedException =>
        threads.foreach(_.interrupt())
        throw e
    }
    val thrown = failures.filter(_ != null)
    if (thrown.nonEmpty) {
      thrown.tail.filter(_ ne thrown.head).foreach(thrown.head.addSuppressed)
      throw thrown.head
    }
  }
}
