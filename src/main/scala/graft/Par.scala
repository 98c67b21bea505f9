package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, ExecutorService, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext

/** JVM-wide daemon executor for driver-side job overlap (guide §2.6).
  *
  * One shared cached pool replaces the fresh `newFixedThreadPool` the
  * overlap sites used to build per micro-batch / per query: threads are
  * reused across calls, and daemon threads can never pin the JVM if a
  * task wedges past its caller's `shutdown()`. The pool is unbounded
  * (cached) on purpose — overlap sites nest (a cross-store prepare runs
  * a store commit which fans out metadata ops), and a bounded pool
  * would deadlock when every thread blocks joining tasks that cannot
  * start. Callers bound their own fan-out ([[mapBounded]]).
  *
  * Spark's per-job thread locals (job group, description, scheduler
  * pool) ride an InheritableThreadLocal, which copies at THREAD
  * CREATION — meaningless under a shared pool — so every submitted
  * task carries a CLONE of the submitting thread's local properties
  * and restores the worker's own afterwards: a streaming micro-batch's
  * sinks keep their query's job group (UI attribution and
  * cancellation), matching what the per-call pools inherited. The
  * property accessors are `private[spark]` at the Scala level only —
  * qualified-private compiles to public bytecode, so plain reflection
  * reaches them without `setAccessible`.
  */
private[graft] object Par {

  private val tid = new AtomicInteger(0)
  private val pool: ExecutorService =
    Executors.newCachedThreadPool(new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-par-${tid.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  private lazy val getProps =
    classOf[SparkContext].getMethod("getLocalProperties")
  private lazy val setProps =
    classOf[SparkContext].getMethod("setLocalProperties",
      classOf[java.util.Properties])

  /** The active (else default) session's SparkContext, if any. */
  private def context: Option[SparkContext] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext)

  /** Wrap `body` to run under a clone of the SUBMITTING thread's Spark
    * local properties (cloned per task, as InheritableThreadLocal's
    * childValue does, so a task mutating its own properties cannot leak
    * into a sibling), restoring the worker thread's own after.
    */
  private def carryingProps[T](body: () => T): () => T =
    context match {
      case None => body
      case Some(sc) =>
        val callerProps = getProps.invoke(sc)
          .asInstanceOf[java.util.Properties]
          .clone().asInstanceOf[java.util.Properties]
        () => {
          val prev = getProps.invoke(sc).asInstanceOf[java.util.Properties]
          setProps.invoke(sc, callerProps)
          try body()
          finally setProps.invoke(sc, prev)
        }
    }

  /** Start `body` NOW on the shared pool; the returned thunk joins and
    * yields its result, rethrowing the original failure unwrapped.
    */
  def detach[T](body: => T): () => T = {
    val run = carryingProps(() => body)
    val fut = pool.submit(new Callable[T] { def call(): T = run() })
    () =>
      try fut.get()
      catch { case e: ExecutionException => throw e.getCause }
  }

  /** Run the thunks concurrently and let ALL of them settle; each
    * outcome as an Either, in input order. Never throws.
    */
  def settle[T](fs: Seq[() => T]): Seq[Either[Throwable, T]] =
    if (fs.sizeIs <= 1)
      fs.map(f => try Right(f()) catch { case t: Throwable => Left(t) })
    else {
      val futs = fs.map { f =>
        val run = carryingProps(f)
        pool.submit(new Callable[T] { def call(): T = run() })
      }
      futs.map { fu =>
        try Right(fu.get())
        catch {
          case e: ExecutionException => Left(e.getCause)
          case t: Throwable => Left(t)
        }
      }
    }

  /** Run the thunks concurrently; all settle, then the failure that
    * came FIRST is rethrown with the others suppressed — a caller must
    * not see a half-applied overlap succeed silently. Results in input
    * order.
    *
    * The thunks' Spark jobs carry one job tag per call, and the first
    * failure cancels that tag (interrupting the tasks), again until
    * every sibling has settled, so a sibling that starts a job after
    * the first cancel is cancelled too: a failed sink no longer leaves
    * its siblings' writes running into the caller's retry. A tag rather
    * than a job group, because the caller's group stays on every job —
    * a streaming query cancels its batch's jobs by group when stopped.
    */
  def settleAll[T](fs: Seq[() => T]): Seq[T] =
    if (fs.sizeIs <= 1) fs.map(_())
    else {
      val sc = context
      val tag = s"graft-par-${java.util.UUID.randomUUID}"
      val lock = new Object
      var pending = fs.size
      var first: Throwable = null
      val futs = fs.map { f =>
        val run = carryingProps { () =>
          try {
            sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
            f()
          } catch {
            case t: Throwable =>
              lock.synchronized { if (first == null) first = t }
              throw t
          } finally lock.synchronized { pending -= 1; lock.notifyAll() }
        }
        pool.submit(new Callable[T] { def call(): T = run() })
      }
      lock.synchronized {
        while (pending > 0 && first == null) lock.wait()
        while (pending > 0) {
          sc.foreach(_.cancelJobsWithTag(tag, "a sibling in Par.settleAll failed"))
          lock.wait(50)
        }
      }
      val rs = futs.map { fu =>
        try Right(fu.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      if (first != null) {
        rs.collect { case Left(o) if o ne first => o }.foreach(first.addSuppressed)
        throw first
      }
      rs.collect { case Right(v) => v }
    }

  /** Map `items` with at most `maxThreads` concurrent slices
    * (consecutive grouping, so results keep input order); first failure
    * propagates after all slices settle.
    */
  def mapBounded[T, R](items: Seq[T], maxThreads: Int)(f: T => R): Seq[R] = {
    if (items.lengthCompare(2) < 0) return items.map(f)
    val slices = math.max(1, math.min(maxThreads, items.length))
    val per = (items.length + slices - 1) / slices
    settleAll(items.grouped(per).toSeq.map(g => () => g.map(f))).flatten
  }
}
