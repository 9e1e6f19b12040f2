package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** The one owner of cache lifetime: every frame a query persists or
  * local-checkpoints is pinned here, and the enclosing [[scope]] releases it.
  *
  * The lifecycle rule:
  *   - pin through [[persist]] and [[checkpoint]], never through the
  *     `Dataset` methods directly;
  *   - open a [[scope]] where a result is consumed or written — each
  *     runner's `fn` + consume, each tip micro-batch, each stream drive and
  *     each eagerly trained memo — and nowhere else;
  *   - never unpersist in a `finally`: a query's `fn` returns a LAZY frame,
  *     so a release before the caller consumes it makes the consumer derive
  *     the pinned frame again.
  *
  * Scopes nest, and a scope releases only what was pinned inside it and
  * not inside a nested scope, on the thread its body runs on — a scope
  * opened in a `foreachBatch` body (the stream's thread) releases that
  * batch's pins and nothing of the thread that started the stream. The one
  * exception is [[fork]]: what its branches pin on their worker threads
  * belongs to the scope that encloses the `fork` call.
  * Outside any scope both calls are plain `persist` / `localCheckpoint`:
  * nothing is released until the caller clears the cache itself. */
object Pins {

  /** This thread's open scopes, innermost first; each collects the
    * releases of its pins. Not inherited: a stream's thread starts with
    * none, a [[fork]]'s workers start with their caller's. */
  private val open =
    ThreadLocal.withInitial[List[ArrayBuffer[() => Unit]]](() => Nil)

  /** Runs `body`, then releases everything pinned inside it, in reverse
    * pin order — also when `body` throws. */
  def scope[A](body: => A): A = {
    val pins = ArrayBuffer.empty[() => Unit]
    open.set(pins :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      pins.synchronized(pins.reverse).foreach(_())
    }
  }

  private def pin(release: () => Unit): Unit =
    open.get.headOption.foreach(pins => pins.synchronized(pins += release))

  /** `df.persist()`, released by the innermost open scope. A frame that is
    * already cached belongs to whoever cached it and is left alone. */
  def persist[T](df: Dataset[T]): Dataset[T] =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      pin(() => { df.unpersist(blocking = false); () })
      df.persist()
    }

  /** `df.localCheckpoint()` (eager), released by the innermost open
    * scope. */
  def checkpoint(df: DataFrame): DataFrame = kept(df.localCheckpoint())

  /** Pins the checkpointed RDD a local checkpoint reads. */
  private def kept(cp: DataFrame): DataFrame = {
    cp.queryExecution.logical.foreach {
      case r: LogicalRDD => pin(() => { r.rdd.unpersist(blocking = false); () })
      case _ => ()
    }
    cp
  }

  /** A SMALL rollup over a `base` with several consumers: `base` is pinned
    * only while `build`'s result is eagerly checkpointed, so the scan runs
    * once and only the (dimension-sized) rollup stays resident, pinned in
    * the caller's scope. The result must be a grouped rollup, never a fact
    * table. */
  def withPersisted(base: DataFrame)(build: DataFrame => DataFrame): DataFrame =
    kept(scope(build(persist(base)).localCheckpoint()))

  /** Worker threads per [[fork]]: more than a tip micro-batch has
    * branches, so a branch waiting for another's result never keeps a
    * runnable one from starting. Spark's scheduler, not this pool, bounds
    * the tasks the branches' jobs run. */
  private val Threads = 16

  /** Runs `body` with a [[Fork]] whose branches run concurrently, each on
    * one of [[Threads]] worker threads made for this call. The threads are
    * made on the calling thread, so they inherit its Spark local
    * properties (job group, SQL execution id, scheduler tags) and every
    * job a branch starts is attributed as if the caller had started it.
    * What a branch pins belongs to the scope enclosing this call.
    *
    * A branch may wait (`get`) only for branches started before it: the
    * workers take branches in start order, so the earliest unfinished
    * branch always has its inputs and runs, whatever the pool size.
    *
    * Returns once every branch has finished. If `body` throws, that
    * exception is rethrown after the branches finish; otherwise a failed
    * branch's exception is (the first failed, in start order). Either way
    * no branch outlives the call, so the enclosing scope releases its pins
    * after their last use. */
  def fork[A](body: Fork => A): A = {
    val scopes = open.get
    val pool = new ThreadPoolExecutor(Threads, Threads, 0L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(() => { open.set(scopes); r.run() }, "graft-fork")
        t.setDaemon(true)
        t
      })
    pool.prestartAllCoreThreads()
    val started = new ConcurrentLinkedQueue[Branch[_]]()
    val ec = ExecutionContext.fromExecutor(pool)
    val f = new Fork {
      def apply[B](branch: => B): Branch[B] = {
        val b = new Branch(Future(branch)(ec))
        started.add(b)
        b
      }
    }
    val a =
      try body(f)
      finally {
        pool.shutdown()
        try pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS): Unit
        catch { case e: InterruptedException => pool.shutdownNow(); throw e }
      }
    started.asScala.foreach(b => Await.result(b.future, Duration.Zero))
    a
  }
}

/** Starts the branches of one [[Pins.fork]] call, or, as [[Fork.inline]],
  * runs each on the calling thread as it is started. */
trait Fork {
  def apply[A](branch: => A): Branch[A]
}

object Fork {
  /** The sequential schedule: each branch runs to completion on the
    * calling thread when it is started, and a failure is thrown there. */
  val inline: Fork = new Fork {
    def apply[A](branch: => A): Branch[A] = new Branch(Future.successful(branch))
  }
}

/** The result of one branch of a [[Fork]]. */
final class Branch[A] private[graft] (private[graft] val future: Future[A]) {
  /** Waits for the branch; returns its value or rethrows its failure. */
  def get: A = Await.result(future, Duration.Inf)
}
