package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

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
  * batch's pins and nothing of the thread that started the stream.
  * Outside any scope both calls are plain `persist` / `localCheckpoint`:
  * nothing is released until the caller clears the cache itself. */
object Pins {

  /** This thread's open scopes, innermost first; each collects the
    * releases of its pins. Not inherited: a stream's thread starts with
    * none. */
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
      pins.reverseIterator.foreach(_())
    }
  }

  private def pin(release: () => Unit): Unit =
    open.get.headOption.foreach(_ += release)

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
}
