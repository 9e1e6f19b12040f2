package graft

import org.apache.spark.{GraftListenerBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicLong

/** Counts the Spark jobs started on `sc` from its creation until
  * [[close]]: every job of every thread, as the scheduler announces them. */
final class JobCounter private (sc: SparkContext) extends SparkListener {
  private val started = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit

  /** The jobs started so far, once the bus has delivered their events. */
  def jobs: Long = { GraftListenerBus.drain(sc); started.get }

  def close(): Unit = sc.removeSparkListener(this)
}

object JobCounter {
  /** A registered counter. The bus is drained first, so jobs that started
    * before this call are never counted. */
  def apply(sc: SparkContext): JobCounter = {
    GraftListenerBus.drain(sc)
    val c = new JobCounter(sc)
    sc.addSparkListener(c)
    c
  }
}
