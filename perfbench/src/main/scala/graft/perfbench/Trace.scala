package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import scala.collection.mutable

/** One timed call into a layer, recorded by the harness around the
  * program's public functions. */
final case class Span(layer: String, kind: String, query: String, startNs: Long, endNs: Long)

/** Spans of the operation in flight. When `traced`, each span also tags
  * the Spark jobs it starts with its layer (a thread-local property that
  * streaming threads inherit), so [[LayerListener]] can charge tasks,
  * bytes and spill to the layer. */
final class Tracer(sc: SparkContext) {
  private val buf = mutable.ArrayBuffer[Span]()
  var traced = false

  def span[T](layer: String, kind: String, query: String)(f: => T): T = {
    val prev = sc.getLocalProperty(LayerListener.Key)
    if (traced) sc.setLocalProperty(LayerListener.Key, layer)
    val t0 = System.nanoTime()
    try f
    finally {
      buf += Span(layer, kind, query, t0, System.nanoTime())
      if (traced) sc.setLocalProperty(LayerListener.Key, prev)
    }
  }

  /** The spans recorded since the last call, in end order. */
  def take(): Seq[Span] = { val out = buf.toList; buf.clear(); out }
}

final class LayerCounts {
  var jobs, tasks, inputBytes, shuffleWriteBytes, spillBytes = 0L
}

/** Counts Spark's own work per layer: jobs, tasks, input, shuffle write
  * and spill bytes, from the jobs a traced span started; and the
  * `durationMs` of every streaming micro-batch, whichever session ran it.
  * All callbacks arrive on the listener bus thread; the harness reads the
  * results only after draining the bus. */
final class LayerListener extends SparkListener {
  private val stageLayer = mutable.Map[Int, String]()
  val counts = mutable.Map[String, LayerCounts]()
  val progress = mutable.ArrayBuffer[Map[String, Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.Key)))
      .foreach { layer =>
        counts.getOrElseUpdate(layer, new LayerCounts).jobs += 1
        e.stageIds.foreach(stageLayer(_) = layer)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLayer.get(e.stageId).foreach { layer =>
      val c = counts.getOrElseUpdate(layer, new LayerCounts)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      import scala.jdk.CollectionConverters._
      progress += p.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    }
    case _ => ()
  }

  def takeProgress(): List[Map[String, Long]] = synchronized {
    val out = progress.toList; progress.clear(); out
  }
}

object LayerListener {
  val Key = "perfbench.layer"
}

/** Just enough JSON for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
