package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Layer spans recorded from the benchmark around its calls into the
  * program. A span is opened on the driver thread; the span id rides
  * the Spark local property [[Tracer.Prop]], so every job the call
  * starts (broadcast and AQE sub-jobs inherit local properties) carries
  * it, and the listener adds each finished task's counters to that
  * span. Spans are recorded only while [[active]] is set, and stay in
  * memory until [[records]] is read at the end. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long = 0L)

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  // per span: tasks, executor run ms, shuffle bytes (read + written),
  // spill bytes (memory + disk), block bytes stored by the tasks
  private val counters = new ConcurrentHashMap[Int, Array[Long]]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val costNs = new java.util.concurrent.atomic.AtomicLong()

  /** Time spent tracing: span bookkeeping on the driver thread plus the
    * listener's callbacks (which run beside the work, so this bounds the
    * wall time tracing adds from above). */
  def overheadNs: Long = costNs.get

  private def charged[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally costNs.addAndGet(System.nanoTime() - t0)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charged {
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop))).foreach { id =>
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id.toInt))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charged {
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val m = e.taskMetrics
        if (m != null) {
          val c = counters.computeIfAbsent(id, _ => new Array[Long](5))
          val blocks = m.updatedBlockStatuses.iterator
            .filter(_._1.isRDD).map(b => b._2.memSize + b._2.diskSize).sum
          c.synchronized {
            c(0) += 1
            c(1) += m.executorRunTime
            c(2) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
            c(3) += m.memoryBytesSpilled + m.diskBytesSpilled
            c(4) += blocks
          }
        }
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Whether [[span]] records; only ever set when [[enabled]]. */
  var active = false

  /** Run `body` inside span `name` (a plain call when not [[active]]). */
  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val s = charged {
        val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
        spans += s
        open = s :: open
        sc.setLocalProperty(Tracer.Prop, s.id.toString)
        s
      }
      try body
      finally charged {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.Prop, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Every span with its counters, once all listener events are in. */
  def records(): Seq[Map[String, Any]] = {
    if (enabled) org.apache.spark.graft.ListenerBusHook.drain(sc)
    spans.toSeq.map { s =>
      val c = Option(counters.get(s.id)).getOrElse(new Array[Long](5))
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "tasks" -> c(0), "task_busy_ms" -> c(1), "shuffle_bytes" -> c(2),
        "spill_bytes" -> c(3), "block_bytes" -> c(4))
    }
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val Prop = "perfbench.span"
}
