package geobench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One recorded call into a program layer. Times are nanoseconds from the
  * tracer's creation; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span: every job started while the span was
  * the innermost open one, and every task of those jobs' stages. */
final class SpanWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  /** stage id -> task durations (ms), for the skew ratio */
  val taskMs = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task duration of the stage with the most task time. */
  def heaviestStageSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val ds = taskMs.values.maxBy(_.sum).sorted
      val med = ds(ds.length / 2).max(1L)
      ds.last.toDouble / med
    }
}

/** Attributes jobs and task metrics to spans through the job group the
  * tracer sets: group `span-<id>` belongs to span `id`. Jobs without such a
  * group (untraced phases) are ignored. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val work = mutable.HashMap.empty[Int, SpanWork]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("span-")).foreach { g =>
      val id = g.stripPrefix("span-").toInt
      work.getOrElseUpdate(id, new SpanWork).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val w = work.getOrElseUpdate(id, new SpanWork)
      w.tasks += 1
      w.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.inputRecords += m.inputMetrics.recordsRead
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def of(spanId: Int): SpanWork = synchronized(work.getOrElse(spanId, new SpanWork))
}

/**
 * Span recorder for the single client thread. `span(name)` records the
 * call's start, end and enclosing span, and makes the span the job group of
 * every Spark job the call starts, so [[SpanListener]] can attribute work to
 * it. With `on` false, `span` only runs its body: that is the untraced mode
 * the end-to-end metrics are measured in.
 */
final class Tracer(sc: SparkContext) {
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener
  sc.addSparkListener(listener)
  var on = false
  private var open: List[Span] = Nil

  def now: Long = System.nanoTime() - t0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), now, -1L)
      spans += s
      open = s :: open
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = now
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Closed spans with this name, in start order. */
  def named(name: String): Seq[Span] = spans.iterator.filter(s => s.name == name && s.end >= 0).toSeq

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.ListenerDrain(sc)

  /** The recorded spans and their attributed Spark work, as one JSON object. */
  def toJson(extra: Seq[(String, String)]): String = {
    val rows = spans.map { s =>
      val w = listener.of(s.id)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.start / 1e6}%.3f,"end_ms":${s.end / 1e6}%.3f,""" +
        s""""jobs":${w.jobs},"tasks":${w.tasks},"cpu_ns":${w.cpuNs},""" +
        s""""shuffle_read_bytes":${w.shuffleReadBytes},"shuffle_write_bytes":${w.shuffleWriteBytes},""" +
        s""""input_records":${w.inputRecords},"output_bytes":${w.outputBytes}}"""
    }
    (extra.map { case (k, v) => s""""$k":$v""" } :+ rows.mkString("\"spans\":[\n", ",\n", "]"))
      .mkString("{", ",\n", "}\n")
  }
}
