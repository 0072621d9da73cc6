package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import perfbench.Json._

/** Spans recorded around the benchmark's calls into each engine layer.
  * Spans live in memory and are written with the capture when the run ends.
  * While a span is open its id rides on the driver thread's Spark local
  * properties, so every job the span submits — and every stage and task of
  * those jobs — is attributed to it by [[Counters]], whatever the order in
  * which the listener bus delivers the events. */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, run: Int,
      start: Long, var end: Long = 0L)

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  /** Pass number stamped on spans opened from now on. */
  var run: Int = 0

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length + 1, name, open.headOption.getOrElse(0), run, System.nanoTime())
    spans += s
    open = s.id :: open
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.Key, open.headOption.map(_.toString).orNull)
    }
  }

  def toJson: J = Arr(spans.toSeq.map(s => obj(
    "id" -> Int64(s.id), "name" -> Str(s.name), "parent" -> Int64(s.parent),
    "run" -> Int64(s.run), "start_ns" -> Int64(s.start), "end_ns" -> Int64(s.end))))
}

object Tracer {
  val Key = "perfbench.span"
}

/** Spark execution counters per span, from a listener. A stage is
  * attributed to the span that submitted its job. */
final class Counters extends SparkListener {
  final class StageRec(val stage: Int, val span: Int) {
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val taskRunMs = mutable.ArrayBuffer[Long]()
  }

  private val jobsBySpan = mutable.Map[Int, Int]().withDefaultValue(0)
  private val spanOfStage = mutable.Map[Int, Int]()
  private val stages = mutable.LinkedHashMap[Int, StageRec]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.Key))).map(_.toInt).getOrElse(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobsBySpan(s) += 1
    e.stageIds.foreach(id => spanOfStage(id) = s)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val r = stages.getOrElseUpdate(e.stageId,
        new StageRec(e.stageId, spanOfStage.getOrElse(e.stageId, 0)))
      r.tasks += 1
      r.cpuNs += m.executorCpuTime
      r.runMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.diskBytesSpilled
      r.taskRunMs += m.executorRunTime
    }
  }

  def toJson: J = synchronized {
    obj(
      "jobs" -> Arr(jobsBySpan.toSeq.sortBy(_._1).map { case (s, n) =>
        obj("span" -> Int64(s), "jobs" -> Int64(n)) }),
      "stages" -> Arr(stages.values.toSeq.map(r => obj(
        "stage" -> Int64(r.stage), "span" -> Int64(r.span), "tasks" -> Int64(r.tasks),
        "cpu_ns" -> Int64(r.cpuNs), "run_ms" -> Int64(r.runMs), "gc_ms" -> Int64(r.gcMs),
        "shuffle_write_b" -> Int64(r.shuffleWrite), "shuffle_read_b" -> Int64(r.shuffleRead),
        "spill_b" -> Int64(r.spill), "task_run_ms" -> Arr(r.taskRunMs.toSeq.map(Int64(_)))))))
  }
}
