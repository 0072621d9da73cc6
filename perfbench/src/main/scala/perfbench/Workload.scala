package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import perfbench.Json._

/** One timed operation: a whole pass, or one append of the daily workload. */
final case class Op(wallS: Double, cpuS: Double)

/** A benchmark workload. Inputs derive only from the seed. */
trait Workload {
  /** What a pass leaves for its check. */
  type Out
  /** Work items one operation covers (grid samples or documents). */
  def itemsPerOp: Long
  /** Builds the inputs; repeated a few times per run for the set-up time. */
  def setup(rep: Int): Unit
  /** Whether a run needs an untimed warm-up pass before timing. */
  def warmUp: Boolean = true
  /** Untimed, once after set-up: the reference results the checks compare
    * against, and any state the passes start from; `tr` is set in traced
    * runs. `Some` names a failed check. */
  def reference(tr: Option[Tracer]): Option[String] = None
  /** One pass: its timed operations and its outputs. `tr` is set for a
    * traced pass, which calls each layer's public steps one at a time with a
    * span around each. */
  def pass(k: Int, tr: Option[Tracer]): (Seq[Op], Out)
  /** Runs after timing stops: `None` if the outputs are correct, else what
    * is wrong. */
  def check(out: Out): Option[String]
  /** Sizes and other facts about the inputs, for the capture. */
  def info: Seq[(String, J)]
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, dir: String): Workload = name match {
    case "detect-archive" => new DetectArchive(spark, seed, dir)
    case "append-daily" => new AppendDaily(spark, seed, dir)
    case "dedup-corpus" => new DedupCorpus(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Wall and whole-process CPU seconds (driver, tasks, GC and JIT). */
  def measure[T](body: => T): (T, Op) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = body
    val op = Op((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
    (r, op)
  }

  /** Runs `body` inside a span when tracing, bare otherwise. */
  def step[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr.fold(body)(_.span(name)(body))

  def deleteDir(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  /** Bytes on disk under a directory. */
  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.sizeOfDirectory(f) else 0L
  }
}
