package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import perfbench.Json._

/** Runs one workload as a single closed-loop client on local[nproc] and
  * writes every pass to a capture file; the caller turns the capture into
  * metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --capture FILE --work DIR
  *
  * A run sets up `SetupReps` times (the last set-up's inputs are used), runs
  * the workload's untimed reference step, one warm-up pass unless the
  * workload warms itself there, then runs passes until `S` seconds have
  * elapsed and at least `MinOps` operations were timed. With tracing on, untraced and traced passes alternate: the
  * untraced ones carry the Spark counters of the real program, the traced
  * ones the per-layer spans. Each pass's outputs are checked after its
  * timing stops; a pass that throws or fails its check is recorded as
  * failed and contributes no timing. */
object Main {
  val SetupReps = 2
  val MinOps = 2
  val MinTracedPairs = 1

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.get("selftest").contains("1")) sys.exit(if (SelfTest.run(opts("work"))) 0 else 1)
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext
    val counters = if (trace) Some(new Counters) else None
    counters.foreach(sc.addSparkListener)
    val tracer = new Tracer(sc)

    val wl = Workload(name, spark, seed, work)
    log(s"session ${fmt(sessionS)} s")
    val setupS = (0 until SetupReps).map { rep =>
      val s = Workload.measure(wl.setup(rep))._2.wallS
      log(s"setup $rep: ${fmt(s)} s")
      s
    }
    val passes = mutable.ArrayBuffer[J]()
    tracer.run = -1
    val (refError, refOp) = Workload.measure(
      try wl.reference(if (trace) Some(tracer) else None)
      catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) })
    passes += obj("pass" -> Int64(-1), "kind" -> Str("reference"), "ok" -> Bool(refError.isEmpty),
      "error" -> refError.map(Str).getOrElse(Null),
      "ops" -> Arr(Seq(obj("wall_s" -> Num(refOp.wallS), "cpu_s" -> Num(refOp.cpuS)))))
    log(s"reference ${fmt(refOp.wallS)} s${refError.fold("")(e => s", failed: $e")}")

    /** Runs pass k; returns the number of operations it attempted. */
    def runPass(k: Int, kind: String): Int = {
      tracer.run = k
      val traced = kind == "traced"
      val before = if (traced) retainedMb(spark) else 0.0
      val result: Either[String, (Seq[Op], Double)] =
        try {
          val (ops, out) =
            if (!trace) wl.pass(k, None)
            else tracer.span(if (traced) "pass.traced" else "pass")(
              wl.pass(k, if (traced) Some(tracer) else None))
          val growth = if (traced) retainedMb(spark) - before else 0.0
          wl.check(out).toLeft((ops, growth))
        } catch {
          case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500))
        }
      val retained = retainedMb(spark)
      result.foreach { case (ops, _) =>
        log(s"pass $k ($kind): ${fmt(ops.map(_.wallS).sum)} s, ${fmt(ops.map(_.cpuS).sum)} cpu s")
      }
      passes += (result match {
        case Right((ops, growth)) => obj("pass" -> Int64(k), "kind" -> Str(kind),
          "ok" -> Bool(true), "retained_mb" -> Num(retained), "retained_growth_mb" -> Num(growth),
          "ops" -> Arr(ops.map(o => obj("wall_s" -> Num(o.wallS), "cpu_s" -> Num(o.cpuS)))))
        case Left(err) =>
          log(s"pass $k ($kind) failed: $err")
          obj("pass" -> Int64(k), "kind" -> Str(kind), "ok" -> Bool(false), "error" -> Str(err))
      })
      result.fold(_ => 1, _._1.size)
    }

    val warm0 = System.nanoTime()
    if (wl.warmUp) runPass(0, "warmup")
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val t0 = System.nanoTime()
    var k = 1
    var ops = 0
    def more = (System.nanoTime() - t0) / 1e9 < seconds ||
      (if (trace) k <= 2 * MinTracedPairs else ops < MinOps)
    while (more) {
      ops += runPass(k, if (!trace) "timed" else if (k % 2 == 1) "timed" else "traced")
      k += 1
    }
    counters.foreach(_ => org.apache.spark.PerfbenchAccess.drainListenerBus(sc))

    val capture = obj(
      "workload" -> Str(name), "seed" -> Int64(seed), "seconds" -> Num(seconds),
      "trace" -> Bool(trace),
      "host" -> obj(
        "nproc" -> Int64(Runtime.getRuntime.availableProcessors()),
        "load_avg_start" -> Str(opts.getOrElse("load", "")),
        "java" -> Str(System.getProperty("java.version")),
        "spark" -> Str(spark.version),
        "max_heap_mb" -> Num(Runtime.getRuntime.maxMemory / 1048576.0)),
      "session_s" -> Num(sessionS),
      "setup_reps_s" -> Arr(setupS.map(Num(_))),
      "warmup_s" -> Num(warmupS),
      "info" -> Obj(("items_per_op" -> Int64(wl.itemsPerOp)) +: wl.info),
      "passes" -> Arr(passes.toSeq),
      "spans" -> (if (trace) tracer.toJson else Arr(Nil)),
      "counters" -> counters.map(_.toJson).getOrElse(Null))
    Files.write(Paths.get(opts("capture")), Json.render(capture).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def fmt(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Block-manager MB still held after a forced GC has let the context
    * cleaner drop blocks of unreachable RDDs. */
  def retainedMb(spark: SparkSession): Double = {
    System.gc()
    Thread.sleep(150)
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  }
}
