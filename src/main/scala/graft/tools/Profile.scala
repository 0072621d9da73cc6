package graft.tools

import scala.util.control.NonFatal

/** Optimization-round profiler: run named registry queries N times each under
  * the exact Bench session config and print per-run wall times plus the
  * job/stage counts Spark executed — the orchestration costs (shuffle count,
  * action count) that dominate at bench scale. Each query runs once untimed
  * before its timed reps. Usage:
  *
  *   scripts/run.sh graft.tools.Profile <sfDir> <reps> q05_join5 q32_dedup_minhash
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = graft.core.LocalSession()
    // job/stage/task counters via listener
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuMs = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val inB = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        runMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inB.addAndGet(m.inputMetrics.bytesRead)
        if (sys.env.contains("GRAFT_STAGE_DETAIL"))
          println(f"    stage ${s.stageInfo.stageId}%3d run=${m.executorRunTime / 1000.0}%6.2fs " +
            f"cpu=${m.executorCpuTime / 1e9}%6.2fs tasks=${s.stageInfo.numTasks}%3d " +
            f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1024}%6dKB " +
            f"shufRrec=${m.shuffleReadMetrics.recordsRead}%8d " +
            f"outRec=${m.outputMetrics.recordsWritten}%8d  ${s.stageInfo.name.take(90)}")
      }
    })
    // warm-up identical to Bench
    try { spark.read.parquet(s"$sfDir/lineitem.parquet").count() } catch { case NonFatal(_) => }
    try { spark.read.parquet(s"$sfDir/lineitem.parquet").count() } catch { case NonFatal(_) => }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // one untimed rep per query: its own cold costs (first reads of its
      // inputs, codegen of its plan) stay out of the timed reps
      try { fn(spark, sfDir).count() } catch { case NonFatal(e) => println(s"  ERR $e") }
      System.gc()
      val times = (1 to reps).map { i =>
        jobs.set(0); stages.set(0); tasks.set(0)
        runMs.set(0); cpuMs.set(0); shufW.set(0); inB.set(0)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case NonFatal(e) => println(s"  ERR $e"); -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        System.gc()
        println(f"$name run$i: $dt%.3f s  jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
          f"taskRun=${runMs.get / 1000.0}%.2fs taskCpu=${cpuMs.get / 1000.0}%.2fs " +
          f"shufW=${shufW.get / 1024}KB in=${inB.get / 1024}KB")
        (dt, cpuMs.get)
      }
      println(f"$name min=${times.map(_._1).min}%.3f median=${times.map(_._1).sorted.apply(reps / 2)}%.3f " +
        f"minCpu=${times.map(_._2).min / 1000.0}%.2fs")
    }
    spark.stop()
  }
}
