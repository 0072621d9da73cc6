package graft
import java.util.Locale

import scala.util.control.NonFatal

import graft.core.LocalSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession()
    // Capture-condition self-annotation: a bench captured on a contended
    // machine or against a cold page cache is not comparable round-to-round,
    // and the manual checks (PERF.md) were easy to forget — so the artifact
    // now carries its own flags.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val contended = loadAvg > 0.5 * cpus
    // Warm-up: JVM/codegen/scheduler first-stage costs land here, not on
    // whichever query happens to run first. Reading the same file twice
    // also measures page-cache state: a cold first read is >2× the second.
    def timedCount(): Double = {
      val t0 = System.nanoTime()
      try { spark.read.parquet(s"$sfDir/lineitem.parquet").count() }
      catch { case NonFatal(_) => }
      (System.nanoTime() - t0) / 1e9
    }
    // Retry until the page cache is actually HOT (two consecutive reads
    // within 2×): a cold first read otherwise lands in whichever query
    // runs first and the capture self-flags cold_cache — the round-6
    // artifact did exactly that. Bounded at 5 passes; still-cold after
    // that (e.g. the table outsizes RAM) is flagged, not hidden.
    var warm1 = timedCount()
    var warm2 = timedCount()
    var warmTries = 2
    while ((warm1 > 2.0 * warm2 && warm1 - warm2 > 0.5) && warmTries < 5) {
      warm1 = warm2
      warm2 = timedCount()
      warmTries += 1
    }
    // Warm-up FLOOR self-gate: even a hot-cache capture is not comparable
    // when the host itself is degraded (round 8's artifact of record read
    // 0.32 s warm-ups vs the 0.21 s healthy floor and inflated every
    // constant-work query ~1.9×). The floor is the documented healthy
    // sf0.1 lineitem-count time; a warm read above 1.5× it retries after a
    // pause, and a capture that STAYS above it carries `degraded_host` so
    // it can be rejected as the round record instead of quietly becoming
    // it. Other SF dirs opt in via SPARK_GRAFT_WARM_FLOOR.
    val floor = sys.env.get("SPARK_GRAFT_WARM_FLOOR").map(_.toDouble)
      .orElse(if (sfDir.contains("sf0.1")) Some(0.21) else None)
    var degradedTries = 0
    while (floor.exists(f => math.min(warm1, warm2) > 1.5 * f) && degradedTries < 3) {
      Thread.sleep(15000)
      warm1 = timedCount(); warm2 = timedCount()
      degradedTries += 1
    }
    val degradedHost = floor.exists(f => math.min(warm1, warm2) > 1.5 * f)
    // recompute on the FINAL warm-up pair — the retry loop reassigns it,
    // and the artifact's flags must describe the values it prints
    val coldCacheFinal = warm1 > 2.0 * warm2 && warm1 - warm2 > 0.5
    // q55/q60/q72 replay the reference's FIXED-SIZE golden fixtures
    // regardless of SF — correctness regression locks, not scale benchmarks;
    // including them would add a constant ~60 s to every SF's total and
    // distort the scaling signal.
    val benched = SparkEntry.queries
      .filterNot(q => q._1 == "q55_marex_golden" || q._1 == "q60_marex_unstructured"
        || q._1 == "q72_merge_genealogy")
    val runs = benched.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // Untimed inter-query GC (JMH-style hygiene): releases the previous
      // query's shuffle/checkpoint blocks so each measurement reflects the
      // query, not its predecessors' accumulated heap pressure — observed
      // spread without this was 49-99 s for an identical registry.
      System.gc()
      (name, dt, ok)
    }
    // a query that throws has no time: it is named, never summed
    val results = runs.collect { case (name, dt, true) => name -> dt }
    val failed = runs.collect { case (name, _, false) => name }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Two renderings of the SAME measurement (same queries, same values):
    //  - the PERSISTED file keeps full names at full precision, the
    //    id → name map of the printed keys, and the capture-condition
    //    self-annotation flags (the round's durable record);
    //  - the PRINTED line is [[contractLine]], emitted as the very LAST
    //    stdout line so a log-tail parse finds it.
    def fullQs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def ids = results.map { case (k, _) => s""""${queryId(k)}":"$k"""" }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"sf":"$sfDir",""" +
      s""""query_ids":$ids,"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""load_avg_start":${num(loadAvg, 2)},"contended":$contended,""" +
      s""""warmup_first_s":${num(warm1, 3)},"warmup_second_s":${num(warm2, 3)},""" +
      s""""cold_cache":$coldCacheFinal,"degraded_host":$degradedHost}"""
    // Persist the full line to a file FIRST (its info line must precede the
    // contract line, which the driver tail-parses): the driver's
    // BENCH_r*.json keeps only a truncated log TAIL (round 10's artifact
    // lost 42 of 95 per-query timings), so the per-query record must not
    // depend on log capture. SPARK_GRAFT_BENCH_OUT overrides; default is a
    // timestamped file under bench/ (git-tracked — target/ captures died
    // with the first clean and took the round-11 per-query record with
    // them) so consecutive captures never clobber each other and survive
    // `sbt clean`.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench/bench_${System.currentTimeMillis()}.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (fullLine + "\n").getBytes("UTF-8"))
      println(s"bench json persisted to $outPath")
    } catch { case NonFatal(e) => println(s"bench json persist failed: $e") }
    spark.stop()
    // after spark.stop() so no stray INFO/WARN line can land after it
    println(contractLine(total, results, sfDir))
    // a failed query is named and fails the run, as in Verify
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** The printed key of a query: its registry number, so
    * `q31_dedup_jaccard` prints as `"31"` (no two registry names share
    * one); the persisted capture maps each key back to its name. */
  def queryId(name: String): String =
    "^q(\\d+)_".r.findFirstMatchIn(name).map(_.group(1)).getOrElse(name)

  // JSON numbers take a '.' decimal point whatever the JVM locale
  private def num(v: Double, decimals: Int): String =
    String.format(Locale.ROOT, s"%.${decimals}f", v)

  /** The printed contract line, sized for a ~2,000-byte log tail:
    * contract fields only, 3-decimal values, queries keyed by
    * [[queryId]]. Keyed by full name it would not fit: 101 names alone
    * take ~1.7 KB. */
  def contractLine(total: Double, results: Seq[(String, Double)], sfDir: String): String = {
    val qs = results.map { case (k, v) => s""""${queryId(k)}":${num(v, 3)}""" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
  }
}
