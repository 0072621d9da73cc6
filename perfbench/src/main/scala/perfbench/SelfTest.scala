package perfbench

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.functions._

import perfbench.Json._

/** Checks of the benchmark's own Scala helpers: locale-independent JSON,
  * and each workload's output check on a tiny seed — it must accept the
  * untraced and traced outputs and reject a deliberately corrupted one. */
object SelfTest {
  def run(work: String): Boolean = {
    val failures = mutable.ArrayBuffer[String]()
    def expect(name: String, ok: Boolean, detail: => String = ""): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
      if (!ok) failures += name
    }

    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val js = Json.render(obj("a" -> Num(1.5), "b" -> Num(Double.NaN), "c" -> Int64(1234567),
        "d" -> Num(1e-7), "s" -> Str("q\"\n")))
      expect("json ignores a comma-decimal default locale",
        "%.1f".format(1.5) == "1,5" && js == """{"a":1.5,"b":null,"c":1234567,"d":1.0E-7,"s":"q\"\n"}""",
        js)
    } finally Locale.setDefault(saved)

    val spark = Main.session(work)
    val tracer = new Tracer(spark.sparkContext)
    def checks[W <: Workload](name: String, w: W)(corrupt: w.Out => w.Out): Unit = {
      w.setup(0)
      expect(s"$name reference", w.reference(Some(tracer)).isEmpty)
      val (_, plain) = w.pass(0, None)
      expect(s"$name accepts its output", w.check(plain).isEmpty, w.check(plain).toString)
      val (_, traced) = w.pass(1, Some(tracer))
      expect(s"$name accepts its traced output", w.check(traced).isEmpty, w.check(traced).toString)
      expect(s"$name rejects a corrupted output", w.check(corrupt(plain)).isDefined)
    }
    try {
      val detect = new DetectArchive(spark, 1L, s"$work/detect", years = 2, ny = 4, nx = 8)
      checks("detect-archive", detect)(o => o.copy(ext = o.ext.withColumn("extreme", !col("extreme"))))
      val append = new AppendDaily(spark, 5L, s"$work/append", histDays = 2, appendDays = 2,
        ny = 16, nx = 32, storms = 6)
      checks("append-daily", append) { o =>
        val day = o.indexWhere(!_.blockIds.isEmpty)
        o.updated(day, o(day).copy(blockIds = o(day).blockIds.limit(0)))
      }
      val dedup = new DedupCorpus(spark, 7L, s"$work/dedup", unique = 60, families = 12, hot = 6)
      checks("dedup-corpus", dedup)(o => o.copy(pairs = o.pairs.tail))
    } catch {
      case e: Exception => expect("workloads run", ok = false, e.toString)
    } finally spark.stop()
    println(s"[selftest] ${failures.size} failed")
    failures.isEmpty
  }
}
