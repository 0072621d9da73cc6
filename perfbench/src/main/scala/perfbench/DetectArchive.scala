package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.marex.{Detect, DetectConfig, GridSpec, SyntheticData, ZarrOutput}
import graft.sources.ZarrSource
import perfbench.Json._
import perfbench.Workload.{deleteDir, dirBytes, measure, step}

/** Detect over a daily SST archive stored as a blosc-compressed,
  * time-chunked Zarr v2 store: scan → fixed-baseline anomaly → approximate
  * (histogram) Hobday threshold → apply → write extremes and thresholds.
  * The only workload whose time goes to storage decode, scan planning, the
  * writer and the histogram quantile. */
final class DetectArchive(spark: SparkSession, seed: Long, dir: String,
    years: Int = DetectArchive.Years, ny: Int = DetectArchive.Ny,
    nx: Int = DetectArchive.Nx) extends Workload {
  import DetectArchive._

  private val nDays = 365 * years
  private val spec = GridSpec(ny = ny, nx = nx)
  private val epochS = java.sql.Timestamp.valueOf("2000-01-01 00:00:00").getTime / 1000L
  private var geom: DataFrame = _
  private var store: String = _
  private var outBytes = 0L

  def itemsPerOp: Long = nDays.toLong * ny * nx

  def setup(rep: Int): Unit = {
    geom = SyntheticData.geometry(spark, ny, nx).cache()
    geom.count()
    store = s"$dir/sst-$rep"
    deleteDir(store)
    val field = SyntheticData.sstGridded(spark, nDays, ny, nx, seed = seed, noiseAmp = 2.0)
      .select(((col("time").cast("long") - lit(epochS)) / 86400L).cast("int").as("t_idx"),
        col("y"), col("x"), col("value"))
    ZarrSource.write3D(field, store, (nDays, ny, nx), (TimeChunk, ny, nx), Some("blosc"))
  }

  def pass(k: Int, tr: Option[Tracer]): (Seq[Op], Out) = {
    val out = s"$dir/out-$k"
    deleteDir(out)
    val ((ext, thr), op) = measure {
      val field = step(tr, "sources.scan") {
        val f = spark.read.format("zarr").load(store)
          .select((lit(epochS) + col("t_idx").cast("long") * 86400L).cast("timestamp").as("time"),
            col("y"), col("x"), col("value"))
        if (tr.isDefined) f.localCheckpoint() else f
      }
      val (ext, thr) =
        if (tr.isEmpty) {
          val (_, thr, ext) = Detect.preprocess(field, Config)
          (ext, thr)
        } else {
          // Detect.preprocess's steps for this config, one boundary each
          val anom = step(tr, "detect.anomaly")(Detect.fixedBaselineAnomaly(field).localCheckpoint())
          val thr = step(tr, "detect.threshold")(Detect.hobdayThreshold(anom,
            Config.thresholdPercentile / 100.0, Config.windowDaysHobday, exact = false,
            Config.precision, Config.maxAnomaly).localCheckpoint())
          (step(tr, "detect.apply")(Detect.applyThreshold(anom, thr).localCheckpoint()), thr)
        }
      step(tr, "sources.write")(ZarrOutput.writeDetectResult(ext, geom, spec, Config, out,
        thresholds = Some(thr)))
      (ext, thr)
    }
    outBytes = dirBytes(out)
    (Seq(op), DetectArchive.Out(ext, thr, out))
  }

  type Out = DetectArchive.Out

  /** Flagged fraction within the band around 1−q, one threshold per pixel
    * and day of year, and the written store holding exactly the flagged
    * cells. */
  def check(o: Out): Option[String] = {
    val Out(ext, thr, out) = o
    val samples = itemsPerOp
    val counts = ext.agg(count(lit(1)), sum(col("extreme").cast("long"))).head()
    val (n, flagged) = (counts.getLong(0), counts.getLong(1))
    val frac = flagged.toDouble / samples
    val thrRows = thr.count()
    val stored = spark.read.format("zarr").load(s"$out/extreme_events")
      .filter(col("value") === 1.0).count()
    if (n != samples) Some(s"extremes cover $n cells, expected $samples")
    else if (!(frac >= FracLo && frac <= FracHi))
      Some(s"flagged fraction $frac outside [$FracLo, $FracHi]")
    else if (thrRows != ny.toLong * nx * 366) Some(s"threshold table has $thrRows rows, " +
      s"expected ${ny.toLong * nx * 366}")
    else if (stored != flagged) Some(s"store holds $stored flagged cells, field has $flagged")
    else None
  }

  def info: Seq[(String, J)] = Seq(
    "days" -> Int64(nDays), "ny" -> Int64(ny), "nx" -> Int64(nx),
    "time_chunk" -> Int64(TimeChunk), "ops_per_pass" -> Int64(1),
    "input_bytes" -> Int64(dirBytes(store)), "output_bytes" -> Int64(outBytes))
}

object DetectArchive {
  /** The extremes and thresholds a pass computed, and where it wrote them. */
  final case class Out(ext: DataFrame, thr: DataFrame, dir: String)

  val Years = 2
  val Ny = 5
  val Nx = 10
  val TimeChunk = 16
  val Config = DetectConfig(methodAnomaly = "fixed_baseline", methodExtreme = "hobday_extreme",
    thresholdPercentile = 95, methodPercentile = "approximate", precision = 0.05,
    maxAnomaly = 25.0)
  // Band around 1−q = 0.05. The histogram threshold is the lower edge of
  // the bin holding the q-quantile, so it can flag up to one 0.05-wide bin
  // of extra mass.
  val FracLo = 0.03
  val FracHi = 0.09
}
