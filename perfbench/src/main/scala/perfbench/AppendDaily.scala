package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.marex.{GridSpec, IncrementalTracker, SyntheticData, Track, TrackConfig}
import perfbench.Json._
import perfbench.Workload.{deleteDir, measure, step}

/** The production daily job: incremental tracking, one
  * `IncrementalTracker.extend` + `saveState` per arriving day. Set-up
  * bootstraps the state from history; the first day after it is appended
  * once, untimed, in [[reference]]. Every pass starts from that state and
  * appends the same `appendDays` days, so passes repeat identical work.
  * Per-call fixed cost dominates. The batch tracker runs once per run, as
  * the reference the appends must equal. */
final class AppendDaily(spark: SparkSession, seed: Long, dir: String,
    histDays: Int = AppendDaily.HistDays, appendDays: Int = AppendDaily.AppendDays,
    ny: Int = AppendDaily.Ny, nx: Int = AppendDaily.Nx,
    storms: Int = AppendDaily.Storms) extends Workload {
  import AppendDaily._

  private val spec = GridSpec(ny = ny, nx = nx)
  private val epoch0 = Timestamp.valueOf("2000-01-01 00:00:00").getTime
  /** Day d of the window the workload uses. */
  private def day(d: Int) = new Timestamp(epoch0 + (LeadDays + d) * 86400000L)
  private var geom: DataFrame = _
  private var all: DataFrame = _
  private var days: IndexedSeq[DataFrame] = _
  private var state0: IncrementalTracker.IncState = _
  /** State after the untimed first append; passes start from it. */
  private var state1: IncrementalTracker.IncState = _
  /** Batch labels of the appended days: cell (t, y, x) → event id. */
  private var batch: Map[(Long, Int, Int), Long] = _
  private var batchStats = Map.empty[String, Long]
  private var batchS = 0.0
  private var mergingBatchS = 0.0
  private var firstRemaps: Option[Seq[Long]] = None

  def itemsPerOp: Long = ny.toLong * nx
  /** [[reference]]'s untimed first append warms the passes' code. */
  override def warmUp: Boolean = false

  def setup(rep: Int): Unit = {
    geom = SyntheticData.geometry(spark, ny, nx).cache()
    geom.count()
    // storms are born uniformly over the generated days and live 20–60
    // days, so only after a lead-in does every day carry a similar storm
    // population; history and appends are taken from after it
    all = SyntheticData.stormFlags(spark, LeadDays + histDays + 1 + appendDays, ny, nx,
      nStorms = storms, seed = seed).filter(col("time") >= lit(day(0))).localCheckpoint()
    days = (0 to appendDays).map(d =>
      all.filter(col("time") === lit(day(histDays + d))).localCheckpoint())
    val (st, inc) = IncrementalTracker.extend(None,
      all.filter(col("time") < lit(day(histDays))), geom, spec, Config)
    inc.blockIds.count()
    val boot = s"$dir/boot-$rep"
    deleteDir(boot)
    IncrementalTracker.saveState(st, boot)
    state0 = st
  }

  /** The one-time batch `Track.track` over history and appended days that
    * the appends are checked against, and the first append, untimed: set-up's
    * bootstrap never stitches to a seam, so this warms that path. A traced
    * run also runs the batch tracker in merging mode on the same field, once
    * whole and once through [[TrackSteps]], whose stats must match: the
    * per-layer view of the split/merge tracker. */
  override def reference(tr: Option[Tracer]): Option[String] = {
    state1 = IncrementalTracker.extend(Some(state0), days.head, geom, spec, Config)._1
    IncrementalTracker.saveState(state1, s"$dir/state-warm")
    val (res, op) = measure {
      val res = Track.track(all, geom, spec, Config)
      res.idField.count()
      batchStats = res.stats
      res
    }
    batchS = op.wallS
    batch = cells(res.idField.filter(col("time") >= lit(day(histDays + 1))))
    tr.flatMap { t =>
      val merging = Config.copy(allowMerging = true)
      val (whole, wholeOp) = measure(Track.track(all, geom, spec, merging).stats)
      mergingBatchS = wholeOp.wallS
      val (_, traced) = t.span("reference.traced")(TrackSteps.traced(all, geom, spec, merging, tr))
      if (traced == whole) None
      else Some(s"traced Track.track steps give $traced, Track.track gives $whole")
    }
  }

  private def cells(df: DataFrame): Map[(Long, Int, Int), Long] =
    df.select(col("time").cast("long"), col("y").cast("int"), col("x").cast("int"),
        col("event_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap

  type Out = Seq[IncrementalTracker.Increment]

  def pass(k: Int, tr: Option[Tracer]): (Seq[Op], Out) = {
    val stateDir = s"$dir/state-$k"
    deleteDir(stateDir)
    var st = state1
    val incs = Seq.newBuilder[IncrementalTracker.Increment]
    val ops = days.tail.map { newDay =>
      val (_, op) = measure {
        val (next, inc) = step(tr, "append.extend")(
          IncrementalTracker.extend(Some(st), newDay, geom, spec, Config))
        step(tr, "append.save_state")(IncrementalTracker.saveState(next, stateDir))
        st = next
        incs += inc
      }
      op
    }
    (ops, incs.result())
  }

  /** Each day's appended cells equal the batch tracker's cells of that day,
    * and after every retroactive merge is applied the appended days carry
    * the batch labelling up to a bijection of event ids. The per-day merge
    * counts repeat from pass to pass. */
  def check(incs: Out): Option[String] = {
    var acc = Map.empty[(Long, Int, Int), Long]
    val remaps = incs.map { inc =>
      val remap = inc.remap.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      acc = acc.map { case (c, id) => c -> remap.getOrElse(id, id) } ++ cells(inc.blockIds)
      remap.size.toLong
    }
    val perDay = incs.map(_.blockIds.count())
    val batchPerDay = (1 to appendDays).map { d =>
      val t = day(histDays + d).getTime / 1000L
      batch.keys.count(_._1 == t).toLong
    }
    if (firstRemaps.isEmpty) firstRemaps = Some(remaps)
    val pairs = acc.toSeq.flatMap { case (c, id) => batch.get(c).map(_ -> id) }.distinct
    if (perDay != batchPerDay) Some(s"appended cells per day $perDay, batch has $batchPerDay")
    else if (acc.keySet != batch.keySet) Some("appended cell set differs from batch")
    else if (pairs.map(_._1).distinct.size != pairs.size ||
        pairs.map(_._2).distinct.size != pairs.size)
      Some("appended event ids are not a bijection of the batch event ids")
    else if (firstRemaps.get != remaps) Some(s"retroactive merges per day $remaps, " +
      s"first pass had ${firstRemaps.get}")
    else None
  }

  def info: Seq[(String, J)] = Seq(
    "history_days" -> Int64(histDays), "append_days" -> Int64(appendDays),
    "ny" -> Int64(ny), "nx" -> Int64(nx), "storms" -> Int64(storms),
    "ops_per_pass" -> Int64(appendDays),
    "appended_cells" -> Int64(if (batch == null) 0L else batch.size.toLong),
    "remaps_per_day" -> Arr(firstRemaps.getOrElse(Nil).map(Int64(_))),
    "batch_s" -> Num(batchS),
    "batch_stats" -> Obj(batchStats.toSeq.sorted.map { case (k, v) => k -> (Int64(v): J) }),
    "merging_batch_s" -> Num(mergingBatchS))
}

object AppendDaily {
  val LeadDays = 30
  val HistDays = 1
  val AppendDays = 2
  val Ny = 24
  val Nx = 48
  val Storms = 8
  val Config = TrackConfig(rFill = 2, tFill = 0, areaFilterAbsolute = Some(100.0),
    overlapThreshold = 0.25, allowMerging = false, dropSmallestObject = false)
}
