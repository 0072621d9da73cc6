package graft.marex

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** Incremental (append-only) event tracking — extend a track with
  * newly-arrived time slices WITHOUT recomputing history.
  *
  * The reference's tracker (and [[Track.track]]) is a batch pass over the
  * full archive; a production archive grows daily, and at the 100 TB design
  * point re-tracking decades to absorb one day is the difference between a
  * minutes-long append job and a full-archive recompute. This module keeps
  * the minimum state that tracking semantics require — the labeled cells of
  * the last SURVIVING slice (the seam), the count of erased raw slices
  * after it, plus id counters — and stitches each new block to it.
  *
  * Two modes, dispatched on `cfg.allowMerging`:
  *
  *  - '''non-merging''' (the reference's "Scannell" mode): the block is
  *    labeled by block-local 3-D space-time CCL and linked to the seam with
  *    the same 26-connectivity (9 spatial offsets incl. diagonals, x-wrap)
  *    the batch CCL uses (reference structure: track.py:2009–2016, time
  *    connectivity track.py:1388–1395);
  *  - '''merging''' (split/merge genealogy): the batch-parallel split/merge
  *    ([[Track.splitAndMerge]]) only ever rewrites CHILD cells — the cells
  *    of the LATER timestep of an overlap pair — so already-resolved history
  *    is stable under appends. The increment therefore re-runs the identical
  *    resolution over (seam slice ∪ new block): boundary children claimed by
  *    two seam parents are partitioned exactly as in batch, the block's
  *    merge-genealogy rows come out of the same code path, and event
  *    components compose through the seam (an old event id is reused where a
  *    component touches the seam; genuinely new components mint fresh ids).
  *
  * Appending data can retroactively MERGE previously-separate events (a new
  * cell bridging two old components; in merging mode, a post-partition
  * fragment still overlapping the *other* parent above threshold); each
  * extension therefore returns a `remap` table (`from_event_id` →
  * `to_event_id`) the caller applies to any historical tables it keeps.
  * Event ids are stable and unique but NOT dense: equivalence with the batch
  * tracker is up to a bijection of ids, which is what
  * [[IncrementalTrackerSpec]] asserts — for BOTH modes.
  *
  * Scope (all checked eagerly): no temporal gap fill (`tFill == 0`: closing
  * along time reads future slices), absolute area filtering (a quartile
  * threshold is a statistic of the WHOLE run — inherently non-incremental;
  * production append pipelines use absolute thresholds, e.g.
  * run_track.py:27–36's 600 km²), `dropSmallestObject == false` (the
  * reference's drop-first-label quirk is per-batch-run, meaningless under
  * appends), and — merging mode only — the batch-parallel split/merge
  * (`sequentialSplitMerge == false`: the sequential pass is a whole-run
  * driver algorithm whose decisions at t read updated t−1/t−2 ACROSS the
  * whole history).
  *
  * Scale shape per block: nothing reads history except the seam. A
  * non-merging block is size-adaptive, like [[ConnectedComponents.auto]]:
  * one bounded collect of up to `DriverThreshold` + 1 cells measures it
  * and, when it fits — at most `DriverThreshold` cells and at most
  * [[DriverRasterCells]] raster cells (slices × ny·nx, one or two 0.25°
  * global days) — the whole append runs on the driver over the same
  * per-slice kernels the Spark tasks run, the way the reference runs a
  * timestep through numpy on one in-memory slice (track.py:750–786): one
  * daily append is the block collect plus one geometry collect, and its
  * results are local relations. Larger blocks (a multi-year bootstrap) run
  * distributed: morphology + per-slice CCL are one task per slice; the
  * block-local resolution sees only the block (+ one seam slice); the seam
  * join touches ONE slice of cells; the component solve is over the
  * block's object graph. Merging-mode blocks always run distributed.
  */
object IncrementalTracker {

  /** Tracker state between extensions.
    *
    * `seam` holds the last slice that SURVIVED preprocessing:
    * (y, x, event_id) in non-merging mode, (y, x, gid, event_id) in merging
    * mode (the gid is the split/merge-resolved object id the overlap
    * fractions are computed against; the event id is the post-remap final
    * id). `gapAfterSeam` counts the raw input slices processed after it
    * (slices whose objects were all erased by morphology or the area filter
    * still occupy the time axis, exactly as in the batch tracker, so
    * anything following them must NOT stitch). `nextEventId` is 1 + the
    * highest event id ever issued; `nextGid` (merging mode) is 1 + the
    * highest object gid ever issued, keeping old and new id spaces
    * disjoint.
    *
    * `seamTraj` (merging mode) is the seam slice's sparse PER-ROUND label
    * trajectory `(round, y, x, gid)` — round 0 = its initial per-slice
    * labels, round r = its state after batch-iteration round r when that
    * round changed it. The batch split/merge resolves all timesteps in
    * simultaneous rounds, so the next block's round r must see the seam as
    * of round r−1, not its converged state; replaying the trajectory
    * ([[Track.splitAndMergeReplay]]) makes the append bit-equal to the
    * whole-run batch fixpoint. One slice × a handful of states — bounded by
    * `maxOuterIter`. */
  final case class IncState(seam: DataFrame, gapAfterSeam: Long,
      nextEventId: Long, nextGid: Long = 1L,
      seamTraj: Option[DataFrame] = None,
      held: Option[DataFrame] = None)

  /** One extension's output: the new slices' labeled cells, the retroactive
    * merges among PREVIOUSLY issued event ids (empty when no new cell
    * bridges two old events), and — merging mode — the block's merge
    * genealogy rows in [[Track.splitAndMerge]]'s schema (object-gid space;
    * gids are globally unique across appends, so accumulated tables stay
    * consistent). */
  final case class Increment(blockIds: DataFrame, remap: DataFrame,
      merges: DataFrame)

  private def requireShared(cfg: TrackConfig): Unit = {
    require(cfg.tFill == 0,
      "incremental tracking requires tFill=0 at this layer — route appends " +
        "with temporal gap fill through extendGapFill (watermark holdback)")
    require(cfg.resolvedQuartile == 0.0,
      "incremental tracking requires an absolute area filter (or quartile 0): " +
        "a quartile threshold is a whole-run statistic (track.py:1838) and " +
        "cannot be computed on an append")
    require(!cfg.dropSmallestObject,
      "dropSmallestObject is a per-batch-run quirk; disable it for appends")
  }

  /** Slice-local preprocessing: morphology, per-slice CCL, absolute area
    * filter — every step reads one slice, so it is append-safe. Returns the
    * surviving flagged cells with their block-local object ids
    * (time, y, x, gid). */
  private def preprocessBlock(flags: DataFrame, geom: DataFrame, spec: GridSpec,
      cfg: TrackConfig): DataFrame = {
    val filled = Raster.fillHoles(flags, cfg.rFill, spec, Raster.landMask(geom))
    val gids = Track.globalIds(Raster.labelPerSlice(filled.localCheckpoint(), spec))
    Track.filterSmallObjects(gids, geom, cfg)
  }

  /** Extend the track with a block of new slices (all strictly later than
    * anything processed before; empty blocks are fine). The time axis is
    * the batch tracker's: raw slices present in the INPUT are consecutive —
    * including slices whose objects preprocessing then erases, which stay
    * on the axis and separate what surrounds them. */
  def extend(state: Option[IncState], newFlags: DataFrame, geom: DataFrame,
      spec: GridSpec, cfg: TrackConfig,
      rawAxis: Option[Seq[Timestamp]] = None): (IncState, Increment) =
    extendBounded(state, newFlags, geom, spec, cfg, rawAxis,
      ConnectedComponents.DriverThreshold)

  /** [[extend]] with the driver path's cell bound as a parameter: a bound
    * of 0 forces the distributed non-merging path, which is how the spec
    * checks that both paths give identical results. */
  private[marex] def extendBounded(state: Option[IncState], newFlags: DataFrame,
      geom: DataFrame, spec: GridSpec, cfg: TrackConfig,
      rawAxis: Option[Seq[Timestamp]], driverBound: Long): (IncState, Increment) =
    if (cfg.allowMerging) extendMerging(state, newFlags, geom, spec, cfg, rawAxis)
    else extendNonMerging(state, newFlags, geom, spec, cfg, rawAxis, driverBound)

  // ── temporal gap fill under appends (tFill > 0): watermark holdback ─────

  /** Append-safe `T_fill > 0` tracking (the reference's production config,
    * submit scripts use T_fill=4). Temporal gap fill at slice t reads up to
    * `tFill` slices INTO THE FUTURE (fillTimeGaps pairs each flagged entry
    * with its next per-pixel occurrence), so a freshly-appended slice
    * cannot be finalized immediately. This wrapper holds the last `tFill`
    * raw slices back as PROVISIONAL state: a slice finalizes exactly when
    * `tFill` slices exist after it on the axis — at which point its
    * gap-fill status provably cannot change (a filler at index i needs
    * flagged support at some index ≤ i+tFill). Finalized slices then run
    * the batch pipeline's exact preprocessing — fillHoles(rFill) →
    * fillTimeGaps → fillHoles(rFill/2) — and feed [[extend]] with
    * morphology disabled (already applied), so the result is the batch
    * fixpoint on the finalized prefix. The left gap support for upcoming
    * fills lives in the `tFill` most recent FINALIZED slices, which ride
    * along in state (a filler at i has support at some index ≥ i−tFill, so
    * a deeper context is never consulted).
    *
    * Call [[flushGapFill]] when the archive ends to finalize the held
    * tail (with no future slices, pending fills are decided). */
  def extendGapFill(state: Option[IncState], newFlags: DataFrame, geom: DataFrame,
      spec: GridSpec, cfg: TrackConfig): (IncState, Increment) =
    gapFillStep(state, Some(newFlags), geom, spec, cfg, flush = false,
      ConnectedComponents.DriverThreshold)

  /** Finalize the slices still held back by [[extendGapFill]] — the end of
    * the archive: with no data after them, their gap-fill status is final.
    * Appending MORE data after a flush is allowed but treats the flush
    * point as a hard archive boundary: the flushed slices were finalized
    * without future support, so a temporal gap can never be filled ACROSS
    * the flush point (the one-shot batch over the concatenation could
    * fill it). Flush only when the archive has genuinely ended. */
  def flushGapFill(state: Option[IncState], geom: DataFrame,
      spec: GridSpec, cfg: TrackConfig): (IncState, Increment) =
    gapFillStep(state, None, geom, spec, cfg, flush = true,
      ConnectedComponents.DriverThreshold)

  /** [[extendGapFill]] (`newFlagsOpt` defined) or [[flushGapFill]], with
    * the inner [[extendBounded]]'s driver bound as a parameter. */
  private[marex] def gapFillStep(state: Option[IncState], newFlagsOpt: Option[DataFrame],
      geom: DataFrame, spec: GridSpec, cfg: TrackConfig,
      flush: Boolean, driverBound: Long): (IncState, Increment) = {
    require(cfg.tFill > 0, "use extend() directly when tFill == 0")
    val spark = geom.sparkSession
    import spark.implicits._

    val held = state.flatMap(_.held)
    val ctx = held.map(_.filter(col("finalized"))).getOrElse(
      Seq.empty[(Timestamp, Int, Int, Boolean)].toDF("time", "y", "x", "finalized"))
    val pending = held.map(_.filter(!col("finalized"))).getOrElse(ctx.limit(0))
    // both held axes from ONE collect of held's (time, finalized) rows
    val heldTimes = held.map(_.select("time", "finalized").distinct().collect()
      .map(r => (r.getTimestamp(0), r.getBoolean(1))).sortWith(_._1 before _._1).toSeq)
      .getOrElse(Seq.empty)
    val ctxTimes = heldTimes.filter(_._2).map(_._1)
    val pendTimes = heldTimes.filterNot(_._2).map(_._1)
    val newFlags = newFlagsOpt.map(_.select("time", "y", "x"))
    val newTimes = newFlags.map(_.select("time").distinct()
      .orderBy("time").collect().map(_.getTimestamp(0)).toSeq).getOrElse(Seq.empty)
    (ctxTimes ++ pendTimes).lastOption.foreach { last =>
      require(newTimes.forall(_.after(last)),
        s"extendGapFill: appended slices must be strictly after $last")
    }

    // the (re)processable axis: held-back slices + the fresh block; the
    // context slices prepend only as gap-fill support, never re-emitted
    val procTimes = pendTimes ++ newTimes
    if (procTimes.isEmpty) return (state.getOrElse(
      IncState(emptySeamFor(cfg, spark), 0L, 1L, 1L)), noIncrement(spark))
    val nFinal = if (flush) procTimes.length else procTimes.length - cfg.tFill
    val baseState = state.map(_.copy(held = None))

    // boundedCheckpoint: ctx is the PREVIOUS batch's held frame, so a plain
    // checkpoint of this triple union grows its partition count every
    // batch (see Plans.boundedCheckpoint)
    val rawAll = graft.core.Plans.boundedCheckpoint(ctx.select("time", "y", "x")
      .unionByName(pending.select("time", "y", "x"))
      .unionByName(newFlags.getOrElse(pending.limit(0)).select("time", "y", "x")))
    def heldFrom(finalTs: Seq[Timestamp], pendTs: Seq[Timestamp]): DataFrame = {
      // keep only the last tFill finalized slices as future gap support
      val keepCtx = finalTs.takeRight(cfg.tFill)
      graft.core.Plans.boundedCheckpoint(rawAll.join(
        (keepCtx.map((_, true)) ++ pendTs.map((_, false)))
          .toDF("time", "finalized"), Seq("time")))
    }

    if (nFinal <= 0) {
      // nothing finalizes yet — everything new joins the pending tail
      val st = baseState.getOrElse(IncState(emptySeamFor(cfg, spark), 0L, 1L, 1L))
      return (st.copy(held = Some(heldFrom(ctxTimes, procTimes))), noIncrement(spark))
    }

    // batch-exact preprocessing over context ∪ pending ∪ new
    val axis = Some((ctxTimes ++ procTimes).toDF("time"))
    val landOpt = Raster.landMask(geom)
    val f1 = Raster.fillHoles(rawAll, cfg.rFill, spec, landOpt)
    val f3 = Raster.fillHoles(
      Track.fillTimeGaps(f1, cfg.tFill, axis), cfg.rFill / 2, spec, landOpt)
    val finalTimes = procTimes.take(nFinal)
    val block = f3.join(finalTimes.toDF("time"), Seq("time")).localCheckpoint()

    // morphology + gap fill already applied — the inner extension labels,
    // area-filters, and stitches exactly as the batch tracker would. The
    // finalized RAW axis rides along explicitly: a slice whose objects
    // preprocessing fully erased has no rows in `block` but must still
    // occupy its timestep (it separates its neighbors, exactly as in the
    // batch tracker).
    val innerCfg = cfg.copy(rFill = 0, tFill = 0)
    val (st2, inc) = extendBounded(baseState, block, geom, spec, innerCfg,
      Some(finalTimes), driverBound)
    (st2.copy(held = Some(heldFrom(ctxTimes ++ finalTimes, procTimes.drop(nFinal)))),
      inc)
  }

  private def emptySeamFor(cfg: TrackConfig,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    if (cfg.allowMerging)
      Seq.empty[(Int, Int, Long, Long)].toDF("y", "x", "gid", "event_id")
    else Seq.empty[(Int, Int, Long)].toDF("y", "x", "event_id")
  }

  /** Raster cells (slices × ny·nx) above which a block that fits the
    * driver bound still takes the distributed path. The driver path runs
    * the dense per-slice kernels one slice after another on one core and
    * keeps one Int label raster per slice of the block, so this caps its
    * serial raster work and that memory (4 bytes a cell, 8 MB). 2^21 lets
    * one or two 0.25° global days (720×1440 = 1,036,800 cells each) through;
    * a longer block of such a grid goes back to Spark, whose tasks run the
    * slices in parallel. */
  private[marex] val DriverRasterCells: Long = 1L << 21

  private def extendNonMerging(state: Option[IncState], newFlags: DataFrame,
      geom: DataFrame, spec: GridSpec, cfg: TrackConfig,
      rawAxis: Option[Seq[Timestamp]], driverBound: Long): (IncState, Increment) = {
    requireShared(cfg)
    val spark = newFlags.sparkSession
    import spark.implicits._
    def emptySeam = Seq.empty[(Int, Int, Long)].toDF("y", "x", "event_id")

    // ONE bounded action both measures the block and, when it fits the
    // bound, fetches it whole as (epoch µs, y, x)
    val whole = if (driverBound <= 0) None
      else Some(collectBounded(newFlags, driverBound)).filter(_.length <= driverBound)
    // the raw axis: every input slice occupies a timestep, processed or
    // not. A PRE-preprocessed block (extendGapFill) must pass the axis
    // explicitly — slices its morphology fully erased carry no rows here
    // but still separate their neighbors.
    val rawTimes = rawAxis.map(_.toArray).getOrElse(whole match {
      case Some(cells) => cells.map(_._1).distinct.sorted.map(DateTimeUtils.toJavaTimestamp)
      case None => newFlags.select("time").distinct()
        .orderBy("time").collect().map(_.getTimestamp(0))
    })
    if (rawTimes.isEmpty)
      return (state.getOrElse(IncState(emptySeam, 0L, 1L)), noIncrement(spark))
    val offset = state.map(_.nextEventId - 1).getOrElse(0L)

    val labeled = whole
      .filter(_ => rawTimes.length.toLong * spec.ny * spec.nx <= DriverRasterCells)
      .map(cells => labelOnDriver(state, cells, rawTimes, offset, geom, spec, cfg))
      .getOrElse(labelDistributed(state, newFlags, rawTimes, offset, geom, spec, cfg))
    labeled match {
      case None =>
        // every slice erased: the block still advances the axis past the seam
        val st = state.getOrElse(IncState(emptySeam, 0L, 1L))
        (st.copy(gapAfterSeam = st.gapAfterSeam + rawTimes.length), noIncrement(spark))
      case Some(l) =>
        val next = state.map(_.nextEventId).getOrElse(1L) + l.nIssued
        (IncState(l.seam, l.trailing, next), Increment(l.blockIds, l.remap, emptyMerges(spark)))
    }
  }

  /** A non-merging block's labels, the new seam, the number of events it
    * issued, and the raw slices erased after its last surviving one. */
  private final case class Labeled(blockIds: DataFrame, remap: DataFrame,
      seam: DataFrame, nIssued: Long, trailing: Long)

  private def noIncrement(spark: org.apache.spark.sql.SparkSession): Increment = {
    import spark.implicits._
    Increment(Seq.empty[(Timestamp, Int, Int, Long)].toDF("time", "y", "x", "event_id"),
      emptyRemap(spark), emptyMerges(spark))
  }

  private def emptyRemap(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("from_event_id", "to_event_id")
  }

  /** Up to `bound + 1` rows of `flags` as (epoch µs, y, x), in ONE job.
    * `collect()` on a limit plans `executeTake`, which scans partitions in
    * growing rounds, one job each (four on a day frame whose rows sit in
    * the last of 34 partitions); the limit's RDD form runs every
    * partition's local limit and the global limit in a single job. Above
    * the bound that job is one extra pass over the block, shuffling each
    * partition's first `bound + 1` rows to the one task that keeps them. */
  private def collectBounded(flags: DataFrame, bound: Long): Array[(Long, Int, Int)] =
    flags.select(col("time").cast("timestamp"), col("y").cast("int"), col("x").cast("int"))
      .limit((bound + 1).toInt)
      .queryExecution.toRdd
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .collect()

  /** The distributed non-merging path: preprocessing and the block-local
    * space-time CCL in Spark, the seam stitch through
    * [[ConnectedComponents.auto]]. Runs every block above the driver
    * bound; None when preprocessing erased every slice. */
  private def labelDistributed(state: Option[IncState], newFlags: DataFrame,
      rawTimes: Array[Timestamp], offset: Long, geom: DataFrame, spec: GridSpec,
      cfg: TrackConfig): Option[Labeled] = {
    val spark = newFlags.sparkSession
    import spark.implicits._
    val cells = preprocessBlock(newFlags, geom, spec, cfg)
    if (cells.isEmpty) return None

    // block-local space-time CCL over the RAW axis (erased interior slices
    // keep separating their neighbors), ids offset into the fresh id
    // range; the stitch reuses preprocessBlock's per-slice gids instead of
    // re-running the raster CCL
    val local = Track.labelSpaceTimeFromGids(cells, spec,
        timeAxis = Some(rawTimes.toSeq.toDF("time")))
      .withColumn("event_id", col("event_id") + offset)
      .localCheckpoint()
    val probe = local.agg(max("event_id"), min("time"), max("time")).head()
    val nIssued = probe.getLong(0) - offset
    val tFirst = probe.getTimestamp(1)
    val tLast = probe.getTimestamp(2)
    // raw slices erased at the block edges — they count toward seam gaps
    val gapBefore = rawTimes.indexWhere(_.equals(tFirst))
    val trailing = rawTimes.length - 1 - rawTimes.indexWhere(_.equals(tLast))

    val (blockIds, remap) = state match {
      case None => (local, emptyRemap(spark))
      // stitch only when the seam slice and the first surviving new slice
      // are ADJACENT on the combined raw axis (no erased slice between)
      case Some(st) if st.gapAfterSeam + gapBefore > 0 => (local, emptyRemap(spark))
      case Some(st) =>
        // seam edges: old last-slice cells vs the first new slice, fanned
        // with the shared 26-connectivity time face (diagonals, x-wrap)
        val firstNew = local.filter(col("time") === lit(tFirst))
        val fanned = Track.fanNeighborhood(
          st.seam.withColumnRenamed("event_id", "old_id"), spec, keep = Seq("old_id"))
        val edges = firstNew.select(col("y"), col("x"), col("event_id"))
          .join(fanned, Seq("y", "x"))
          .select(col("old_id").as("src"), col("event_id").as("dst"))
          .distinct()
        if (edges.isEmpty) (local, emptyRemap(spark))
        else {
          // components over the bipartite seam graph (old ∪ provisional ids
          // are disjoint ranges); canonical = the smallest OLD id present —
          // every component has one, edges always touch the seam
          val comp = ConnectedComponents.auto(edges)
          val canon = comp.filter(col("node") <= offset)
            .groupBy("component").agg(min("node").as("canon_id"))
          val full = comp.join(canon, "component")
            .select(col("node"), col("canon_id"))
            .filter(col("node") =!= col("canon_id"))
            .localCheckpoint()
          val blockMap = full.filter(col("node") > offset)
            .withColumnRenamed("node", "event_id")
          val relabeled = local.join(broadcast(blockMap), Seq("event_id"), "left")
            .select(col("time"), col("y"), col("x"),
              coalesce(col("canon_id"), col("event_id")).as("event_id"))
            .localCheckpoint()
          (relabeled,
            full.filter(col("node") <= offset)
              .select(col("node").as("from_event_id"), col("canon_id").as("to_event_id")))
        }
    }

    val seam = blockIds.filter(col("time") === lit(tLast))
      .select("y", "x", "event_id").localCheckpoint()
    Some(Labeled(blockIds, remap, seam, nIssued, trailing.toLong))
  }

  /** The driver non-merging path, for a block already collected whole: the
    * distributed path's steps over arrays, with its id rules. Per slice,
    * [[Raster.fillHolesSlice]] and [[Raster.labelSlice]] (the kernels the
    * Spark tasks run), gids from the cumulative per-slice offset
    * ([[Track.globalIds]]) and the absolute area filter
    * ([[Track.filterSmallObjects]]); then the block-local 26-connected
    * space-time CCL over the raw axis with events numbered by (first time,
    * min gid) ([[Track.labelSpaceTimeFromGids]]), and the seam stitch
    * through [[ConnectedComponents.unionFindLocal]] with the smallest old
    * id canonical. The results are local relations, so no checkpoint is
    * taken; the geometry is the only other collect. */
  private def labelOnDriver(state: Option[IncState], block: Array[(Long, Int, Int)],
      rawTimes: Array[Timestamp], offset: Long, geom: DataFrame, spec: GridSpec,
      cfg: TrackConfig): Option[Labeled] = {
    spec.requireRaster()
    val spark = geom.sparkSession
    import spark.implicits._
    val ny = spec.ny; val nx = spec.nx; val wrap = spec.periodicX

    // land mask and cell areas from one geometry collect; a cell missing
    // from the geometry or with a null area adds no area, as in the
    // distributed area join and sum
    val threshold = cfg.areaFilterAbsolute
    val land = new Array[Boolean](ny * nx)
    val area = new Array[Double](ny * nx)
    val known = new Array[Boolean](ny * nx)
    geom.select(Seq(col("y").cast("int"), col("x").cast("int"), col("valid")) ++
        threshold.map(_ => col("area").cast("double")): _*)
      .collect().foreach { r =>
        val i = r.getInt(0) * nx + r.getInt(1)
        if (!r.isNullAt(2) && !r.getBoolean(2)) land(i) = true
        if (threshold.isDefined && !r.isNullAt(3)) {
          area(i) += r.getDouble(3)
          known(i) = true
        }
      }

    // per-slice morphology, labels and area filter; slice times are epoch
    // ms, as in the Spark kernels
    val offs = Raster.diskOffsets(math.max(cfg.rFill, 0))
    val bySlice = block.groupBy(c => Math.floorDiv(c._1, 1000L)).toArray.sortBy(_._1)
    var gidBase = 0L
    val slices = bySlice.map { case (ms, cells) =>
      val grid = new Array[Boolean](ny * nx)
      cells.foreach { case (_, y, x) => grid(y * nx + x) = true }
      val label = Raster.labelSlice(
        Raster.fillHolesSlice(grid, ny, nx, offs, wrap, land), ny, nx, wrap)
      val nLabels = label.max
      threshold.foreach { thr =>
        val sum = new Array[Double](nLabels + 1)
        val seen = new Array[Boolean](nLabels + 1)
        label.indices.foreach { i =>
          if (label(i) > 0 && known(i)) { sum(label(i)) += area(i); seen(label(i)) = true }
        }
        label.indices.foreach { i =>
          if (label(i) > 0 && !(seen(label(i)) && sum(label(i)) >= thr)) label(i) = 0
        }
      }
      val slice = (new Timestamp(ms), label, gidBase)
      gidBase += nLabels
      slice
    }.filter(_._2.exists(_ > 0))
    if (slices.isEmpty) return None

    // the 3×3 fan of Track.fanNeighborhood: y stops at the edges, x wraps
    // when periodic
    def neighbourhood(i: Int)(f: Int => Unit): Unit = {
      val y = i / nx; val x = i % nx
      var dy = -1
      while (dy <= 1) {
        val yy = y + dy
        var dx = -1
        while (dx <= 1) {
          val xx = if (wrap) Math.floorMod(x + dx, nx) else x + dx
          if (yy >= 0 && yy < ny && xx >= 0 && xx < nx) f(yy * nx + xx)
          dx += 1
        }
        dy += 1
      }
    }

    // space-time edges between slices adjacent on the raw axis
    val axisIndex = rawTimes.zipWithIndex.toMap
    val byIndex = slices.flatMap(s => axisIndex.get(s._1).map(_ -> s)).toMap
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    byIndex.foreach { case (k, (_, label, base)) =>
      byIndex.get(k + 1).foreach { case (_, next, nextBase) =>
        label.indices.foreach { i =>
          if (label(i) > 0)
            neighbourhood(i)(j => if (next(j) > 0) edges += ((base + label(i), nextBase + next(j))))
        }
      }
    }
    val comp = ConnectedComponents.unionFindLocal(edges.iterator)
    def root(gid: Long): Long = comp.getOrElse(gid, gid)
    // events numbered by (first time, min gid) from offset + 1; a
    // component's root IS its min gid
    val firstSlice = scala.collection.mutable.LinkedHashMap[Long, Int]()
    slices.zipWithIndex.foreach { case ((_, label, base), p) =>
      label.foreach(l => if (l > 0) firstSlice.getOrElseUpdate(root(base + l), p))
    }
    val eventOf = firstSlice.toSeq.sortBy { case (r, p) => (p, r) }.zipWithIndex
      .map { case ((r, _), k) => r -> (offset + k + 1) }.toMap
    def eventAt(slice: (Timestamp, Array[Int], Long), i: Int): Long = {
      val l = slice._2(i)
      if (l > 0) eventOf(root(slice._3 + l)) else 0L
    }
    val tFirst = slices.head._1
    val tLast = slices.last._1
    // raw slices erased at the block edges — they count toward seam gaps
    val gapBefore = rawTimes.indexWhere(_.equals(tFirst))
    val trailing = rawTimes.length - 1 - rawTimes.indexWhere(_.equals(tLast))

    // the seam stitch: old seam cells fanned onto the first new slice when
    // the two are adjacent on the combined raw axis; every id of a seam
    // component maps to its smallest OLD id
    val canonOf: Map[Long, Long] = state match {
      case Some(st) if st.gapAfterSeam + gapBefore == 0 =>
        val seamEdges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        st.seam.select(col("y").cast("int"), col("x").cast("int"), col("event_id").cast("long"))
          .collect().foreach { r =>
            neighbourhood(r.getInt(0) * nx + r.getInt(1)) { j =>
              val e = eventAt(slices.head, j)
              if (e > 0) seamEdges += ((r.getLong(2), e))
            }
          }
        val c = ConnectedComponents.unionFindLocal(seamEdges.iterator)
        val canon = c.toSeq.filter(_._1 <= offset).groupBy(_._2)
          .map { case (k, nodes) => k -> nodes.map(_._1).min }
        c.flatMap { case (node, k) => canon.get(k).filter(_ != node).map(node -> _) }
      case _ => Map.empty
    }

    val rows = slices.flatMap { slice =>
      slice._2.indices.filter(slice._2(_) > 0).map { i =>
        val e = eventAt(slice, i)
        (slice._1, i / nx, i % nx, canonOf.getOrElse(e, e))
      }
    }
    val seam = rows.filter(_._1 == tLast).map(r => (r._2, r._3, r._4))
    Some(Labeled(rows.toSeq.toDF("time", "y", "x", "event_id"),
      canonOf.filter(_._1 <= offset).toSeq.toDF("from_event_id", "to_event_id"),
      seam.toSeq.toDF("y", "x", "event_id"), eventOf.size.toLong, trailing.toLong))
  }

  private def emptyMerges(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Timestamp, Long, Seq[Long], Seq[Long], Seq[Double], Long, Long)]
      .toDF("time", "child_id", "parent_ids", "child_ids", "overlap_areas",
        "n_parents", "n_children")
  }

  /** Merging-mode extension. The combined input (seam slice + new block) is
    * resolved by the SAME batch-parallel split/merge the batch tracker runs;
    * the seam slice — the earliest timestep of the combined axis — is never
    * a child, so it is provably untouched by the resolution, which is what
    * makes history append-stable. Event components then compose through the
    * seam: every component of the block's overlap-pair graph that contains a
    * seam gid adopts the smallest old event id among them (others become
    * remap rows); components with no seam contact mint fresh event ids. */
  private def extendMerging(state: Option[IncState], newFlags: DataFrame,
      geom: DataFrame, spec: GridSpec, cfg: TrackConfig,
      rawAxis: Option[Seq[Timestamp]]): (IncState, Increment) = {
    requireShared(cfg)
    require(!cfg.sequentialSplitMerge,
      "incremental merging tracking uses the batch-parallel split/merge " +
        "(Track.splitAndMerge); the sequential pass is a whole-run driver " +
        "algorithm and cannot run on an append")
    val spark = newFlags.sparkSession
    import spark.implicits._
    def emptySeam = Seq.empty[(Int, Int, Long, Long)].toDF("y", "x", "gid", "event_id")
    def freshState = IncState(emptySeam, 0L, 1L, 1L)

    val rawTimes = rawAxis.map(_.toArray).getOrElse(
      newFlags.select("time").distinct()
        .orderBy("time").collect().map(_.getTimestamp(0)))
    if (rawTimes.isEmpty) return (state.getOrElse(freshState), noIncrement(spark))

    val cells = preprocessBlock(newFlags, geom, spec, cfg)
    if (cells.isEmpty) {
      val st = state.getOrElse(freshState)
      return (st.copy(gapAfterSeam = st.gapAfterSeam + rawTimes.length), noIncrement(spark))
    }

    // block-local per-slice objects, offset into the fresh gid range
    val gidOffset = state.map(_.nextGid - 1).getOrElse(0L)
    val local = cells.withColumn("gid", col("gid") + gidOffset).localCheckpoint()
    val probe = local.agg(max("gid"), min("time"), max("time")).head()
    val nGids = probe.getLong(0) - gidOffset
    val tFirst = probe.getTimestamp(1)
    val tLast = probe.getTimestamp(2)
    val gapBefore = rawTimes.indexWhere(_.equals(tFirst))
    val trailing = rawTimes.length - 1 - rawTimes.indexWhere(_.equals(tLast))

    val stitch = state.exists(st =>
      st.gapAfterSeam + gapBefore == 0 && !st.seam.isEmpty)
    // the seam slice joins the combined axis under a synthetic timestamp
    // strictly before the block — only its ORDER matters (overlap pairing is
    // by dense index, Track.timeIndex); no exported row carries it (merge
    // genealogy time is the CHILD's timestep, always a real block slice)
    val seamTime = new Timestamp(tFirst.getTime - 1L)
    val axisTimes = if (stitch) seamTime +: rawTimes.toSeq else rawTimes.toSeq
    val axis = Some(axisTimes.toDF("time"))

    // identical resolution to the batch path: the block's slices plus the
    // seam's per-round trajectory replayed underneath, so round r of this
    // run sees exactly what round r of the whole-run batch iteration saw
    val seamReplay =
      if (stitch) Some((seamTime, state.get.seamTraj.getOrElse(
        // legacy state without a trajectory: converged seam as the only state
        state.get.seam.select(lit(0).as("round"), col("y"), col("x"), col("gid")))))
      else None
    val (resolved0, mergesRaw, captured) = Track.splitAndMergeReplay(
      local.select("time", "y", "x", "gid"), geom, cfg, axis,
      seamReplay, captureAt = Some(tLast))
    val resolved = resolved0.localCheckpoint()
    val merges = mergesRaw.localCheckpoint()

    // event components over the resolved overlap-pair graph (gid space)
    val pairs = Track.overlapPairs(resolved, cfg.overlapThreshold, axis)
      .select(col("id_p").as("src"), col("id_c").as("dst")).distinct()
    val comp = ConnectedComponents.auto(pairs)
    val roots = resolved.select("gid").distinct()
      .join(comp.withColumnRenamed("node", "gid"), Seq("gid"), "left")
      .select(col("gid"), coalesce(col("component"), col("gid")).as("root"))
      .localCheckpoint()

    // old event ids enter through the seam: canonical = min old event id in
    // the component; every other old event id in it is a retroactive merge
    val seamMap =
      if (stitch) state.get.seam.select(col("gid"), col("event_id").as("old_event"))
        .distinct()
      else emptySeam.select(col("gid"), col("event_id").as("old_event"))
    val withOld = roots.join(seamMap, Seq("gid"), "left")
    val canonOld = withOld.filter(col("old_event").isNotNull)
      .groupBy("root").agg(min("old_event").as("canon"))
      .localCheckpoint()
    val remap = withOld.filter(col("old_event").isNotNull)
      .join(canonOld, "root")
      .filter(col("old_event") =!= col("canon"))
      .select(col("old_event").as("from_event_id"), col("canon").as("to_event_id"))
      .distinct()
      .localCheckpoint()

    // fresh event ids for components with no seam contact, numbered by
    // (first timestep, root) — denseNumber: no single-partition window
    val nextEv = state.map(_.nextEventId).getOrElse(1L)
    val firstT = resolved.join(roots, "gid").groupBy("root").agg(min("time").as("t0"))
    val freshRoots = firstT.join(canonOld.select("root"), Seq("root"), "left_anti")
    val fresh = Track.denseNumber(freshRoots, Seq("t0", "root"), "k")
      .select(col("root"), (col("k") + lit(nextEv - 1)).as("event_id"))
    val rootEvent = canonOld.select(col("root"), col("canon").as("event_id"))
      .unionByName(fresh)
    val gidEvent = roots.join(rootEvent, "root").select("gid", "event_id")
      .localCheckpoint()
    val nFresh = fresh.count()

    val blockResolved =
      if (stitch) resolved.filter(col("time") > lit(seamTime)) else resolved
    val blockIds = blockResolved.join(gidEvent, "gid")
      .select("time", "y", "x", "event_id").localCheckpoint()
    // the new seam carries the resolved gids (overlap fractions for the next
    // append are computed against them) AND the post-remap final event ids
    val seam = blockResolved.filter(col("time") === lit(tLast))
      .join(gidEvent, "gid")
      .select("y", "x", "gid", "event_id").localCheckpoint()

    (IncState(seam, trailing.toLong, nextEv + nFresh, gidOffset + nGids + 1,
        seamTraj = Some(captured.localCheckpoint())),
      Increment(blockIds, remap, merges))
  }

  // ── durable state (daily batch-append jobs) ─────────────────────────────

  /** Persist the tracker state so tomorrow's append JOB (a fresh
    * SparkSession) can continue where today's stopped — the batch twin of
    * [[graft.streaming.StreamingTracker]]'s internal recovery. Crash-safe
    * like the streaming manifest: data lands under a fresh `v=<n>/`
    * directory first, then `state.json` is renamed into place as the
    * commit marker; a crash mid-save leaves the previous state intact.
    * Versions older than the committed one are cleaned afterwards. */
  def saveState(st: IncState, dir: String): Unit = {
    val spark = st.seam.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(conf)
    val prev = readManifest(spark, dir)
    val v = prev.map(_._1 + 1).getOrElse(0L)
    st.seam.write.mode("overwrite").parquet(s"$dir/v=$v/seam")
    st.seamTraj.foreach(_.write.mode("overwrite").parquet(s"$dir/v=$v/traj"))
    st.held.foreach(_.write.mode("overwrite").parquet(s"$dir/v=$v/held"))
    val tmp = new org.apache.hadoop.fs.Path(dir, "state.json.tmp")
    val out = fs.create(tmp, true)
    out.write((s"""{"version": $v, "gapAfterSeam": ${st.gapAfterSeam}, """ +
      s""""nextEventId": ${st.nextEventId}, "nextGid": ${st.nextGid}, """ +
      s""""hasTraj": ${st.seamTraj.isDefined}, """ +
      s""""hasHeld": ${st.held.isDefined}}""").getBytes("UTF-8"))
    out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(base.toUri, conf)
      .rename(tmp, new org.apache.hadoop.fs.Path(dir, "state.json"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    prev.foreach { case (pv, _, _, _, _, _) =>
      (0L to pv).foreach(old =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, s"v=$old"), true))
    }
  }

  /** Restore state saved by [[saveState]]. Returns None when no committed
    * state exists (first run). Malformed manifests fail with a named
    * error rather than silently starting over. */
  def loadState(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[IncState] =
    readManifest(spark, dir).map { case (v, gap, nextEv, nextGid, hasTraj, hasHeld) =>
      val seam = spark.read.parquet(s"$dir/v=$v/seam")
      val traj = if (hasTraj) Some(spark.read.parquet(s"$dir/v=$v/traj")) else None
      val held = if (hasHeld) Some(spark.read.parquet(s"$dir/v=$v/held")) else None
      IncState(seam, gap, nextEv, nextGid, traj, held)
    }

  private def readManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[(Long, Long, Long, Long, Boolean, Boolean)] = {
    val p = new org.apache.hadoop.fs.Path(dir, "state.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val js = new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    in.close()
    def field(k: String): String =
      s""""$k"\\s*:\\s*(\\w+)""".r.findFirstMatchIn(js).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(
          s"malformed incremental-tracker manifest at $p (missing $k): $js"))
    // hasHeld is absent in pre-tFill manifests — no held state then
    def optBool(k: String): Boolean =
      s""""$k"\\s*:\\s*(\\w+)""".r.findFirstMatchIn(js).exists(_.group(1) == "true")
    Some((field("version").toLong, field("gapAfterSeam").toLong,
      field("nextEventId").toLong, field("nextGid").toLong,
      field("hasTraj").toBoolean, optBool("hasHeld")))
  }
}
