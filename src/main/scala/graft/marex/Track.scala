package graft.marex

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** Tracking stage: boolean extreme field → morphological cleanup → per-slice
  * objects → temporally-stitched events with optional split/merge genealogy
  * (marEx track.py, T1–T23 in SURVEY.md §2.2).
  *
  * Execution shape mirrors the reference deliberately:
  *  - raster work (morphology, per-slice CCL) runs in per-timestep kernels
  *    ([[Raster]]), everything else is relational;
  *  - the object-pair graph is tiny relative to the field (≈#objects rows),
  *    so event stitching usually collects pairs and runs a driver union-find
  *    — the reference's scipy-on-driver choice (track.py:2883) — but routes
  *    through [[graft.operators.ConnectedComponents.auto]] so oversized pair
  *    graphs fall back to distributed label propagation instead of OOMing
  *    the driver;
  *  - split/merge runs as the batch-parallel iteration (track.py:3804–4814):
  *    each round is one Spark job over all timesteps — overlap pairs →
  *    multi-parent children → centroid partitioning of child cells —
  *    with `localCheckpoint` truncating lineage per round.
  */
object Track {

  final case class TrackResult(
      idField: DataFrame, // (time, y, x, event_id)
      eventProps: DataFrame, // (time, event_id, area, cen_lat, cen_lon, n_cells)
      events: DataFrame, // (event_id, time_start, time_end, n_timesteps, max_area)
      // full merge genealogy (track.py:3776–3793): (time = merge_time,
      // child_id, parent_ids ARRAY, child_ids ARRAY, overlap_areas ARRAY
      // parent-aligned, n_parents, n_children)
      merges: DataFrame,
      // the reference's per-(time, ID, sibling_ID) merge_ledger
      // (track.py:3026–3106) in long form: (time, event_id,
      // sibling_event_ids ARRAY) — FINAL event ids of all co-parents
      mergeLedger: DataFrame,
      statsFn: () => Map[String, Long]) {
    /** Run statistics (n_objects_prefiltered/filtered, n_events_final,
      * total_merges) — computed on demand: each is an extra Spark job, and
      * most callers only consume the tables. */
    lazy val stats: Map[String, Long] = statsFn()
  }

  /** T22: regional-mode preset — no periodic longitude (track.py:5471–5558). */
  def regionalSpec(ny: Int, nx: Int): GridSpec =
    GridSpec(ny = ny, nx = nx, periodicX = false)

  /** T21: run metadata persisted as JSON next to outputs — the Spark
    * equivalent of the reference's dataset attrs (track.py:1451–1484). */
  def writeRunMetadata(res: TrackResult, cfg: TrackConfig, path: String): Unit = {
    val stats = res.stats
    val json =
      s"""{"r_fill": ${cfg.rFill}, "t_fill": ${cfg.tFill},
          "area_filter_quartile": ${cfg.resolvedQuartile},
          "overlap_threshold": ${cfg.overlapThreshold},
          "allow_merging": ${cfg.allowMerging},
          "nn_partitioning": ${cfg.nnPartitioning},
          "n_objects_prefiltered": ${stats("n_objects_prefiltered")},
          "n_objects_filtered": ${stats("n_objects_filtered")},
          "n_events_final": ${stats("n_events_final")},
          "total_merges": ${stats("total_merges")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes)
  }

  /** T4: total flagged area per timestep (track.py:1499–1518). */
  def computeArea(flags: DataFrame, geom: DataFrame): DataFrame =
    flags.join(geom.select("y", "x", "area"), Seq("y", "x"))
      .groupBy("time").agg(sum("area").as("total_area"))

  /** Dense timestep index (rank over distinct times). The reference pairs
    * consecutive timesteps by INDEX into the time axis (track.py:2474), not
    * by calendar arithmetic — a 6-hourly or monthly axis must still pair t
    * with the next timestep. Calendar `date_sub(time, 1)` pairing silently
    * yields ZERO overlaps on any non-daily axis (every object becomes its
    * own event), so everything time-adjacent goes through this index.
    *
    * @param timeAxis full time axis of the source field, if known. Defaults
    *   to the distinct times present in `df`; pass the real axis when whole
    *   timesteps can be empty (an empty slice still separates its neighbors
    *   by 2 index steps in the reference).
    *
    * The rank window runs over one row per timestep — bounded by #timesteps,
    * never by field size. */
  def timeIndex(df: DataFrame, timeAxis: Option[DataFrame] = None): DataFrame =
    timeAxis.getOrElse(df).select("time").distinct()
      .withColumn("t_idx", row_number().over(Window.orderBy("time")).cast("long"))

  /** T7: fill temporal gaps ≤ tFill timesteps per pixel (binary closing
    * along the time axis, track.py:1675–1726) — lag/lead window logic over
    * the dense timestep index, no raster needed. */
  def fillTimeGaps(flags: DataFrame, tFill: Int,
      timeAxis: Option[DataFrame] = None): DataFrame = {
    if (tFill <= 0) return flags.select("time", "y", "x")
    val idx = timeIndex(flags, timeAxis)
    val fIdx = flags.join(idx, "time")
    val w = Window.partitionBy("y", "x").orderBy("t_idx")
    val withNext = fIdx.select(col("t_idx"), col("y"), col("x"))
      .withColumn("next_i", lead("t_idx", 1).over(w))
      .withColumn("gap", col("next_i") - col("t_idx"))
    val filler = withNext
      .filter(col("gap").between(2, tFill + 1))
      .select(explode(sequence(col("t_idx") + 1, col("next_i") - 1)).as("t_idx"),
        col("y"), col("x"))
      .join(idx, "t_idx")
      .select("time", "y", "x")
    flags.select("time", "y", "x").union(filler).distinct()
  }

  /** T10: per-slice labels → globally unique ids via cumulative offset of
    * per-slice max label (track.py:2762–2766). The window runs over one row
    * per timestep, not over the field. */
  def globalIds(labeled: DataFrame): DataFrame = {
    val maxPerT = labeled.groupBy("time").agg(max("label").as("m"))
    val w = Window.orderBy("time").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = maxPerT
      .withColumn("off", coalesce(sum("m").over(w), lit(0L)))
      .select(col("time"), col("off"))
    labeled.join(offsets, Seq("time"))
      .withColumn("gid", (col("label") + col("off")).cast("long"))
      .select("time", "y", "x", "gid")
  }

  /** Above this many objects the quantile switches from a driver collect to
    * the distributed sort path — ~32 MB of doubles is the comfortable driver
    * bound; 10⁷-object runs never materialize the area list. */
  private[marex] val QuantileCollectLimit = 4000000L

  /** Exact numpy-style linear-interpolation quantile of a single-double-
    * column DataFrame (matching the reference's np.percentile,
    * track.py:1310). ≤ [[QuantileCollectLimit]] rows collect and sort on the
    * driver (the reference's own shape); larger inputs compute the SAME
    * value distributedly — global sort + zipWithIndex, fetch only the two
    * bracketing ranks — so the list never materializes on the driver. */
  private[marex] def exactQuantile(values: DataFrame, q: Double): Double = {
    val colName = values.columns.head
    val v = values.select(col(colName).cast("double"))
    val n = v.count()
    if (n == 0L) return 0.0
    val pos = q * (n - 1)
    val lo = pos.toLong
    val hi = math.min(lo + 1, n - 1)
    if (n <= QuantileCollectLimit) {
      val arr = v.collect().map(_.getDouble(0)).sorted
      arr(lo.toInt) + (pos - lo) * (arr(hi.toInt) - arr(lo.toInt))
    } else {
      val two = v.orderBy(colName).rdd
        .map(_.getDouble(0)).zipWithIndex()
        .filter { case (_, i) => i == lo || i == hi }
        .collect().sortBy(_._2).map(_._1)
      val vLo = two(0)
      val vHi = if (two.length > 1) two(1) else two(0)
      vLo + (pos - lo) * (vHi - vLo)
    }
  }

  /** T11: drop objects below the area threshold — `quartile` of the object
    * area distribution (exact numpy-style linear interpolation, matching the
    * reference track.py:1310) or an absolute threshold (track.py:1755–1906).
    *
    * Small runs (≤ [[QuantileCollectLimit]] objects) collect the per-object
    * area list like the reference does; larger runs compute the SAME exact
    * quantile distributedly — global sort + zipWithIndex, fetch only the two
    * bracketing ranks — so no driver OOM at 10⁷+ objects. */
  def filterSmallObjects(ids: DataFrame, geom: DataFrame, cfg: TrackConfig): DataFrame = {
    // quartile 0 = threshold at the minimum area = keep everything: skip
    // the area aggregation + quantile jobs outright (exact, not a shortcut)
    if (cfg.areaFilterAbsolute.isEmpty && cfg.resolvedQuartile == 0.0
        && !cfg.dropSmallestObject)
      return ids
    val areas0 = ids.join(geom.select("y", "x", "area"), Seq("y", "x"))
      .groupBy("time", "gid").agg(sum("area").as("obj_area"))
    // the quantile path consumes `areas` three times (empty guard,
    // quantile, keep filter) — materialize ONCE so the join+agg plan does
    // not re-execute per consumer; the absolute path reads it once and
    // skips the checkpoint
    val areas =
      if (cfg.areaFilterAbsolute.isEmpty) areas0.localCheckpoint() else areas0
    val threshold: Double = cfg.areaFilterAbsolute.getOrElse {
      // the reference raises TrackingError here rather than letting an
      // empty quantile fail obscurely (track.py:1822/:1872)
      if (areas.isEmpty)
        throw new TrackingError("No objects found for area-based filtering",
          "Check if input data contains any extreme events (or, if ids are " +
            "non-empty, whether their (y, x) keys match the geometry table)",
          Map("area_filter_quartile" -> cfg.resolvedQuartile.toString))
      exactQuantile(areas.select("obj_area"), cfg.resolvedQuartile)
    }
    // reference parity: the structured branch force-drops the first object
    // entry — i.e. the smallest gid — regardless of its area (track.py:1898,
    // `object_ids_keep[0] = -1`; see TrackConfig.dropSmallestObject)
    val keep0 = areas.filter(col("obj_area") >= threshold).select("time", "gid")
    val keep =
      if (cfg.dropSmallestObject)
        keep0.join(ids.agg(min("gid").as("gid")), Seq("gid"), "left_anti")
      else keep0
    ids.join(keep, Seq("time", "gid"), "left_semi")
  }

  /** T12/T16: per-(time, id) area + area-weighted spherical centroid
    * (reference's unstructured formula for both grid types — Cartesian mean
    * then atan2 back, track.py:2195–2230, which also fixes the acknowledged
    * polar bias of the pixel-index path). */
  def objectProps(ids: DataFrame, geom: DataFrame, idCol: String = "gid"): DataFrame = {
    val g = ids.join(geom.select("y", "x", "lat", "lon", "area"), Seq("y", "x"))
      .withColumn("phi", radians(col("lat")))
      .withColumn("lam", radians(col("lon")))
    g.groupBy("time", idCol)
      .agg(
        sum("area").as("area"),
        count(lit(1)).as("n_cells"),
        sum(col("area") * cos(col("phi")) * cos(col("lam"))).as("cx"),
        sum(col("area") * cos(col("phi")) * sin(col("lam"))).as("cy"),
        sum(col("area") * sin(col("phi"))).as("cz"))
      .withColumn("cen_lat", degrees(atan2(col("cz"), hypot(col("cx"), col("cy")))))
      .withColumn("cen_lon", degrees(atan2(col("cy"), col("cx"))))
      .drop("cx", "cy", "cz")
  }

  /** T13+T14: overlapping (t, t+1) object pairs with overlap fraction ≥
    * threshold; fraction = overlap_cells / min(parent_cells, child_cells)
    * (track.py:2396–2552). One equi-join shuffled on (t_idx, y, x);
    * consecutive timesteps are paired by dense index ([[timeIndex]]),
    * matching the reference's index-space pairing (track.py:2474).
    *
    * Keys are (t_idx, gid): after split/merge reassignment a child's cells
    * carry its *parent's* gid forward, so the same gid legitimately exists
    * at many timesteps — per-gid-only counts would silently mix timesteps
    * and corrupt the fractions (found as a convergence hang).
    * @return (time = parent timestep, ctime = child timestep, id_p, id_c,
    *         overlap_cells, frac) */
  def overlapPairs(ids: DataFrame, overlapThreshold: Double,
      timeAxis: Option[DataFrame] = None): DataFrame = {
    val idx = timeIndex(ids, timeAxis)
    val withIdx = ids.join(idx, "time")
    val a = withIdx.select(col("t_idx"), col("time"), col("y"), col("x"),
      col("gid").as("id_p"))
    val b = withIdx.select((col("t_idx") - 1).as("t_idx"),
      col("time").as("ctime"), col("y"), col("x"), col("gid").as("id_c"))
    val overlap = a.join(b, Seq("t_idx", "y", "x"))
      .groupBy("t_idx", "time", "ctime", "id_p", "id_c")
      .agg(count(lit(1)).as("overlap_cells"))
    val counts = withIdx.groupBy("t_idx", "gid").agg(count(lit(1)).as("n"))
    val pCounts = counts.select(col("t_idx"), col("gid").as("id_p"), col("n").as("n_p"))
    val cCounts = counts.select((col("t_idx") - 1).as("t_idx"),
      col("gid").as("id_c"), col("n").as("n_c"))
    overlap
      .join(pCounts, Seq("t_idx", "id_p"))
      .join(cCounts, Seq("t_idx", "id_c"))
      .withColumn("frac", col("overlap_cells").cast("double") / least(col("n_p"), col("n_c")).cast("double"))
      .filter(col("frac") >= overlapThreshold)
      .select("time", "ctime", "id_p", "id_c", "overlap_cells", "frac")
  }

  // native codegen'd Catalyst expression (graft.plans.HaversineKm)
  private def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    graft.plans.HaversineKm.haversineKm(lat1, lon1, lat2, lon2)

  /** T17–T20 (batch-parallel form): resolve children overlapping multiple
    * parents by partitioning the child's cells to the nearest parent
    * centroid (haversine, T20); repeat until no multi-parent child remains.
    * Returns the updated id field and the merge ledger. */
  def splitAndMerge(ids0: DataFrame, geom: DataFrame, cfg: TrackConfig,
      timeAxis: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val (ids, merges, _) = splitAndMergeReplay(ids0, geom, cfg, timeAxis, None, None)
    (ids, merges)
  }

  /** [[splitAndMerge]] with the two hooks the incremental tracker needs for
    * EXACT batch equivalence (see [[IncrementalTracker]]):
    *
    *  - `seamTraj` — replay a earlier slice's per-round label states: the
    *    batch iteration resolves all timesteps in SIMULTANEOUS rounds, so
    *    round r at the block's first slice reads the seam's round-(r−1)
    *    state, not its converged state. Labels never depend on later times,
    *    so the batch fixpoint is prefix-stable PER ROUND — replaying the
    *    seam's sparse trajectory `(round, y, x, gid)` (state AFTER each
    *    round that changed it; round 0 = initial labels) reproduces the
    *    whole-run fixpoint on the suffix exactly. `ids0` must NOT contain
    *    the seam slice; the slice is injected per round and reassignment
    *    can never touch it (children live strictly later).
    *  - `captureAt` — record that slice's own per-round states (the NEXT
    *    seam's trajectory), same sparse layout.
    *
    * The trajectory is one slice × #rounds-that-changed-it — bounded by
    * `maxOuterIter`, in practice 1–3 states.
    *
    * @return (resolved ids — including the final-round seam slice when
    *         replaying, merges, captured trajectory (empty unless
    *         `captureAt`)) */
  private[marex] def splitAndMergeReplay(ids0: DataFrame, geom: DataFrame,
      cfg: TrackConfig, timeAxis: Option[DataFrame],
      seamTraj: Option[(java.sql.Timestamp, DataFrame)],
      captureAt: Option[java.sql.Timestamp]): (DataFrame, DataFrame, DataFrame) = {
    val spark = ids0.sparkSession
    import spark.implicits._
    val trajRounds: Seq[Int] = seamTraj.map(_._2.select("round").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq).getOrElse(Nil)
    // the seam slice as of (the state after) round r, timestamped
    def seamAt(r: Int): Option[DataFrame] = seamTraj.map { case (t, df) =>
      val eff = trajRounds.filter(_ <= r).lastOption.getOrElse(
        throw new ProcessingError(s"seam trajectory has no state <= round $r"))
      df.filter(col("round") === eff)
        .select(lit(t).cast("timestamp").as("time"), col("y"), col("x"), col("gid"))
    }
    val seamTime = seamTraj.map(_._1)
    var ids = graft.core.Plans.iterCheckpoint(ids0)
    var mergesAcc: DataFrame =
      Seq.empty[(java.sql.Timestamp, Long, Seq[Long], Seq[Long], Seq[Double])]
        .toDF("time", "child_id", "parent_ids", "child_ids", "overlap_areas")
    var capture: DataFrame = captureAt match {
      case Some(t) => graft.core.Plans.iterCheckpoint(ids0.filter(col("time") === lit(t))
        .select(lit(0).as("round"), col("y"), col("x"), col("gid")))
      case None => Seq.empty[(Int, Int, Int, Long)].toDF("round", "y", "x", "gid")
    }
    var iter = 0
    var done = false
    while (!done && iter < cfg.maxOuterIter) {
      val round = iter + 1 // batch round counter; round r reads state r−1
      val cur = seamAt(round - 1) match {
        case Some(s) => ids.unionByName(s)
        case None => ids
      }
      // pairs.time = parent timestep; the child lives at ctime = the NEXT
      // timestep on the axis (index-paired, works for any time spacing).
      // iterCheckpoint (NOT plain localCheckpoint — see its scaladoc):
      // bounds each round's executed plan AND resets the inherited stats
      // estimate. Object-level rows, so the materialization is cheap.
      val pairs = graft.core.Plans.iterCheckpoint(overlapPairs(cur, cfg.overlapThreshold, timeAxis))
      // children (time, gid) claimed by >1 parent — keys MUST include the
      // timestep: after a reassignment round the same gid exists at many
      // timesteps (cells inherit the parent's gid going forward).
      // Parents and their overlap areas are collected as ONE sorted struct
      // list so parent_ids and overlap_areas stay index-aligned (the
      // reference's parent_idx axis, track.py:3776–3793).
      val multi = graft.core.Plans.iterCheckpoint(pairs.groupBy("ctime", "id_c")
        .agg(sort_array(collect_list(struct(col("id_p"), col("overlap_cells")))).as("po"),
          count(lit(1)).as("np"))
        .withColumn("parents", expr("transform(po, p -> p.id_p)"))
        .withColumn("areas", expr("transform(po, p -> cast(p.overlap_cells as double))"))
        .filter(col("np") > 1))
      // a still-evolving seam can re-contest children in later rounds even
      // when this round found none — keep stepping until it is exhausted
      val seamPending = trajRounds.exists(_ > round - 1)
      if (multi.isEmpty) { if (!seamPending) done = true }
      else {
        val contested = pairs.join(multi.select("ctime", "id_c"), Seq("ctime", "id_c"), "left_semi")
        // contested child cells with their coordinates
        val childCells = cur
          .join(multi.select(col("ctime").as("time"), col("id_c").as("gid")),
            Seq("time", "gid"), "left_semi")
          .join(geom.select("y", "x", "lat", "lon"), Seq("y", "x"))
        // Nearest-parent assignment per contested cell. Two kernels, matching
        // the reference's pair (track.py:4826–5353):
        //  - centroid partitioning (T20): distance to each parent's centroid;
        //  - NN partitioning (T19): distance to the *nearest cell* of each
        //    parent — resolves interleaved shapes better; fan-out is
        //    |child cells| × |cells of its parents|, bounded by object size,
        //    not corpus size (both sides are semi-joined down first).
        val contestedK = contested.select(
          col("ctime").as("time"), col("id_c").as("gid"),
          col("time").as("ptime"), col("id_p"))
        val assigned = (if (!cfg.nnPartitioning) {
          val props = objectProps(cur, geom)
          val parentCen = contestedK
            .join(props.select(col("time").as("ptime"), col("gid").as("id_p"),
              col("cen_lat").as("p_lat"), col("cen_lon").as("p_lon")), Seq("ptime", "id_p"))
          childCells
            .join(parentCen, Seq("time", "gid"))
            .withColumn("dist", haversineKm(col("lat"), col("lon"), col("p_lat"), col("p_lon")))
        } else {
          val parentCells = cur
            .join(contestedK.select(col("ptime").as("time"), col("id_p").as("gid")).distinct(),
              Seq("time", "gid"), "left_semi")
            .join(geom.select("y", "x", "lat", "lon"), Seq("y", "x"))
            .select(col("time").as("ptime"), col("gid").as("id_p"),
              col("lat").as("p_lat"), col("lon").as("p_lon"))
          childCells
            .join(contestedK, Seq("time", "gid"))
            .join(parentCells, Seq("ptime", "id_p"))
            .withColumn("dist", haversineKm(col("lat"), col("lon"), col("p_lat"), col("p_lon")))
        })
          .withColumn("rn", row_number().over(
            Window.partitionBy("time", "y", "x", "gid").orderBy(col("dist"), col("id_p"))))
          .filter(col("rn") === 1)
          .select(col("time"), col("y"), col("x"), col("id_p").as("gid"))
        val untouched = cur.join(
          multi.select(col("ctime").as("time"), col("id_c").as("gid")),
          Seq("time", "gid"), "left_anti")
        // batch-parallel reassignment hands child cells the PARENT ids (no
        // fresh fragment ids are minted), so child_ids is the singleton
        // [child_id] — n_children = 1 in this path by construction.
        val newMerges = multi
          .select(col("ctime").as("time"), col("id_c").cast("long").as("child_id"),
            col("parents").cast("array<long>").as("parent_ids"),
            array(col("id_c").cast("long")).as("child_ids"),
            col("areas").as("overlap_areas"))
        // a fragment re-contested in a later round supersedes its earlier
        // record: keep only the NEWEST per (time, child) — matching the
        // queue's sequential rename and the unstructured batch path
        mergesAcc = graft.core.Plans.iterCheckpoint(newMerges.unionByName(
          mergesAcc.join(newMerges.select("time", "child_id"),
            Seq("time", "child_id"), "left_anti")))
        val updated = untouched.select("time", "y", "x", "gid")
          .union(assigned.select("time", "y", "x", "gid"))
        // in replay mode `ids` stays seam-free (the slice re-injects per
        // round from the trajectory; reassignment cannot touch it anyway)
        ids = graft.core.Plans.iterCheckpoint(seamTime match {
          case Some(t) => updated.filter(col("time") =!= lit(t))
          case None => updated
        })
        captureAt.foreach { t =>
          if (!multi.filter(col("ctime") === lit(t)).isEmpty)
            capture = graft.core.Plans.iterCheckpoint(capture.unionByName(
              ids.filter(col("time") === lit(t))
                .select(lit(round).as("round"), col("y"), col("x"), col("gid"))))
        }
      }
      iter += 1
    }
    val resolved = seamAt(Int.MaxValue - 1) match {
      case Some(s) => ids.unionByName(s)
      case None => ids
    }
    // a parent recorded in round r can lose every cell to a later round's
    // partitioning — repair drops PARENT references to gids absent from
    // the final field (same pass the unstructured batch path runs).
    // child_ids stay as recorded: this path hands every child cell a
    // PARENT id by construction, so the historical child id legitimately
    // never appears in the final field.
    (resolved, repairGenealogy(mergesAcc, resolved, repairChildren = false)
      .withColumn("n_parents", size(col("parent_ids")).cast("long"))
      .withColumn("n_children", size(col("child_ids")).cast("long")), capture)
  }

  /** A gid recorded in round r's genealogy can lose every cell to a LATER
    * round's partitioning and never reach the final field; a downstream
    * join (e.g. [[mergeLedger]]'s gid → event map) would then silently
    * drop it. Filter every parent (and, when `repairChildren`, child)
    * reference down to gids that exist in the final field (keeping the
    * parent ↔ overlap-area alignment), and drop records left with fewer
    * than two parents — they are no longer merges. The merge table is
    * #merge-events rows: driver-scale joins.
    * @param repairChildren the unstructured path mints child FRAGMENT ids
    *   that live in the final field, so dangling ones are repairable; the
    *   gridded batch path renames child cells to parent ids by design —
    *   its recorded child ids are historical and must pass through. */
  private[marex] def repairGenealogy(merges: DataFrame, ids: DataFrame,
      repairChildren: Boolean = true): DataFrame = {
    val finalGids = ids.select(col("gid").cast("long").as("g")).distinct()
    val parents = merges.select(col("time"), col("child_id"),
        posexplode(arrays_zip(col("parent_ids"), col("overlap_areas"))).as(Seq("pos", "z")))
      .select(col("time"), col("child_id"), col("pos"),
        col("z.parent_ids").as("g"), col("z.overlap_areas").as("ov"))
      .join(finalGids, Seq("g"), "left_semi")
      .groupBy("time", "child_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("g"), col("ov")))).as("ps"))
      .select(col("time"), col("child_id"),
        expr("transform(ps, p -> p.g)").as("parent_ids"),
        expr("transform(ps, p -> p.ov)").as("overlap_areas"))
      .filter(size(col("parent_ids")) >= 2)
    if (!repairChildren)
      return parents.join(merges.select("time", "child_id", "child_ids"),
          Seq("time", "child_id"))
        .select("time", "child_id", "parent_ids", "child_ids", "overlap_areas")
    val children = merges.select(col("time"), col("child_id"),
        posexplode(col("child_ids")).as(Seq("pos", "g")))
      .join(finalGids, Seq("g"), "left_semi")
      .groupBy("time", "child_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("g")))).as("cs"))
      .select(col("time"), col("child_id"),
        expr("transform(cs, c -> c.g)").as("child_ids"))
    parents.join(children, Seq("time", "child_id"), "left")
      .select(col("time"), col("child_id"), col("parent_ids"),
        coalesce(col("child_ids"), array().cast("array<long>")).as("child_ids"),
        col("overlap_areas"))
  }

  /** Fan each row out to its 3×3 spatial neighborhood (the time face of
    * 26-connectivity: dy, dx ∈ {−1, 0, 1} incl. the center), wrapping x on
    * periodic grids and dropping out-of-bounds cells. `keep` columns pass
    * through unchanged. THE single definition of the cross-time spatial
    * connectivity — shared by [[labelSpaceTime]] and the incremental
    * tracker's seam stitch so the two can't drift apart. */
  private[marex] def fanNeighborhood(df: DataFrame, spec: GridSpec,
      keep: Seq[String]): DataFrame = {
    val offs = array((for (dy <- -1 to 1; dx <- -1 to 1)
      yield struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)
    val shiftedX =
      if (spec.periodicX) pmod(col("x") + col("o.dx"), lit(spec.nx))
      else col("x") + col("o.dx")
    df.select(col("y") +: col("x") +: explode(offs).as("o") +: keep.map(col): _*)
      .select((col("y") + col("o.dy")).as("y") +: shiftedX.as("x") +: keep.map(col): _*)
      .filter(col("y").between(0, spec.ny - 1) && col("x").between(0, spec.nx - 1))
  }

  /** T23 (true form): 3-D space-time connected-component labeling with
    * 26-connectivity — a cell at t links to any flagged cell at t±1 within
    * Chebyshev distance 1 in (y, x), INCLUDING the 8 time-diagonals
    * (track.py:2009–2030: structure = ones(3,3,3), wrap_axes=(2,) → x wraps,
    * y does not). This is the reference's non-merging tracker: an object
    * drifting one cell per timestep with zero overlap still chains into one
    * event, which overlap-threshold stitching can never reproduce.
    *
    * Spark shape: per-slice 2-D labels (8-connectivity, x-wrap) handle the
    * intra-slice connectivity; cross-slice edges come from ONE equi-join of
    * the labeled field against its next-timestep copy fanned out over the 9
    * spatial shifts (×9 on sparse flagged rows, not the dense raster);
    * [[graft.operators.ConnectedComponents.auto]] stitches the label graph,
    * whose size is #objects — tiny relative to the field.
    *
    * Event ids are dense 1..N ordered by (first timestep, min slice-object
    * id): the reference's scipy raster-scan numbering differs label-for-
    * label, but component count and per-event cell sets agree exactly.
    *
    * @return (time, y, x, event_id) */
  def labelSpaceTime(flags: DataFrame, spec: GridSpec,
      timeAxis: Option[DataFrame] = None): DataFrame =
    labelSpaceTimeFromGids(
      // the labeled field feeds the edge build, the component mapping, the
      // event ordering AND the final join — without truncation the
      // per-slice labeling kernel re-executes for each of them
      globalIds(Raster.labelPerSlice(flags, spec)).localCheckpoint(),
      spec, timeAxis)

  /** [[labelSpaceTime]] over an ALREADY per-slice-labeled field
    * `(time, y, x, gid)` — gids slice-unique. The batch track() path
    * labels every slice during preprocessing; re-labeling here would be a
    * second full raster pass over the field (area filtering only drops
    * whole objects, never splits a component, so the preprocessing gids
    * are exactly the per-slice labels this stitch needs). */
  def labelSpaceTimeFromGids(gids: DataFrame, spec: GridSpec,
      timeAxis: Option[DataFrame] = None): DataFrame = {
    val idx = timeIndex(gids, timeAxis)
    val withIdx = gids.join(idx, "time")
    val b = fanNeighborhood(
        withIdx.select(col("t_idx"), col("y"), col("x"), col("gid").as("gid_c")),
        spec, keep = Seq("t_idx", "gid_c"))
      .select((col("t_idx") - 1).as("t_idx"), col("y"), col("x"), col("gid_c"))
    val edges = withIdx.select(col("t_idx"), col("y"), col("x"), col("gid"))
      .join(b, Seq("t_idx", "y", "x"))
      .select(col("gid").as("src"), col("gid_c").as("dst"))
      .distinct()
    val comp = ConnectedComponents.auto(edges)
    val mapping = gids.select(col("gid")).distinct()
      .join(comp.withColumnRenamed("node", "gid"), Seq("gid"), "left")
      .select(col("gid"), coalesce(col("component"), col("gid")).as("root"))
      // one row per object; feeds firstT, the event numbering's zipWithIndex
      // action AND the final field join — materialize instead of re-running
      // the distinct + component join per consumer
      .localCheckpoint()
    val firstT = gids.join(mapping, "gid")
      .groupBy("root").agg(min("time").as("t0"), min("gid").as("g0"))
    val eventIds = denseNumber(firstT, Seq("t0", "g0"), "event_id")
      .select("root", "event_id")
    gids.join(mapping, "gid").join(broadcast(eventIds), "root")
      .select("time", "y", "x", "event_id")
  }

  /** Dense 1..N numbering of a table in `orderCols` order — a global sort +
    * `zipWithIndex`, NOT a single-partition `row_number` window: the sort is
    * range-partitioned (every partition does its share), and zipWithIndex
    * adds one lightweight count job. The input here is always the bounded
    * per-event/component table (#events rows, never field-sized), but at
    * 10⁷ events a one-task WindowExec would still be the slowest stage. */
  private[marex] def denseNumber(df: DataFrame, orderCols: Seq[String],
      out: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(orderCols.map(col): _*)
    val schema = org.apache.spark.sql.types.StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField(out,
        org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** T16: the gid → dense event id mapping — connected components over the
    * thresholded overlap-pair graph, event ids 1..N ordered by (first time
    * of component, root), numbered by [[denseNumber]] (no single-partition
    * window).
    *
    * Routed through [[ConnectedComponents.auto]]: small pair graphs (the
    * common case — ~#objects rows; the reference solves the same graph with
    * scipy on the driver, track.py:2883) collect + union-find; graphs past
    * the driver threshold run distributed min-label propagation, so a
    * 10⁷-object run never funnels the pair list through the driver.
    * @return (gid, event_id) — one row per object. */
  def eventMapping(ids: DataFrame, overlapThreshold: Double,
      timeAxis: Option[DataFrame] = None): DataFrame =
    eventMappingFromPairs(ids,
      overlapPairs(ids, overlapThreshold, timeAxis)
        .select(col("id_p").as("src"), col("id_c").as("dst")))

  /** [[eventMapping]] with the overlap-pair graph supplied by the caller —
    * shared by the gridded and unstructured (area-weighted pairs) paths.
    * `ids` needs (time, gid); grid layout is irrelevant here. */
  def eventMappingFromPairs(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = ConnectedComponents.auto(pairs) // (node, component)
    val mapping = ids.select(col("gid")).distinct()
      .join(comp.withColumnRenamed("node", "gid"), Seq("gid"), "left")
      .select(col("gid"), coalesce(col("component"), col("gid")).as("root"))
    val firstT = ids.join(mapping, "gid")
      .groupBy("root").agg(min("time").as("t0"))
    val eventIds = denseNumber(firstT, Seq("t0", "root"), "event_id")
      .select("root", "event_id")
    mapping.join(broadcast(eventIds), "root").select("gid", "event_id")
  }

  /** T16: stitch objects into events by applying [[eventMapping]] to the
    * resolved id field. */
  def stitchEvents(ids: DataFrame, overlapThreshold: Double,
      timeAxis: Option[DataFrame] = None): DataFrame =
    ids.join(eventMapping(ids, overlapThreshold, timeAxis), "gid")
      .select("time", "y", "x", "event_id")

  /** T17 genealogy detail: the reference's per-(time, ID, sibling_ID)
    * `merge_ledger` (track.py:3026–3106) in long form. For each merge event,
    * every parent's FINAL event id is listed with the final event ids of ALL
    * its co-parents (self included, like the reference's broadcast row). A
    * child double-merging at one timestep (rare) unions its sibling sets.
    *
    * Scale shape: merges is the bounded genealogy table (#merges rows); the
    * only join against it is the gid → event map, itself #objects rows. */
  def mergeLedger(merges: DataFrame, gidMap: DataFrame): DataFrame = {
    val mapped = merges
      .select(col("time"), col("child_id"), explode(col("parent_ids")).as("gid"))
      .join(gidMap, Seq("gid"))
    mapped.groupBy("time", "child_id")
      .agg(sort_array(collect_set("event_id")).as("sibling_event_ids"))
      .join(mapped, Seq("time", "child_id"))
      .select(col("time"), col("event_id"), col("sibling_event_ids"))
      .distinct()
  }

  /** Full tracker (T1/T23): morphology → gap fill → label → area filter →
    * (optional) split/merge → event stitching → property tables.
    *
    * @param timeAxis full time axis of the source field if whole timesteps
    *   can be flag-free (defaults to the distinct times present in `flags`;
    *   see [[timeIndex]]).
    * @param coords the ORIGINAL input's coordinate system
    *   ([[Unstructured.detectCoordSystem]]); when given, centroid outputs are
    *   remapped back to its units/range (T21 `_remap_coordinates`,
    *   track.py:978–1021). None = leave degrees [−180,180]. */
  def track(flags: DataFrame, geom: DataFrame, spec: GridSpec, cfg: TrackConfig,
      timeAxis: Option[DataFrame] = None,
      coords: Option[Unstructured.CoordSystem] = None): TrackResult = {
    val spark0 = flags.sparkSession
    // resolve the axis ONCE from the raw flags — later stages (area filter,
    // split/merge reassignment) can drop whole timesteps from the id field,
    // which must not change which timesteps count as consecutive.
    // Checkpoint it only when something actually re-reads it (the gap
    // filler, or split/merge's per-round overlap pairing): in the plain
    // non-merging run it has exactly ONE consumer (the space-time stitch),
    // and the eager checkpoint was a pure extra action per track() call.
    val axisDf = timeIndex(flags, timeAxis).select("time")
    val axis = Some(
      if (cfg.tFill > 0 || cfg.allowMerging) axisDf.localCheckpoint() else axisDf)

    // Preprocessing (morphology → gap fill → label → area filter), or a
    // checkpoint resume skipping it (reference helper.py:642).
    val (filtered, preStatsFn): (DataFrame, () => Map[String, Long]) =
      if (cfg.checkpointMode == "load") {
        val dir = cfg.checkpointDir.get
        val f = spark0.read.parquet(s"$dir/preproc_ids.parquet").localCheckpoint()
        val js = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$dir/preproc_stats.json")))
        def field(k: String): Long =
          s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(js)
            .map(_.group(1).toLong)
            .getOrElse(throw new TrackingError(s"checkpoint stats missing $k",
              "re-run with checkpointMode=save"))
        val loaded = Map("n_objects_prefiltered" -> field("n_objects_prefiltered"),
          "n_objects_filtered" -> field("n_objects_filtered"))
        (f, () => loaded)
      } else {
        val land = geom.filter(!col("valid")).select("y", "x")
        val landOpt = if (land.isEmpty) None else Some(land)
        val f1 = Raster.fillHoles(flags, cfg.rFill, spec, landOpt)
        // fill_time_gaps ends with a second fill_holes(R_fill/2) pass in the
        // reference (track.py:1723–1726) — it runs ONLY when T_fill > 0
        val f3 =
          if (cfg.tFill > 0)
            Raster.fillHoles(fillTimeGaps(f1, cfg.tFill, axis), cfg.rFill / 2, spec, landOpt)
          else f1
        // checkpoint the KERNEL OUTPUT, not its input: globalIds consumes
        // the labeled field twice (per-slice max + the offset join), so an
        // unmaterialized label kernel would execute once per consumer —
        // while the kernel input f3 has exactly this one consumer, so
        // checkpointing it bought nothing but an extra action.
        val labeled = Raster.labelPerSlice(f3, spec).localCheckpoint()
        val gids = globalIds(labeled)
        val f = filterSmallObjects(gids, geom, cfg).localCheckpoint()
        if (cfg.checkpointMode == "save") {
          val dir = cfg.checkpointDir.get
          f.write.mode("overwrite").parquet(s"$dir/preproc_ids.parquet")
          val pre = gids.select("gid").distinct().count()
          val post = f.select("gid").distinct().count()
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/preproc_stats.json"),
            s"""{"n_objects_prefiltered": $pre, "n_objects_filtered": $post}""".getBytes)
          (f, () => Map("n_objects_prefiltered" -> pre, "n_objects_filtered" -> post))
        } else
          (f, () => Map(
            "n_objects_prefiltered" -> gids.select("gid").distinct().count(),
            "n_objects_filtered" -> f.select("gid").distinct().count()))
      }

    val (resolved, merges) =
      if (cfg.allowMerging && cfg.sequentialSplitMerge)
        SequentialSplitMerge.run(filtered, spec, cfg, axis)
      else if (cfg.allowMerging) splitAndMerge(filtered, geom, cfg, axis)
      else (filtered, {
        val spark = flags.sparkSession
        import spark.implicits._
        Seq.empty[(java.sql.Timestamp, Long, Seq[Long], Seq[Long], Seq[Double], Long, Long)]
          .toDF("time", "child_id", "parent_ids", "child_ids", "overlap_areas",
            "n_parents", "n_children")
      })

    // Non-merging path = the reference's pure 3-D space-time CCL
    // (identify_objects(time_connectivity=True), track.py:1388–1395);
    // overlap-threshold stitching is the merging path's consolidation step
    // (track_objects), NOT the non-merging semantics.
    val (idField, ledger) =
      if (cfg.allowMerging) {
        // the gid → event map feeds BOTH the stitched field and the sibling
        // ledger — truncate it once so the CC solve doesn't run twice
        val gidMap = eventMapping(resolved, cfg.overlapThreshold, axis).localCheckpoint()
        (resolved.join(gidMap, "gid").select("time", "y", "x", "event_id")
           .localCheckpoint(),
         mergeLedger(merges, gidMap))
      } else {
        val spark = flags.sparkSession
        import spark.implicits._
        // preprocessing already per-slice-labeled the field — stitch from
        // those gids instead of a second full raster CCL pass
        (labelSpaceTimeFromGids(resolved.select("time", "y", "x", "gid"), spec, axis)
           .localCheckpoint(),
         Seq.empty[(java.sql.Timestamp, Long, Seq[Long])]
           .toDF("time", "event_id", "sibling_event_ids"))
      }
    val props0 = objectProps(idField, geom, idCol = "event_id")
    // T21: remap centroids back to the input's units/range (a pure
    // projection — area/count columns and the id field are untouched)
    val props = coords.map(Unstructured.remapCentroids(props0, _)).getOrElse(props0)
    val events = props.groupBy("event_id").agg(
      min("time").as("time_start"),
      max("time").as("time_end"),
      count(lit(1)).as("n_timesteps"),
      max("area").as("max_area"))
    TrackResult(idField, props, events, merges, ledger, () =>
      preStatsFn() ++ Map(
        "n_events_final" -> events.count(),
        "total_merges" -> merges.count()))
  }
}
