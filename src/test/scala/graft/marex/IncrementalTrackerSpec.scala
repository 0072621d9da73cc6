package graft.marex

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental (append-only) tracking must equal the batch space-time CCL
  * tracker up to an event-id bijection, including retroactive merges where
  * a newly-appended cell bridges two previously-separate events. */
class IncrementalTrackerSpec extends SparkSpec {
  import spark.implicits._

  private val ny = 24
  private val nx = 48
  private lazy val spec = GridSpec(ny = ny, nx = nx, periodicX = true)
  private lazy val geom = SyntheticData.geometry(spark, ny, nx).cache()

  private val cfg = TrackConfig(rFill = 1, tFill = 0, areaFilterQuartile = 0.0,
    dropSmallestObject = false, allowMerging = false)

  private def ts(day: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2000-01-01 00:00:00").getTime + day * 86400000L)

  /** Run the incremental tracker over time-ordered blocks and materialize
    * the accumulated id field with every later remap applied to history —
    * what a caller maintaining persistent event tables would do. */
  private def trackIncrementally(blocks: Seq[DataFrame],
      tcfg: TrackConfig = cfg): DataFrame = {
    var state: Option[IncrementalTracker.IncState] = None
    var acc: Option[DataFrame] = None
    blocks.foreach { b =>
      val (st, inc) = IncrementalTracker.extend(state, b, geom, spec, tcfg)
      state = Some(st)
      val remapped = acc.map { a =>
        a.join(broadcast(inc.remap),
            a("event_id") === inc.remap("from_event_id"), "left")
          .select(a("time"), a("y"), a("x"),
            coalesce(col("to_event_id"), a("event_id")).as("event_id"))
      }
      acc = Some(remapped.getOrElse(
        Seq.empty[(Timestamp, Long, Long, Long)].toDF("time", "y", "x", "event_id"))
        .unionByName(inc.blockIds).localCheckpoint())
    }
    acc.get
  }

  /** Assert two labelings of the same cell set are the same partition —
    * the id correspondence must be a bijection. */
  private def assertEquivalent(batch: DataFrame, inc: DataFrame): Unit = {
    assert(batch.count() == inc.count(), "cell counts differ")
    val joined = batch.select(col("time"), col("y"), col("x"), col("event_id").as("b"))
      .join(inc.select(col("time"), col("y"), col("x"), col("event_id").as("i")),
        Seq("time", "y", "x"))
    assert(joined.count() == batch.count(), "cell sets differ")
    val pairs = joined.select("b", "i").distinct().cache()
    val nPairs = pairs.count()
    assert(pairs.select("b").distinct().count() == nPairs, "a batch event maps to 2+ ids")
    assert(pairs.select("i").distinct().count() == nPairs, "an incremental id maps to 2+ events")
    pairs.unpersist()
  }

  test("three-block append equals the one-shot batch tracker (storm field)") {
    val flags = SyntheticData.stormFlags(spark, nDays = 30, ny = ny, nx = nx,
      nStorms = 40, seed = 11L).cache()
    val batch = Track.track(flags, geom, spec, cfg).idField
    val blocks = Seq(0 -> 10, 10 -> 20, 20 -> 30).map { case (a, b) =>
      flags.filter(col("time") >= lit(ts(a)) && col("time") < lit(ts(b)))
    }
    assertEquivalent(batch, trackIncrementally(blocks))
  }

  test("a new slice bridging two old events emits a retroactive remap") {
    // two static 2×2 squares, far apart, for t0..t2; at t3 a band covers the
    // space between and overlaps both squares' footprints
    def square(t: Int, y0: Int, x0: Int): Seq[(Timestamp, Int, Int)] =
      for (dy <- 0 to 1; dx <- 0 to 1) yield (ts(t), y0 + dy, x0 + dx)
    val early = (0 to 2).flatMap(t => square(t, 10, 5) ++ square(t, 10, 20))
    val bridge = (5 to 22).map(x => (ts(3), 10, x))
    val b1 = early.toDF("time", "y", "x")
    val b2 = bridge.toDF("time", "y", "x")
    val cfgNoFill = cfg.copy(rFill = 0)

    val (st1, inc1) = IncrementalTracker.extend(None, b1, geom, spec, cfgNoFill)
    assert(inc1.remap.isEmpty)
    assert(inc1.blockIds.select("event_id").distinct().count() == 2)
    val ids1 = inc1.blockIds.select("event_id").distinct()
      .collect().map(_.getLong(0)).sorted

    val (_, inc2) = IncrementalTracker.extend(Some(st1), b2, geom, spec, cfgNoFill)
    val remaps = inc2.remap.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(remaps.toSeq == Seq(ids1(1) -> ids1(0)),
      s"expected ${ids1(1)} -> ${ids1(0)}, got ${remaps.toSeq}")
    assert(inc2.blockIds.select("event_id").distinct().head().getLong(0) == ids1(0))

    // and the same field tracked in one shot is a single event
    val batch = Track.track(b1.unionByName(b2), geom, spec, cfgNoFill).idField
    assert(batch.select("event_id").distinct().count() == 1)
  }

  test("empty and gapped appends keep state consistent") {
    val b1 = (0 to 1).flatMap(t => Seq((ts(t), 5, 5), (ts(t), 5, 6))).toDF("time", "y", "x")
    val cfg0 = cfg.copy(rFill = 0)
    val (st1, _) = IncrementalTracker.extend(None, b1, geom, spec, cfg0)
    // an entirely-empty block leaves the seam untouched
    val empty = Seq.empty[(Timestamp, Int, Int)].toDF("time", "y", "x")
    val (st2, inc2) = IncrementalTracker.extend(Some(st1), empty, geom, spec, cfg0)
    assert(inc2.blockIds.isEmpty && inc2.remap.isEmpty)
    assert(st2.nextEventId == st1.nextEventId)
    // the next nonempty block still stitches to the pre-gap seam — the
    // data-derived axis treats present slices as consecutive (same as batch)
    val b3 = Seq((ts(5), 5, 5), (ts(5), 5, 6)).toDF("time", "y", "x")
    val (_, inc3) = IncrementalTracker.extend(Some(st2), b3, geom, spec, cfg0)
    assert(inc3.blockIds.select("event_id").distinct().head().getLong(0) == 1L)
  }

  test("a raw slice erased by preprocessing still separates events, as in batch") {
    // 3×3 squares at t0 and t2; a single isolated cell at t1 that the
    // rFill=1 morphological opening erases. The erased slice stays on the
    // time axis, so t0 and t2 must be two events — within one block AND
    // across a block boundary at the erased slice.
    def square(t: Int): Seq[(Timestamp, Int, Int)] =
      for (dy <- 0 to 2; dx <- 0 to 2) yield (ts(t), 8 + dy, 8 + dx)
    val lone = Seq((ts(1), 20, 20))
    val all = (square(0) ++ lone ++ square(2)).toDF("time", "y", "x")

    val batch = Track.track(all, geom, spec, cfg).idField
    assert(batch.select("event_id").distinct().count() == 2, "batch sanity")

    // one block containing the erased interior slice
    val (_, one) = IncrementalTracker.extend(None, all, geom, spec, cfg)
    assertEquivalent(batch, one.blockIds)

    // block boundary right after the erased slice: [t0, t1] then [t2]
    val b1 = (square(0) ++ lone).toDF("time", "y", "x")
    val b2 = square(2).toDF("time", "y", "x")
    assertEquivalent(batch, trackIncrementally(Seq(b1, b2)))

    // and the mirror: [t0] then [t1, t2]
    val c1 = square(0).toDF("time", "y", "x")
    val c2 = (lone ++ square(2)).toDF("time", "y", "x")
    assertEquivalent(batch, trackIncrementally(Seq(c1, c2)))
  }

  /** Like [[trackIncrementally]] but through the tFill watermark-holdback
    * wrapper, with a final flush to release the held tail. */
  private def trackWithGapFill(blocks: Seq[DataFrame],
      tcfg: TrackConfig): DataFrame = {
    var state: Option[IncrementalTracker.IncState] = None
    var acc: Option[DataFrame] = None
    def absorb(inc: IncrementalTracker.Increment): Unit = {
      val remapped = acc.map { a =>
        a.join(broadcast(inc.remap),
            a("event_id") === inc.remap("from_event_id"), "left")
          .select(a("time"), a("y"), a("x"),
            coalesce(col("to_event_id"), a("event_id")).as("event_id"))
      }
      acc = Some(remapped.getOrElse(
        Seq.empty[(Timestamp, Long, Long, Long)].toDF("time", "y", "x", "event_id"))
        .unionByName(inc.blockIds).localCheckpoint())
    }
    blocks.foreach { b =>
      val (st, inc) = IncrementalTracker.extendGapFill(state, b, geom, spec, tcfg)
      state = Some(st)
      absorb(inc)
    }
    val (_, tail) = IncrementalTracker.flushGapFill(state, geom, spec, tcfg)
    absorb(tail)
    acc.get
  }

  test("tFill=2 appends (watermark holdback) equal the one-shot batch tracker") {
    val tcfg = cfg.copy(tFill = 2)
    val flags = SyntheticData.stormFlags(spark, nDays = 30, ny = ny, nx = nx,
      nStorms = 40, seed = 23L).cache()
    val batch = Track.track(flags, geom, spec, tcfg).idField
    // block sizes deliberately uneven, including one SMALLER than tFill
    // (nothing finalizes that round — pure accumulation)
    val cuts = Seq(0 -> 9, 9 -> 10, 10 -> 21, 21 -> 30)
    val blocks = cuts.map { case (a, b) =>
      flags.filter(col("time") >= lit(ts(a)) && col("time") < lit(ts(b)))
    }
    assertEquivalent(batch, trackWithGapFill(blocks, tcfg))
  }

  test("a temporal gap spanning a block boundary is filled, as in batch") {
    val tcfg = cfg.copy(rFill = 0, tFill = 2)
    // an ANCHOR blob present every slice keeps all 10 timesteps on the
    // dense axis; the GAPPY blob skips t4–t5, a 2-slice per-pixel index
    // gap that tFill=2 must fill into one continuous event. The gap
    // straddles the append boundary at t5 — its left support arrives in
    // block 1, its right support only in block 2, so only the watermark
    // holdback can make that call correctly.
    def blob(t: Int, y0: Int, x0: Int): Seq[(Timestamp, Int, Int)] =
      for (dy <- 0 to 1; dx <- 0 to 1) yield (ts(t), y0 + dy, x0 + dx)
    val anchor = (0 to 9).flatMap(blob(_, 4, 4))
    val gappy = ((0 to 3) ++ (6 to 9)).flatMap(blob(_, 14, 30))
    val flags = (anchor ++ gappy).toDF("time", "y", "x").cache()
    val batch = Track.track(flags, geom, spec, tcfg).idField
    assert(batch.select("event_id").distinct().count() == 2,
      "sanity: batch fills the 2-slice gap — anchor + gappy = two events")
    assert(batch.count() == 10 * 4 + 10 * 4,
      "sanity: the filled slices exist in the batch field")
    val blocks = Seq(0 -> 5, 5 -> 10).map { case (a, b) =>
      flags.filter(col("time") >= lit(ts(a)) && col("time") < lit(ts(b)))
    }
    val inc = trackWithGapFill(blocks, tcfg)
    assertEquivalent(batch, inc)
    assert(inc.select("event_id").distinct().count() == 2)
  }

  test("gap fill: a slice fully erased by morphology still separates events") {
    val tcfg = cfg.copy(tFill = 2) // rFill = 1 (cfg default)
    // squareA(t0) and squareC(t2) are spatially ADJACENT but share no
    // pixel (no per-pixel time fill); t1 holds only a lone speck that the
    // rFill=1 opening erases COMPLETELY. The erased slice must stay on
    // the axis — t0 and t2 are then 2 index steps apart and the squares
    // are TWO events, exactly as in batch. (Regression: the gap-fill
    // wrapper used to hand the inner extension a pre-preprocessed block,
    // so the erased slice vanished from its data-derived axis.)
    def square(t: Int, x0: Int): Seq[(Timestamp, Int, Int)] =
      for (dy <- 0 to 2; dx <- 0 to 2) yield (ts(t), 8 + dy, x0 + dx)
    val flags = (square(0, 8) ++ Seq((ts(1), 20, 20)) ++ square(2, 11))
      .toDF("time", "y", "x").cache()
    val batch = Track.track(flags, geom, spec, tcfg).idField
    assert(batch.select("event_id").distinct().count() == 2, "batch sanity")
    // the erased slice lands at a BLOCK BOUNDARY too
    val blocks = Seq(0 -> 2, 2 -> 3).map { case (a, b) =>
      flags.filter(col("time") >= lit(ts(a)) && col("time") < lit(ts(b)))
    }
    val inc = trackWithGapFill(blocks, tcfg)
    assertEquivalent(batch, inc)
    assert(inc.select("event_id").distinct().count() == 2)
  }

  // ── the driver path of a non-merging append ─────────────────────────────

  test("driver and distributed non-merging appends are identical") {
    type Step = (Option[IncrementalTracker.IncState], Long) =>
      (IncrementalTracker.IncState, IncrementalTracker.Increment)
    def sameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
      val g = got.collect().map(_.toString).sorted.toSeq
      val w = want.collect().map(_.toString).sorted.toSeq
      if (g != w) fail(s"$what: driver-only rows ${g.diff(w).take(3)}, " +
        s"distributed-only rows ${w.diff(g).take(3)}")
    }
    /** Runs the same steps from the distributed path (bound 0) and from
      * the driver path (the default bound), each from its own state, and
      * compares every increment and state. Returns the driver path's
      * block cell counts. */
    def bothPaths(what: String, steps: Seq[Step]): Seq[Long] = {
      var dist: Option[IncrementalTracker.IncState] = None
      var drv: Option[IncrementalTracker.IncState] = None
      steps.zipWithIndex.map { case (step, k) =>
        val (dSt, dInc) = step(dist, 0L)
        val (lSt, lInc) = step(drv, graft.operators.ConnectedComponents.DriverThreshold)
        val at = s"$what, step $k"
        assert(lInc.blockIds.schema == dInc.blockIds.schema, s"$at: blockIds schema")
        sameRows(lInc.blockIds, dInc.blockIds, s"$at: blockIds")
        sameRows(lInc.remap, dInc.remap, s"$at: remap")
        sameRows(lSt.seam, dSt.seam, s"$at: seam")
        assert(lSt.gapAfterSeam == dSt.gapAfterSeam, s"$at: gapAfterSeam")
        assert(lSt.nextEventId == dSt.nextEventId, s"$at: nextEventId")
        dist = Some(dSt); drv = Some(lSt)
        lInc.blockIds.count()
      }
    }
    def appends(blocks: Seq[DataFrame], tcfg: TrackConfig): Seq[Step] =
      blocks.map(b => (st: Option[IncrementalTracker.IncState], bound: Long) =>
        IncrementalTracker.extendBounded(st, b, geom, spec, tcfg, None, bound))
    def square(t: Int, y0: Int, x0: Int, side: Int): Seq[(Timestamp, Int, Int)] =
      for (dy <- 0 until side; dx <- 0 until side) yield (ts(t), y0 + dy, x0 + dx)

    val storms = SyntheticData.stormFlags(spark, nDays = 30, ny = ny, nx = nx,
      nStorms = 40, seed = 11L).cache()
    def cut(field: DataFrame, bounds: Seq[(Int, Int)]): Seq[DataFrame] =
      bounds.map { case (a, b) =>
        field.filter(col("time") >= lit(ts(a)) && col("time") < lit(ts(b)))
      }
    val stormBlocks = cut(storms, Seq(0 -> 10, 10 -> 20, 20 -> 30))
    val unfiltered = bothPaths("storm field", appends(stormBlocks, cfg))

    val cfg0 = cfg.copy(rFill = 0)
    val early = (0 to 2).flatMap(t => square(t, 10, 5, 2) ++ square(t, 10, 20, 2))
    val bridge = (5 to 22).map(x => (ts(3), 10, x))
    bothPaths("bridging remap",
      appends(Seq(early.toDF("time", "y", "x"), bridge.toDF("time", "y", "x")), cfg0))

    val empty = Seq.empty[(Timestamp, Int, Int)].toDF("time", "y", "x")
    bothPaths("empty and gapped", appends(Seq(
      (0 to 1).flatMap(t => Seq((ts(t), 5, 5), (ts(t), 5, 6))).toDF("time", "y", "x"),
      empty, Seq((ts(5), 5, 5), (ts(5), 5, 6)).toDF("time", "y", "x")), cfg0))

    val lone = Seq((ts(1), 20, 20))
    Seq(Seq(square(0, 8, 8, 3) ++ lone ++ square(2, 8, 8, 3)),
        Seq(square(0, 8, 8, 3) ++ lone, square(2, 8, 8, 3)),
        Seq(square(0, 8, 8, 3), lone ++ square(2, 8, 8, 3))).foreach { blocks =>
      bothPaths("erased slice", appends(blocks.map(_.toDF("time", "y", "x")), cfg))
    }

    // an equatorial cell here is ~4.6e5 km²: the filter keeps the large
    // storm objects and drops the small ones
    val areaCfg = cfg.copy(areaFilterQuartile = Double.NaN, areaFilterAbsolute = Some(4.0e6))
    val kept = bothPaths("area filter", appends(stormBlocks.take(2), areaCfg)).sum
    val all = unfiltered.take(2).sum
    assert(kept > 0 && kept < all, s"the filter must keep some cells and drop some: $kept of $all")

    // tFill = 2: the inner extend runs with rFill = 0 and an explicit raw axis
    val gapCfg = cfg.copy(tFill = 2)
    val gapSteps: Seq[Step] = cut(storms, Seq(0 -> 5, 5 -> 6, 6 -> 12)).map(b =>
        (st: Option[IncrementalTracker.IncState], bound: Long) =>
          IncrementalTracker.gapFillStep(st, Some(b), geom, spec, gapCfg, flush = false, bound)) :+
      ((st: Option[IncrementalTracker.IncState], bound: Long) =>
        IncrementalTracker.gapFillStep(st, None, geom, spec, gapCfg, flush = true, bound))
    bothPaths("tFill=2", gapSteps)
  }

  test("a one-day non-merging append submits at most 4 Spark jobs") {
    val field = SyntheticData.stormFlags(spark, nDays = 12, ny = ny, nx = nx,
      nStorms = 40, seed = 11L).localCheckpoint()
    def day(d: Int) = field.filter(col("time") === lit(ts(d))).localCheckpoint()
    val tcfg = cfg.copy(rFill = 2, areaFilterQuartile = Double.NaN,
      areaFilterAbsolute = Some(100.0))
    val (st, _) = IncrementalTracker.extend(None, day(9), geom, spec, tcfg)
    val today = day(10)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      val (_, inc) = IncrementalTracker.extend(Some(st), today, geom, spec, tcfg)
      org.apache.spark.ListenerBusAccess.drain(sc)
      info(s"a one-day append submitted ${jobs.get()} jobs")
      assert(jobs.get() <= 4, s"a one-day append submitted ${jobs.get()} jobs")
      assert(!inc.blockIds.isEmpty, "sanity: the day has storm cells")
    } finally sc.removeSparkListener(listener)
  }

  test("merging mode: tFill=2 appends equal the one-shot batch tracker") {
    val tcfg = cfg.copy(tFill = 2, allowMerging = true)
    val flags = SyntheticData.stormFlags(spark, nDays = 24, ny = ny, nx = nx,
      nStorms = 30, seed = 31L).cache()
    val batch = Track.track(flags, geom, spec, tcfg).idField
    val blocks = Seq(0 -> 8, 8 -> 16, 16 -> 24).map { case (a, b) =>
      flags.filter(col("time") >= lit(ts(a)) && col("time") < lit(ts(b)))
    }
    assertEquivalent(batch, trackWithGapFill(blocks, tcfg))
  }

  test("non-incremental configurations are rejected eagerly") {
    val b = Seq((ts(0), 5, 5)).toDF("time", "y", "x")
    def bad(c: TrackConfig, msg: String): Unit = {
      val e = intercept[IllegalArgumentException](
        IncrementalTracker.extend(None, b, geom, spec, c))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    bad(cfg.copy(tFill = 2), "tFill=0")
    bad(cfg.copy(areaFilterQuartile = 0.5), "absolute area filter")
    bad(cfg.copy(dropSmallestObject = true), "dropSmallestObject")
    bad(TrackConfig(tFill = 0, allowMerging = false, dropSmallestObject = false),
      "absolute area filter") // default quartile 0.5 is a whole-run statistic
    // merging mode shares the append constraints, and additionally rejects
    // the sequential (whole-run driver) split/merge variant
    bad(cfg.copy(allowMerging = true, tFill = 2), "tFill=0")
    bad(cfg.copy(allowMerging = true, sequentialSplitMerge = true), "batch-parallel")
  }

  // ── merging mode ──────────────────────────────────────────────────────────

  private val mCfg = cfg.copy(allowMerging = true)

  test("merging mode: three-block append equals the one-shot batch tracker") {
    val flags = SyntheticData.stormFlags(spark, nDays = 30, ny = ny, nx = nx,
      nStorms = 40, seed = 23L).cache()
    val batch = Track.track(flags, geom, spec, mCfg).idField
    val blocks = Seq(0 -> 10, 10 -> 20, 20 -> 30).map { case (a, b) =>
      flags.filter(col("time") >= lit(ts(a)) && col("time") < lit(ts(b)))
    }
    assertEquivalent(batch, trackIncrementally(blocks, mCfg))
  }

  test("merging mode: NN partitioning across a block boundary equals batch") {
    val flags = SyntheticData.stormFlags(spark, nDays = 16, ny = ny, nx = nx,
      nStorms = 30, seed = 7L).cache()
    val nn = mCfg.copy(nnPartitioning = true)
    val batch = Track.track(flags, geom, spec, nn).idField
    val blocks = Seq(0 -> 8, 8 -> 16).map { case (a, b) =>
      flags.filter(col("time") >= lit(ts(a)) && col("time") < lit(ts(b)))
    }
    assertEquivalent(batch, trackIncrementally(blocks, nn))
  }

  test("merging mode: an appended child of two seam parents records the merge") {
    // two 2×2 squares for t0..t2; at t3 a band covers both footprints — a
    // child claimed by two parents, the canonical merge-genealogy shape
    def square(t: Int, y0: Int, x0: Int): Seq[(Timestamp, Int, Int)] =
      for (dy <- 0 to 1; dx <- 0 to 1) yield (ts(t), y0 + dy, x0 + dx)
    val early = (0 to 2).flatMap(t => square(t, 10, 5) ++ square(t, 10, 20))
    val band = (5 to 22).map(x => (ts(3), 10, x)) ++ (5 to 22).map(x => (ts(3), 11, x))
    val b1 = early.toDF("time", "y", "x")
    val b2 = band.toDF("time", "y", "x")
    val c = mCfg.copy(rFill = 0)

    val (st1, inc1) = IncrementalTracker.extend(None, b1, geom, spec, c)
    assert(inc1.merges.isEmpty && inc1.remap.isEmpty)
    assert(inc1.blockIds.select("event_id").distinct().count() == 2)

    val (_, inc2) = IncrementalTracker.extend(Some(st1), b2, geom, spec, c)
    // the batch run of the same field is the oracle — id field equivalent,
    // and the same number of genealogy rows at the same (child) timestep
    val all = b1.unionByName(b2)
    val res = Track.track(all, geom, spec, c)
    assert(res.merges.count() == 1, "batch sanity: one merge event")
    assert(inc2.merges.count() == 1)
    assert(inc2.merges.head().getTimestamp(0) == ts(3))
    assert(inc2.merges.head().getAs[scala.collection.Seq[Long]]("parent_ids").length == 2)
    val incField = inc1.blockIds.join(broadcast(inc2.remap),
        inc1.blockIds("event_id") === inc2.remap("from_event_id"), "left")
      .select(inc1.blockIds("time"), inc1.blockIds("y"), inc1.blockIds("x"),
        coalesce(col("to_event_id"), inc1.blockIds("event_id")).as("event_id"))
      .unionByName(inc2.blockIds)
    assertEquivalent(res.idField, incField)
  }

  test("merging mode: erased slices and empty blocks separate events as in batch") {
    def square(t: Int): Seq[(Timestamp, Int, Int)] =
      for (dy <- 0 to 2; dx <- 0 to 2) yield (ts(t), 8 + dy, 8 + dx)
    val lone = Seq((ts(1), 20, 20))
    val all = (square(0) ++ lone ++ square(2)).toDF("time", "y", "x")
    val batch = Track.track(all, geom, spec, mCfg).idField
    assert(batch.select("event_id").distinct().count() == 2, "batch sanity")
    val b1 = (square(0) ++ lone).toDF("time", "y", "x")
    val b2 = square(2).toDF("time", "y", "x")
    assertEquivalent(batch, trackIncrementally(Seq(b1, b2), mCfg))
    val c1 = square(0).toDF("time", "y", "x")
    val c2 = (lone ++ square(2)).toDF("time", "y", "x")
    assertEquivalent(batch, trackIncrementally(Seq(c1, c2), mCfg))
  }

  // ── durable state: tomorrow's job continues today's track ───────────────

  /** Like trackIncrementally, but the state crosses each block boundary
    * through saveState/loadState — the daily-batch-job shape where every
    * append runs in a fresh session. */
  private def trackViaDisk(blocks: Seq[DataFrame], dir: String,
      tcfg: TrackConfig): DataFrame = {
    var acc: Option[DataFrame] = None
    blocks.foreach { b =>
      val state = IncrementalTracker.loadState(spark, dir)
      val (st, inc) = IncrementalTracker.extend(state, b, geom, spec, tcfg)
      IncrementalTracker.saveState(st, dir)
      val remapped = acc.map { a =>
        a.join(broadcast(inc.remap),
            a("event_id") === inc.remap("from_event_id"), "left")
          .select(a("time"), a("y"), a("x"),
            coalesce(col("to_event_id"), a("event_id")).as("event_id"))
      }
      acc = Some(remapped.getOrElse(
        Seq.empty[(Timestamp, Long, Long, Long)].toDF("time", "y", "x", "event_id"))
        .unionByName(inc.blockIds).localCheckpoint())
    }
    acc.get
  }

  test("state saved to disk and reloaded continues equal to batch (both modes)") {
    val flags = SyntheticData.stormFlags(spark, nDays = 18, ny = ny, nx = nx,
      nStorms = 25, seed = 23L).cache()
    val blocks = Seq(0 -> 6, 6 -> 12, 12 -> 18).map { case (a, b) =>
      flags.filter(col("time") >= lit(ts(a)) && col("time") < lit(ts(b)))
    }
    Seq(cfg, mCfg).foreach { c =>
      val dir = java.nio.file.Files.createTempDirectory("graft_incstate").toFile
      val batch = Track.track(flags, geom, spec, c).idField
      assertEquivalent(batch, trackViaDisk(blocks, dir.getAbsolutePath, c))
      // the committed manifest survives: a fourth, empty load still works
      assert(IncrementalTracker.loadState(spark, dir.getAbsolutePath).isDefined)
    }
  }

  test("loadState on a fresh directory returns None; malformed manifest is named") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incstate2").toFile
    assert(IncrementalTracker.loadState(spark, dir.getAbsolutePath).isEmpty)
    val p = new java.io.File(dir, "state.json")
    val w = new java.io.FileWriter(p); w.write("{\"garbage\": true}"); w.close()
    val e = intercept[IllegalArgumentException](
      IncrementalTracker.loadState(spark, dir.getAbsolutePath))
    assert(e.getMessage.contains("malformed"))
  }
}
