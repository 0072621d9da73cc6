package graft

import org.apache.spark.sql.functions._

import graft.marex._

/** Reference-scale demonstration: the marEx CI fixture shape is 40 years of
  * daily 20×40 gridded SST (14611×20×40 ≈ 11.7 M samples,
  * tests/conftest.py:128–136). This main runs the full detect → track
  * pipeline at that scale on local[N] and prints stage timings — evidence
  * that the engine handles the reference's own working set interactively.
  * Run: `sbt "runMain graft.ScaleDemo [nYears] [method] [ny] [nx]`.
  *
  * The PRODUCTION shape probe is `ScaleDemo 2 exact 720 1440` — two years of
  * daily 0.25°-global slices (720×1440 ≈ 757 M samples), the reference's
  * stated target resolution: backs PERF.md's 100× extrapolations with a
  * measured operating point.
  */
object ScaleDemo {
  def main(args: Array[String]): Unit = {
    val nYears = if (args.nonEmpty) args(0).toInt else 40
    val cpus = graft.core.LocalSession.cpus
    // Shuffle partitions scale with the FIELD, not the core count: at the
    // production shape (720×1440 × 730 days ≈ 757 M samples) 32 partitions
    // puts ~24 M rows in one sort task and starves execution memory; target
    // ≈4 M samples per shuffle partition like a real cluster deployment
    // (overridable via SPARK_GRAFT_SHUFFLE).
    val dimsNy = if (args.length > 2) args(2).toLong else 20L
    val dimsNx = if (args.length > 3) args(3).toLong else 40L
    val methodArg = if (args.length > 1) args(1) else "exact"
    // sample count per MODE: "unstructured" repurposes args(0) as the day
    // count and args(2) as the mesh side (cells = side²) — tuning keyed off
    // the gridded interpretation there would be meaningless. The mesh path
    // targets ~1 M samples/partition (its kernel-payload rows are wider and
    // the split/merge loop keeps several checkpointed generations live);
    // the gridded detect path sustains 4 M.
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(methodArg match {
      case "unstructured" => math.max(cpus, (dimsNy * dimsNy * nYears / 1000000L).toInt)
      case "zappend" => // args(0) = months of daily slices in ONE store
        math.max(cpus, (dimsNy * dimsNx * (nYears * 30L + 3) / 4000000L).toInt)
      case "zshard" | "zgrow" => // args(0) = months of daily slices
        math.max(cpus, (dimsNy * dimsNx * nYears * 30L / 4000000L).toInt)
      case "feed" => // args(0) = base days; total = 2× base
        math.max(cpus, (dimsNy * dimsNx * nYears * 2L / 4000000L).toInt)
      case _ => math.max(cpus, (dimsNy * dimsNx * 365L * nYears / 4000000L).toInt)
    })
    // At production grids the per-pixel dimension tables (climatology /
    // threshold: |pixels|×366 rows ≈ 380 M at 0.25°) are NOT broadcastable
    // — a mis-estimated build side would collect GBs to the driver
    // (measured: 360×720 = 259 k pixels → a 94.9 M-row threshold table that
    // AQE tried to broadcast at 12.5 GiB). The table scales with
    // pixels×366, so the no-auto-broadcast regime starts at ~100 k pixels
    // (×366 ≈ 1 GB); the CI-fixture shape keeps the default (broadcasting
    // the 293 k-row threshold table there is the right plan).
    val bigGrid = (methodArg match {
      case "unstructured" => dimsNy * dimsNy // mesh cells = side²
      case _ => dimsNy * dimsNx
    }) > 100000L
    val builder0 = graft.core.LocalSession.builder(shufflePartitions)
      // the detect plan carries thousands of SQL metrics; at ~300 tasks the
      // per-task accumulator payloads alone cross the 1 GiB default during
      // eager checkpoints — size the cap like a production fat-driver node
      .config("spark.driver.maxResultSize", "8g")
    val builder =
      if (bigGrid)
        builder0
          .config("spark.sql.autoBroadcastJoinThreshold", "-1")
          .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          // full-field shuffles at this shape are tens of GB on disk; zstd
          // compresses the noisy-double payload ~2× better than lz4, and a
          // 60 s periodic GC releases dereferenced shuffle files promptly —
          // both standard knobs for disk-constrained shuffle service nodes
          .config("spark.io.compression.codec", "zstd")
          .config("spark.cleaner.periodicGC.interval", "60s")
      else builder0
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }

    val ny = dimsNy.toInt
    val nx = dimsNx.toInt
    val spec = GridSpec(ny = ny, nx = nx)
    val geom = SyntheticData.geometry(spark, ny, nx).cache()
    val method = methodArg

    // ── trackonly: the production-shape TRACKING workload ──────────────────
    // Detect and track are separate cluster jobs at scale; a single box
    // lacks the aggregate scratch disk for the 2-year detect→track handoff
    // (measured: detect alone peaks ≈76 GB of shuffle+checkpoint). This
    // mode feeds the full merging tracker a realistic ~4–5 %-coverage storm
    // field at the same grid, so the track wall is measured at the true
    // shape with real merge/split events.
    if (method == "trackonly") {
      val flags = timed(s"storm flags ${nYears}y $ny×$nx") {
        val f = SyntheticData.stormFlags(spark, nDays = 365 * nYears, ny = ny, nx = nx)
          .localCheckpoint()
        val n = f.count()
        println(f"[scale] flag density = ${n.toDouble / (365L * nYears * ny * nx)}%.4f ($n rows)")
        f
      }
      val res = timed("track (merging, batch-parallel)") {
        val r = Track.track(flags, geom, spec, TrackConfig(
          rFill = 2, tFill = 2, areaFilterQuartile = 0.5,
          overlapThreshold = 0.25, allowMerging = true))
        r.idField.count()
        r
      }
      timed("stats") { println(s"[scale] ${res.stats}") }
      spark.stop()
      return
    }

    // ── unstructured: the mesh-tracking scale workload ─────────────────────
    // In this mode args(0) is the DAY COUNT and args(2) the mesh SIDE
    // (cells = side²; 3163 ≈ 10⁷, ICON-R2B8-class ≈ 84 M ≈ 8 such meshes).
    // `ScaleDemo 45 unstructured 3163` = 45 days × 10⁷ cells. This was the
    // round-4 scale-killer: the queue tracker collected nT × nCells slices
    // to the driver; the batch path must run the same workload with
    // one-row driver aggregates only.
    if (method == "unstructured") {
      val side = ny
      val nCells = side * side
      val nDays = nYears // arg(0) repurposed — see scaladoc above
      val mesh = timed(s"mesh build ($nCells cells)") {
        val nbr = Array.ofDim[Int](3, nCells)
        var i = 0
        while (i < nCells) {
          val x = i % side
          nbr(0)(i) = if (x > 0) i - 1 else -1
          nbr(1)(i) = if (x < side - 1) i + 1 else -1
          nbr(2)(i) = if (i >= side) i - side else -1
          i += 1
        }
        val lat = Array.tabulate(nCells)(i => -60.0 + 120.0 * (i / side) / side)
        val lon = Array.tabulate(nCells)(i => -180.0 + 360.0 * (i % side) / side)
        UnstructuredTracker.Mesh(nbr, lat, lon,
          Array.fill(nCells)(1.0), Array.fill(nCells)(true))
      }
      val flags = timed(s"storm flags ${nDays}d on $side×$side mesh") {
        // storm count scales with the day window so concurrent-active storms
        // (≈ nStorms × life/nDays) stay at the trackonly density ~1.5 %
        val f = SyntheticData.stormFlags(spark, nDays = nDays, ny = side, nx = side,
          nStorms = math.max(8, nDays / 3))
          .select(col("time"), (col("y") * side + col("x")).cast("int").as("cell"))
          .localCheckpoint()
        val n = f.count()
        println(f"[scale] flag density = ${n.toDouble / (nDays.toLong * nCells)}%.4f ($n rows)")
        f
      }
      val res = timed("unstructured track (merging, batch-parallel)") {
        val r = UnstructuredTracker.track(flags, mesh, TrackConfig(
          rFill = 0, tFill = 0, areaFilterAbsolute = Some(100.0),
          overlapThreshold = 0.25, allowMerging = true, nnPartitioning = true),
          scalePath = true)
        r.idField.count()
        r
      }
      timed("stats") { println(s"[scale] ${res.stats}") }
      spark.stop()
      return
    }

    // ── append: the incremental-tracking scale claim, measured ─────────────
    // `ScaleDemo 1 append 720 1440` = one year of history at the production
    // grid, then ONE appended day. The number that matters is the ratio:
    // the daily-ingest cost must not scale with the archive length.
    // "append-merge" = same probe with split/merge genealogy on (the
    // merging-mode increment re-resolves only seam ∪ block); "append-tfill"
    // = the reference's production config (T_fill=4, submit_track.sh) via
    // the watermark holdback — each day re-preprocesses only the held tail
    // (~2·tFill+1 slices), never the archive
    if (method == "append" || method == "append-merge" || method == "append-tfill") {
      val nDays = 365 * nYears
      val tFillP = if (method == "append-tfill") 4 else 0
      val histCfg = TrackConfig(rFill = 2, tFill = tFillP,
        areaFilterAbsolute = Some(100.0), overlapThreshold = 0.25,
        allowMerging = method == "append-merge", dropSmallestObject = false)
      def ext(st: Option[IncrementalTracker.IncState],
          flags: org.apache.spark.sql.DataFrame) =
        if (tFillP > 0) IncrementalTracker.extendGapFill(st, flags, geom, spec, histCfg)
        else IncrementalTracker.extend(st, flags, geom, spec, histCfg)
      val epoch0 = java.sql.Timestamp.valueOf("2000-01-01 00:00:00").getTime
      val cut = new java.sql.Timestamp(epoch0 + nDays.toLong * 86400000L)
      val all = timed(s"storm flags ${nDays + 1}d $ny×$nx") {
        val f = SyntheticData.stormFlags(spark, nDays = nDays + 1, ny = ny, nx = nx)
          .localCheckpoint()
        println(s"[scale] flag rows = ${f.count()}")
        f
      }
      val hist = all.filter(col("time") < lit(cut))
      val day = all.filter(col("time") >= lit(cut)).localCheckpoint()
      timed(s"batch re-track (${nDays + 1} d)") {
        Track.track(all, geom, spec, histCfg).idField.count()
      }
      val st = timed(s"incremental bootstrap ($nDays d history)") {
        val (s, inc) = ext(None, hist)
        inc.blockIds.count()
        s
      }
      timed("append 1 day") {
        val (_, inc) = ext(Some(st), day)
        println(s"[scale] appended cells = ${inc.blockIds.count()}, " +
          s"retroactive merges = ${inc.remap.count()}")
      }
      spark.stop()
      return
    }

    // ── feed: the round-10 production recipe end-to-end at the 0.25° grid ──
    // `ScaleDemo 10 feed 720 1440` = a 10-day storm field lands in a
    // CF-PACKED + SHARDED zarr store (the composed archive layout: int16
    // inner chunks inside sharding_indexed objects — the byte lever AND
    // the object-count lever, q105's shape), then TWO 5-day satellite
    // appends each flow `mode("append")` → `readStream("zarr")` →
    // StreamingTracker. Claims measured: per-append ingest cost is bounded
    // by the appended days (never the archive), the stream delivers
    // exactly the new slices, and the final streamed labeling equals a
    // batch re-track of the whole store.
    if (method == "feed") {
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.StreamingTracker
      val baseDays = nYears // args(0) = days in the base store
      val appendDays = math.max(1, baseDays / 2)
      val totalDays = baseDays + 2 * appendDays
      val epoch = "2000-01-01"
      val feedCfg = TrackConfig(rFill = 2, tFill = 0,
        areaFilterAbsolute = Some(100.0), overlapThreshold = 0.25,
        allowMerging = false, dropSmallestObject = false)
      val all = timed(s"storm flags ${totalDays}d $ny×$nx") {
        val f = SyntheticData.stormFlags(spark, nDays = totalDays, ny = ny, nx = nx)
          .localCheckpoint()
        println(s"[scale] flag rows = ${f.count()}")
        f
      }
      def slab(t0: Int, days: Int): org.apache.spark.sql.DataFrame = all
        .withColumn("time_idx",
          datediff(to_date(col("time")), lit(epoch)).cast("int") - t0)
        .filter(col("time_idx").between(0, days - 1))
        .select(col("time_idx"), col("y").as("y_idx"), col("x").as("x_idx"),
          lit(1.0).as("sst"))
      val store = s"${System.getProperty("java.io.tmpdir")}/graft_feed_$ny"
      val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft_feed_ck_$ny"
      val sink = s"${System.getProperty("java.io.tmpdir")}/graft_feed_sink_$ny"
      Seq(store, ckpt, sink).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      val (tc, iy, ix) = (5, ny / 4, nx / 4)
      timed(s"packed+sharded base create ${baseDays}×$ny×$nx") {
        slab(0, baseDays).write.format("zarr")
          .option("dims", s"time:$baseDays,y:$ny,x:$nx")
          .option("chunks", s"$tc,$ny,$nx")
          .option("shard", s"1,$iy,$ix").option("v3", "true")
          .option("cols", "sst").option("pack", "0.01")
          .mode("overwrite").save(store)
      }
      def dirBytes(d: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else f.length()
        walk(new java.io.File(d))
      }
      println(f"[scale] packed sharded store = ${dirBytes(store)}%,d bytes " +
        f"(f8 dense would be ${baseDays.toLong * ny * nx * 8}%,d)")
      val tracker = new StreamingTracker(geom, spec, feedCfg, sink)
      def flagsOf(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("value") > 0.5 && !isnan(col("value")))
        .select(expr(s"timestampadd(DAY, t_idx, TIMESTAMP '$epoch 00:00:00')").as("time"),
          col("y"), col("x"))
      def runOnce(label: String): Unit = timed(label) {
        val q = spark.readStream.format("zarr").load(s"$store/sst")
          .writeStream
          .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
            tracker.processBatch(flagsOf(b), id))
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce(s"stream ingest of the base ($baseDays d)")
      (0 until 2).foreach { i =>
        val t0 = baseDays + i * appendDays
        timed(s"satellite append #${i + 1} ($appendDays d)") {
          slab(t0, appendDays).write.format("zarr")
            .option("dims", s"time:$appendDays,y:$ny,x:$nx")
            .option("chunks", s"$tc,$ny,$nx")
            .option("cols", "sst")
            .mode("append").save(store)
        }
        runOnce(s"stream ingest of append #${i + 1} ($appendDays d)")
      }
      val streamed = StreamingTracker.resolvedIdField(spark, sink).localCheckpoint()
      val nStreamed = streamed.count()
      val batch = timed(s"batch re-track of the full store ($totalDays d)") {
        Track.track(
          flagsOf(spark.read.format("zarr").load(s"$store/sst")),
          geom, spec, feedCfg).idField.localCheckpoint()
      }
      val nBatch = batch.count()
      val joined = batch.select(col("time"), col("y"), col("x"), col("event_id").as("b"))
        .join(streamed.select(col("time"), col("y"), col("x"), col("event_id").as("i")),
          Seq("time", "y", "x")).select("b", "i").distinct()
      val nPairs = joined.count()
      val bijective = joined.select("b").distinct().count() == nPairs &&
        joined.select("i").distinct().count() == nPairs
      println(s"[scale] streamed cells = $nStreamed, batch cells = $nBatch, " +
        s"id map bijective = $bijective (want counts equal, true)")
      spark.stop()
      return
    }

    // ── mfwrite: serial vs distributed multi-file archive sink ─────────────
    // `ScaleDemo 12 mfwrite 720 1440` = a year of the production grid
    // exported as 12 monthly NC4 files: first the serial per-file driver
    // sink (write3D in a loop — the round-6 measurement), then
    // NetCDFSource.writeArchive, which shuffles once on the block id and
    // deflates + writes every file inside executor tasks.
    // ── zappend: zarr store-resize append at the production grid ──────────
    // `ScaleDemo 12 zappend 720 1440` = a YEAR of daily 0.25°-global slices
    // in one zarr store (373 M cells/it behind the q89 surface), then ONE
    // appended day through `mode("append")`. Two claims measured: the
    // append cost is bounded by one day's chunks + the straddling edge
    // chunk (NOT the archive — the create is the yardstick), and the
    // metadata count(*) over the grown store still reads zero chunks.
    if (method == "zappend") {
      val days = nYears * 30 + 3 // +3 so the append STRADDLES a time chunk
      val (tc, cy, cx) = (5, math.max(1, ny / 4), math.max(1, nx / 4))
      val dir = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_zappend_${ny}x$nx")
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      def slab(nt: Int, base: Int): org.apache.spark.sql.DataFrame =
        spark.range(nt.toLong * ny * nx).select(
          (col("id") / (ny.toLong * nx)).cast("int").as("time_idx"),
          (col("id") / nx % ny).cast("int").as("y_idx"),
          (col("id") % nx).cast("int").as("x_idx"),
          (sin((col("id") + lit(base.toLong * ny * nx)).cast("double") * 1e-3) * 10.0)
            .as("sst"))
      timed(s"CREATE $days×$ny×$nx (chunks $tc×$cy×$cx)") {
        slab(days, 0).write.format("zarr")
          .option("dims", s"time:$days,y:$ny,x:$nx")
          .option("chunks", s"$tc,$cy,$cx").option("cols", "sst")
          .mode("overwrite").save(dir.getAbsolutePath)
      }
      timed("APPEND 1 day (straddling edge chunk merges in place)") {
        slab(1, days).write.format("zarr")
          .option("dims", s"time:1,y:$ny,x:$nx")
          .option("chunks", s"$tc,$cy,$cx").option("cols", "sst")
          .mode("append").save(dir.getAbsolutePath)
      }
      val back = spark.read.format("zarr").load(dir.getAbsolutePath)
      timed("metadata count(*) of the grown store") {
        val n = back.count()
        println(s"[scale] cells = $n (want ${(days + 1).toLong * ny * nx})")
      }
      timed("read back the appended day (pushed window)") {
        val d = back.filter(col("time_idx") === days &&
            col("y_idx") < 4 && col("x_idx") < 4)
          .select(sum(abs(col("sst"))).as("s")).collect()(0).getDouble(0)
        println(f"[scale] appended-day spot sum = $d%.6f (want > 0)")
      }
      timed(s"FULL-store value scan (${(days + 1).toLong * ny * nx} cells)") {
        val s0 = back.select(sum(abs(col("sst"))).as("s")).collect()(0).getDouble(0)
        println(f"[scale] full-scan sum = $s0%.3f")
      }
      spark.stop()
      return
    }

    // ── zshard: sharding_indexed as the object-count lever, measured ─────
    // `ScaleDemo 1 zshard 720 1440` = one month of daily 0.25°-global
    // slices at the SAME read granularity (1-day 1/16-hemisphere tiles)
    // written twice: plain v3 with that granularity as the chunk grid
    // (one object per tile) vs sharded (the tiles as inner chunks of
    // 5-day full-tile outer objects). Same cells, same codec, same
    // window-read selectivity; the sharded store holds 80× fewer
    // objects — at a 100 TB archive that is the difference between 10⁸
    // and 10⁶ store objects.
    if (method == "zshard") {
      val days = nYears * 30
      val (tc, cy, cx) = (5, math.max(1, ny / 4), math.max(1, nx / 4))
      val (it0, iy0, ix0) = (1, math.max(1, cy / 4), math.max(1, cx / 4))
      def slab(): org.apache.spark.sql.DataFrame =
        spark.range(days.toLong * ny * nx).select(
          (col("id") / (ny.toLong * nx)).cast("int").as("time_idx"),
          (col("id") / nx % ny).cast("int").as("y_idx"),
          (col("id") % nx).cast("int").as("x_idx"),
          (sin(col("id").cast("double") * 1e-3) * 10.0).as("sst"))
      def countObjs(dir: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else 1L
        walk(new java.io.File(dir, "sst/c"))
      }
      val plain = s"${System.getProperty("java.io.tmpdir")}/graft_zshard_plain"
      val sharded = s"${System.getProperty("java.io.tmpdir")}/graft_zshard_sharded"
      Seq(plain, sharded).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      timed(s"plain v3 write $days×$ny×$nx (chunks $it0×$iy0×$ix0 = the read tiles)") {
        slab().write.format("zarr")
          .option("dims", s"time:$days,y:$ny,x:$nx")
          .option("chunks", s"$it0,$iy0,$ix0").option("v3", "true")
          .option("cols", "sst").mode("overwrite").save(plain)
      }
      timed(s"sharded v3 write (outer $tc×$cy×$cx objects of $it0×$iy0×$ix0 inner tiles)") {
        slab().write.format("zarr")
          .option("dims", s"time:$days,y:$ny,x:$nx")
          .option("chunks", s"$tc,$cy,$cx")
          .option("shard", s"$it0,$iy0,$ix0").option("v3", "true")
          .option("cols", "sst").mode("overwrite").save(sharded)
      }
      println(s"[scale] objects: plain = ${countObjs(plain)}, " +
        s"sharded = ${countObjs(sharded)} " +
        s"(${(tc / it0) * (cy / iy0) * (cx / ix0)}× fewer, same tile granularity)")
      timed("regional window count, sharded store (pushed 1 tile × 3 days)") {
        val n = spark.read.format("zarr").load(sharded)
          .filter(col("time_idx") < 3 && col("y_idx") < iy0 && col("x_idx") < ix0)
          .count()
        println(s"[scale] window cells = $n")
      }
      timed("full equality plain ≡ sharded") {
        val a = spark.read.format("zarr").load(plain)
        val b = spark.read.format("zarr").load(sharded)
          .withColumnRenamed("sst", "s2")
        val bad = a.join(b, Seq("time_idx", "y_idx", "x_idx"))
          .filter(abs(col("sst") - col("s2")) > 0).count()
        println(s"[scale] mismatched cells = $bad (want 0)")
      }
      spark.stop()
      return
    }

    if (method == "zgrow") {
      // Round-9 probe: the two growth paths a production archive exercises
      // monthly — (a) APPEND onto the recommended SHARDED layout (new month
      // = new shard objects; chunk-aligned), (b) the CF-packed i2 layout's
      // size vs f8. args(0) = months in the base store; ny/nx the grid.
      val months = nYears
      val days = months * 30
      val (tc, cy, cx) = (5, math.max(1, ny / 4), math.max(1, nx / 4))
      val (it0, iy0, ix0) = (1, math.max(1, cy / 4), math.max(1, cx / 4))
      def slab(t0: Int, nt: Int): org.apache.spark.sql.DataFrame =
        spark.range(nt.toLong * ny * nx).select(
          (col("id") / (ny.toLong * nx)).cast("int").as("time_idx"),
          (col("id") / nx % ny).cast("int").as("y_idx"),
          (col("id") % nx).cast("int").as("x_idx"),
          (sin((col("id") + lit(t0.toLong * ny * nx)).cast("double") * 1e-3) * 10.0).as("sst"))
      def countObjs(dir: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else 1L
        walk(new java.io.File(dir, "sst/c"))
      }
      val store = s"${System.getProperty("java.io.tmpdir")}/graft_zgrow_$ny"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
      timed(s"sharded base write $days×$ny×$nx (outer $tc×$cy×$cx)") {
        slab(0, days).write.format("zarr")
          .option("dims", s"time:$days,y:$ny,x:$nx")
          .option("chunks", s"$tc,$cy,$cx")
          .option("shard", s"$it0,$iy0,$ix0").option("v3", "true")
          .option("cols", "sst").mode("overwrite").save(store)
      }
      val objs0 = countObjs(store)
      timed(s"sharded APPEND of one 30-day month (aligned: new objects only)") {
        slab(days, 30).write.format("zarr")
          .option("dims", s"time:30,y:$ny,x:$nx")
          .option("chunks", s"$tc,$cy,$cx")
          .option("cols", "sst").mode("append").save(store)
      }
      val objs1 = countObjs(store)
      println(s"[scale] shard objects $objs0 -> $objs1 " +
        s"(+${objs1 - objs0}; expected +${(30 / tc) * 16})")
      timed("windowed read of ONLY the appended month (pushed)") {
        val n = spark.read.format("zarr").load(store)
          .filter(col("time_idx") >= days).count()
        println(s"[scale] appended cells = $n (want ${30L * ny * nx})")
      }
      // (b) packed-i2 vs f8: one month each, same chunking
      def dirBytes(d: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else f.length()
        walk(new java.io.File(d))
      }
      val f8 = s"${System.getProperty("java.io.tmpdir")}/graft_zgrow_f8"
      val i2 = s"${System.getProperty("java.io.tmpdir")}/graft_zgrow_i2"
      Seq(f8, i2).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      timed(s"one month f8 vs CF-packed i2, both blosc-lz4-compressed") {
        slab(0, 30).write.format("zarr")
          .option("dims", s"time:30,y:$ny,x:$nx").option("chunks", s"$tc,$cy,$cx")
          .option("cols", "sst").option("compressor", "blosc")
          .mode("overwrite").save(f8)
        slab(0, 30).write.format("zarr")
          .option("dims", s"time:30,y:$ny,x:$nx").option("chunks", s"$tc,$cy,$cx")
          .option("cols", "sst").option("pack", "0.001")
          .option("compressor", "blosc")
          .mode("overwrite").save(i2)
      }
      println(f"[scale] bytes (blosc): f8 = ${dirBytes(f8)}%,d, packed i2 = ${dirBytes(i2)}%,d " +
        f"(${dirBytes(f8).toDouble / dirBytes(i2)}%.1fx smaller after compression)")
      // (c) round-10: the packed store GROWS — mode("append") quantizes
      // with the STORE's own attrs; cost bounded by the month's chunks
      timed("packed APPEND of one 30-day month onto the i2 store") {
        // no pack/compressor options: the STORE's attrs drive both
        slab(30, 30).write.format("zarr")
          .option("dims", s"time:30,y:$ny,x:$nx").option("chunks", s"$tc,$cy,$cx")
          .option("cols", "sst")
          .mode("append").save(i2)
      }
      timed("grown packed store reads back CF-decoded (both months)") {
        val n = spark.read.format("zarr").load(i2)
          .filter(!isnan(col("sst"))).count()
        println(s"[scale] grown packed cells = $n (want ${60L * ny * nx})")
      }
      timed("packed month reads back CF-decoded within the quantization step") {
        val bad = spark.read.format("zarr").load(i2)
          .select(col("time_idx").as("bt"), col("y_idx").as("by"),
            col("x_idx").as("bx"), col("sst").as("b"))
          .join(slab(0, 30), col("time_idx") === col("bt") &&
            col("y_idx") === col("by") && col("x_idx") === col("bx"))
          .filter(abs(col("sst") - col("b")) > 0.00051).count()
        println(s"[scale] out-of-tolerance cells = $bad (want 0)")
      }
      spark.stop()
      return
    }

    if (method == "mfwrite") {
      import graft.sources.{NetCDF4Source, NetCDFSource}
      val months = nYears // args(0) = file count
      val days = 30
      val nt = months * days
      def slab(b: Int): org.apache.spark.sql.DataFrame =
        spark.range(days.toLong * ny * nx).select(
          (col("id") / (ny.toLong * nx)).cast("int").as("t_idx"),
          (col("id") / nx % ny).cast("int").as("y"),
          (col("id") % nx).cast("int").as("x"),
          (sin(col("id").cast("double") * 1e-3 + lit(b)) * 10.0).as("value"))
      val serialDir = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_mfw_serial_${ny}x$nx")
      org.apache.commons.io.FileUtils.deleteQuietly(serialDir)
      serialDir.mkdirs()
      timed(s"SERIAL write3D × $months (${days}d $ny×$nx each)") {
        (0 until months).foreach { m =>
          NetCDF4Source.write3D(slab(m), f"${serialDir.getAbsolutePath}/sst_$m%03d.nc",
            "sst", shape = (days, ny, nx), timeChunk = 5, deflateLevel = 1)
        }
      }
      val global = spark.range(nt.toLong * ny * nx).select(
        (col("id") / (ny.toLong * nx)).cast("int").as("t_idx"),
        (col("id") / nx % ny).cast("int").as("y"),
        (col("id") % nx).cast("int").as("x"),
        (sin(pmod(col("id"), lit(days.toLong * ny * nx)).cast("double") * 1e-3 +
          (col("id") / (days.toLong * ny * nx)).cast("long").cast("double")) * 10.0)
          .as("value"))
      val distDir = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_mfw_dist_${ny}x$nx")
      org.apache.commons.io.FileUtils.deleteQuietly(distDir)
      timed(s"DISTRIBUTED writeArchive ($months blocks × ${days}d $ny×$nx)") {
        val files = NetCDFSource.writeArchive(global, distDir.getAbsolutePath, "sst",
          shape = (nt, ny, nx), blockNt = days, timeChunk = 5, deflateLevel = 1)
        println(s"[scale] files written = ${files.size}")
      }
      // equality: both archives carry the same cells (per-block sin phase)
      val a = spark.read.format("netcdf").option("var", "sst")
        .load(serialDir.getAbsolutePath)
      val b = spark.read.format("netcdf").option("var", "sst")
        .load(distDir.getAbsolutePath)
      timed("cross-check serial ≡ distributed") {
        val d = a.join(b.withColumnRenamed("value", "v2"), Seq("t_idx", "y", "x"))
          .filter(abs(col("value") - col("v2")) > 1e-12).count()
        println(s"[scale] mismatched cells = $d (want 0)")
      }
      spark.stop()
      return
    }

    // ── mfread: multi-file archive read throughput + file pruning ──────────
    // `ScaleDemo 12 mfread 720 1440` = a year of the production grid as 12
    // monthly NC4 files (the xr.open_mfdataset shape), read back through
    // format("netcdf"). Two numbers matter: full-archive scan throughput,
    // and the wall of a 2-day window — which must open ONE file's chunks,
    // not the archive.
    if (method == "mfread") {
      import graft.sources.NetCDFSource
      val months = nYears // args(0) = file count
      val days = 30
      val nt = months * days
      // spatial chunking: ~quarter-hemisphere tiles so a regional window
      // covers a small fraction of the (y, x) chunk grid
      val (cy, cx) = (math.max(1, ny / 4), math.max(1, nx / 8))
      val dir = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft_mfread_${ny}x$nx")
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      timed(s"write $months files × ${days}d $ny×$nx (distributed, $cy×$cx tiles)") {
        val global = spark.range(nt.toLong * ny * nx).select(
          (col("id") / (ny.toLong * nx)).cast("int").as("t_idx"),
          (col("id") / nx % ny).cast("int").as("y"),
          (col("id") % nx).cast("int").as("x"),
          (sin(pmod(col("id"), lit(days.toLong * ny * nx)).cast("double") * 1e-3 +
            (col("id") / (days.toLong * ny * nx)).cast("long").cast("double")) * 10.0)
            .as("value"))
        NetCDFSource.writeArchive(global, dir.getAbsolutePath, "sst",
          shape = (nt, ny, nx), blockNt = days, timeChunk = 5, deflateLevel = 1,
          spatialChunks = Some((cy, cx)))
      }
      val cells = months.toLong * days * ny * nx
      val archive = spark.read.format("netcdf").option("var", "sst")
        .load(s"${dir.getAbsolutePath}/sst_*.nc")
      timed(s"full-archive agg ($cells cells)") {
        val r = archive.agg(count(lit(1)), sum("value")).collect()(0)
        println(s"[scale] rows = ${r.getLong(0)}")
      }
      val t0w = months / 2 * days + 10 // inside one file
      val window = archive.filter(col("t_idx").between(t0w, t0w + 1))
      val plan = window.queryExecution.executedPlan.toString
      val kept = "files_kept=(\\d+)".r.findFirstMatchIn(plan).map(_.group(1)).getOrElse("?")
      timed(s"2-day window (files_kept=$kept)") {
        println(s"[scale] window rows = ${window.count()}")
      }
      // REGIONAL window: one spatial tile over the full year — per-dim y/x
      // pushdown must open ~1/32nd of every file's chunks, not the globe
      val regional = archive.filter(col("y") < cy && col("x") < cx)
      timed(s"regional window (1 of ${(ny / cy) * (nx / cx)} tiles, full year)") {
        val r = regional.agg(count(lit(1)), sum("value")).collect()(0)
        println(s"[scale] regional rows = ${r.getLong(0)} " +
          s"(partitions = ${regional.rdd.getNumPartitions})")
      }
      // metadata-only count: the dense cell count of the archive without
      // opening a single chunk
      timed("count(*) from metadata (zero chunk reads)") {
        println(s"[scale] count(*) = ${archive.groupBy().count().head.getLong(0)}")
      }
      spark.stop()
      return
    }

    // Big grids skip the source checkpoint: the synthetic generator is
    // deterministic, and pinning a second field-sized copy (≈30 GB at 0.25°
    // × 2 y) next to the anomaly checkpoint exceeds a single box's disk —
    // the two consumers (climatology agg + join-back) regenerate instead,
    // exactly like re-reading a parquet/zarr source twice on a cluster.
    val sst = timed(s"generate ${nYears}y daily $ny×$nx") {
      val df0 = SyntheticData.sstGridded(spark, nDays = 365 * nYears, ny = ny, nx = nx,
        noiseAmp = 2.0)
      val df = if (bigGrid) df0 else df0.localCheckpoint()
      println(s"[scale] rows = ${df.count()}")
      df
    }

    // Exact (pixel-kernel) vs histogram-approximate hobday, selectable via
    // args(1). Head-to-head at this 40y×20×40 shape (local[32], end of
    // round 3): exact 31.5 s / 5.01% flagged vs approximate 39.3 s / 5.76%.
    // The bin-first pooled-histogram rework (one partial-agg shuffle to
    // (pixel, doy, bin) counts, then the 11× doy window pooled on the
    // bounded aggregate) cut the approx path 5.5× (215 s round 1); the
    // exact pixel-kernel still wins at this modest pixel count, and coarse
    // 0.05-unit bins over-flag — the histogram path pays off when
    // per-group sample counts dwarf the bin count (century archives,
    // std-normalised units).
    val (anom, thr, extremes) = timed(s"detect (fixed+hobday $method)") {
      val r = Detect.preprocess(sst, DetectConfig(
        methodAnomaly = "fixed_baseline", methodExtreme = "hobday_extreme",
        thresholdPercentile = 95, methodPercentile = method,
        precision = 0.05, maxAnomaly = 25.0))
      // big grids keep only the ~5% flag set, not the full boolean field —
      // the extremes frame is a join of two already-checkpointed inputs
      (r._1, r._2, if (bigGrid) r._3 else r._3.localCheckpoint())
    }

    val flags = timed("extreme flags") {
      val f = extremes.filter(col("extreme")).select("time", "y", "x").localCheckpoint()
      val n = f.count()
      println(f"[scale] flagged fraction = ${n.toDouble / (365L * nYears * ny * nx)}%.4f " +
        f"($n rows, thr rows=${thr.count()})")
      f
    }
    val res = timed("track (non-merging, R=2, T=2)") {
      val r = Track.track(flags, geom, spec, TrackConfig(
        rFill = 2, tFill = 2, areaFilterQuartile = 0.5,
        overlapThreshold = 0.25, allowMerging = false))
      r.idField.count()
      r
    }
    timed("stats") {
      println(s"[scale] ${res.stats}")
    }
    spark.stop()
  }
}
