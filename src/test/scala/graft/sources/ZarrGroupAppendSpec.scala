package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** Round-9 append surfaces: SQL appends onto COORDINATE-carrying stores
  * (the layout the reference's own `to_zarr` produces — it always writes a
  * time axis), chunk-aligned appends onto SHARDED stores (the repo's own
  * recommended 100 TB layout), and multi-tuple group appends shaped like
  * `ZarrOutput.writeTrackResult` output (time coord + ID tables + a member
  * whose append dim sits mid-tuple). */
class ZarrGroupAppendSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String = "graft_zgap"): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete()
    d.getAbsolutePath
  }

  private def cells(nt: Int, ny: Int, nx: Int, tBase: Int = 0) =
    (for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
      yield (t, y, x, (t + tBase) * 100.0 + y * 10.0 + x))
      .toDF("time_idx", "y_idx", "x_idx", "sst")

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  // ── SQL appends onto coordinate-carrying stores ────────────────────────

  test("SQL appends extend the time coordinate via the coords option") {
    val dir = tmpDir()
    cells(3, 2, 4).write.format("zarr")
      .option("dims", "time:3,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:100:1")
      .mode("overwrite").save(dir)
    // two appends, each carrying its block's coordinate window
    cells(2, 2, 4, tBase = 3).write.format("zarr")
      .option("dims", "time:2,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:103:1")
      .mode("append").save(dir)
    cells(3, 2, 4, tBase = 5).write.format("zarr")
      .option("dims", "time:3,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:105:1")
      .mode("append").save(dir)
    val ds = spark.read.format("zarr").load(dir)
    assert(ds.count() == 8 * 2 * 4)
    val times = ds.select("time").distinct().as[Double].collect().sorted
    assert(times.toSeq == (100 to 107).map(_.toDouble),
      "the appended coordinate must continue the axis")
    // data ≡ one-shot write, and time VALUE joins to the right slices
    assert(ds.filter(col("sst") =!=
      (col("time") - 100.0) * 100.0 + col("y_idx") * 10.0 + col("x_idx"))
      .count() == 0)
  }

  test("an append onto a coord-carrying store WITHOUT coords still fails by name") {
    val dir = tmpDir()
    cells(2, 2, 2).write.format("zarr")
      .option("dims", "time:2,y:2,x:2").option("chunks", "2,2,2")
      .option("cols", "sst").option("coords", "time:0:1")
      .mode("overwrite").save(dir)
    val e = intercept[Exception] {
      cells(2, 2, 2, tBase = 2).write.format("zarr")
        .option("dims", "time:2,y:2,x:2").option("chunks", "2,2,2")
        .option("cols", "sst")
        .mode("append").save(dir)
    }
    assert(msgs(e).exists(_.contains("coordinate")), s"got: ${msgs(e)}")
  }

  test("append coords must name the append dimension") {
    val dir = tmpDir()
    cells(2, 2, 2).write.format("zarr")
      .option("dims", "time:2,y:2,x:2").option("chunks", "2,2,2")
      .option("cols", "sst").option("coords", "time:0:1")
      .mode("overwrite").save(dir)
    val e = intercept[Exception] {
      cells(2, 2, 2, tBase = 2).write.format("zarr")
        .option("dims", "time:2,y:2,x:2").option("chunks", "2,2,2")
        .option("cols", "sst").option("coords", "y:0:1")
        .mode("append").save(dir)
    }
    assert(msgs(e).exists(m => m.contains("append-dim") ||
      m.contains("append can only")), s"got: ${msgs(e)}")
  }

  test("the stream source consumes coord-carrying appends live") {
    val dir = tmpDir()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_zgap_ck").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_zgap_out").toFile
    def runOnce(): Unit = {
      val q = spark.readStream.format("zarr").option("var", "sst").load(dir)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    cells(3, 2, 4).write.format("zarr")
      .option("dims", "time:3,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:50:1")
      .mode("overwrite").save(dir)
    runOnce()
    assert(spark.read.parquet(out.getAbsolutePath).count() == 3 * 2 * 4)
    cells(4, 2, 4, tBase = 3).write.format("zarr")
      .option("dims", "time:4,y:2,x:4").option("chunks", "2,2,4")
      .option("cols", "sst").option("coords", "time:53:1")
      .mode("append").save(dir)
    runOnce()
    val all = spark.read.parquet(out.getAbsolutePath)
    assert(all.count() == 7 * 2 * 4, "appended slices stream exactly once")
    assert(all.filter(col("value") =!=
      col("t_idx") * 100.0 + col("y") * 10.0 + col("x")).count() == 0)
  }

  // ── appends onto sharded stores ────────────────────────────────────────

  private def shardObjects(dir: String, member: String = "sst"): Seq[String] = {
    val base = new java.io.File(s"$dir/$member/c")
    Option(base.listFiles()).toSeq.flatten
      .flatMap(t => Option(t.listFiles()).toSeq.flatten)
      .flatMap(y => Option(y.listFiles()).toSeq.flatten)
      .map(_.getAbsolutePath.stripPrefix(base.getAbsolutePath))
  }

  private def sqlShardWrite(df: org.apache.spark.sql.DataFrame, dir: String,
      nt: Int, mode: String): Unit =
    df.write.format("zarr")
      .option("dims", s"time:$nt,y:4,x:6").option("chunks", "2,4,6")
      .option("shard", "1,2,6").option("v3", "true").option("cols", "sst")
      .mode(mode).save(dir)

  test("chunk-aligned appends onto a sharded store land as NEW shard objects") {
    val one = tmpDir(); val two = tmpDir()
    sqlShardWrite(cells(6, 4, 6), one, 6, "overwrite")
    sqlShardWrite(cells(4, 4, 6), two, 4, "overwrite")
    val before = shardObjects(two).toSet
    cells(2, 4, 6, tBase = 4).write.format("zarr")
      .option("dims", "time:2,y:4,x:6").option("chunks", "2,4,6")
      .option("cols", "sst")
      .mode("append").save(two)
    val after = shardObjects(two).toSet
    assert(before.subsetOf(after) && (after -- before).nonEmpty,
      s"aligned append must only ADD shard objects (before=$before after=$after)")
    assert(after.size == 3, s"6 slices / time-chunk 2 = 3 outer objects, got $after")
    // cell-for-cell equal to the one-shot sharded write
    val a = spark.read.format("zarr").load(one)
      .select(col("time_idx").as("t"), col("y_idx").as("yy"),
        col("x_idx").as("xx"), col("sst"))
    val b = spark.read.format("zarr").load(two)
      .select(col("time_idx").as("t"), col("y_idx").as("yy"),
        col("x_idx").as("xx"), col("sst").as("app"))
    assert(a.join(b, Seq("t", "yy", "xx"), "full")
      .filter(col("sst") =!= col("app") ||
        col("sst").isNull || col("app").isNull).count() == 0)
  }

  test("a non-aligned append onto a sharded store read-merges the edge shard") {
    val one = tmpDir(); val two = tmpDir()
    sqlShardWrite(cells(5, 4, 6), one, 5, "overwrite")
    // block 1 ends mid-chunk (t=0..2 with time-chunk 2): the second block's
    // t=3 must merge INTO the existing edge shard object holding t=2
    sqlShardWrite(cells(3, 4, 6), two, 3, "overwrite")
    cells(2, 4, 6, tBase = 3).write.format("zarr")
      .option("dims", "time:2,y:4,x:6").option("chunks", "2,4,6")
      .option("cols", "sst")
      .mode("append").save(two)
    val a = spark.read.format("zarr").load(one)
      .select(col("time_idx").as("t"), col("y_idx").as("yy"),
        col("x_idx").as("xx"), col("sst"))
    val b = spark.read.format("zarr").load(two)
      .select(col("time_idx").as("t"), col("y_idx").as("yy"),
        col("x_idx").as("xx"), col("sst").as("app"))
    assert(b.count() == 5 * 4 * 6)
    assert(a.join(b, Seq("t", "yy", "xx"), "full")
      .filter(col("sst") =!= col("app") ||
        col("sst").isNull || col("app").isNull).count() == 0,
      "the straddled shard must merge in place, both sides intact")
  }

  // ── multi-tuple append: the writeTrackResult shape ─────────────────────

  /** Build a track-output-SHAPED store: ID_field(time,lat,lon),
    * area(time,ID), centroid(component,time,ID) — append dim mid-tuple —
    * plus time/ID coordinates. */
  private def trackShaped(dir: String, nt: Int, tBase: Int = 0,
      oneShot: Boolean = false): Unit = {
    val ny = 3; val nx = 4; val nIds = 2
    val idField = (for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx)
      yield (t, y, x, ((t + tBase + y + x) % 3).toDouble))
      .toDF("time_idx", "lat_idx", "lon_idx", "ID_field")
    val area = (for (t <- 0 until nt; id <- 0 until nIds)
      yield (t, id, (t + tBase) * 10.0 + id))
      .toDF("time_idx", "ID_idx", "area")
    val centroid = (for (c <- 0 until 2; t <- 0 until nt; id <- 0 until nIds)
      yield (c, t, id, c * 1000.0 + (t + tBase) * 10.0 + id))
      .toDF("component_idx", "time_idx", "ID_idx", "centroid")
    if (oneShot || tBase == 0) {
      val w = new ZarrGroup.GroupWriter(dir, v3 = true)
      w.arrays(idField, Seq("time" -> nt, "lat" -> ny, "lon" -> nx),
        Seq(2, ny, nx), Seq("ID_field"), fill = 0.0)
      w.arrays(area, Seq("time" -> nt, "ID" -> nIds), Seq(2, nIds), Seq("area"))
      w.arrays(centroid, Seq("component" -> 2, "time" -> nt, "ID" -> nIds),
        Seq(2, 2, nIds), Seq("centroid"))
      w.coord("time", Array.tabulate(nt)(i => 1000.0 + tBase + i))
      w.coord("ID", Array(1.0, 2.0))
      w.finish()
    } else {
      ZarrGroup.appendGroupDataset(dir, "time", nt, Seq(
        ZarrGroup.AppendBlock(idField, Seq("time", "lat", "lon"),
          Seq(2, ny, nx), Seq("ID_field")),
        ZarrGroup.AppendBlock(area, Seq("time", "ID"), Seq(2, nIds), Seq("area")),
        ZarrGroup.AppendBlock(centroid, Seq("component", "time", "ID"),
          Seq(2, 2, nIds), Seq("centroid"))),
        newCoords = Map("time" -> Array.tabulate(nt)(i => 1000.0 + tBase + i)))
    }
  }

  test("multi-tuple append grows a track-shaped store (append dim mid-tuple)") {
    val one = tmpDir(); val two = tmpDir()
    trackShaped(one, 5, oneShot = true)
    trackShaped(two, 3)          // create t=0..2
    trackShaped(two, 2, tBase = 3) // append t=3..4, non-chunk-aligned
    val g = ZarrGroup.open(two, spark.sparkContext.hadoopConfiguration)
    assert(g.members("ID_field").meta.shape == Seq(5, 3, 4))
    assert(g.members("area").meta.shape == Seq(5, 2))
    assert(g.members("centroid").meta.shape == Seq(2, 5, 2),
      "the MIDDLE axis must have grown")
    assert(g.members("time").meta.shape == Seq(5))
    // every member cell-for-cell equal to the one-shot build: the tuples
    // share no primary grid, so each member reads through its `var` read
    Seq("ID_field", "area", "centroid").foreach { v =>
      def member(dir: String) = spark.read.format("zarr").option("var", v).load(dir)
      val a = member(one)
      val b = member(two).withColumnRenamed("value", "app")
      assert(a.join(b, a.columns.filter(_ != "value").toSeq, "full")
        .filter(col("value") =!= col("app") ||
          col("value").isNull || col("app").isNull).count() == 0,
        s"member '$v' must equal the one-shot build")
    }
    val (_, times) = ZarrSource.readLocalND(s"$two/time")
    assert(times.toSeq == (0 until 5).map(1000.0 + _))
  }

  test("a block missing from a multi-tuple append aborts by name before any byte") {
    val dir = tmpDir()
    trackShaped(dir, 3)
    val snapshot = shardFreeListing(dir)
    val e = intercept[Exception] {
      ZarrGroup.appendGroupDataset(dir, "time", 2, Seq(
        ZarrGroup.AppendBlock(
          (for (t <- 0 until 2; y <- 0 until 3; x <- 0 until 4)
            yield (t, y, x, 1.0)).toDF("time_idx", "lat_idx", "lon_idx", "ID_field"),
          Seq("time", "lat", "lon"), Seq(2, 3, 4), Seq("ID_field"))),
        newCoords = Map("time" -> Array(2000.0, 2001.0)))
    }
    assert(msgs(e).exists(m => m.contains("area") || m.contains("centroid")),
      s"got: ${msgs(e)}")
    assert(shardFreeListing(dir) == snapshot,
      "a rejected append must not have touched the store")
  }

  private def shardFreeListing(dir: String): Set[(String, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .map(f => (f.getAbsolutePath.stripPrefix(dir), f.length())).toSet
  }
}
