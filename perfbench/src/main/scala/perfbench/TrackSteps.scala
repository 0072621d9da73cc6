package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.marex.{GridSpec, Raster, Track, TrackConfig}
import perfbench.Workload.step

/** Merging `Track.track`'s steps (no preprocessing checkpoint,
  * batch-parallel split/merge), called one at a time through the tracker's
  * public functions with a span and a materialised boundary after each, so
  * a traced run can attribute the batch tracker's time to its stages. */
object TrackSteps {
  def traced(flags: DataFrame, geom: DataFrame, spec: GridSpec, cfg: TrackConfig,
      tr: Option[Tracer]): (DataFrame, Map[String, Long]) = {
    require(cfg.allowMerging && !cfg.sequentialSplitMerge && cfg.checkpointMode.isEmpty,
      "the traced composition covers the batch-parallel merging tracker")
    val (axis, filled) = step(tr, "track.morph") {
      val axis = Some(Track.timeIndex(flags).select("time").localCheckpoint())
      val land = geom.filter(!col("valid")).select("y", "x")
      val landOpt = if (land.isEmpty) None else Some(land)
      val f1 = Raster.fillHoles(flags, cfg.rFill, spec, landOpt)
      val f3 = if (cfg.tFill > 0)
          Raster.fillHoles(Track.fillTimeGaps(f1, cfg.tFill, axis), cfg.rFill / 2, spec, landOpt)
        else f1
      (axis, f3.localCheckpoint())
    }
    val gids = step(tr, "track.label") {
      Track.globalIds(Raster.labelPerSlice(filled, spec).localCheckpoint()).localCheckpoint()
    }
    val (filtered, pre, post) = step(tr, "track.filter") {
      val f = Track.filterSmallObjects(gids, geom, cfg).localCheckpoint()
      (f, gids.select("gid").distinct().count(), f.select("gid").distinct().count())
    }
    val (resolved, nMerges) = step(tr, "track.splitmerge") {
      val (resolved, merges) = Track.splitAndMerge(filtered, geom, cfg, axis)
      (resolved, merges.count())
    }
    val idField = step(tr, "track.stitch") {
      val gidMap = Track.eventMapping(resolved, cfg.overlapThreshold, axis).localCheckpoint()
      resolved.join(gidMap, "gid").select("time", "y", "x", "event_id").localCheckpoint()
    }
    val nEvents = step(tr, "track.props") {
      Track.objectProps(idField, geom, idCol = "event_id")
        .groupBy("event_id").agg(min("time"), max("time"), count(lit(1)), max("area"))
        .count()
    }
    (idField, Map("n_objects_prefiltered" -> pre, "n_objects_filtered" -> post,
      "n_events_final" -> nEvents, "total_merges" -> nMerges))
  }
}
