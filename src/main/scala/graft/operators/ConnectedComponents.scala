package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge table — the primitive behind marEx
  * object labeling and event stitching (`marEx/track.py:1912–2048` per-slice
  * CCL, `track.py:2809–3331` cross-time event graph).
  *
  * Two implementations, chosen by graph size:
  *
  *  - [[labelProp]]: distributed min-label propagation. Each round is one
  *    shuffle (`join` edge→label + `groupBy(node).min`), converging in
  *    O(graph diameter) rounds. `localCheckpoint` every round truncates the
  *    lineage so the plan stays O(1) per iteration — without it the logical
  *    plan doubles each round and the driver dies long before the data does.
  *    This is the 100 TB path (the marEx pixel graph is huge but its diameter
  *    — the longest object's extent in cells — is modest).
  *
  *  - [[unionFindLocal]]: driver-side weighted union-find for *small* graphs
  *    (the reference does exactly this: overlap-pair graphs have ~10³–10⁴
  *    nodes and are solved with scipy on the driver, track.py:2883). Collect
  *    + union-find beats any distributed CC at that size.
  */
object ConnectedComponents {

  /** Distributed min-label propagation with pointer jumping.
    *
    * Each round: (a) neighbor step — every node takes the min label over its
    * neighborhood; (b) pointer-jump step — every node then takes its label's
    * label (label = some node id, so labels form a pointer forest). The jump
    * step contracts label chains exponentially, so convergence is
    * O(log diameter) rounds instead of O(diameter) — the difference between
    * 8 and 500 shuffle rounds on a long filament at 100 TB.
    *
    * Convergence test: labels only ever decrease, so sum(label) is strictly
    * monotone until the fixpoint — one cheap agg on the freshly
    * checkpointed frame, no extra join against the previous iteration.
    *
    * @param edges DataFrame with long columns `src`, `dst` (undirected; both
    *              orientations are generated internally).
    * @return (node LONG, component LONG) where component = min node id reachable.
    */
  def labelProp(edges: DataFrame, maxIter: Int = 100): DataFrame = {
    val und = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .union(edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
      .distinct()
      .localCheckpoint()

    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()

    var prevSum = labels.agg(sum("label")).head().getLong(0)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // (a) min over self + neighbors
      val prop = und.join(labels, und("dst") === labels("node"))
        .select(und("src").as("node"), col("label"))
      val afterNbr = labels.union(prop)
        .groupBy("node").agg(min("label").as("label"))
      // (b) pointer jump: label := label(label)
      val lookup = labels.select(col("node").as("l_node"), col("label").as("l_label"))
      // iterCheckpoint, NOT plain localCheckpoint: the round plan references
      // the previous round's labels twice, so an inherited stats estimate
      // would square every round (see Plans.iterCheckpoint)
      val next = graft.core.Plans.iterCheckpoint(afterNbr
        .join(lookup, afterNbr("label") === lookup("l_node"), "left")
        .select(col("node"), least(col("label"), coalesce(col("l_label"), col("label"))).as("label")))
      val s = next.agg(sum("label")).head().getLong(0)
      converged = s == prevSum
      prevSum = s
      labels = next
      i += 1
    }
    labels.select(col("node"), col("label").as("component"))
  }

  /** Edge count at or below which [[auto]] solves the graph on the driver
    * — and the cell count at or below which a non-merging
    * `IncrementalTracker` append runs on the driver. */
  val DriverThreshold: Long = 2000000L

  /** Size-adaptive entry point: up to [[DriverThreshold]] edges the graph is
    * collected and solved with union-find on the driver — for a graph that
    * fits in driver memory this beats any distributed fixpoint by an order
    * of magnitude (the reference makes the identical call with scipy,
    * track.py:2883). Larger graphs run [[labelProp]]. */
  def auto(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // ONE action probes the size AND collects the small case: the edge list
    // is usually the output of an expensive join the caller may not have
    // materialized, and the previous count-then-collect computed it twice.
    // limit(threshold+1) bounds the driver transfer exactly like the count
    // probe did; only the rare above-threshold graph pays a second (now
    // distributed) pass.
    val taken = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .limit((DriverThreshold + 1).toInt).collect()
    if (taken.length > DriverThreshold) labelProp(edges)
    else {
      val comp = unionFindLocal(taken.iterator.map(r => (r.getLong(0), r.getLong(1))))
      comp.toSeq.toDF("node", "component")
    }
  }

  /** Driver-side union-find for small graphs (collect first; caller asserts
    * smallness). Returns node -> component representative (min node id). */
  def unionFindLocal(edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) => union(a, b) }
    // second pass: min-id representative (union by min above keeps roots minimal)
    parent.keys.map(k => k -> find(k)).toMap
  }
}
