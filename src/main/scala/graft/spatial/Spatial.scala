package graft.spatial

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Grid-bucketed spatial joins — the 2-D analogue of the engine's banded
  * 1-D range join (`Events.rangePairs`), and the standard way to run
  * radius / nearest-neighbor queries at cluster scale without an R-tree:
  * hash points into fixed-size grid cells, exchange BY CELL, and join
  * each point's 3x3 cell neighborhood against candidate home cells so
  * only near-colocated points ever meet. Nothing here is all-pairs.
  *
  * Coordinates are INTEGER (derived, like every other synthetic fixture
  * in this engine, from seeded md5 over real table keys — pure column
  * ops both engines replay bit-identically), so every distance is exact
  * integer arithmetic and the oracle compare is hash-exact with no FP
  * epsilon anywhere.
  *
  * Scale notes (100 TB): candidate generation is ONE exchange keyed by
  * (cell_x, cell_y); the 9x neighborhood explosion is applied to one
  * side only, and each unordered pair is produced exactly once (matched
  * at the right row's unique home cell, ordered by id), so there is no
  * post-join dedup. Per-task work is bounded by the densest cell
  * (sum over cells of n_cell * n_neighborhood), the spatial analogue of
  * the dedup family's df-cap argument; a hot cell (urban skew) salts
  * like any hot join key. Radius must not exceed the cell size — that
  * invariant is what makes the 3x3 neighborhood complete, and it is
  * `require`d rather than commented.
  */
object Spatial {

  /** Deterministic integer point cloud over the distinct keys of `df`:
    * x,y in [0, size) from seeded md5 of the key (engine-portable — the
    * same '0x'||hex8 parse the sampling family pins). */
  def hashPoints(df: DataFrame, idCol: String, size: Int = 1024,
                 seedX: Long = 17L, seedY: Long = 23L): DataFrame = {
    import graft.sources.Sampling.{hex8Int, sampleKey}
    df.select(col(idCol)).distinct()
      .select(col(idCol),
        (hex8Int(sampleKey(col(idCol), seedX)) % size).as("x"),
        (hex8Int(sampleKey(col(idCol), seedY)) % size).as("y"))
  }

  private def withCells(points: DataFrame, idCol: String, cell: Int): DataFrame =
    points.select(col(idCol), col("x"), col("y"),
      floor(col("x") / cell).cast("long").as("cx"),
      floor(col("y") / cell).cast("long").as("cy"))

  private def neighborhood(pts: DataFrame, idCol: String): DataFrame = {
    val deltas = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))): _*)
    pts.select(col(idCol), col("x"), col("y"), col("cx"), col("cy"),
        explode(deltas).as("d"))
      .select(col(idCol), col("x"), col("y"),
        (col("cx") + col("d.dx")).as("ncx"), (col("cy") + col("d.dy")).as("ncy"))
  }

  private def dist2(ax: Column, ay: Column, bx: Column, by: Column): Column =
    (ax - bx) * (ax - bx) + (ay - by) * (ay - by)

  /** All unordered point pairs within `radius`: grid join, never
    * all-pairs. Output (id_a, id_b, dist2) with id_a < id_b, exact. */
  def radiusPairs(points: DataFrame, idCol: String, radius: Int,
                  cell: Int): DataFrame = {
    require(radius <= cell,
      s"radius ($radius) must be <= cell ($cell): the 3x3 neighborhood is " +
        "only complete when a radius never spans more than one cell boundary")
    val pts = withCells(points, idCol, cell)
    val lhs = neighborhood(pts.select(col(idCol), col("x"), col("y"),
      col("cx"), col("cy")), idCol)
      .select(col(idCol).as("id_a"), col("x").as("ax"), col("y").as("ay"),
        col("ncx"), col("ncy"))
    val rhs = pts.select(col(idCol).as("id_b"), col("x").as("bx"),
      col("y").as("by"), col("cx"), col("cy"))
    lhs.join(rhs,
        col("ncx") === col("cx") && col("ncy") === col("cy") &&
          col("id_a") < col("id_b"))
      .withColumn("dist2", dist2(col("ax"), col("ay"), col("bx"), col("by")))
      .filter(col("dist2") <= radius.toLong * radius)
      .select(col("id_a"), col("id_b"), col("dist2"))
      .orderBy("id_a", "id_b")
  }

  /** Bounded k-nearest-neighbors: for each point, the k nearest OTHER
    * points within `radius` (ties broken by neighbor id) — the
    * radius-bounded kNN every geo feature pipeline runs (an unbounded
    * kNN cannot be cell-local; the radius bound is what keeps the scan
    * one grid join). Output (id, neighbor_id, dist2, rank). */
  def gridKnn(points: DataFrame, idCol: String, k: Int, radius: Int,
              cell: Int): DataFrame = {
    require(radius <= cell, "radius must be <= cell (3x3 completeness)")
    val pts = withCells(points, idCol, cell)
    val lhs = neighborhood(pts, idCol)
      .select(col(idCol).as("id"), col("x").as("ax"), col("y").as("ay"),
        col("ncx"), col("ncy"))
    val rhs = pts.select(col(idCol).as("neighbor_id"), col("x").as("bx"),
      col("y").as("by"), col("cx"), col("cy"))
    val w = Window.partitionBy("id").orderBy(col("dist2"), col("neighbor_id"))
    lhs.join(rhs,
        col("ncx") === col("cx") && col("ncy") === col("cy") &&
          col("id") =!= col("neighbor_id"))
      .withColumn("dist2", dist2(col("ax"), col("ay"), col("bx"), col("by")))
      .filter(col("dist2") <= radius.toLong * radius)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("neighbor_id"), col("dist2"),
        col("rank").cast("int").as("rank"))
      .orderBy("id", "rank")
  }

  /** Grid DBSCAN (Ester et al. '96), exact, from the same bounded 3x3
    * grid join as radiusPairs: a point is CORE when its eps-neighborhood
    * (itself included) holds >= minPts points; clusters are the
    * connected components of core points within eps (min-id labels, the
    * duplicateClusters contract — core-core reachability IS DBSCAN
    * density-connectivity restricted to cores); a non-core point within
    * eps of any core joins as BORDER, attached to the SMALLEST core
    * cluster id among its core neighbors (pinning the assignment order
    * the original algorithm leaves scan-order-dependent); everything
    * else is NOISE.
    *
    * Scale notes (100 TB): neighbor counting, core detection, and edge
    * generation all reuse the ONE grid equi-join (never all-pairs); the
    * CC iteration runs over SUPERNODES — cores contracted by eps-clique
    * subcell (below), so its input scales with occupied grid AREA, not
    * point count; border attachment is one more join of the bounded pair
    * frame against the core label table. No stage touches more than the
    * eps-pair set, and only the contraction joins touch even that. */
  def gridDbscan(points: DataFrame, idCol: String, eps: Int, minPts: Int,
                 cell: Int,
                 driverEdgeCap: Int = graft.dedup.Dedup.DriverEdgeCap): DataFrame = {
    val pairs = radiusPairs(points, idCol, eps, cell)
      .select("id_a", "id_b").localCheckpoint(true)
    val und = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
      .unionByName(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
    val ncount = und.groupBy("id").agg(count(lit(1)).as("__n"))
    val ids = points.select(col(idCol).as("id"))
    val core = ids.join(ncount, Seq("id"), "left")
      .filter(coalesce(col("__n"), lit(0L)) + 1 >= minPts).select("id")
    // eps-clique contraction BEFORE the CC iteration (exact, not a
    // heuristic): side = 1 + floor(eps/sqrt2) makes the in-subcell
    // coordinate deltas at most side-1 per axis, so 2*(side-1)^2 <= eps^2
    // — any two points of one subcell are within eps, hence all
    // same-subcell COREs are pairwise density-connected and collapse to
    // one supernode, their MIN id, which keeps every final label
    // bit-identical to the uncontracted fixpoint. The CC iteration then
    // joins at most (grid/side)^2 supernodes per round instead of
    // dragging the full eps-pair set through log(diameter) rounds.
    val side = 1 + (eps / math.sqrt(2.0)).toInt
    val coreSub = points
      .select(col(idCol).as("id"),
        floor(col("x") / side).as("scx"), floor(col("y") / side).as("scy"))
      .join(core, Seq("id"))
    // subcell -> min core id: bounded by grid area, broadcast back
    val superIds = coreSub.groupBy("scx", "scy").agg(min("id").as("__super"))
    val superOf = coreSub.join(broadcast(superIds), Seq("scx", "scy"))
      .select(col("id"), col("__super")).localCheckpoint(true)
    // core-core eps edges mapped to supernode grain (the superOf inner
    // joins ARE the core-core restriction: superOf holds cores only)
    val ccPairs = pairs
      .join(superOf.select(col("id").as("id_a"), col("__super").as("__sa")),
        Seq("id_a"))
      .join(superOf.select(col("id").as("id_b"), col("__super").as("__sb")),
        Seq("id_b"))
      .filter(col("__sa") =!= col("__sb"))
      .select(col("__sa").as("doc_a"), col("__sb").as("doc_b")).distinct()
    // The supernode graph is AREA-bounded by construction — at most
    // (grid/side)^2 nodes (~1k at the 1024x1024 default) no matter how
    // many points the table holds — so duplicateClusters takes its driver
    // union-find branch (the standard single-node cell-merge step of grid
    // DBSCAN); its distributed branch takes over if a custom grid
    // geometry ever blows past driverEdgeCap (SpatialSpec pins both
    // branches equal by forcing the cap to 0).
    val superLabels = graft.dedup.Dedup.duplicateClusters(ccPairs,
        driverEdgeCap = driverEdgeCap)
      .withColumnRenamed("doc_id", "__super")
    // isolated supernodes (a subcell clique with no outside edge) label as
    // their own singleton — which IS the min core id of that clique
    val coreLabels = superOf
      .join(superLabels, Seq("__super"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("__super")).as("__ccl"))
    val borderAssign = und
      .join(coreLabels.select(col("id").as("nb"), col("__ccl").as("__ncl")),
        Seq("nb"))
      .groupBy("id").agg(min("__ncl").as("__bcl"))
    ids.join(coreLabels, Seq("id"), "left")
      .join(borderAssign, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("__ccl").isNotNull, lit("core"))
          .when(col("__bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("__ccl").isNotNull, col("__ccl"))
          .otherwise(col("__bcl")).as("cluster_id"))
      .orderBy(idCol)
  }
}
