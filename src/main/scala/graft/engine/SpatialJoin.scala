package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.graft.ColumnBridge
import graft.functions.gf
import graft.geom.{BoolOps, Geom, Wkb}
import graft.plans.{CellJoinRule, PipJoin}

/** Cell-indexed spatial joins — the north-rule operator (SURVEY.md §2.E).
  *
  * Shape (reference analog: layer-algebra loop "set spatial filter from input
  * feature, iterate candidates, refine with prepared geometry",
  * /root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:5385-5538):
  *
  *   polygons --st_cover(z)--> (cell, poly)   [small side: broadcast]
  *   points   --st_cell(z)---> (cell, point)
  *   match on cell → exact PIP refine (st_contains_point)
  *
  * A point lands in exactly one cell, so point-vs-polygon candidates are
  * already distinct — no dedup needed. Polygon-vs-polygon joins keep a
  * pair only at the smallest shared cell, before the exact predicate.
  *
  * Scale notes (100 TB):
  *  - `pipJoin` always broadcasts the polygon side as a cell index
  *    (graft.plans.BroadcastPipJoinExec) and never shuffles the points; it
  *    refuses a polygon side above `spark.sql.maxBroadcastTableSize`
  *  - polygon sides that large, or skewed cells (everyone in one city),
  *    take `pipJoinSalted`: a partitioned equi-join on (cell, salt)
  *  - choose z so covers stay small (cells ≈ envelope_area / cell_area;
  *    z+1 quadruples cells)
  *  - `intersectsJoin` is CellJoinRule's cell equi-join: Spark/AQE picks
  *    broadcast or shuffle by size; covers over the cap take a nested loop
  */
object SpatialJoin {

  /** Point-in-polygon join. `pts` needs (lon, lat), `polys` needs `wkb`.
    * Returns pts columns + polys columns, with the polygon's `wkb` renamed
    * `poly_wkb`, for every (point, polygon) pair where the polygon contains
    * the point (ray-crossing rule). Plans as one
    * graft.plans.BroadcastPipJoinExec with cell index zoom `z`.
    */
  def pipJoin(pts: DataFrame, polys: DataFrame, z: Int): DataFrame = {
    // the polygon geometry is namespaced to poly_wkb so points may carry
    // their own wkb column (e.g. geo-docs rows) through the join untouched
    val p = polys.withColumnRenamed("wkb", "poly_wkb")
    // the analyzed naive join brings self-join dedup and the predicate's
    // implicit casts; it is then lowered onto the PipJoin node
    val naive = pts.join(p, gf.st_contains_point(p("poly_wkb"), pts("lon"), pts("lat")))
    val lowered = PipJoin.lower(naive.queryExecution.analyzed.asInstanceOf[Join], z)
    ColumnBridge.ofRows(pts.sparkSession, lowered.get)
  }

  /** Salted PIP join for skewed cells: every point key becomes
    * (cell, salt = hash(doc) % s); the polygon side is exploded s-fold.
    * Deterministic (no rand()) so resume/retry reproduce identical output.
    * Use when one cell holds a large share of the points (FIXTURES.md §1
    * skew variant; SURVEY.md §4 "skew handling").
    */
  def pipJoinSalted(pts: DataFrame, polys: DataFrame, z: Int, salt: Int,
                    saltKey: Column): DataFrame = {
    val cover = polys.withColumnRenamed("wkb", "poly_wkb")
      .withColumn("cell", explode(gf.st_cover(col("poly_wkb"), lit(z))))
      .withColumn("salt", explode(lit((0 until salt).toArray)))
    pts.withColumn("cell", gf.st_cell(col("lon"), col("lat"), lit(z)))
      .withColumn("salt", pmod(xxhash64(saltKey), lit(salt)).cast("int"))
      .join(cover, Seq("cell", "salt"))
      .where(gf.st_contains_point(col("poly_wkb"), col("lon"), col("lat")))
      .drop("cell", "salt")
  }

  /** Polygon-polygon (layer algebra style) intersects join: left columns +
    * right columns (`wkb` renamed `wkb_r`), once for every row pair whose
    * `wkb`s intersect. Plans as graft.plans.CellJoinRule's cell join at
    * zoom `z`. Reference: Intersection/Union/Clip layer loops
    * (ogrlayer.cpp:5385,5803,7537).
    */
  def intersectsJoin(left: DataFrame, right: DataFrame, z: Int): DataFrame = {
    val r = right.withColumnRenamed("wkb", "wkb_r")
    // as in pipJoin: the analyzed naive join brings self-join dedup
    val naive = left.join(r, gf.st_intersects(left("wkb"), r("wkb_r")))
    val lowered = CellJoinRule.lowerGeom(naive.queryExecution.analyzed.asInstanceOf[Join], z)
    ColumnBridge.ofRows(left.sparkSession, lowered.get)
  }

  /** Layer-algebra Identity (OGRLayer::Identity,
    * /root/reference/ogr/ogrlayer.cpp — per input feature: the pieces cut
    * by each intersecting method feature, plus the remainder outside every
    * method feature). Input schemas: left (lid, wkb), right (rid, wkb).
    * Output (lid, rid, wkb): one row per intersecting (lid, rid) with the
    * A∩B piece, plus one row per lid with rid NULL carrying A −
    * union(intersecting B) — always emitted, possibly EMPTY, so the row
    * set is deterministic (the reference drops empty remainders; callers
    * filter on st_isempty for that behavior — documented).
    *
    * Spark shape: ONE `intersectsJoin` (Spark/AQE broadcasts the method
    * side when small), pair pieces map-side, the remainder fold is one
    * groupByKey on lid — the same distribution the reference's
    * per-feature loop has, minus the single-node bottleneck. */
  def identity(left: DataFrame, right: DataFrame, z: Int): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val cand = intersectsJoin(left.select(col("lid"), col("wkb")),
      right.select(col("rid"), col("wkb")), z)
      .select("lid", "rid", "wkb", "wkb_r")
      .as[(Long, Long, Array[Byte], Array[Byte])]
    val pairs = cand.map { case (lid, rid, a, b) =>
      (lid, Option(rid), Wkb.write(BoolOps.intersection(Wkb.read(a), Wkb.read(b))))
    }.toDF("lid", "rid", "wkb")
    // remainder: progressive clip, the reference's per-method-feature loop
    val diffs = cand.groupByKey(_._1).mapGroups { (lid, it) =>
      var acc: Geom = null
      it.foreach { case (_, _, a, b) =>
        if (acc == null) acc = Wkb.read(a)
        acc = BoolOps.difference(acc, Wkb.read(b))
      }
      (lid, Option.empty[Long], Wkb.write(acc))
    }.toDF("lid", "rid", "wkb")
    val untouched = left
      .join(cand.select("lid").distinct(), Seq("lid"), "left_anti")
      .select(col("lid"), lit(null).cast("long").as("rid"), col("wkb"))
    pairs.unionByName(diffs).unionByName(untouched)
  }

  /** Layer-algebra Erase (OGRLayer::Erase): each left feature minus the
    * union of intersecting right features — Identity's remainder rows. */
  def erase(left: DataFrame, right: DataFrame, z: Int): DataFrame =
    identity(left, right, z)
      .where(col("rid").isNull).drop("rid")
}
