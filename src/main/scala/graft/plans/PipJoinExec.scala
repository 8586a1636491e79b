package graft.plans

import java.util.concurrent.TimeUnit.NANOSECONDS

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Join, LogicalPlan, Project}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.{StContainsPoint, StIntersectsPoint}
import graft.functions.GeoKernel

/** The point-in-polygon join — the north-rule operator. Pairs every row of
  * `points` with every row of `polys` whose `wkb` contains the point
  * (`lon`, `lat`) by the ray-crossing rule, or intersects it (boundary
  * counts) when `boundary`. Output is `points.output ++ polys.output`.
  *
  * Two callers build it: [[CellJoinRule]] from a bare
  * st_contains_point / st_intersects_point join (zoom from
  * `spark.graft.celljoin.zoom`), and `SpatialJoin.pipJoin` with the
  * caller's zoom. [[PipJoinStrategy]] always plans it as
  * [[BroadcastPipJoinExec]]. `wkb`/`lon`/`lat` are the node's own
  * expressions, so Catalyst's generic ColumnPruning case prunes both
  * children to the columns the node and its parent reference. */
case class PipJoin(points: LogicalPlan, polys: LogicalPlan, wkb: Expression,
    lon: Expression, lat: Expression, zoom: Int, boundary: Boolean) extends BinaryNode {

  override def left: LogicalPlan = points
  override def right: LogicalPlan = polys
  override def output: Seq[Attribute] = points.output ++ polys.output

  protected override def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): PipJoin = copy(points = newLeft, polys = newRight)
}

object PipJoin {

  /** `j` as a [[PipJoin]] at zoom `z`, when its condition is exactly one
    * bare point predicate with the polygon and the point on opposite
    * sides. Keeps the join's column order (left ++ right). */
  def lower(j: Join, z: Int): Option[LogicalPlan] = j match {
    case Join(left, right, Inner | Cross, Some(pred), _) =>
      val (wkb, lon, lat, boundary) = pred match {
        case StContainsPoint(w, lo, la) => (w, lo, la, false)
        case StIntersectsPoint(w, lo, la) => (w, lo, la, true)
        case _ => return None
      }
      val ptRefs = lon.references ++ lat.references
      def splits(pts: LogicalPlan, polys: LogicalPlan): Boolean =
        ptRefs.nonEmpty && wkb.references.nonEmpty &&
          ptRefs.subsetOf(pts.outputSet) && wkb.references.subsetOf(polys.outputSet)
      if (splits(left, right)) Some(PipJoin(left, right, wkb, lon, lat, z, boundary))
      else if (splits(right, left))
        Some(Project(j.output, PipJoin(right, left, wkb, lon, lat, z, boundary)))
      else None
    case _ => None
  }
}

/** Plans every [[PipJoin]] as [[BroadcastPipJoinExec]] — the one-node,
  * one-exec `SparkStrategy` pattern (SURVEY.md §2.J). */
object PipJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PipJoin(pts, polys, wkb, lon, lat, zoom, boundary) =>
      Seq(BroadcastPipJoinExec(planLater(pts), planLater(polys), wkb, lon, lat, zoom, boundary))
    case _ => Nil
  }
}

/** Broadcast cell-indexed PIP join. The polygon side (the dim side —
  * admin boundaries, AOIs) is collected once on the driver into a cell →
  * polygon hash index and broadcast; the point side streams through
  * `mapPartitions`, probing one cell per row and refining each candidate
  * with the exact predicate. No exploded cover is materialized and the
  * point side is never shuffled — the plan shape of Spark's own
  * BroadcastHashJoinExec, with the hash table keyed by spatial cell.
  *
  * Reference analog: OGR's layer-algebra loop installs a spatial-index
  * filter per probe feature (ogrlayer.cpp:5385-5538); the broadcast index
  * IS that spatial index, shipped to every executor once.
  *
  * Polygons whose cover at `zoom` exceeds the 4096-cell cap go to a small
  * always-probed side list instead of the index. A polygon side larger
  * than `spark.sql.maxBroadcastTableSize` is refused: that size takes the
  * partitioned `SpatialJoin.pipJoinSalted`.
  *
  * Metrics: `numOutputRows`; `candidates`, the polygons refined (index
  * hits plus side-list entries, summed over points); `indexBuildTime`,
  * driver collect plus index build. */
case class BroadcastPipJoinExec(pts: SparkPlan, polys: SparkPlan,
    wkb: Expression, lon: Expression, lat: Expression,
    zoom: Int, boundary: Boolean) extends BinaryExecNode {

  override def left: SparkPlan = pts
  override def right: SparkPlan = polys
  override def output: Seq[Attribute] = pts.output ++ polys.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "candidates" -> SQLMetrics.createMetric(sparkContext, "candidate polygons refined"),
    "indexBuildTime" -> SQLMetrics.createTimingMetric(sparkContext, "index build time"))

  protected override def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): BroadcastPipJoinExec = copy(pts = newLeft, polys = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOut = longMetric("numOutputRows"); val numCands = longMetric("candidates")
    val buildStart = System.nanoTime()
    val polyOut = polys.output
    val wkbBound = BindReferences.bindReference(wkb, polyOut)
    val z = zoom
    val maxBytes = conf.maxBroadcastTableSizeInBytes
    var collected = 0L
    val index = new java.util.HashMap[Long, java.util.ArrayList[(Array[Byte], InternalRow)]]()
    val oversize = new java.util.ArrayList[(Array[Byte], InternalRow)]()
    polys.executeCollect().foreach { row =>
      collected += row.asInstanceOf[UnsafeRow].getSizeInBytes
      if (collected > maxBytes) throw new IllegalArgumentException(
        s"BroadcastPipJoin: polygon side exceeds spark.sql.maxBroadcastTableSize " +
          s"($maxBytes bytes); join polygon sides this large with SpatialJoin.pipJoinSalted")
      val w = wkbBound.eval(row)
      if (w != null) {
        val bytes = w.asInstanceOf[Array[Byte]]
        val entry = (bytes, row)
        if (GeoKernel.coverCount(bytes, z) > 4096L) oversize.add(entry)
        else GeoKernel.cover(bytes, z).foreach { c =>
          var l = index.get(c)
          if (l == null) { l = new java.util.ArrayList(); index.put(c, l) }
          l.add(entry)
        }
      }
    }
    val bcIdx = sparkContext.broadcast(index)
    val bcBig = sparkContext.broadcast(oversize)
    longMetric("indexBuildTime") += NANOSECONDS.toMillis(System.nanoTime() - buildStart)
    val ptsOut = pts.output
    val lonB = BindReferences.bindReference(lon, ptsOut)
    val latB = BindReferences.bindReference(lat, ptsOut)
    val bnd = boundary; val outSchema = schema
    pts.execute().mapPartitions { it =>
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outSchema)
      val idx = bcIdx.value; val big = bcBig.value
      it.flatMap { ptRow =>
        val lo = lonB.eval(ptRow); val la = latB.eval(ptRow)
        if (lo == null || la == null) Iterator.empty
        else {
          val x = lo.asInstanceOf[Double]; val y = la.asInstanceOf[Double]
          val cands = idx.get(GeoKernel.cell(x, y, z))
          val hits = new scala.collection.mutable.ArrayBuffer[InternalRow]()
          def probe(l: java.util.ArrayList[(Array[Byte], InternalRow)]): Unit =
            if (l != null) {
              numCands += l.size()
              var i = 0
              while (i < l.size()) {
                val (bytes, polyRow) = l.get(i)
                val in = if (bnd) GeoKernel.intersectsPoint(bytes, x, y)
                         else GeoKernel.containsPoint(bytes, x, y)
                if (in) hits += polyRow
                i += 1
              }
            }
          probe(cands); probe(big)
          numOut += hits.length
          hits.iterator.map(polyRow => proj(joined(ptRow, polyRow)))
        }
      }
    }
  }
}
