package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.functions.{gf, GraftFunctions}
import graft.geom.WkbPip
import graft.plans.BroadcastPipJoinExec

/** The SparkStrategy path (PipJoinExec.scala): every point-in-polygon join
  * — a naive st_contains_point / st_intersects_point join or
  * SpatialJoin.pipJoin — must plan as BroadcastPipJoinExec (no nested
  * loop, no exploded cover) and return exactly the rows a driver-side
  * WkbPip brute force returns. Conf changes run on an isolated newSession
  * so they never leak into other suites. */
class PipJoinStrategySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private def fixture(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    val pts = Queries.eventPoints(s, "/root/testdata/sf0.001")
      .where(col("event_id") < 2000)
    val polys = (0 until 12).map { i =>
      val x0 = -180.0 + 30.0 * i
      (i.toLong, s"POLYGON (($x0 -60, ${x0 + 20} -60, ${x0 + 20} 60, $x0 60, $x0 -60))")
    }.toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    (pts, polys)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("event_id", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** (event_id, poly_id) pairs by the exact kernel, row by row, no cells. */
  private def brute(pts: DataFrame, polys: DataFrame,
                    pip: (Array[Byte], Double, Double) => Boolean): Set[(Long, Long)] = {
    val ps = polys.select("poly_id", "wkb").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    pts.select("event_id", "lon", "lat").collect().flatMap { r =>
      ps.collect { case (id, w) if pip(w, r.getDouble(1), r.getDouble(2)) => (r.getLong(0), id) }
    }.toSet
  }

  private def pipExec(df: DataFrame): BroadcastPipJoinExec =
    collectFirst(df.queryExecution.executedPlan) { case e: BroadcastPipJoinExec => e }
      .getOrElse(fail(s"strategy did not fire:\n${df.queryExecution.executedPlan}"))

  test("naive join plans BroadcastPipJoinExec and matches a WkbPip brute force") {
    val s = SparkTestSession.spark
    val (pts, polys) = fixture(s)
    val df = pts.join(polys, gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastPipJoin"), s"strategy did not fire:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"quadratic join remained:\n$plan")
    val got = pairs(df)
    assert(got === brute(pts, polys, WkbPip.containsPoint))
    assert(got.nonEmpty)
  }

  test("boundary predicate (st_intersects_point) also plans through the strategy") {
    val s = SparkTestSession.spark
    val (pts, polys) = fixture(s)
    val df = pts.join(polys,
        gf.st_intersects_point(polys("wkb"), pts("lon"), pts("lat")))
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastPipJoin"))
    val got = pairs(df)
    assert(got === brute(pts, polys, WkbPip.intersectsPoint))
    assert(got.size >= brute(pts, polys, WkbPip.containsPoint).size)
  }

  test("oversize polygon (cover above the 4096-cell cap) degrades to the side list") {
    val base = SparkTestSession.spark
    val s = base.newSession()
    GraftFunctions.register(s)
    import s.implicits._
    s.conf.set("spark.graft.celljoin.zoom", "12") // world cover at z12 >> 4096
    val pts = Queries.eventPoints(s, "/root/testdata/sf0.001")
      .where(col("event_id") < 500)
    val world = Seq((0L, "POLYGON ((-179 -84, 179 -84, 179 84, -179 84, -179 -84))"))
      .toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    val df = pts.join(world,
        gf.st_contains_point(world("wkb"), pts("lon"), pts("lat")))
      .select("event_id", "poly_id")
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastPipJoin"))
    val inWorld = pts.where(col("lon") > -179 && col("lon") < 179 &&
      col("lat") > -84 && col("lat") < 84).count()
    assert(df.count() === inWorld)
  }

  test("pipJoin plans at the caller's zoom, not spark.graft.celljoin.zoom") {
    val s = SparkTestSession.spark
    import s.implicits._
    assert(s.conf.getOption("spark.graft.celljoin.zoom").isEmpty)
    val (pts, polys) = fixture(s)
    val z6 = engine.SpatialJoin.pipJoin(pts, polys, z = 6)
    assert(pipExec(z6).zoom === 6)
    assert(pairs(z6) === brute(pts, polys, WkbPip.containsPoint))
    // a world polygon's cover at z = 12 is far above the 4096-cell cap, so
    // its rows come back through the exec's oversize side list
    val world = Seq((0L, "POLYGON ((-179 -84, 179 -84, 179 84, -179 84, -179 -84))"))
      .toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    val z12 = engine.SpatialJoin.pipJoin(pts, world, z = 12)
    assert(pipExec(z12).zoom === 12)
    val got = pairs(z12)
    assert(got === brute(pts, world, WkbPip.containsPoint))
    assert(got.nonEmpty)
  }

  test("a polygon side above spark.sql.maxBroadcastTableSize is refused, naming pipJoinSalted") {
    val s = SparkTestSession.spark.newSession()
    GraftFunctions.register(s)
    import s.implicits._
    s.conf.set("spark.sql.maxBroadcastTableSize", "4096")
    val pts = Queries.eventPoints(s, "/root/testdata/sf0.001").where(col("event_id") < 100)
    // 200 rectangles, about 150 bytes each: well over 4 KB together
    val polys = (0 until 200).map { i =>
      val x0 = -180.0 + 1.5 * i
      (i.toLong, s"POLYGON (($x0 -60, ${x0 + 1} -60, ${x0 + 1} 60, $x0 60, $x0 -60))")
    }.toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    val e = intercept[Exception](engine.SpatialJoin.pipJoin(pts, polys, z = 4).count())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("spark.sql.maxBroadcastTableSize") &&
      m.contains("SpatialJoin.pipJoinSalted")), e.toString)
  }
}
