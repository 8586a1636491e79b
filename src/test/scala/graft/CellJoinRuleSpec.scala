package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.functions.{gf, GraftFunctions}

/** The optimizer rule must turn a naive spatial-predicate join (nested
  * loop) into a cell-indexed join, with identical results: point joins
  * into BroadcastPipJoin, polygon-polygon joins into a cell equi-join. The
  * only nested-loop remnant allowed in a rewritten plan is the polygon
  * oversize fallback branch, whose input is filtered to geometries over
  * the st_cover_count cap (empty in the common case; AQE collapses it). */
class CellJoinRuleSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private def assertCellRewrite(plan: String, pin: String): Unit = {
    assert(plan.contains(pin), s"no $pin in:\n$plan")
    // any remaining quadratic join must be the guarded oversize branch:
    // every nested-loop/cartesian operator consumes an st_cover_count filter
    val quadratic = plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
    if (quadratic)
      assert(plan.contains("st_cover_count"),
        s"unguarded quadratic join in:\n$plan")
  }

  private def fixture(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    val pts = Queries.eventPoints(s, "/root/testdata/sf0.001")
      .where(col("event_id") < 3000).cache()
    val polys = (0 until 20).map { i =>
      val x0 = -180.0 + 18.0 * i
      (i.toLong, s"POLYGON (($x0 -50, ${x0 + 10} -50, ${x0 + 10} 50, $x0 50, $x0 -50))")
    }.toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt").cache()
    (pts, polys)
  }

  test("naive st_contains_point join is rewritten to the broadcast PIP join") {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    val (pts, polys) = fixture(s)

    // naive formulation: join condition is ONLY the spatial predicate
    val naive = pts.join(polys,
      gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
    assertCellRewrite(naive.queryExecution.executedPlan.toString, "BroadcastPipJoin")

    // results must equal the SpatialJoin.pipJoin builder's
    val got = naive.select("event_id", "poly_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = engine.SpatialJoin.pipJoin(pts, polys, z = 4)
      .select("event_id", "poly_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(want), s"${got.length} vs ${want.length}")
    assert(got.nonEmpty)
  }

  test("oversized polygons at a user-raised zoom fall back instead of throwing") {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    import s.implicits._
    val pts = Seq((1L, 10.0, 10.0), (2L, 100.0, -20.0), (3L, 10.5, 10.5))
      .toDF("pid", "lon", "lat")
    // world-spanning polygon: cover at z=10 would need ~10^6 cells (> 4096)
    val polys = Seq(
      (100L, "POLYGON ((-179 -80, 179 -80, 179 80, -179 80, -179 -80))"),
      (200L, "POLYGON ((9 9, 12 9, 12 12, 9 12, 9 9))"))
      .toDF("poly_id", "wkt")
      .withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    s.conf.set("spark.graft.celljoin.zoom", "10")
    try {
      val joined = pts.join(polys,
        gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
      assertCellRewrite(joined.queryExecution.executedPlan.toString, "BroadcastPipJoin")
      val got = joined.select("pid", "poly_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      // big polygon contains all three points; small one contains 1 and 3
      assert(got.toSeq == Seq((1L, 100L), (1L, 200L), (2L, 100L), (3L, 100L), (3L, 200L)))
    } finally s.conf.unset("spark.graft.celljoin.zoom")
  }

  test("naive st_intersects polygon-polygon join is rewritten and deduped") {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    import s.implicits._
    def grid(pre: String, n: Int, step: Double, size: Double) = {
      (0 until n * n).map { i =>
        val x0 = -150.0 + step * (i % n); val y0 = -60.0 + step * (i / n)
        (s"$pre$i", s"POLYGON (($x0 $y0, ${x0 + size} $y0, ${x0 + size} ${y0 + size}, $x0 ${y0 + size}, $x0 $y0))")
      }.toDF("id", "wkt").withColumn("wkb", gf.st_geomfromtext(col("wkt"))).drop("wkt")
    }
    val a = grid("a", 8, 30.0, 35.0)
    val b = grid("b", 8, 30.0, 35.0).withColumnRenamed("id", "id_b")
      .withColumnRenamed("wkb", "wkb_b")
    val naive = a.join(b, gf.st_intersects(col("wkb"), col("wkb_b")))
    assertCellRewrite(naive.queryExecution.executedPlan.toString, "__graft_cell")
    val got = naive.select("id", "id_b")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    // oracle: brute-force via a guarded (non-matching) condition
    val brute = a.join(b, gf.st_intersects(col("wkb"), col("wkb_b")) && lit(true))
      .select("id", "id_b")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(got.sameElements(brute), s"${got.length} vs ${brute.length}")
    assert(got.length > 64, "expected overlapping neighbors beyond self-matches")
  }

  test("BroadcastPipJoin reports candidates and output rows as SQL metrics") {
    val s = SparkTestSession.spark
    GraftFunctions.register(s)
    val (pts, polys) = fixture(s)
    val df = pts.join(polys, gf.st_contains_point(polys("wkb"), pts("lon"), pts("lat")))
    val rows = df.collect().length
    val exec = collectFirst(df.queryExecution.executedPlan) {
      case e: graft.plans.BroadcastPipJoinExec => e
    }.getOrElse(fail(s"no BroadcastPipJoinExec in:\n${df.queryExecution.executedPlan}"))
    // the hand-built candidate join the exec replaces: one cell per point
    // against the exploded polygon covers, at the rule's default zoom 4
    val candidates = pts.withColumn("cell", gf.st_cell(col("lon"), col("lat"), lit(4)))
      .join(polys.withColumn("cell", explode(gf.st_cover(col("wkb"), lit(4)))).drop("wkb"), "cell")
      .count()
    assert(exec.metrics("candidates").value === candidates)
    assert(exec.metrics("numOutputRows").value === rows)
    assert(rows > 0 && candidates > rows)
  }
}
