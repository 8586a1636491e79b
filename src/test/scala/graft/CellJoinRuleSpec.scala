package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BooleanSimplification
import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.functions.{gf, GraftExtensions, GraftFunctions}
import graft.plans.CellJoinRule

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
    // oracle: every pair tested on the driver, no cells involved
    def geoms(df: DataFrame) =
      df.collect().map(r => (r.getString(0), graft.geom.Wkb.read(r.getAs[Array[Byte]](1))))
    val brute = (for ((ia, ga) <- geoms(a); (ib, gb) <- geoms(b)
                      if graft.geom.GeoOps.intersects(ga, gb)) yield (ia, ib)).sorted
    assert(got.sameElements(brute), s"${got.length} vs ${brute.length}")
    assert(got.length > 64, "expected overlapping neighbors beyond self-matches")
  }

  /** n×n overlapping 35° squares on a 30° pitch, from a Range (not a local
    * relation, which the optimizer would evaluate and prune). */
  private def rangeGrid(s: SparkSession, n: Int, id: String, wkb: String): DataFrame = {
    val x = lit(-150.0) + pmod(col("id"), lit(n)) * 30.0
    val y = lit(-60.0) + floor(col("id") / n) * 30.0
    s.range(n * n).select(col("id").as(id), gf.st_geomfromtext(format_string(
      "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))",
      x, y, x + 35.0, y, x + 35.0, y + 35.0, x, y + 35.0, x, y)).as(wkb))
  }

  private def naiveIntersects(s: SparkSession): DataFrame = {
    val a = rangeGrid(s, 8, "id", "wkb"); val b = rangeGrid(s, 8, "id_b", "wkb_b")
    a.join(b, gf.st_intersects(a("wkb"), b("wkb_b")))
  }

  private def joinsAndUnions(df: DataFrame): (Int, Int) = {
    val p = df.queryExecution.optimizedPlan
    (p.collect { case j: Join => j }.size, p.collect { case u: Union => u }.size)
  }

  test("geom rewrite is idempotent: BooleanSimplification leaves it nothing to redo") {
    val s = SparkTestSession.spark
    val analyzed = naiveIntersects(s).queryExecution.analyzed
    val once = CellJoinRule(analyzed)
    assert(!once.fastEquals(analyzed))
    val simplified = BooleanSimplification(once)
    assert(CellJoinRule(simplified).fastEquals(simplified), s"rule fired again on:\n$simplified")
  }

  test("st_intersects: 3 joins, 1 union via register, extensions, intersectsJoin") {
    val base = SparkTestSession.spark
    GraftFunctions.register(base)
    assert(joinsAndUnions(naiveIntersects(base)) === ((3, 1)))
    val a = rangeGrid(base, 8, "id", "wkb"); val b = rangeGrid(base, 8, "id_b", "wkb")
    assert(joinsAndUnions(engine.SpatialJoin.intersectsJoin(a, b, z = 4)) === ((3, 1)))
    // the extension injects the rule into the operator-optimization batch,
    // beside BooleanSimplification; it needs a session built with it
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      assert(!ext.experimental.extraOptimizations.contains(CellJoinRule))
      // a rule that re-fires doubles the plan each iteration: cap them so
      // such a regression fails here instead of stalling the suite
      ext.conf.set("spark.sql.optimizer.maxIterations", "5")
      assert(joinsAndUnions(naiveIntersects(ext)) === ((3, 1)))
    } finally {
      SparkSession.setDefaultSession(base); SparkSession.setActiveSession(base)
    }
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
