package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine._
import graft.functions.gf
import graft.geom.{Mercator, Wkt}

class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val N = 2000L
  lazy val docs = GeoDocs.generate(spark, N).toDF.cache()
  lazy val pts = GeoDocs.withGeometry(docs).cache()

  // deterministic lon/lat zone rectangles (4 big + 1 concave-ish via hole-free L)
  private val zoneWkts = Seq(
    ("z0", "POLYGON ((-180 -85,0 -85,0 0,-180 0,-180 -85))"),
    ("z1", "POLYGON ((0 -85,180 -85,180 0,0 0,0 -85))"),
    ("z2", "POLYGON ((-180 0,0 0,0 85,-180 85,-180 0))"),
    ("z3", "POLYGON ((0 0,180 0,180 85,0 85,0 0))"),
    ("z4", "POLYGON ((-10 -10,10 -10,10 10,-10 10,-10 -10))"))
  lazy val zones = zoneWkts.toDF("zone_id", "wkt")
    .withColumn("wkb", gf.st_geomfromtext($"wkt")).drop("wkt").cache()

  test("geo-docs generator: deterministic, every doc has exactly one geo span") {
    val d = docs.collect()
    assert(d.length == N)
    val again = GeoDocs.generate(spark, N, partitions = 7).toDF.collect()
    assert(d.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    val geoCounts = docs.select(size(filter($"spans", s => s.getField("kind") === "geo")))
      .as[Int].collect()
    assert(geoCounts.forall(_ == 1))
  }

  test("span-sequence invariant: spans pass through geometry extraction and join byte-identically") {
    val joined = SpatialJoin.pipJoin(pts, zones, z = 6)
    val out = joined.select($"doc_id", $"spans").distinct()
    val orig = docs.select($"doc_id", $"spans")
    // every joined doc's spans equal the original spans, same order
    assert(out.join(orig, Seq("doc_id", "spans")).count() == out.count())
  }

  test("spatial join matches per-row oracle (ray-crossing PIP over all zones)") {
    val got = SpatialJoin.pipJoin(pts, zones, z = 6)
      .select($"doc_id", $"zone_id").as[(String, String)].collect().toSet
    // driver-side oracle: same kernel applied row by row, no cells involved
    val zGeoms = zoneWkts.map { case (id, w) => (id, Wkt.parse(w)) }
    val oracle = pts.select($"doc_id", $"lon", $"lat").as[(String, Double, Double)].collect()
      .flatMap { case (id, lon, lat) =>
        zGeoms.filter { case (_, g) => graft.geom.GeoOps.containsPoint(g, lon, lat) }
          .map { case (zid, _) => (id, zid) }
      }.toSet
    assert(got == oracle)
    assert(got.nonEmpty)
  }

  test("salted spatial join returns identical rows to the plain join") {
    val skewDocs = GeoDocs.withGeometry(GeoDocs.generate(spark, 1000, skew = true).toDF)
    val plain = SpatialJoin.pipJoin(skewDocs, zones, z = 6)
      .select($"doc_id", $"zone_id").as[(String, String)].collect().toSet
    val salted = SpatialJoin.pipJoinSalted(skewDocs, zones, z = 6, salt = 8, saltKey = col("doc_id"))
      .select($"doc_id", $"zone_id").as[(String, String)].collect().toSet
    assert(plain == salted)
  }

  test("polygon-polygon intersects join vs per-row oracle") {
    val polyDocs = pts.where(gf.st_geometrytype($"wkb") === "POLYGON").limit(200).cache()
    val got = SpatialJoin.intersectsJoin(polyDocs, zones.withColumnRenamed("zone_id", "zid"), z = 6)
      .select($"doc_id", $"zid").as[(String, String)].collect().toSet
    val zGeoms = zoneWkts.map { case (id, w) => (id, Wkt.parse(w)) }
    val oracle = polyDocs.select($"doc_id", gf.st_astext($"wkb")).as[(String, String)].collect()
      .flatMap { case (id, w) =>
        val g = Wkt.parse(w)
        zGeoms.filter { case (_, zg) => graft.geom.GeoOps.intersects(g, zg) }.map(z => (id, z._1))
      }.toSet
    assert(got == oracle && got.nonEmpty)
  }

  // driver-side oracle for intersectsJoin: every (lid, rid) pair whose
  // geometries intersect, no cells involved
  private def intersectsOracle(l: Seq[(Long, String)], r: Seq[(Long, String)]) =
    (for ((li, lw) <- l; (ri, rw) <- r
          if graft.geom.GeoOps.intersects(Wkt.parse(lw), Wkt.parse(rw))) yield (li, ri)).toSet

  private def wktDf(rows: Seq[(Long, String)], id: String) =
    rows.toDF(id, "wkt").withColumn("wkb", gf.st_geomfromtext($"wkt")).drop("wkt")

  test("intersectsJoin plans the cell join at the caller's zoom, not the conf's") {
    val rect = Seq((1L, "POLYGON ((0 0, 30 0, 30 30, 0 30, 0 0))"))
    val plan = SpatialJoin.intersectsJoin(wktDf(rect, "lid"), wktDf(rect, "rid"), z = 6)
      .queryExecution.analyzed // the optimizer evaluates covers over local rows
    val zooms = plan.flatMap(_.expressions.flatMap(_.collect {
      case org.apache.spark.sql.graft.StCover(_, org.apache.spark.sql.catalyst.expressions.Literal(z, _)) => z
    }))
    assert(zooms.nonEmpty && zooms.forall(_ == 6), s"st_cover zooms $zooms in:\n$plan")
  }

  test("intersectsJoin: a world polygon over the cover cap returns its oracle rows") {
    // at z=8 the first polygon's cover needs ~60k cells, above the 4096 cap
    val l = Seq((1L, "POLYGON ((-179 -80, 179 -80, 179 80, -179 80, -179 -80))"),
      (2L, "POLYGON ((9 9, 12 9, 12 12, 9 12, 9 9))"))
    val r = Seq((10L, "POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"),
      (20L, "POLYGON ((100 -20, 101 -20, 101 -19, 100 -19, 100 -20))"),
      (30L, "POLYGON ((100 82, 101 82, 101 83, 100 83, 100 82))"))
    val got = SpatialJoin.intersectsJoin(wktDf(l, "lid"), wktDf(r, "rid"), z = 8)
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(got == intersectsOracle(l, r) && got == Set((1L, 10L), (1L, 20L), (2L, 10L)))
  }

  test("intersectsJoin reports a pair sharing many cells once") {
    // two 40° squares overlapping over ~8x8 cells at z=6
    val l = Seq((1L, "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0))"))
    val r = Seq((2L, "POLYGON ((5 5, 45 5, 45 45, 5 45, 5 5))"))
    val got = SpatialJoin.intersectsJoin(wktDf(l, "lid"), wktDf(r, "rid"), z = 6)
      .select($"lid", $"rid")
    assert(got.count() == got.distinct().count())
    assert(got.as[(Long, Long)].collect().toSet == intersectsOracle(l, r))
  }

  test("tile assignment matches scala-side mercator math for every row and zoom") {
    val assigned = TileJob.assign(pts.select("doc_id", "lon", "lat"), 3, 7)
      .select($"doc_id", $"lon", $"lat", $"z", $"x", $"y")
      .as[(String, Double, Double, Int, Int, Int)].collect()
    assert(assigned.length == pts.count() * 5)
    assigned.foreach { case (_, lon, lat, z, x, y) =>
      assert(x == Mercator.lonLatToTileX(lon, z) && y == Mercator.lonLatToTileY(lat, z))
    }
  }

  test("pyramid counts: every level sums to the total; parents aggregate children") {
    val pyr = TileJob.pyramidCounts(pts.select("lon", "lat"), 2, 6).cache()
    val total = pts.count()
    val perLevel = pyr.groupBy("z").agg(sum("n").as("t")).as[(Int, Long)].collect().toMap
    (2 to 6).foreach(z => assert(perLevel(z) == total, s"z=$z"))
    // parent count == sum of its children at z=5 from z=6
    val z6 = pyr.where($"z" === 6).select(($"x" / 2).cast("int").as("x"), ($"y" / 2).cast("int").as("y"), $"n")
      .groupBy("x", "y").agg(sum("n").as("n")).as[(Int, Int, Long)].collect().toSet
    val z5 = pyr.where($"z" === 5).select($"x", $"y", $"n").as[(Int, Int, Long)].collect().toSet
    assert(z6 == z5)
  }

  test("kNN ring expansion equals brute force") {
    val queries = Seq((1L, 2.35, 48.85), (2L, -122.4, 37.77), (3L, 139.7, 35.7), (4L, 0.0, 0.0))
      .toDF("qid", "lon", "lat")
    val points = pts.limit(500).select($"doc_id".as("pid"), $"lon".as("plon"), $"lat".as("plat")).cache()
    val brute = Knn.knnBrute(queries, points, k = 5)
      .select($"qid", $"pid", $"rank").as[(Long, String, Int)].collect().toSet
    val ring = Knn.knnJoin(queries, points, k = 5, z = 4)
      .select($"qid", $"pid", $"rank").as[(Long, String, Int)].collect().toSet
    assert(ring == brute)
    assert(ring.size == 20)
  }

  test("rasterize points: pixel counts align with tile counts; checksum oracle") {
    val tiles = Raster.rasterizePoints(pts.select("lon", "lat"), z = 4).cache()
    val fromTiles = tiles.map(t => ((t.z, t.x, t.y), t.pixels.sum.toLong))
      .collect().toMap
    val expected = TileJob.tileCounts(pts.select("lon", "lat"), 4)
      .as[(Int, Int, Int, Long)].collect().map { case (z, x, y, n) => ((z, x, y), n) }.toMap
    assert(fromTiles == expected)
    // checksum golden (FIXTURES.md §5): 16x16 ramp pixels[r*16+c] = (r*16+c) % 256
    val ramp = Array.tabulate(256)(i => (i % 256).toDouble)
    val cks = Raster.checksum(ramp, 16, 16)
    assert(cks == Raster.checksum(ramp, 16, 16)) // deterministic
    assert(cks >= 0 && cks <= 0xffff)
    // negative + non-finite handling
    assert(Raster.checksum(Array(-7.2, Double.NaN, 5.5, 1e12), 2, 2) ==
      Raster.checksum(Array(-7.2, Double.NaN, 5.5, 1e12), 2, 2))
  }

  test("pyramid reduce: parent sums children (count mode)") {
    val tiles = Raster.rasterizePoints(pts.select("lon", "lat"), z = 4)
    val parents = Raster.pyramidUp(tiles, sum = true).cache()
    val childTotal = tiles.map(_.pixels.sum).reduce(_ + _)
    val parentTotal = parents.map(_.pixels.sum).reduce(_ + _)
    assert(math.abs(childTotal - parentTotal) < 1e-6)
    assert(parents.map(_.z).distinct().collect().sameElements(Array(3)))
  }

  test("resume manifest: second run skips completed units; kill-and-rerun completes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
    var executed = List.empty[String]
    val units = Seq("z3", "z4", "z5")
    def process(u: String): Long = { executed ::= u; 10L }
    val r1 = Manifest.runResumable(spark, dir, "job1", units, "fp1")(process)
    assert(r1 == units && executed.length == 3)
    val r2 = Manifest.runResumable(spark, dir, "job1", units, "fp1")(process)
    assert(r2.isEmpty && executed.length == 3)
    // simulate a crash after unit 1 of a new job
    val dir2 = java.nio.file.Files.createTempDirectory("graft_resume2").toString
    intercept[RuntimeException] {
      Manifest.runResumable(spark, dir2, "job2", units, "fp1") { u =>
        if (u == "z4") throw new RuntimeException("killed") else 1L
      }
    }
    assert(Manifest.completedUnits(spark, dir2) == Set("z3"))
    val r3 = Manifest.runResumable(spark, dir2, "job2", units, "fp1")(_ => 1L)
    assert(r3 == Seq("z4", "z5"))
    assert(Manifest.completedUnits(spark, dir2) == units.toSet)
  }

  test("manifest records task metrics per unit (lineage + metrics)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    Manifest.runResumable(s, dir, "jobM", Seq("u1"), "fp") { _ =>
      // real Spark work so the listener sees tasks
      s.range(0, 100000, 1, 8).selectExpr("sum(id)").collect()
      100000L
    }
    val rec = s.read.parquet(Manifest.manifestPath(dir))
      .selectExpr("unit", "rows", "metrics_json").as[(String, Long, String)].collect().head
    assert(rec._1 == "u1" && rec._2 == 100000L)
    assert(rec._3.contains("\"n_tasks\":") && !rec._3.contains("\"n_tasks\":0"))
    assert(rec._3.contains("run_time_ms"))
  }
}
