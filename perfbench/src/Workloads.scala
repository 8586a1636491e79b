package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{GeoDocs, Knn, Manifest, SpatialJoin, TileJob}
import graft.functions.gf
import graft.geom.{Point, WkbPip, Wkt}

/** Seeded geo-docs (FIXTURES §1). The generator is a pure function of the
  * doc index, so the seed picks a disjoint index window; windows start at a
  * multiple of 10 so the 30% hot-cell and 10% polygon patterns hold. */
object Docs {
  def base(seed: Long, stream: Long): Long =
    Math.floorMod(seed * 1000003L + stream * 7L, 997L) * 1000000L

  /** Index of the j-th doc; `pointsOnly` skips the every-tenth polygon doc. */
  def index(base: Long, j: Long, pointsOnly: Boolean): Long =
    if (pointsOnly) base + 10 * (j / 9) + 1 + j % 9 else base + j

  def raw(ctx: Ctx, base: Long, n: Long, skew: Boolean, pointsOnly: Boolean,
          parts: Int = 0): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val df = spark.range(0, n, 1, if (parts > 0) parts else ctx.parts)
      .map(j => GeoDocs.docOf(index(base, j, pointsOnly), skew)).toDF()
      .persist(StorageLevel.MEMORY_ONLY)
    ctx.tracer.span("engine.docgen")(df.count())
    df
  }

  def idOf(docId: String): Long = docId.stripPrefix("doc_").toLong

  /** Parsed docs (span → wkb, lon, lat), cached: the `GeoDocs` layer. */
  def parse(ctx: Ctx, raw: DataFrame, n: Long): Option[DataFrame] = {
    var p: DataFrame = null
    ctx.op("engine.parse", Some(Digest(n, 0, 0))) {
      p = GeoDocs.withGeometry(raw).persist(StorageLevel.MEMORY_ONLY)
      Digest(p.count(), 0, 0)
    }.map(_ => p).orElse { if (p != null) p.unpersist(); None }
  }

  /** Per-row check that spans survived byte-identically: every output row's
    * span array (kind, text, media_ref, offset, in order) hashes equal to its
    * input doc's. Returns the number of rows that differ or lost their doc. */
  def spanMismatches(out: DataFrame, raw: DataFrame): Long =
    out.select(col("doc_id"), xxhash64(col("spans")).as("h"))
      .join(raw.select(col("doc_id"), xxhash64(col("spans")).as("h0")), Seq("doc_id"), "left")
      .where(col("h0").isNull || col("h") =!= col("h0")).count()

  def seeded(seed: Long, stream: Long) = new java.util.SplittableRandom(seed * 31L + stream)
}

/** A benchmark workload. `setup` builds and caches the seeded inputs;
  * `warmup` runs the paths once and fixes the reference digests; `iterate`
  * runs one timed round of the main level and `headline` one of the scaling
  * level; `verify` runs the correctness checks once. The headline and
  * second-path times are recorded per round as "headline" and "alt". */
abstract class Workload(ctx: Ctx) {
  protected val spark = ctx.spark
  def setup(): Unit
  def release(): Unit
  def warmup(full: Boolean): Unit
  def iterate(): Unit
  def headline(): Unit
  def verify(): Unit
  /** Span name of the headline call and of the second path. */
  def opSpan: String
  def altSpan: String
  /** Timed rounds a run makes even when they overrun the measuring time. */
  def minRounds: Int = 2
  /** Docs one headline or second-path operation processes. */
  def headlineDocs: Double
  def parseRows: Double
  /** The workload's geo span texts, for the single-thread kernel timings. */
  def kernelWkt: Array[String]
  def kernelPoints: Array[(Double, Double)] =
    kernelWkt.map(Wkt.parse(_).envelope).map(e => (e.minX, e.minY))

  def headlineSeconds: Double = ctx.median("headline")
  def altSeconds: Double = ctx.median("alt")
  protected def med(name: String): Double = ctx.median(name)
  /** Spark jobs per call: metric name -> the span whose calls it counts. */
  def jobSpans: Seq[(String, String)] = Seq("engine.op_jobs" -> opSpan)
  /** Layer metrics, name -> (value, unit); workloads add their own. */
  def ledger(): Seq[(String, Double, String)] = Seq(
    ("engine.parse_s", med("engine.parse"), "s"),
    ("engine.parse_rows", parseRows, "count"),
    ("engine.op_s", med(opSpan), "s"),
    ("engine.alt_s", med(altSpan), "s"))
}

/** Join-heavy: skewed docs (30% in one 0.1° cell near Paris, 10% polygons)
  * against seeded 48-vertex rings, as broadcast, salted and SQL joins. */
final class PipSkew(ctx: Ctx) extends Workload(ctx) {
  val n: Long = if (ctx.tiny) 2000 else 80000
  val nPolys: Int = if (ctx.tiny) 100 else 3000
  val Z = 4
  val Salt = 64
  private val base = Docs.base(ctx.seed, 1)
  private var raw: DataFrame = _
  private var polys: DataFrame = _
  private var polyRows: Array[(String, Array[Byte])] = _
  private var ref: Option[Digest] = None
  private var refCandidates: Option[Digest] = None

  def opSpan = "engine.join.pip"
  def altSpan = "engine.join.salted"
  def headlineDocs: Double = n.toDouble
  def parseRows: Double = n.toDouble

  def setup(): Unit = {
    raw = Docs.raw(ctx, base, n, skew = true, pointsOnly = false)
    // centre of the generator's hot cell (lon 2.3..2.4, lat 48.8..48.9)
    val (df, rows) = Polys.frame(spark, ctx.seed, nPolys, hot = Some((2.35, 48.85)))
    polys = df; polyRows = rows
  }
  def release(): Unit = raw.unpersist(true)

  private def digest(df: DataFrame): Digest =
    Digest.of(df, col("doc_id"), col("poly_id"), xxhash64(col("spans")))
  private def broadcastJoin(p: DataFrame) = SpatialJoin.pipJoin(p, polys, Z)
  private def saltedJoin(p: DataFrame) = SpatialJoin.pipJoinSalted(p, polys, Z, Salt, col("doc_id"))
  private def sqlJoin(p: DataFrame): DataFrame = {
    p.createOrReplaceTempView("pb_docs")
    polys.createOrReplaceTempView("pb_polys")
    spark.sql("SELECT d.doc_id, d.spans, p.poly_id FROM pb_docs d JOIN pb_polys p " +
      "ON st_contains_point(p.wkb, d.lon, d.lat)")
  }
  /** The cover-explode ⋈ st_cell equi-join that pipJoin refines. */
  private def candidates(p: DataFrame): Long =
    p.withColumn("cell", gf.st_cell(col("lon"), col("lat"), lit(Z)))
      .join(broadcast(polys.withColumn("cell", explode(gf.st_cover(col("wkb"), lit(Z)))).drop("wkb")), "cell")
      .count()

  /** Fixes the references, then runs one more untimed round: rounds keep
    * getting faster for a few rounds while the JIT compiles. */
  def warmup(full: Boolean): Unit = {
    Docs.parse(ctx, raw, n).foreach { p =>
      try {
        ref = ctx.op(opSpan)(digest(broadcastJoin(p))).map(_._1)
        if (full) {
          ctx.op(altSpan, ref)(digest(saltedJoin(p)))
          if (ctx.traced) {
            refCandidates = ctx.op("engine.join.candidates")(Digest(candidates(p), 0, 0)).map(_._1)
            ctx.op("plans.sql_join", ref)(digest(sqlJoin(p)))
          }
        }
      } finally p.unpersist(true)
    }
    round(full)
  }

  private def round(all: Boolean): Unit = {
    Docs.parse(ctx, raw, n).foreach { p =>
      val tp = ctx.samples("engine.parse").last
      try {
        ctx.op(opSpan, ref)(digest(broadcastJoin(p))).foreach(r => ctx.sample("headline", tp + r._2))
        if (all) {
          ctx.op(altSpan, ref)(digest(saltedJoin(p))).foreach(r => ctx.sample("alt", tp + r._2))
          // per-layer extras: only in traced rounds, so untraced rounds run
          // just what the end-to-end metrics need
          if (ctx.traced) {
            ctx.op("engine.join.candidates", refCandidates)(Digest(candidates(p), 0, 0))
            ctx.op("plans.sql_join", ref)(digest(sqlJoin(p)))
          }
        }
      } finally p.unpersist(true)
    }
  }
  def iterate(): Unit = round(all = true)
  def headline(): Unit = round(all = false)

  def verify(): Unit = Docs.parse(ctx, raw, n).foreach { p =>
    try {
      val rnd = Docs.seeded(ctx.seed, 2)
      val sample = Array.fill(if (ctx.tiny) 200 else 400)(
        f"doc_${base + rnd.nextLong(n)}%09d").distinct
      val pts = ctx.tracer.span("engine.parse.sample")(
        p.where(col("doc_id").isin(sample: _*)).select("doc_id", "lon", "lat").collect())
      val expected = ctx.tracer.span("geom.wkb_pip.brute") {
        (for (r <- pts; (pid, wkb) <- polyRows
              if WkbPip.containsPoint(wkb, r.getDouble(1), r.getDouble(2)))
          yield (r.getString(0), pid)).toSet
      }
      var bc = broadcastJoin(p)
      if (ctx.corrupt && expected.nonEmpty) {
        // one pair dropped, one span sequence reordered
        val (d0, p0) = expected.min
        val d1 = expected.map(_._1).find(d => Docs.idOf(d) % 5 != 0).getOrElse(d0)
        bc = bc.where(!(col("doc_id") === d0 && col("poly_id") === p0))
          .withColumn("spans", when(col("doc_id") === d1, reverse(col("spans"))).otherwise(col("spans")))
      }
      def sampled(df: DataFrame): Set[(String, String)] =
        df.where(col("doc_id").isin(sample: _*)).select("doc_id", "poly_id")
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val got = sampled(bc)
      ctx.check("brute_force_sample")(got == expected && expected.nonEmpty)
      // full pair sets: every timed operation of every path already had to
      // match the reference digest; here the checked result must match it
      // too, and the three paths must return the identical sample pairs
      ctx.check("paths_agree")(ref.contains(digest(bc)) &&
        sampled(saltedJoin(p)) == got && sampled(sqlJoin(p)) == got)
      ctx.check("spans_preserved")(Docs.spanMismatches(bc, raw) == 0)
    } finally p.unpersist(true)
  }

  def kernelWkt: Array[String] = Array.tabulate(if (ctx.tiny) 500 else 4000)(j =>
    GeoDocs.geoWkt(base + j, skew = true))

  override def ledger(): Seq[(String, Double, String)] = {
    val cands = refCandidates.map(_.rows.toDouble).getOrElse(Double.NaN)
    val hits = ref.map(_.rows.toDouble).getOrElse(Double.NaN)
    super.ledger() ++ Seq(
      ("join_docs_per_s", n / headlineSeconds, "docs/s"),
      ("salted_join_docs_per_s", n / altSeconds, "docs/s"),
      ("engine.join.candidates", cands, "count"),
      ("engine.join.candidate_s", med("engine.join.candidates"), "s"),
      ("engine.join.hits", hits, "count"),
      ("engine.join.refine_ratio", hits / cands, "ratio"),
      ("engine.join.refine_s", med(opSpan) - med("engine.join.candidates"), "s"),
      ("engine.join.salted_s", med(altSpan), "s"),
      ("plans.sql_join_s", med("plans.sql_join"), "s"))
  }
}

/** Write and resume side: uniform point docs, tile assignment over a zoom
  * range, pyramid counts, one manifest unit of parquet per zoom level. */
final class TileResume(ctx: Ctx) extends Workload(ctx) {
  val n: Long = if (ctx.tiny) 2000 else 40000
  val MinZ = 6
  val MaxZ = 9
  val units: Seq[String] = (MinZ to MaxZ).map(z => f"z$z%02d")
  val half: Int = units.length / 2
  private val base = Docs.base(ctx.seed, 3)
  private var raw: DataFrame = _
  private var round = 0
  private var lastExecuted = Seq.empty[String]
  /** Jobs killed after half their units, waiting to be resumed. The warm-up
    * prepares them, so the timed window holds only full and resume rounds. */
  private val killed = scala.collection.mutable.Queue.empty[String]
  private def kill(): Unit = {
    round += 1
    val res = dir("resume")
    ctx.tracer.span("job.kill")(job(res, units.take(half)))
    killed.enqueue(res)
  }

  def opSpan = "job.full"
  def altSpan = "job.resume"
  /** A round is seconds long: two of each kind, so each end-to-end metric is
    * the median of two samples rather than one. */
  override def minRounds = 4
  def headlineDocs: Double = n.toDouble
  def parseRows: Double = n.toDouble

  // half the usual splits: each unit writes one parquet file per split
  def setup(): Unit = raw = Docs.raw(ctx, base, n, skew = false, pointsOnly = true, parts = ctx.parts / 2)
  def release(): Unit = { raw.unpersist(true); knnInputs.foreach(_._2.unpersist(true)) }

  /** The Knn layer, timed in traced rounds on this workload's uniform points:
    * the benchmark has no kNN workload of its own (README). */
  val KnnQueries = 100
  private var knnInputs: Option[(DataFrame, DataFrame)] = None
  private def knnSetup(): (DataFrame, DataFrame) = knnInputs.getOrElse {
    import spark.implicits._
    val pts = GeoDocs.withGeometry(raw)
      .select(col("doc_id").as("pid"), col("lon").as("plon"), col("lat").as("plat"))
      .persist(StorageLevel.MEMORY_ONLY)
    pts.count()
    val qBase = Docs.base(ctx.seed, 6)
    val q = (0 until KnnQueries).map { j =>
      val p = Wkt.parse(GeoDocs.geoWkt(Docs.index(qBase, j.toLong, pointsOnly = true), skew = false))
        .asInstanceOf[Point]
      (f"q$j%05d", p.x, p.y)
    }.toDF("qid", "lon", "lat")
    knnInputs = Some((q, pts))
    (q, pts)
  }
  private def knnRows(df: DataFrame): Set[(String, String, Int)] =
    df.select("qid", "pid", "rank").collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  private def dir(tag: String) = s"${ctx.workDir}/tile/$round-$tag"
  private def rm(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
  }
  private def bytesUnder(path: String): Long = {
    var b = 0L
    java.nio.file.Files.walk(java.nio.file.Paths.get(path)).filter(f => java.nio.file.Files.isRegularFile(f))
      .forEach(f => b += java.nio.file.Files.size(f))
    b
  }

  /** One job invocation: parse, pyramid, then every pending unit through
    * `Manifest.runResumable`; returns the units it executed. */
  private def job(out: String, todo: Seq[String]): Seq[String] = Docs.parse(ctx, raw, n) match {
    case None => throw new IllegalStateException("parse failed")
    case Some(p) =>
      val pyr = TileJob.pyramidCounts(p, MinZ, MaxZ).persist(StorageLevel.MEMORY_ONLY)
      try {
        ctx.op("engine.tile.pyramid", Some(Digest(units.length * n, 0, 0))) {
          pyr.count(); Digest(pyr.agg(sum("n")).head().getLong(0), 0, 0)
        }
        var unitS = 0.0
        val (executed, runS) = ctx.tracer.timed("engine.manifest.run") {
          Manifest.runResumable(spark, out, "perfbench", todo, s"seed=${ctx.seed}") { u =>
            val z = u.drop(1).toInt
            val (_, t) = ctx.tracer.timed("engine.tile.unit") {
              TileJob.assign(p, z, z).select("doc_id", "spans", "z", "x", "y")
                .write.mode("overwrite").parquet(s"$out/tiles/$u")
              pyr.where(col("z") === z).write.mode("overwrite").parquet(s"$out/pyramid/$u")
            }
            unitS += t
            n
          }
        }
        if (executed.nonEmpty) ctx.sample("manifest.unit_overhead", (runS - unitS) / executed.length)
        executed
      } finally { pyr.unpersist(true); p.unpersist(true) }
  }

  /** The from-empty job; returns its output dir. */
  private def fullJob(): String = {
    round += 1
    val full = dir("full")
    ctx.op(opSpan, Some(Digest(units.length, 0, 0)))(Digest(job(full, units).length, 0, 0))
      .foreach(r => ctx.sample("headline", r._2))
    ctx.sample("write_bytes", bytesUnder(s"$full/tiles") + bytesUnder(s"$full/pyramid"))
    full
  }

  /** Timed rounds alternate between the from-empty job and the resume of a
    * killed job, so a run gets more than one sample of each. */
  private var lastFull = ""
  private var lastResume = ""
  private def once(all: Boolean): Unit = {
    if (!all || ctx.samples.getOrElse("headline", Nil).length <= ctx.samples.getOrElse("alt", Nil).length) {
      if (lastFull.nonEmpty) rm(lastFull)
      lastFull = fullJob()
    } else {
      if (lastResume.nonEmpty) rm(lastResume)
      if (ctx.traced) ctx.op("engine.tile.assign", Some(Digest(n * units.length, 0, 0))) {
        Docs.parse(ctx, raw, n).map { p =>
          try Digest(TileJob.assign(p, MinZ, MaxZ).count(), 0, 0) finally p.unpersist(true)
        }.getOrElse(Digest(-1, 0, 0))
      }
      if (ctx.traced) {
        val (q, pts) = knnSetup()
        ctx.op("engine.knn", Some(Digest(KnnQueries * 8L, 0, 0)))(Digest(Knn.knnJoin(q, pts, 8, 5, 4).count(), 0, 0))
      }
      if (killed.isEmpty) kill()
      val res = killed.dequeue()
      if (ctx.traced)
        ctx.sample("engine.manifest.lookup",
          ctx.tracer.timed("engine.manifest.lookup")(Manifest.completedUnits(spark, res))._2)
      ctx.op(altSpan, Some(Digest(units.length - half, 0, 0))) {
        lastExecuted = job(res, units); Digest(lastExecuted.length, 0, 0)
      }.foreach(r => ctx.sample("alt", r._2))
      lastResume = res
    }
  }

  def warmup(full: Boolean): Unit = {
    once(all = false)
    if (full) (1 to minRounds / 2).foreach(_ => kill())
  }
  def iterate(): Unit = once(all = true)
  def headline(): Unit = once(all = false)

  /** Checks the last timed round's outputs: the from-empty job's, and the
    * resumed job's against it. */
  def verify(): Unit = {
    val (full, res) = (lastFull, lastResume)
    def read(out: String, what: String) = spark.read.parquet(units.map(u => s"$out/$what/$u"): _*)
    var pyr = read(full, "pyramid")
    var tiles = read(full, "tiles")
    if (ctx.corrupt) {
      pyr = pyr.exceptAll(pyr.orderBy("z", "x", "y").limit(1))
      val d1 = tiles.where(expr("size(spans) > 1")).select("doc_id").orderBy("doc_id").head().getString(0)
      tiles = tiles.withColumn("spans", when(col("doc_id") === d1, reverse(col("spans"))).otherwise(col("spans")))
    }
    def pyrDigest(df: DataFrame) = Digest.of(df, col("z").cast("int"), col("x").cast("int"),
      col("y").cast("int"), col("n").cast("long"))
    def tileDigest(df: DataFrame) = Digest.of(df, col("doc_id"), col("z"), col("x"), col("y"), xxhash64(col("spans")))
    ctx.check("pyramid_sums_to_n") {
      val sums = pyr.groupBy("z").agg(sum("n")).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      sums.keySet == (MinZ to MaxZ).toSet && sums.values.forall(_ == n)
    }
    ctx.check("pyramid_matches_recount") {
      val p = GeoDocs.withGeometry(raw)
      pyrDigest(pyr) == pyrDigest((MinZ to MaxZ).map(z => TileJob.tileCounts(p, z)).reduce(_ unionByName _))
    }
    ctx.check("one_tile_per_doc_and_zoom") {
      val r = tiles.agg(count(lit(1)), countDistinct(col("doc_id"), col("z"))).head()
      r.getLong(0) == n * units.length && r.getLong(1) == n * units.length
    }
    ctx.check("spans_preserved")(Docs.spanMismatches(tiles, raw) == 0)
    knnInputs.foreach { case (q, pts) =>
      ctx.check("knn_brute_force_sample") {
        val sq = q.orderBy("qid").limit(10)
        knnRows(Knn.knnJoin(q, pts, 8, 5, 4).join(sq.select("qid"), "qid")) == knnRows(Knn.knnBrute(sq, pts, 8))
      }
    }
    ctx.check("resume_equals_full")(lastExecuted == units.drop(half) &&
      pyrDigest(read(res, "pyramid")) == pyrDigest(pyr) && tileDigest(read(res, "tiles")) == tileDigest(tiles))
    (Seq(full, res) ++ killed).foreach(rm)
  }

  def kernelWkt: Array[String] = Array.tabulate(if (ctx.tiny) 500 else 4000)(j =>
    GeoDocs.geoWkt(Docs.index(base, j, pointsOnly = true), skew = false))

  override def jobSpans: Seq[(String, String)] = super.jobSpans :+ ("engine.knn.jobs" -> "engine.knn")

  override def ledger(): Seq[(String, Double, String)] = super.ledger() ++ Seq(
    ("tile_docs_per_s", n / headlineSeconds, "docs/s"),
    ("resume_s", altSeconds, "s"),
    ("write_bytes_per_doc", med("write_bytes") / n, "B/doc"),
    ("engine.tile.assign_s", med("engine.tile.assign"), "s"),
    ("engine.tile.pyramid_s", med("engine.tile.pyramid"), "s"),
    ("engine.tile.rows", (n * units.length).toDouble, "count"),
    ("engine.manifest.unit_overhead_ms", 1000 * med("manifest.unit_overhead"), "ms"),
    ("engine.manifest.lookup_ms", 1000 * med("engine.manifest.lookup"), "ms"),
    ("engine.manifest.units_skipped", (units.length - lastExecuted.length).toDouble, "count"),
    ("engine.knn.s", med("engine.knn"), "s"),
    ("knn_queries_per_s", KnnQueries / med("engine.knn"), "queries/s"))
}
