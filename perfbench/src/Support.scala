package perfbench

import org.apache.spark.sql.SparkSession
import graft.cell.CellId
import graft.geom.{Wkb, WkbPip, Wkt}

/** Minimal JSON writer for the run's result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Host facts and external load, recorded with every run. */
object Host {
  def facts(spark: SparkSession): Map[String, Any] = {
    val memKb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    }.getOrElse(0L)
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_kb" -> memKb,
      "jvm" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version)
  }

  /** (busy, iowait+steal) jiffies of the whole machine and this JVM's CPU ns.
    * Only user..steal are summed: guest time is already inside user/nice. */
  final case class Snap(busy: Long, stall: Long, ownNs: Long)

  def loadSnapshot(): Snap = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    val iowait = if (f.length > 4) f(4) else 0L
    val steal = if (f.length > 7) f(7) else 0L
    val own = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    Snap(f.take(8).sum - f(3) - iowait, iowait + steal, own)
  }

  /** A run is marked loaded above one external busy core or half a core of
    * iowait plus steal, averaged over the timed window. */
  val ExtThreshold = 1.0
  val StallThreshold = 0.5

  def loadDelta(s0: Snap, wallS: Double): Map[String, Any] = {
    val s1 = loadSnapshot()
    val ext = math.max(0.0, ((s1.busy - s0.busy) / 100.0 - (s1.ownNs - s0.ownNs) / 1e9) / wallS)
    val stall = (s1.stall - s0.stall) / 100.0 / wallS
    Map("ext_busy_cores" -> ext, "stall_cores" -> stall,
      "ext_threshold" -> ExtThreshold, "stall_threshold" -> StallThreshold,
      "loaded" -> (ext > ExtThreshold || stall > StallThreshold))
  }
}

/** Single-thread kernel timings over the workload's own inputs: WKT parse,
  * ray-crossing PIP, cell id and cover. Each kernel repeats until it has run
  * for a fixed budget and reports nanoseconds per unit of work. */
object Kernels {
  private val BudgetNs = 100000000L
  private val Zoom = 4
  @volatile private var out = Seq.empty[(String, (Double, String))]
  def results: Seq[(String, (Double, String))] = out

  /** ns per unit of work over a fixed budget, after an equal warm-up budget
    * so the JIT has compiled the kernel before it is timed. */
  private def loop(work: () => Long): Double = { timedLoop(work); timedLoop(work) }
  private def timedLoop(work: () => Long): Double = {
    var units = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < BudgetNs) units += work()
    (System.nanoTime() - t0).toDouble / math.max(1L, units)
  }

  def run(ctx: Ctx, wl: Workload): Unit = {
    val tr = ctx.tracer
    val wkt = wl.kernelWkt
    val pts = wl.kernelPoints
    val polys = Polys.rings(ctx.seed, if (ctx.tiny) 50 else 200).map(Wkt.parse)
    val wkbs = polys.map(Wkb.write)
    var sink = 0L
    val parseNs = tr.span("geom.wkt_parse") {
      loop { () => wkt.foreach(s => sink += Wkt.parse(s).hashCode & 1); wkt.length.toLong }
    }
    // probe each ring at points scattered over its own envelope, so most
    // calls scan the whole ring (the refine case), plus the workload's points
    val probes = wkbs.zipWithIndex.flatMap { case (w, k) =>
      val e = polys(k).envelope
      (0 until 8).map(j => (w, e.minX + (e.maxX - e.minX) * ((j * 0.618) % 1.0),
        e.minY + (e.maxY - e.minY) * ((j * 0.414) % 1.0)))
    } ++ pts.take(wkbs.length).zipWithIndex.map { case ((x, y), k) => (wkbs(k % wkbs.length), x, y) }
    val pipNs = tr.span("geom.wkb_pip") {
      loop { () => probes.foreach { case (w, x, y) => if (WkbPip.containsPoint(w, x, y)) sink += 1 }
        probes.length.toLong * Polys.Vertices }
    }
    val cellNs = tr.span("cell.cell") {
      loop { () => pts.foreach { case (x, y) => sink += CellId.fromLonLat(x, y, Zoom) & 1 }; pts.length.toLong }
    }
    var cells = 0L
    val coverNs = tr.span("cell.cover") {
      loop { () => val c = polys.map(g => CellId.cover(g, Zoom).length.toLong).sum; cells = c; c }
    }
    if (sink == 42) println()
    out = Seq(
      "geom.wkt_parse_ns" -> (parseNs, "ns/geom"),
      "geom.wkb_pip_ns_per_vertex" -> (pipNs, "ns/vertex"),
      "cell.cell_ns" -> (cellNs, "ns/point"),
      "cell.cover_ns_per_cell" -> (coverNs, "ns/cell"),
      "cell.cover_cells_per_poly" -> (cells.toDouble / polys.length, "count"))
  }
}

/** Seeded admin-style method polygons: 48-vertex near-circular rings of
  * 2–8° radius spread over the globe (the shape of `Bench.probePolys`).
  * With a hot point, exactly `HotRings` rings cover it and every other
  * ring's bounding box keeps clear of it, so the refine work the hot cell
  * concentrates is the same for every seed. */
object Polys {
  val Vertices = 49
  val HotRings = 3

  def rings(seed: Long, n: Int, hot: Option[(Double, Double)] = None): Array[String] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + 17L)
    Array.tabulate(n) { i =>
      val r = 2.0 + 6.0 * rnd.nextDouble()
      def clear(lon: Double, lat: Double) = hot.forall { case (hx, hy) =>
        math.abs(hx - lon) > r + 0.5 || math.abs(hy - lat) > 0.8 * r + 0.5 }
      var lon = 0.0; var lat = 0.0
      hot match {
        case Some((hx, hy)) if i < HotRings =>
          lon = hx - 0.5 + rnd.nextDouble(); lat = hy - 0.5 + rnd.nextDouble()
        case _ =>
          do { lon = -172.0 + 344.0 * rnd.nextDouble(); lat = -76.0 + 152.0 * rnd.nextDouble() }
          while (!clear(lon, lat))
      }
      val ring = (0 until Vertices - 1).map { k =>
        val a = 2.0 * math.Pi * k / (Vertices - 1)
        s"${lon + r * math.cos(a)} ${lat + 0.8 * r * math.sin(a)}"
      } :+ s"${lon + r} $lat"
      ring.mkString("POLYGON ((", ",", "))")
    }
  }

  def frame(spark: SparkSession, seed: Long, n: Int, hot: Option[(Double, Double)])
      : (org.apache.spark.sql.DataFrame, Array[(String, Array[Byte])]) = {
    import spark.implicits._
    val rows = rings(seed, n, hot).zipWithIndex.map { case (w, i) => (f"p$i%05d", Wkb.write(Wkt.parse(w))) }
    (rows.toSeq.toDF("poly_id", "wkb"), rows)
  }
}
