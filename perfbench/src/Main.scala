package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.perfbench.BusDrain

/** Order-independent digest of a result set: row count plus two hash
  * aggregates over the identifying columns. Equal digests on every timed
  * operation mean every path returned the reference rows. */
final case class Digest(rows: Long, xor: Long, modSum: Long)

object Digest {
  def of(df: DataFrame, cols: Column*): Digest = {
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(pmod(h, lit(2147483647L))), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** Everything a workload needs from the harness: session, tracer, op
  * accounting and the per-op time samples. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val ledger: Ledger,
                val seed: Long, val tiny: Boolean, val parts: Int,
                val workDir: String, val corrupt: Boolean) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  /** Rounds with tracing on also run the extra per-layer operations. */
  def traced: Boolean = tracer.enabled

  def sample(name: String, secs: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs

  /** One benchmark operation: timed under `name`, its digest compared with
    * `expect` when given. A throw or a wrong digest counts as failed; the
    * error is kept as a record, never as a sentinel time. */
  def op(name: String, expect: Option[Digest] = None)(f: => Digest): Option[(Digest, Double)] = {
    attempted += 1
    try {
      val (d, t) = tracer.timed(name)(f)
      if (expect.exists(_ != d)) {
        failed += 1; errors += s"$name: digest $d differs from reference ${expect.get}"; None
      } else { sample(name, t); Some((d, t)) }
    } catch {
      case e: Throwable =>
        failed += 1; errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"; None
    }
  }

  /** A correctness check: counted as one attempted operation. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val r = try tracer.span(s"check.$name")(ok) catch {
      case e: Throwable => errors += s"check $name: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!r) { failed += 1; if (!errors.exists(_.startsWith(s"check $name"))) errors += s"check $name failed" }
    checks(name) = r
  }

  def median(name: String): Double = Stats.median(samples.getOrElse(name, mutable.ArrayBuffer.empty).toSeq)
}

object Stats {
  def median(v: Seq[Double]): Double =
    if (v.isEmpty) Double.NaN
    else { val s = v.sorted; val m = s.length / 2; if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2 }
}

object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, cores: Int = 4, parts: Int = 8,
                        role: String = "main",
                        tiny: Boolean = false, corrupt: Boolean = false,
                        out: String = "", work: String = "")

  /** Warm set-ups per main-level run; `setup_s` is their median. */
  val WarmSetups = 5

  def parseArgs(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parseArgs(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parseArgs(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parseArgs(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parseArgs(t, acc.copy(trace = v == "1"))
    case "--cores" :: v :: t => parseArgs(t, acc.copy(cores = v.toInt))
    case "--parts" :: v :: t => parseArgs(t, acc.copy(parts = v.toInt))
    case "--role" :: v :: t => parseArgs(t, acc.copy(role = v))
    case "--size" :: v :: t => parseArgs(t, acc.copy(tiny = v == "tiny"))
    case "--corrupt" :: t => parseArgs(t, acc.copy(corrupt = true))
    case "--out" :: v :: t => parseArgs(t, acc.copy(out = v))
    case "--work" :: v :: t => parseArgs(t, acc.copy(work = v))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** `parts` (input splits; twice that for shuffles) is the same at both
    * scaling levels, so they run identical tasks on different core counts. */
  def session(cores: Int, parts: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * parts).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // one rename per committed file and no _SUCCESS marker: fewer
      // file-system operations per small parquet write (tile-resume)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "pip-skew" => new PipSkew(ctx)
    case "tile-resume" => new TileResume(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    // halt, not exit: the result is on disk, and Spark's shutdown hooks and
    // non-daemon threads would only delay the next level (the caller removes
    // the work directory). The build's training run exits normally
    // (-Dperfbench.exit) so the JVM writes its class-data archive.
    val code = try { run(parseArgs(argv.toList)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 3
    }
    System.out.flush(); System.err.flush()
    if (sys.props.contains("perfbench.exit")) sys.exit(code) else Runtime.getRuntime.halt(code)
  }

  def run(a: Args): Unit = {
    new java.io.File(a.work).mkdirs()
    // set-up is repeated and the median of the warm ones reported: the main
    // level sets up once cold and WarmSetups times warm, the scaling level
    // only needs its inputs once
    val setups = if (a.role == "main") 1 + WarmSetups else 1
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    var wl: Workload = null
    var tracer: Tracer = null
    var root: (Long, Long) = (0L, 0L)
    for (k <- 0 until setups) {
      val t0 = System.nanoTime()
      spark = session(a.cores, a.parts, a.work)
      val tSession = (System.nanoTime() - t0) / 1e9
      tracer = new Tracer(spark.sparkContext, f"${a.workload}-${a.seed}-${System.currentTimeMillis()}%x")
      val ledger = new Ledger(tracer)
      spark.sparkContext.addSparkListener(ledger)
      ctx = new Ctx(spark, tracer, ledger, a.seed, a.tiny, a.parts, a.work, a.corrupt)
      wl = make(a.workload, ctx)
      val last = k == setups - 1
      if (last && a.trace && a.role == "main") tracer.enabled = true
      root = (tracer.now(), 0L)
      val (_, tInputs) = tracer.timed("setup.inputs")(wl.setup())
      setupS += tSession + tInputs
      sessionS += tSession
      if (!last) { wl.release(); spark.stop() }
    }

    val host = Host.facts(spark)
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); try f finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    if (tracer.enabled) phase("kernels")(Kernels.run(ctx, wl))
    phase("warmup")(wl.warmup(full = a.role == "main"))
    ctx.samples.clear()
    BusDrain(spark.sparkContext)
    ctx.ledger.reset()
    val load0 = Host.loadSnapshot()
    val tStart = System.nanoTime()
    val tracedFrom = tracer.now()
    var iters = 0
    val tracedOps = mutable.ArrayBuffer.empty[Double]
    val plainOps = mutable.ArrayBuffer.empty[Double]
    var untracedNs = 0L
    val roundS = mutable.ArrayBuffer.empty[Double]
    // a traced run needs a traced and an untraced pair; the scaling level's
    // headline-only rounds need one
    val minRounds = if (a.role != "main") 1 else if (a.trace) math.max(4, wl.minRounds) else wl.minRounds
    do {
      // traced run: alternate pairs of traced and untraced rounds (pairs,
      // because tile-resume alternates its two paths), so the tracing
      // overhead is measured against untraced rounds of the same run
      val on = a.trace && a.role == "main" && (iters / 2) % 2 == 0
      tracer.enabled = on
      val before = ctx.samples.getOrElse("headline", mutable.ArrayBuffer.empty).length
      val t0 = System.nanoTime()
      if (a.role == "main") wl.iterate() else wl.headline()
      if (!on) untracedNs += System.nanoTime() - t0
      val after = ctx.samples.getOrElse("headline", mutable.ArrayBuffer.empty)
      if (after.length > before) (if (on) tracedOps else plainOps) += after.last
      iters += 1
      roundS += (System.nanoTime() - t0) / 1e9
      // stop before a round that would overrun the measuring time
    } while (iters < minRounds || (System.nanoTime() - tStart) / 1e9 + Stats.median(roundS.toSeq) <= a.seconds)
    val timedWall = (System.nanoTime() - tStart) / 1e9
    BusDrain(spark.sparkContext)
    val load = Host.loadDelta(load0, timedWall)
    val win = ctx.ledger.window
    val skew = ctx.ledger.taskSkew
    // the traced wall ends with the timed section; checks are traced after it
    root = (root._1, tracer.now())
    tracer.enabled = a.trace && a.role == "main"
    if (a.role == "main") phase("checks")(tracer.span("checks")(wl.verify()))
    phases("timed") = timedWall

    val out = mutable.LinkedHashMap.empty[String, Any]
    out("role") = a.role
    out("cores") = a.cores
    out("iterations") = iters
    out("attempted") = ctx.attempted
    out("failed") = ctx.failed
    out("errors") = ctx.errors.toList
    out("checks") = ctx.checks.toMap
    out("setup_s") = Stats.median(if (setupS.length > 1) setupS.tail.toSeq else setupS.toSeq)
    out("setup_cold_s") = setupS.head
    out("setup_runs_s") = setupS.toList
    out("setup_session_s") = sessionS.toList
    out("phases_s") = phases
    out("samples") = ctx.samples.map { case (k, v) => k -> v.toList }.toMap
    out("docs_per_s") = wl.headlineDocs / wl.headlineSeconds
    // the traced run's untraced rounds: the numerator of the scaling ratio
    if (a.trace) out("untraced_docs_per_s") = wl.headlineDocs / Stats.median(plainOps.toSeq)
    out("host") = host
    out("load") = load
    if (a.role == "main") {
      out("alt_docs_per_s") = wl.headlineDocs / wl.altSeconds
      val per = math.max(1, iters).toDouble
      val layers = mutable.LinkedHashMap[String, (Double, String)](
        "spark.jobs" -> (win.jobs / per, "count"),
        "spark.tasks" -> (win.tasks / per, "count"),
        "spark.shuffle_write_bytes" -> (win.shuffleWrite / per, "B"),
        "spark.spill_bytes" -> (win.spill / per, "B"),
        "spark.peak_task_mem_mb" -> (win.peakMem / 1048576.0, "MB"),
        "spark.gc_ms" -> (win.gcMs / per, "ms"),
        "spark.task_skew" -> (skew, "ratio"))
      wl.ledger().foreach { case (n, v, u) => layers(n) = (v, u) }
      if (a.trace) {
        layers ++= Kernels.results
        val spans = tracer.all
        val self = Tracer.selfTimes(spans)
        val kids = spans.groupBy(_.parent)
        def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
        val opSpans = spans.filter(s => s.name == wl.opSpan && s.startNs >= tracedFrom)
        // the headline call outside Spark stages: its wall minus the stages under it
        layers("engine.op_self_s") = (Stats.median(opSpans.map { s =>
          val stages = subtree(s).filter(_.name == "spark.stage")
            .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(iv => iv._2 > iv._1)
          (s.durNs - Tracer.covered(stages)) / 1e9
        }), "s")
        // jobs per call, over the timed section's calls (the listener's
        // window starts there)
        wl.jobSpans.foreach { case (metric, name) =>
          layers(metric) = (Stats.median(spans.filter(s => s.name == name && s.startNs >= tracedFrom).map(s =>
            subtree(s).map(c => win.jobsBySpan.getOrElse(c.id, 0L)).sum.toDouble)), "count")
        }
        val layerIvs = spans.filter(s => Tracer.isLayer(s.name))
          .map(s => (math.max(s.startNs, root._1), math.min(s.endNs, root._2))).filter(iv => iv._2 > iv._1)
        // traced wall: set-up of the kept session through the timed section,
        // minus the untraced rounds
        val explained = Tracer.covered(layerIvs).toDouble / math.max(1L, root._2 - root._1 - untracedNs)
        layers("trace.explained_frac") = (explained, "ratio")
        layers("trace.overhead_frac") =
          (Stats.median(tracedOps.toSeq) / Stats.median(plainOps.toSeq) - 1.0, "ratio")
        val path = a.out.stripSuffix(".json") + ".trace.json"
        Tracer.write(path, tracer.runId, root, spans, self)
        out("trace_file") = path
      }
      out("layers") = layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap
    }
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.println(Json.render(out)) finally w.close()
  }
}
