package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are nanoseconds on the span clock
  * (`System.nanoTime` shifted to the epoch), so listener stage times, which
  * Spark reports in epoch milliseconds, land on the same axis. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. The benchmark opens a span around each call
  * into a program layer; the job property `perfbench.span` carries the open
  * span id into Spark so the listener can parent stage spans under it.
  * Nothing is written until the run ends. */
final class Tracer(sc: SparkContext, val runId: String) {
  @volatile var enabled = false
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil

  def now(): Long = System.nanoTime() + epochOffsetNs
  def current: Long = stack.headOption.getOrElse(0L)

  /** Time `f` in seconds; when tracing is on, also record it as a span. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val t0 = now()
    if (!enabled) { val r = f; (r, (now() - t0) / 1e9) }
    else {
      val id = nextId.getAndIncrement()
      val parent = current
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      try { val r = f; (r, (now() - t0) / 1e9) }
      finally {
        val t1 = now()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, if (stack.isEmpty) null else stack.head.toString)
        add(Span(id, parent, name, t0, t1))
      }
    }
  }

  def span[T](name: String)(f: => T): T = timed(name)(f)._1

  def add(s: Span): Unit = synchronized { spans += s }
  def newId(): Long = nextId.getAndIncrement()
  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Self time per span: its duration minus the part of its interval that
    * its children cover (children clipped to the parent, overlaps merged). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - covered(ivs))
    }.toMap
  }

  /** Spans named after a program module: the layers the ledger reports. */
  def isLayer(name: String): Boolean =
    Seq("geom.", "cell.", "engine.", "plans.", "spark.").exists(name.startsWith)

  /** Writes the run's spans (name, start, end, parent id, self time; one run
    * id for all) and the self time summed per span name. */
  def write(path: String, runId: String, root: (Long, Long), spans: Seq[Span],
            self: Map[Long, Long]): Unit = {
    val rows = spans.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id))
    }
    val byName = spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size, "total_s" -> ss.map(_.durNs).sum / 1e9,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9)
    }
    val doc = Map("run_id" -> runId, "wall_s" -> (root._2 - root._1) / 1e9,
      "self_by_name" -> byName, "spans" -> rows)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(Json.render(doc)) finally w.close()
  }

  /** Length of the union of intervals. */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Scheduler counters for one JVM, plus stage spans when tracing is on.
  * `reset()` starts a new window (the timed section); readers call
  * `BusDrain` first so every queued event has landed. */
final class Ledger(tracer: Tracer) extends SparkListener {
  final class Window {
    var jobs = 0L; var tasks = 0L; var shuffleWrite = 0L; var spill = 0L
    var gcMs = 0L; var peakMem = 0L
    val jobsBySpan = mutable.Map.empty[Long, Long]
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val stageWall = mutable.Map.empty[Int, Long]
  }
  @volatile private var w = new Window
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()

  def reset(): Unit = synchronized { w = new Window }
  def window: Window = w

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(q => Option(q.getProperty(Tracer.SpanProperty))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    w.jobs += 1
    val s = spanOf(e.properties)
    w.jobsBySpan(s) = w.jobsBySpan.getOrElse(s, 0L) + 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    if (s != 0L) stageSpan.put(e.stageInfo.stageId, s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (a <- info.submissionTime; b <- info.completionTime) {
      w.stageWall(info.stageId) = b - a
      val parent = stageSpan.remove(info.stageId)
      if (tracer.enabled && parent != null)
        tracer.add(Span(tracer.newId(), parent, "spark.stage", a * 1000000L, b * 1000000L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    w.tasks += 1
    w.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.gcMs += m.jvmGCTime
      w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
    }
  }

  /** max ÷ median task time in the stage with the longest wall time. */
  def taskSkew: Double = synchronized {
    if (w.stageWall.isEmpty) 1.0
    else {
      val slowest = w.stageWall.maxBy(_._2)._1
      val ms = w.taskMs.getOrElse(slowest, mutable.ArrayBuffer(1L)).sorted
      ms.last.toDouble / math.max(1L, ms(ms.length / 2))
    }
  }
}
