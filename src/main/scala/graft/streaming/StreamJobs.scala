package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Structured Streaming jobs for continuously-appended document/event
  * tables. The reference is batch-only (SURVEY.md §1.3) — its incremental
  * surface is `--resume` — so streaming here extends the engine for
  * append-style ingest: the same tile/window aggregations expressed over
  * `readStream`, with event-time watermarks bounding state.
  *
  * All transforms are shared with the batch path (same column exprs), so a
  * batch backfill and the streaming job produce identical rows — the
  * Dataset API's batch/streaming unification.
  */
object StreamJobs {

  /** Tumbling event-time window counts per event_type with a watermark —
    * the streaming twin of Queries.q13_time_window. Works on any streaming
    * DataFrame with (ts: timestamp, event_type: string, value: double). */
  def windowedCounts(events: DataFrame, window_ : String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")).as("sum_cents"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("n"), col("sum_cents"))

  /** Streaming tile-assignment: each arriving doc point is assigned its
    * (z, x, y) tiles — a narrow, stateless transform (no watermark needed).
    * Input: (doc_id, lon, lat). */
  def tileAssignments(points: DataFrame, minZ: Int, maxZ: Int): DataFrame =
    graft.engine.TileJob.assign(points, minZ, maxZ)

  /** Streaming exact dedup for document ingest (the training-pipeline d01
    * twin): first arrival of each content digest passes, duplicates drop.
    * State is the digest set bounded by the watermark horizon — late
    * duplicates beyond it are admitted (documented at-most-once-per-window
    * semantics; an unbounded set would OOM a 10^12-doc stream). Input:
    * (doc_id, text, ts). */
  def streamingDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("digest", sha2(col("text"), 256))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** File-source ingest of an append-only events directory → windowed
    * counts → parquet sink with checkpointing (exactly-once). */
  def runFileStream(spark: SparkSession, inDir: String, outDir: String,
                    checkpointDir: String, schemaFrom: String,
                    maxFilesPerTrigger: Option[Int] = None,
                    watermark: String = "10 minutes"): StreamingQuery = {
    val schema = spark.read.parquet(schemaFrom).schema
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    // watermarks require TIMESTAMP; events.ts arrives TIMESTAMP_NTZ (cast is
    // value-preserving under the pinned UTC session timezone)
    val in = reader.parquet(inDir).withColumn("ts", col("ts").cast("timestamp"))
    windowedCounts(in, watermark = watermark).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
  }

  private def rmr(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Stage the events table into `inDir` as 4 event-time slices plus a
    * watermark-flushing sentinel (ts = max + 1h, event_type
    * 'sentinel_flush'), so a file stream consuming them in arrival order
    * sees monotonically-advancing event time (no late-drop) and the
    * sentinel closes every real window under the 10-minute watermark.
    * Returns the slice writers so callers control arrival phasing. */
  def stageTimeSlices(spark: SparkSession, eventsParquet: String,
                      inDir: String): Seq[() => Unit] = {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(eventsParquet)
    // events.ts is TIMESTAMP_NTZ: route via session-UTC TIMESTAMP for epoch
    val tsSec = col("ts").cast("timestamp").cast("long")
    val b = ev.agg(min(tsSec), max(tsSec)).head()
    val t0 = b.getLong(0); val t1 = b.getLong(1)
    val span = math.max(1L, t1 - t0 + 1)
    val sliced = ev.withColumn("__slice",
      least(lit(3), floor((tsSec - lit(t0)) * 4.0 / lit(span.toDouble))).cast("int"))
    val sentinel = ev.limit(1)
      .withColumn("ts", lit(t1 + 3600L).cast("timestamp").cast("timestamp_ntz"))
      .withColumn("event_type", lit("sentinel_flush"))
      .withColumn("value", lit(0.0))
    // ONE file per slice: the file source orders batches by mod-time, so a
    // slice split across files processed in separate micro-batches would
    // advance the watermark past its sibling's early rows (late-drop).
    (0 until 4).map { i => () =>
      sliced.where(col("__slice") === i).drop("__slice")
        .repartition(1).write.mode("append").parquet(inDir)
    } :+ { () => sentinel.repartition(1).write.mode("append").parquet(inDir) }
  }

  /** Late-data watermark semantics, end-to-end and DETERMINISTIC (the
    * contract that makes streaming aggregation bounded-state at scale:
    * rows whose window closed under the watermark are dropped, not
    * buffered forever). The events table arrives as `nSlices` microbatches
    * sliced by `event_id % nSlices` — every slice spans the full
    * event-time range, so slice 0 advances the watermark to ~(global max −
    * delay) and the later slices arrive almost entirely late. Each slice
    * is one file and one checkpoint-restarted AvailableNow run, so batch
    * boundaries (and therefore watermark advancement) are exactly
    * reproducible: the watermark used while processing slice k is
    * max(event-time ms over slices < k) − delayMs, and a row is kept iff
    * its window end (ms) exceeds it. The delay is 600500 ms — the odd
    * 500 ms offset keeps the watermark off every window-end boundary
    * (multiples of 300 000 ms), so the keep/drop predicate can never sit
    * on an equality whose strictness would have to match Spark's
    * internals bit-for-bit. A +1 h sentinel then closes all real windows
    * and a final no-data restart flushes them (same machinery as
    * [[resumeDemo]]). Returns the surviving windowed counts. */
  def lateDemo(spark: SparkSession, eventsParquet: String, work: String,
               nSlices: Int = 4): DataFrame = {
    import org.apache.spark.sql.functions._
    rmr(spark, work)
    val inDir = s"$work/in"; val outDir = s"$work/out"; val ck = s"$work/ck"
    val ev = spark.read.parquet(eventsParquet)
    val tsSec = col("ts").cast("timestamp").cast("long")
    val t1 = ev.agg(max(tsSec)).head().getLong(0)
    val sentinel = ev.limit(1)
      .withColumn("ts", lit(t1 + 3600L).cast("timestamp").cast("timestamp_ntz"))
      .withColumn("event_type", lit("sentinel_flush"))
      .withColumn("value", lit(0.0))
    def run(): Unit =
      runFileStream(spark, inDir, outDir, ck, eventsParquet,
        watermark = "600500 milliseconds").awaitTermination()
    for (k <- 0 until nSlices) {
      ev.where(col("event_id") % nSlices === k)
        .repartition(1).write.mode("append").parquet(inDir)
      run()
    }
    sentinel.repartition(1).write.mode("append").parquet(inDir)
    run()
    run() // no-data flush: emits the windows the sentinel's watermark closed
    spark.read.parquet(outDir)
      .where(col("event_type") =!= "sentinel_flush")
      .select(col("wstart"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy("wstart", "event_type")
  }

  /** End-to-end resumable streaming job (the streaming twin of the batch
    * `--resume` manifest path, reference apps/gdalalg_raster_tile.cpp:289):
    * phase 1 streams the first half of the event-time range to a
    * checkpointed parquet sink and terminates; phase 2 restarts FROM THE
    * CHECKPOINT with the rest of the data appended and must not reprocess
    * phase-1 files (file-source offset log) nor duplicate sink output
    * (parquet sink commit log); a final no-new-data restart flushes
    * watermark-closed windows. Returns the final windowed counts minus the
    * sentinel — byte-identical to the batch twin q13_time_window. */
  /** Stream-static spatial enrichment: the flagship point-in-polygon join
    * ([[graft.engine.SpatialJoin.pipJoin]]) with a STREAMING point side and
    * a static broadcast polygon side. The join is stateless — no watermark,
    * no state store — so it runs in append mode and scales to unbounded
    * ingest: every micro-batch costs exactly the batch plan (one
    * BroadcastPipJoinExec: the polygon cell index is built and broadcast
    * once per micro-batch, each point probes its cell and refines
    * direct-on-WKB) and nothing accumulates. Events arrive as three file
    * slices across TWO checkpoint-restarted AvailableNow runs, so the gate
    * also proves the file-source offset log prevents re-enrichment on
    * restart (duplicates would fail the row-count compare). Returns the
    * enriched pairs — byte-identical to the batch twin g03_pip_join. */
  def streamPipJoin(spark: SparkSession, eventsParquet: String, work: String,
                    polys: DataFrame, z: Int,
                    lonExpr: String, latExpr: String): DataFrame = {
    import org.apache.spark.sql.functions._
    rmr(spark, work)
    val inDir = s"$work/in"; val outDir = s"$work/out"; val ck = s"$work/ck"
    val ev = spark.read.parquet(eventsParquet)
    def stage(k: Int): Unit =
      ev.where(col("event_id") % 3 === k)
        .repartition(1).write.mode("append").parquet(inDir)
    def run(): Unit = {
      val pts = spark.readStream.schema(ev.schema).parquet(inDir)
        .select(col("event_id"), expr(lonExpr).as("lon"), expr(latExpr).as("lat"))
      val joined = graft.engine.SpatialJoin.pipJoin(pts, polys, z)
        .select("event_id", "poly_id")
      joined.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ck)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    stage(0); stage(1)
    run()
    stage(2)
    run() // restart from checkpoint: slices 0-1 must not re-enrich
    spark.read.parquet(outDir).orderBy("event_id", "poly_id")
  }

  /** One banded arrival for the streaming near-dup path. `codes` is the
    * sorted-distinct trigram-code set (the Jaccard refine input). */
  case class BandedDoc(doc_id: Long, batch: Int, codes: Array[Long],
                       band: Int, bucket: String)
  case class StateDoc(docId: Long, batch: Int, codes: Array[Long])
  case class BucketState(docs: List[StateDoc])
  case class DupRow(doc_id: Long, band: Int, isDup: Boolean, matchMin: Long)

  /** Integer-exact Jaccard ≥ thr/1000 over sorted-distinct code arrays
    * (same cross-multiplication rule as the d09 batch refine — no FP
    * threshold ambiguity). */
  private[streaming] def jaccardGe(a: Array[Long], b: Array[Long], thr: Int): Boolean = {
    var i = 0; var j = 0; var inter = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter * 1000L >= thr.toLong * (a.length + b.length - inter)
  }

  /** Streaming near-duplicate suppression — the streaming twin of the
    * batch d05→d08 LSH pipeline: MinHash signatures banded into bucket
    * keys (2 bands × 4 hashes, as d05), `flatMapGroupsWithState` keyed on
    * the bucket, state = the bucket's previously-arrived members, and a
    * doc is flagged iff an EARLIER arrival in the same bucket passes the
    * integer-exact trigram-Jaccard ≥ 0.6 refine. "Earlier" is (batch,
    * doc_id) lexicographic — deterministic at any parallelism because the
    * within-batch group iterator is sorted before matching. Docs arrive
    * as `nBatches` deterministic slices (doc_id % nBatches), one
    * checkpoint-restarted AvailableNow run each, so state provably
    * survives restarts (re-matching after restart would flip is_dup rows
    * and fail the exact compare). State is bucket-bounded exactly like
    * the batch LSH path's hot-bucket guard; the production path adds an
    * event-time timeout at the watermark horizon (as streamingDedup does)
    * — at gate scale no bucket saturates and no state expires. Returns
    * the per-doc rollup: is_dup = flagged in ANY band bucket, match_min =
    * smallest matching earlier doc id. */
  def streamNearDup(spark: SparkSession, docsParquet: String, work: String,
                    nBatches: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    rmr(spark, work)
    graft.functions.GraftFunctions.register(spark)
    val inDir = s"$work/in"; val outDir = s"$work/out"; val ck = s"$work/ck"
    val docs = spark.read.parquet(docsParquet)
    def stage(k: Int): Unit =
      docs.where(col("doc_id") % nBatches === k).withColumn("batch", lit(k))
        .repartition(1).write.mode("append").parquet(inDir)
    def run(): Unit = {
      val in = spark.readStream
        .schema(spark.read.parquet(inDir).schema).parquet(inDir)
        .where(expr("length(text) >= 3"))
        .withColumn("sig", expr("text_minhash(text)"))
        .withColumn("codes", expr("array_sort(array_distinct(text_trigram_codes(text)))"))
      val banded = in.select(col("doc_id"), col("batch"), col("codes"),
          explode(expr(
            """array(
               named_struct('band', 0, 'key',
                 array_join(transform(slice(sig, 1, 4), x -> CAST(x AS STRING)), ',')),
               named_struct('band', 1, 'key',
                 array_join(transform(slice(sig, 5, 4), x -> CAST(x AS STRING)), ',')))"""))
            .as("bk"))
        .select(col("doc_id"), col("batch").cast("int").as("batch"), col("codes"),
          col("bk.band").as("band"),
          concat(col("bk.band").cast("string"), lit(":"), col("bk.key")).as("bucket"))
        .as[BandedDoc]
      val out = banded.groupByKey(_.bucket)
        .flatMapGroupsWithState[BucketState, DupRow](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (_, rows, state) =>
            val prior = if (state.exists) state.get.docs else Nil
            val arrivals = rows.toSeq.sortBy(d => (d.batch, d.doc_id))
            val local = scala.collection.mutable.ListBuffer[StateDoc]()
            val emitted = arrivals.map { d =>
              val earlier = (prior.iterator ++ local.iterator).filter(p =>
                p.batch < d.batch || (p.batch == d.batch && p.docId < d.doc_id))
              val matches = earlier.filter(p => jaccardGe(p.codes, d.codes, 600))
                .map(_.docId).toSeq
              local += StateDoc(d.doc_id, d.batch, d.codes)
              DupRow(d.doc_id, d.band, matches.nonEmpty,
                if (matches.isEmpty) -1L else matches.min)
            }
            state.update(BucketState(prior ++ local.toList))
            emitted.iterator
        }
      out.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ck)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    for (k <- 0 until nBatches) { stage(k); run() }
    spark.read.parquet(outDir)
      .groupBy("doc_id")
      .agg(max(col("isDup").cast("int")).as("dupi"),
        min(when(col("matchMin") >= 0, col("matchMin"))).as("mm"))
      .select(col("doc_id"), col("dupi").cast("long").as("is_dup"),
        coalesce(col("mm"), lit(-1L)).as("match_min"))
      .orderBy("doc_id")
  }

  /** Streaming sessionization — the streaming twin of the batch s02 gate,
    * on Spark's NATIVE session windows: `session_window(ts, gap)` +
    * watermark, so session state is store-managed and bounded (sessions
    * close and leave state when the watermark passes their end+gap — the
    * property that keeps a 10^9-user stream finite). Events arrive as the
    * four monotone time slices of [[stageTimeSlices]] (one file, one
    * checkpoint-restarted AvailableNow run each — sessions spanning slice
    * boundaries must merge across restarts from the state store), then
    * the +1 h sentinel advances the watermark past every real session and
    * a final no-data run flushes them. The sentinel's own session can
    * never flush (nothing follows it), so it self-excludes from output.
    * Session semantics are session_window's: merge iff gap STRICTLY less
    * than `gapSec` — the twin replays exactly that rule. */
  def streamSessionize(spark: SparkSession, eventsParquet: String, work: String,
                       gapSec: Int = 1800): DataFrame = {
    import org.apache.spark.sql.functions._
    rmr(spark, work)
    val inDir = s"$work/in"; val outDir = s"$work/out"; val ck = s"$work/ck"
    val writers = stageTimeSlices(spark, eventsParquet, inDir)
    val schema = spark.read.parquet(eventsParquet).schema
    def run(): Unit = {
      val in = spark.readStream.schema(schema).parquet(inDir)
        .withColumn("tst", col("ts").cast("timestamp"))
        .withWatermark("tst", "0 seconds")
      val agg = in
        .groupBy(col("user_id"), session_window(col("tst"), s"$gapSec seconds"))
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(unix_timestamp(max(tst)) - unix_timestamp(min(tst)) AS BIGINT)")
            .as("dur_s"),
          sum(expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")).as("sum_cents"),
          expr("CAST(unix_timestamp(min(tst)) AS BIGINT)").as("start_s"))
        .select(col("user_id"), col("start_s"), col("n_events"),
          col("dur_s"), col("sum_cents"))
      agg.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ck)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    writers.foreach { w => w(); run() }
    run() // no-data flush: the sentinel's watermark closed every session
    spark.read.parquet(outDir).orderBy("user_id", "start_s")
  }

  /** Streaming count-min sketch maintenance (the streaming twin of the
    * d26 batch build): each micro-batch reduces to a PARTIAL sketch —
    * 4×256 (row, md5-hex-byte bucket) cells — appended to the sketch
    * store; the final sketch is the per-cell SUM. Correct under any batch
    * slicing because sketch cells merge by addition (associative +
    * commutative), and correct across kill/restart because the file
    * source's checkpointed offset log makes every input file contribute
    * exactly once: the run sequence below stages slices 0+1, runs to
    * completion, stages slice 2, RESTARTS from the checkpoint (only slice
    * 2 contributes), then restarts once more with no new data (nothing is
    * re-counted — the property the gate's exact-count equality proves).
    * At ingest scale this is the shape that summarizes a 10^12-doc feed
    * in bounded state: ≤1024 cells per micro-batch, one small append. */
  def streamCountMin(spark: SparkSession, docsParquet: String,
                     work: String): DataFrame = {
    rmr(spark, work)
    val inDir = s"$work/in"; val outDir = s"$work/out"; val ck = s"$work/ck"
    val docs = spark.read.parquet(docsParquet)
    val schema = docs.schema
    def stage(k: Int): Unit =
      docs.where(pmod(col("doc_id"), lit(3)) === k)
        .coalesce(1).write.mode("append").parquet(inDir)
    def partialCells(batch: DataFrame): DataFrame =
      graft.engine.CountMin.cells(
        batch.select(explode(split(col("text"), " ")).as("w")))
    def run(): Unit = {
      val in = spark.readStream.schema(schema).parquet(inDir)
      in.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          partialCells(batch).write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    stage(0); stage(1); run() // slices 0+1 arrive, stream completes
    stage(2); run()           // slice 2 arrives, RESTART from checkpoint
    run()                     // no-data restart: nothing re-counted
    spark.read.parquet(outDir).groupBy("r", "b").agg(sum("c").as("c"))
  }

  /** Streaming HyperLogLog maintenance (the streaming twin of the d27
    * batch build and the MAX-merge counterpart of [[streamCountMin]]'s
    * sum-merge): each micro-batch reduces to its own ≤128-row partial
    * register table (words + bigrams scopes) appended to the register
    * store; the final registers are the per-(scope, bkt) max. Unlike the
    * count-min sums, max-merging is IDEMPOTENT, so this sketch class is
    * restart-safe even without exactly-once delivery — a replayed slice
    * re-maxes to the same registers. Run sequence mirrors s07: slices
    * 0+1, checkpoint restart with slice 2, then a no-data restart. */
  def streamHll(spark: SparkSession, docsParquet: String,
                work: String): DataFrame = {
    rmr(spark, work)
    val inDir = s"$work/in"; val outDir = s"$work/out"; val ck = s"$work/ck"
    val docs = spark.read.parquet(docsParquet)
    val schema = docs.schema
    def stage(k: Int): Unit =
      docs.where(pmod(col("doc_id"), lit(3)) === k)
        .coalesce(1).write.mode("append").parquet(inDir)
    def grams(batch: DataFrame): DataFrame = {
      val ws = batch.select(split(col("text"), " ").as("ws"))
      ws.select(explode(col("ws")).as("g")).withColumn("scope", lit("words"))
        .unionByName(ws.select(explode(expr(
            "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
              "(a, b) -> concat(a, ' ', b))")).as("g"))
          .withColumn("scope", lit("bigrams")))
    }
    def run(): Unit = {
      val in = spark.readStream.schema(schema).parquet(inDir)
      in.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          graft.engine.Hll.registers(graft.engine.Hll.ranks(grams(batch)))
            .write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    stage(0); stage(1); run()
    stage(2); run()
    run()
    spark.read.parquet(outDir)
      .groupBy("scope", "bkt").agg(max("m_reg").as("m_reg"))
  }

  def resumeDemo(spark: SparkSession, eventsParquet: String, work: String): DataFrame = {
    import org.apache.spark.sql.functions._
    rmr(spark, work)
    val inDir = s"$work/in"; val outDir = s"$work/out"; val ck = s"$work/ck"
    val writers = stageTimeSlices(spark, eventsParquet, inDir)
    // phase 1: first two time slices arrive, stream runs to completion
    writers(0)(); writers(1)()
    runFileStream(spark, inDir, outDir, ck, eventsParquet).awaitTermination()
    // phase 2: rest arrives (+ sentinel), RESTART from checkpoint
    writers(2)(); writers(3)(); writers(4)()
    runFileStream(spark, inDir, outDir, ck, eventsParquet).awaitTermination()
    // phase 3: no new data — flush-only restart (no-data micro-batch emits
    // windows the advanced watermark closed at the end of phase 2)
    runFileStream(spark, inDir, outDir, ck, eventsParquet).awaitTermination()
    spark.read.parquet(outDir)
      .where(col("event_type") =!= "sentinel_flush")
      .select(col("wstart"), col("event_type"), col("n"), col("sum_cents"))
      .orderBy("wstart", "event_type")
  }
}
