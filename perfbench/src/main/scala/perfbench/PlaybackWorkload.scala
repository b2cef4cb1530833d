package perfbench

import graft.config.Enums._
import graft.config.PlaybackConfig
import graft.streaming.{CsvPlaybackStream, Playback, PlaybackStream}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The playback workload: the csvplayback source as an open loop —
  * chunks fall due on the wall clock, a missed tick is skipped, never
  * banked — into the noop sink, observed only through Structured
  * Streaming's public progress reports. Continuous mode at 1,000,000
  * readings/s (one 1M-row chunk per 1 s tick) with `copy csv value` on
  * `user_ts`, so per-row work (read, `from_csv`, `to_timestamp`) bounds
  * it.
  *
  * The traced run adds sub-runs of the same source: the raw line stream
  * and `current time` (the parse layers by difference), and fine chunks
  * — burst mode at 100,000 readings/s in 10 ms bursts, 1,000-row chunks
  * — where the fixed per-batch cost dominates.
  */
final class PlaybackWorkload(spark: SparkSession, a: Main.Args, spans: Spans,
    heap: HeapProbe) {

  private val SetupCycles = 3
  private val MaxExtendS = 30.0
  private val csvDir: Path = a.cache.resolve("playback")
  private var checkpoints = 0

  private def config(style: TimestampStyle): PlaybackConfig =
    PlaybackConfig(csvDirName = csvDir.toString, csvFileName = "vibration",
      postProcessMethod = PostProcess.ContinuePlaying,
      ingestMode = IngestMode.Continuous, sampleRate = 1000000,
      timestampStyle = style, timestampCol = "user_ts")

  private val cfg = config(TimestampStyle.CopyCsvValue)
  private val fineCfg = cfg.copy(ingestMode = IngestMode.Burst, sampleRate = 100000,
    burstInterval = 10, timestampStyle = TimestampStyle.CurrentTime, timestampCol = "")

  // -- progress, observed from outside through the listener bus --
  private val progress = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  private val progressListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.computeIfAbsent(e.progress.id, _ => new ConcurrentLinkedQueue()).add(e.progress)
  }

  private def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    Option(progress.get(q.id)).map(_.asScala.toSeq).getOrElse(Nil)

  private def nonEmpty(q: StreamingQuery): Seq[StreamingQueryProgress] =
    progressOf(q).filter(_.numInputRows > 0)

  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L)

  private def nextCheckpoint(): String = {
    checkpoints += 1
    a.work.resolve(s"checkpoint-$checkpoints").toString
  }

  /** Blocks until `q` has committed `n` non-empty batches. */
  private def awaitBatches(q: StreamingQuery, n: Int, timeoutS: Double = 120): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (nonEmpty(q).size < n) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"no committed batch within $timeoutS s")
      Thread.sleep(2)
    }
  }

  private def sleepUntil(deadlineNanos: Long): Unit =
    while (System.nanoTime() < deadlineNanos) Thread.sleep(5)

  private def batchJson(p: StreamingQueryProgress): Json.Obj = {
    val src = p.sources.head
    def total(json: String): Long =
      """"totalRows"\s*:\s*(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)
    Json.obj(
      "id" -> p.batchId,
      "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "start" -> (if (src.startOffset == null) 0L else total(src.startOffset)),
      "end" -> total(src.endOffset),
      "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  /** Polling trigger for the two streams `Playback.startTo` cannot start
    * (the raw line stream, and the verifying `foreachBatch` sink), at the
    * quarter-of-pace cadence `startTo` uses. */
  private def trigger(c: PlaybackConfig): Trigger =
    Trigger.ProcessingTime(math.max(1L, (c.paceSec * 1000 / 4).toLong))

  /** One measured window on a running stream: its bounds in epoch ms and
    * the GC work inside it. Batches committed inside the bounds count.
    * The window lasts `seconds`, and longer (up to `MaxExtendS` more)
    * until `minBatches` non-empty batches have committed inside it, so a
    * metric that needs that many samples is always measured. */
  private def window(q: StreamingQuery, name: String,
      seconds: Double = a.seconds, minBatches: Int = 0): Json.Obj = {
    val (gc0, gcMs0) = heap.gcTotals()
    val w0 = System.currentTimeMillis()
    spans(s"window.$name", "bench") {
      sleepUntil(System.nanoTime() + (seconds * 1e9).toLong)
      val cap = System.nanoTime() + (MaxExtendS * 1e9).toLong
      while (nonEmpty(q).count(p => commitMs(p) >= w0) < minBatches && System.nanoTime() < cap) {
        q.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
    }
    val w1 = System.currentTimeMillis()
    val (gc1, gcMs1) = heap.gcTotals()
    Json.obj("name" -> name, "window_ms" -> Seq(w0, w1),
      "gc_count" -> (gc1 - gc0), "gc_ms" -> (gcMs1 - gcMs0))
  }

  private def stop(q: StreamingQuery): Unit = spans("stream.stop", "engine") { q.stop() }

  def run(): Json.Obj = {
    spark.streams.addListener(progressListener)
    val fileRows = spans("csv.generate", "bench") {
      VibrationCsv.write(csvDir.resolve("vibration.csv"), a.seed)
    }
    val csvPath = csvDir.resolve("vibration.csv").toString

    // traced only: direct layer calls, repeated — the source's line
    // index and the parse pipeline's stream build
    val layerCalls = if (a.trace) SetupCycles else 0
    val indexMs = (1 to layerCalls).map { _ =>
      val t = System.nanoTime()
      val idx = spans("source.buildLineIndex", "source") {
        CsvPlaybackStream.buildLineIndex(spark.sparkContext, csvPath)
      }
      require(idx.totalLines == fileRows + 1L,
        s"line index counted ${idx.totalLines} lines, file has ${fileRows + 1}")
      (System.nanoTime() - t) / 1e6
    }
    val buildMs = (1 to layerCalls).map { _ =>
      val t = System.nanoTime()
      spans("stream.readings", "parse") { PlaybackStream.readings(spark, cfg) }
      (System.nanoTime() - t) / 1e6
    }

    // set-up: startTo call to the first committed non-empty batch, a
    // fresh query each time; the last one stays up and is measured
    var q: StreamingQuery = null
    val setupS = (1 to SetupCycles).map { _ =>
      if (q != null) stop(q)
      val t0 = System.currentTimeMillis()
      q = spans("playback.startTo", "engine") { startNoop(cfg) }
      spans("setup.first_batch", "bench") { awaitBatches(q, 1) }
      (commitMs(nonEmpty(q).head) - t0) / 1000.0
    }
    val measured = q
    val untraced = window(measured, "untraced")

    val traced: Option[Json.Obj] = if (!a.trace) None else Some {
      val work = new WorkListener
      spark.sparkContext.addSparkListener(work)
      val busy0 = work.allTaskRunMs.get
      val w = window(measured, "traced")
      val busy1 = work.allTaskRunMs.get
      stop(measured)
      Thread.sleep(300) // let the listener bus deliver the last events
      val all = progressOf(measured)
      synthesizeBatchSpans(all, work, measured.id.toString)
      val tasks = all.filter(_.numInputRows > 0).flatMap { p =>
        Option(work.byKey.get(s"batch:${measured.id}:${p.batchId}")).map(_.tasks.get)
      }
      spark.sparkContext.removeSparkListener(work)
      // parse layers by difference: the same source into the same sink
      // with less work per row; then the same source at fine chunks
      // (three batches give the per-row addBatch cost; the fine p50
      // needs ten samples beyond it)
      val subs = Seq(
        "raw" -> subRun("raw", cfg, 3)(PlaybackStream.raw(spark, cfg).writeStream
          .format("noop").trigger(trigger(cfg))
          .option("checkpointLocation", nextCheckpoint()).start()),
        "current_time" -> subRun("current_time", cfg, 3)(
          startNoop(config(TimestampStyle.CurrentTime))),
        "fine" -> subRun("fine", fineCfg, 20)(startNoop(fineCfg)))
      w ++ Json.obj("task_run_ms" -> (busy1 - busy0), "tasks_per_batch" -> tasks,
        "index_build_ms" -> indexMs, "stream_build_ms" -> buildMs,
        "subruns" -> subs.toMap)
    }
    if (!a.trace) stop(measured)
    val verify = spans("verify", "bench") { verifySample(fileRows) }
    spark.streams.removeListener(progressListener)

    Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "pace_s" -> cfg.paceSec, "chunk_rows" -> cfg.chunkSize, "file_rows" -> fileRows,
      "setup_s" -> setupS,
      "untraced" -> untraced,
      "batches" -> progressOf(measured).filter(_.numInputRows > 0).map(batchJson),
      "traced" -> traced,
      "verify" -> verify)
  }

  private def startNoop(c: PlaybackConfig): StreamingQuery =
    Playback.startTo(spark, c, "noop", Map("checkpointLocation" -> nextCheckpoint()))

  /** A stream started by `start`, measured for half a window and at
    * least `minBatches` batches. */
  private def subRun(name: String, c: PlaybackConfig, minBatches: Int)
      (start: => StreamingQuery): Json.Obj =
    spans(s"subrun.$name", "bench") {
      val q = start
      awaitBatches(q, 1)
      val w = window(q, name, math.max(3.0, a.seconds / 2.0), minBatches)
      stop(q)
      Thread.sleep(300) // let the listener bus deliver the last events
      w ++ Json.obj("pace_s" -> c.paceSec, "batches" -> nonEmpty(q).map(batchJson))
    }

  /** Micro-batch spans from the progress durations, in execution order,
    * with the batch's Spark jobs nested under `addBatch`. */
  private def synthesizeBatchSpans(all: Seq[StreamingQueryProgress], work: WorkListener,
      queryId: String): Unit = {
    if (!spans.enabled) return
    val order = Seq("latestOffset" -> "source", "walCommit" -> "engine",
      "getBatch" -> "source", "queryPlanning" -> "engine", "addBatch" -> "exec",
      "commitOffsets" -> "engine")
    val jobs = work.jobs.asScala.toSeq.groupBy(_._1)
    all.filter(_.numInputRows > 0).foreach { p =>
      val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val b = spans.record(s"batch.${p.batchId}", "engine", st, st + d.getOrElse("triggerExecution", 0L))
      var at = st
      order.foreach { case (k, layer) =>
        d.get(k).foreach { ms =>
          val id = spans.record(k, layer, at, at + ms, parent = b)
          if (k == "addBatch")
            jobs.getOrElse(s"batch:$queryId:${p.batchId}", Nil).foreach { case (_, js, je) =>
              spans.record("job", "spark.job", js.toDouble, je.toDouble, parent = id)
            }
          at += ms
        }
      }
    }
  }

  /** Parses sampled rows of one committed batch independently — from
    * the generator's closed form for that row — and compares them with
    * the stream's typed values and timestamps. */
  private def verifySample(fileRows: Long): Json.Obj = {
    val checked = new java.util.concurrent.atomic.AtomicLong
    val bad = new ConcurrentLinkedQueue[String]()
    val batches = new java.util.concurrent.atomic.AtomicLong
    val every = math.max(1L, cfg.chunkSize / 1000L)
    val q = PlaybackStream.readings(spark, cfg).writeStream
      .trigger(trigger(cfg))
      .option("checkpointLocation", nextCheckpoint())
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (batches.get == 0L) {
          val sample = b.filter(col("row_idx") % every === 0L).collect()
          if (sample.nonEmpty) {
            sample.foreach { r =>
              checked.incrementAndGet()
              VibrationCsv.mismatch(r, a.seed, fileRows).foreach(bad.add)
            }
            batches.incrementAndGet()
          }
        }
        ()
      }
      .start()
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (batches.get == 0L && System.nanoTime() < deadline && q.isActive) Thread.sleep(5)
    q.exception.foreach(e => bad.add(s"stream failed: ${e.getMessage}"))
    q.stop()
    Json.obj("checked_rows" -> checked.get, "batches" -> batches.get,
      "mismatches" -> bad.size, "first_mismatches" -> bad.asScala.take(5).toSeq)
  }
}

/** The playback input: a vibration-like CSV whose every cell is a closed
  * form of (seed, row, column), so any row can be re-derived without
  * reading the file back.
  *
  * Columns: seq INT, sensor_id INT, channel1..3 DOUBLE (10 decimals),
  * rpm INT, status STRING, user_ts in `%Y-%m-%d %H:%M:%S.%f%z` at a
  * 125 µs step.
  */
object VibrationCsv {
  val Rows: Int = 1 << 20
  val Header = "seq,sensor_id,channel1,channel2,channel3,rpm,status,user_ts"
  private val Statuses = Array("OK", "OK", "OK", "WARN", "ALARM")
  private val StepMicros = 125L

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def cell(seed: Long, row: Long, c: Int): Long =
    mix(mix(seed * 0x9E3779B97F4A7C15L + c) + row) & Long.MaxValue

  def baseMicros(seed: Long): Long =
    1576144800000000L + java.lang.Math.floorMod(seed, 365L) * 86400000000L

  def sensor(seed: Long, r: Long): Int = (cell(seed, r, 1) % 64).toInt
  def channel(seed: Long, r: Long, k: Int): String = {
    val n = cell(seed, r, 1 + k) % 20000000001L - 10000000000L
    val m = math.abs(n)
    val frac = (m % 10000000000L).toString
    (if (n < 0) "-" else "") + (m / 10000000000L) + "." + ("0" * (10 - frac.length)) + frac
  }
  def rpm(seed: Long, r: Long): Int = 900 + (cell(seed, r, 5) % 2200).toInt
  def status(seed: Long, r: Long): String = Statuses((cell(seed, r, 6) % 5).toInt)
  def tsMicros(seed: Long, r: Long): Long = baseMicros(seed) + r * StepMicros

  private val secFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  def formatTs(micros: Long): String = {
    val sec = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L).toString
    secFmt.format(java.time.Instant.ofEpochSecond(sec)) + "." +
      ("0" * (6 - frac.length)) + frac + "+0000"
  }

  def line(seed: Long, r: Long): String =
    s"$r,${sensor(seed, r)},${channel(seed, r, 1)},${channel(seed, r, 2)}," +
      s"${channel(seed, r, 3)},${rpm(seed, r)},${status(seed, r)},${formatTs(tsMicros(seed, r))}"

  /** Writes the file in place and syncs it to disk before anything is
    * measured; returns its data-row count. Rewriting the same file
    * instead of deleting it keeps runs from freeing ~90 MB of blocks
    * each. */
  def write(path: Path, seed: Long): Long = {
    Files.createDirectories(path.getParent)
    val raf = new java.io.RandomAccessFile(path.toFile, "rw")
    try {
      val out = new java.io.BufferedOutputStream(
        java.nio.channels.Channels.newOutputStream(raf.getChannel.position(0L)), 1 << 20)
      out.write((Header + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var r = 0L
      while (r < Rows) {
        out.write((line(seed, r) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        r += 1
      }
      out.flush()
      raf.setLength(raf.getChannel.position())
      raf.getFD.sync()
    } finally raf.close()
    Rows.toLong
  }

  private def micros(ts: Any): Long = ts match {
    case t: java.sql.Timestamp => t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case x => throw new IllegalArgumentException(s"not a timestamp: $x")
  }

  /** None when the stream's row equals the independent derivation. */
  def mismatch(r: Row, seed: Long, fileRows: Long): Option[String] = {
    val idx = r.getAs[Long]("row_idx")
    val row = idx % fileRows
    def num(c: String): String = String.valueOf(r.getAs[Any](c))
    val checks = Seq(
      "seq" -> (num("seq") == row.toString),
      "sensor_id" -> (num("sensor_id") == sensor(seed, row).toString),
      "channel1" -> (r.getAs[Double]("channel1") == channel(seed, row, 1).toDouble),
      "channel2" -> (r.getAs[Double]("channel2") == channel(seed, row, 2).toDouble),
      "channel3" -> (r.getAs[Double]("channel3") == channel(seed, row, 3).toDouble),
      "rpm" -> (num("rpm") == rpm(seed, row).toString),
      "status" -> (r.getAs[String]("status") == status(seed, row)),
      "timestamp" -> (micros(r.getAs[Any]("timestamp")) == tsMicros(seed, row)))
    checks.collectFirst { case (c, false) => s"row_idx $idx: column $c = ${r.getAs[Any](c)}" }
  }
}
