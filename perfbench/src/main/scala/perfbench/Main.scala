package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Benchmark JVM: runs one workload and writes its raw observations
  * (progress records, sample walls, fingerprints, probe readings) as
  * one JSON document. `run.py` turns that document into the metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cache dir> <out json>
  *
  * The work dir holds this run's files; the cache dir holds inputs kept
  * across runs (the query tables, and the playback CSV, rewritten in
  * place from each run's seed).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, cache: Path, out: Path)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7,
      "usage: Main <workload> <seed> <seconds> <trace> <work> <cache> <out>")
    def path(i: Int) = Paths.get(argv(i)).toAbsolutePath
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1", path(4), path(5), path(6))
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val heap = new HeapProbe
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val spans = new Spans(a.trace)
    val body: Json.Obj =
      try a.workload match {
        case "playback-bulk" => new PlaybackWorkload(spark, a, spans, heap).run()
        case "queries" =>
          val tables = TableGen.ensure(spark, a.cache)
          heap.resetPeak()
          new QueryWorkload(spark, a, spans, heap, tables).run()
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      } finally {
        spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      }
    val stamp = Json.obj(
      "nproc" -> cores,
      "master" -> spark.sparkContext.master,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "session_start_s" -> sessionS)
    spark.stop()
    if (a.trace) spans.write(a.work.resolve("spans.jsonl"))
    val doc = body ++ Json.obj("stamp" -> stamp,
      "heap_after_gc_peak_mb" -> heap.peakMb,
      "gc_events" -> heap.events)
    Files.writeString(a.out, Json.render(doc))
    heap.close()
  }
}
