package graft.streaming

import graft.config.Enums._
import graft.config.PlaybackConfig
import graft.operators.TimestampStyles
import graft.sources.CsvPlayback
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing playback stream: the raw rate-limited source
  * ([[CsvPlaybackStream]]) through the batch reader's read stage
  * ([[CsvPlayback.readStage]]) with the configured timestamp style
  * applied — the full reference pipeline (scan → project/rename/cast →
  * ts rewrite → emit, csvplayback.py:675-784) as one declarative
  * streaming DataFrame: the batch read, run incrementally.
  */
object PlaybackStream {

  /** The raw line stream (value, row_idx, pos_in_batch, emit_ts). */
  def raw(spark: SparkSession, cfg: PlaybackConfig): DataFrame =
    spark.readStream
      .format(CsvPlaybackStream.SHORT_NAME)
      .options(PlaybackConfig.toOptions(cfg))
      .load()

  /** The parsed playback stream. For fixed-column modes: one column per
    * datapoint (+ row_idx/pos_in_batch/emit_ts carried through); ragged
    * mode: the (row_idx, …, datapoint, value) long form. */
  def readings(spark: SparkSession, cfg0: PlaybackConfig): DataFrame = {
    val cfg = cfg0.validated
    val dir = PlaybackConfig.resolveDataDir(cfg.csvDirName)
    val file = PlaybackConfig.matchingFiles(java.nio.file.Paths.get(dir), cfg.csvFileName)
      .headOption.getOrElse(
        throw new java.io.FileNotFoundException(s"no csv matching '${cfg.csvFileName}' in $dir"))
      .toString
    val rs = CsvPlayback.readStage(spark, cfg, file)
    applyTimestampStyle(spark, rs, withReportNaN(rs.transform(raw(spark, cfg)), cfg))
  }

  private val Carried = CsvPlaybackStream.SCHEMA.fieldNames.toSet - "value"

  /** Streaming `ignoreNaN=report` (csvplayback.py:681-691): an unbounded
    * frame cannot be aggregated first like the batch reader's, so each
    * datapoint column is wrapped in a codegen'd null/blank guard that
    * `raise_error`s with the reference's message on the first offending
    * value. The failure surfaces through ANY sink and terminates the
    * query — the reference's plugin_shutdown — with no extra per-batch
    * job; the check rides the parse projection. */
  private def withReportNaN(df: DataFrame, cfg: PlaybackConfig): DataFrame = {
    if (cfg.ignoreNaN != NaNPolicy.Report || cfg.variableCols) return df
    val checked = df.columns.map { c =>
      if (Carried(c)) col(c)
      else {
        val s = col(c).cast("string")
        when(col(c).isNull || (length(s) > 0 && trim(s) === ""),
          raise_error(lit(s"There are NaN / missing values in the CSV file: $c")))
          .otherwise(col(c)).as(c)
      }
    }
    df.select(checked.toIndexedSeq: _*)
  }

  /** The four timestamp styles on the stream (SURVEY.md §2.4). */
  private def applyTimestampStyle(spark: SparkSession, rs: CsvPlayback.ReadStage,
      df: DataFrame): DataFrame = {
    val cfg = rs.cfg
    cfg.timestampStyle match {
      // T1/T2 read the source's real emission clock (emit_ts,
      // pos_in_batch); the batch forms take an explicit clock instead
      case TimestampStyle.CurrentTime =>
        cfg.ingestMode match {
          case IngestMode.Burst =>
            // T1: uniform batch emission timestamp (csvplayback.py:747-749)
            df.withColumn(TimestampStyles.TsCol, col("emit_ts"))
          case IngestMode.Continuous =>
            // T2: batch base second + pos*(1e6/chunk) µs (csvplayback.py:739-743)
            val interval = (1000000.0 / math.max(1, cfg.chunkSize)).toLong
            df.withColumn(TimestampStyles.TsCol, timestamp_micros(
              (unix_micros(col("emit_ts")) / 1000000L).cast("long") * 1000000L +
                col("pos_in_batch") * interval))
        }
      case TimestampStyle.CopyCsvValue =>
        TimestampStyles.copyCsvValue(df, cfg.timestampCol, cfg.timestampFormat)
      case TimestampStyle.MoveCsvValue =>
        TimestampStyles.moveCsvValue(df, cfg.timestampCol, cfg.timestampFormat)
      case TimestampStyle.UseCsvSampleDelta =>
        // T5: delta from the file's first two data lines through the same
        // read stage, once (csvplayback.py:726-736); start = stream build
        // wall-clock; row_idx is monotone across replays so timestamps
        // never repeat
        import spark.implicits._
        val head = rs.transform(rs.firstLines.zipWithIndex
          .map { case (l, i) => (l, i.toLong) }.toDF("value", CsvPlayback.RowIdx))
        val delta = TimestampStyles.sampleDeltaMicros(head, cfg.timestampCol, cfg.timestampFormat)
        val start = System.currentTimeMillis() * 1000L
        df.withColumn(TimestampStyles.TsCol,
          timestamp_micros(lit(start) + col("row_idx") * lit(delta)))
    }
  }
}
