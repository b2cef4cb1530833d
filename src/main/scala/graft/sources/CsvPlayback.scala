package graft.sources

import graft.config.Enums._
import graft.config.PlaybackConfig
import graft.streaming.CsvPlaybackStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}

/** The playback read stage, shared by the batch reader ([[readFile]])
  * and the stream (`PlaybackStream.readings`): one driver-side head
  * read ([[readStage]]) fixes the schema, then one line transform
  * ([[ReadStage.transform]]) parses any frame of lines into the
  * post-transform DataFrame (SURVEY.md §7.1 step 4) in the reference's
  * three schema modes (csvplayback.py:556-673):
  *
  *   - ragged (`variableCols=true`): every line pivoted into
  *     `{prefix}_{i+1}` datapoints, empty fields skipped
  *     (csvplayback.py:703-711)
  *   - explicit (`columnMethod=explicit`): useColumns spec performs
  *     positional rename + select + cast (csvplayback.py:601-649)
  *   - pick_from_file: header names taken from a configurable row index
  *     (csvplayback.py:651-659)
  *
  * plus header skipping, metadata datapoint attach
  * (csvplayback.py:661-671) and the `ignoreNaN=report` validation stage
  * (csvplayback.py:681-691).
  *
  * Every batch frame carries a `_row_idx` long column — the 0-based
  * data-row index in file order — used by the order-sensitive timestamp
  * styles (T2/T5) and interpolation fills. Downstream drops it.
  *
  * Scale note: one distributed text scan with `zipWithIndex` (plus its
  * cheap per-partition line-count pre-job — no parse, no shuffle), one
  * codegen'd `from_csv` projection; schema inference reads only a
  * driver-side head sample, never a second full pass. gz/bz2 files are
  * inherently single-split.
  */
object CsvPlayback {

  val RowIdx = "_row_idx"

  /** First `n` physical lines of the (possibly compressed) file,
    * driver-side — the metadata-combine read (csvplayback.py:664-665). */
  def headLines(spark: SparkSession, path: String, n: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(p)
    val raw = fs.open(p)
    val in = if (codec == null) raw else codec.createInputStream(raw)
    try {
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      Iterator.continually(br.readLine()).takeWhile(_ != null).take(n).toList
    } finally in.close()
  }

  /** Zero-byte file guard (csvplayback.py:566-568). */
  private def assertNonEmpty(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.getFileStatus(p).getLen == 0)
      throw new java.io.EOFException(s"CSV file $path has zero length")
  }

  /** Lines of the file with their 0-based physical line number, in file
    * order. zipWithIndex is order-preserving over the text scan. */
  def indexedLines(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.textFile(path)
      .zipWithIndex()
      .toDF("value", RowIdx)
  }

  /** Rows of the head sample used for schema inference. */
  val InferSampleLines = 1000

  /** Schema inference over a driver-side head sample: Spark's own CSV
    * inference (the exact code `spark.read.csv(inferSchema=true)` runs)
    * over at most [[InferSampleLines]] data lines. One tiny local job
    * at read build — never a second distributed pass over the file,
    * which is what `inferSchema=true` on the full scan would cost at
    * 100 GB. Pandas' chunked reader infers per-chunk anyway
    * (csvplayback.py:638-641), so a head sample is no less faithful. */
  def inferFromHead(spark: SparkSession, sample: Seq[String]): StructType = {
    import spark.implicits._
    spark.read
      .option("header", "false")
      .option("inferSchema", "true")
      // pandas does not parse dates unless told to (parse_dates); keep
      // date-looking fields as strings by making the inference formats
      // unmatchable
      .option("timestampFormat", "'graft-never'")
      .option("dateFormat", "'graft-never'")
      // RFC4180 "" quote escaping, like pandas (Spark defaults to \)
      .option("escape", "\"")
      .csv(spark.createDataset(sample))
      .schema
  }

  /** The read stage's driver-side half: what one head read of the file
    * fixes for a config (csvplayback.py:556-673). `dataStart` is the
    * first physical data line; `names` labels the parse schema's fields
    * by position ("" drops one) and is None in ragged mode; `casts` are
    * the useColumns types; `meta` is the pass_in_datapoint value;
    * `firstLines` are the first two data lines (the T5 sample). */
  final case class ReadStage(cfg: PlaybackConfig, dataStart: Int,
      names: Option[Seq[String]], schema: StructType,
      casts: Map[String, DataType], meta: Option[String], firstLines: Seq[String]) {

    /** The read stage's per-line half, over any frame with a `value`
      * line column: every other column is carried through unchanged.
      * Ragged mode pivots each line into `{prefix}_{i+1}` datapoints
      * with empty fields skipped (csvplayback.py:703-711); fixed modes
      * parse with one codegen'd typed `from_csv`, then rename, cast and
      * drop per the names and useColumns types (csvplayback.py:601-659).
      * Under ANSI a cell that does not parse as its type reads null
      * (PERMISSIVE) and a cast truncates like pandas, so a bad cell
      * never kills a stream. Then the metadata datapoint
      * (csvplayback.py:661-671). */
    def transform(lines: DataFrame): DataFrame = {
      val carry = lines.columns.filter(_ != "value").map(col).toSeq
      val body = names match {
        case None =>
          lines.select(carry :+ posexplode(split(col("value"), ",", -1)).as(Seq("pos", "v")): _*)
            .filter(col("v") =!= "")
            .select(carry ++ Seq(
              concat(lit(cfg.autoGeneratePrefix + "_"), (col("pos") + 1).cast("string"))
                .as("datapoint"),
              col("v").as("value")): _*)
        case Some(ns) =>
          val kept = schema.fieldNames.toSeq.zip(ns).collect { case (f, n) if n.nonEmpty =>
            val c = col("_p").getField(f)
            casts.get(n).fold(c)(dt => c.cast(dt)).as(n)
          }
          lines.select(carry :+ from_csv(col("value"), schema, Map("escape" -> "\"")).as("_p"): _*)
            .select(kept ++ carry: _*)
      }
      meta.fold(body)(m => body.withColumn(cfg.dataPointForCombine, lit(m)))
    }
  }

  /** useColumns types the parse schema takes directly instead of casting. */
  private val ParseAsDeclared: Set[DataType] = Set(StringType, DoubleType)

  /** One driver-side head read: the data start line, column names,
    * typed parse schema, column-count check and metadata for `path`. */
  def readStage(spark: SparkSession, cfg: PlaybackConfig, path: String): ReadStage = {
    assertNonEmpty(spark, path)
    val dataStart = CsvPlaybackStream.dataStartLine(cfg)
    val head = headLines(spark, path, dataStart + InferSampleLines)
    val sample = head.drop(dataStart)
    val meta = if (cfg.headerMethod == HeaderMethod.PassInDatapoint)
      Some(head.take(cfg.noOfRows).mkString("_")) else None
    def stage(names: Option[Seq[String]], schema: StructType,
        casts: Map[String, DataType] = Map.empty) =
      ReadStage(cfg, dataStart, names, schema, casts, meta, sample.take(2))
    if (cfg.variableCols) return stage(None, new StructType())
    val (names, casts) = cfg.columnMethod match {
      case ColumnMethod.Explicit =>
        val spec = cfg.parsedUseColumns
        (spec.names, spec.dtypes)
      case ColumnMethod.PickFromFile =>
        require(head.length >= dataStart, s"$path has no header line ${dataStart - 1}")
        (head(dataStart - 1).split(",", -1).toSeq, Map.empty[String, DataType])
    }
    // a file with no data lines yet parses its declared columns as strings
    val schema = if (sample.isEmpty) StructType(names.indices.map(i => StructField(s"_c$i", StringType)))
      else inferFromHead(spark, sample)
    // an empty useColumns keeps the parse schema's own names
    if (names.isEmpty) stage(Some(schema.fieldNames.toSeq), schema)
    else {
      require(schema.length == names.length,
        s"${cfg.columnMethod.key} declares ${names.length} columns, data has ${schema.length}")
      // str and float parse as declared, so `007` stays text and a 20.5
      // after a whole-number head stays 20.5; int keeps the guessed type
      // plus a cast, which truncates 2.5 to 2 like pandas
      val parse = StructType(schema.fields.zip(names).map { case (f, n) =>
        casts.get(n).filter(ParseAsDeclared).fold(f)(dt => f.copy(dataType = dt))
      })
      stage(Some(names), parse, casts)
    }
  }

  /** The full batch read: [[indexedLines]] past the header → the read
    * stage's transform → the NaN policy. */
  def readFile(spark: SparkSession, cfg: PlaybackConfig, path: String): DataFrame = {
    val rs = readStage(spark, cfg, path)
    val df = rs.transform(indexedLines(spark, path)
      .filter(col(RowIdx) >= rs.dataStart)
      .withColumn(RowIdx, col(RowIdx) - rs.dataStart))
    // a bounded frame is checked by one eager aggregate naming every
    // offending column; the stream guards per value instead
    if (cfg.ignoreNaN == NaNPolicy.Report && !cfg.variableCols) {
      val offending = NaNReport.violations(df).filter(_._2 > 0)
      if (offending.nonEmpty)
        throw new IllegalStateException(
          s"There are NaN / missing values in the CSV file: ${offending.keys.mkString(", ")}")
    }
    df
  }
}

/** `ignoreNaN=report` semantics (csvplayback.py:681-691): a value is a
  * violation if it is null (missing field) or a whitespace-only
  * non-empty string. */
object NaNReport {
  def violations(df: DataFrame): Map[String, Long] = {
    val cols = df.columns.filter(_ != CsvPlayback.RowIdx)
    if (cols.isEmpty) return Map.empty
    val aggs = cols.map { c =>
      val s = col(c).cast("string")
      sum(when(col(c).isNull || (length(s) > 0 && trim(s) === ""), 1L)
        .otherwise(0L)).as(c)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
  }
}
