package graft.tools

import graft.Tables
import graft.operators.Bpe
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev harness: BPE train and encode wall-time vs merge count on the
  * wide-vocab fixture (t39/t40's corpus — ≥5k word types derived from
  * orders via md5). Prints one JSON line with a row per merge count.
  *
  * Usage: BpeScaleBench <sfDir> [mergeCounts...]
  */
object BpeScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val counts =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(64, 128, 256, 512)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val wide = Tables(spark, sfDir, "orders")
      .select((col("o_orderkey") % 20011).as("b")).distinct()
      .select(col("b"),
        expr("repeat(substring(md5(cast(b as string)), 1, " +
          "cast(3 + b % 6 as int)) || ' ', cast(1 + b % 3 as int))")
          .as("text"))
    val nTypes = Bpe.wordFreqs(wide, "text").count()
    System.err.println(s"word types: $nTypes")

    val rows = counts.map { m =>
      val t0 = System.nanoTime()
      val model = Bpe.train(spark, wide, "text", m)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val enc = Bpe.encode(spark,
        wide.select(col("b").as("doc_id"), col("text")),
        "doc_id", "text", model)
      val nTok = enc.count()
      val tEnc = (System.nanoTime() - t1) / 1e9
      System.err.println(
        f"merges=$m%4d train=$tTrain%7.1fs enc=$tEnc%5.1fs tokens=$nTok")
      f"""{"merges":$m,"train_sec":$tTrain%.2f,"encode_sec":$tEnc%.2f,"encoded_tokens":$nTok}"""
    }
    println(
      s"""{"fixture":"$sfDir","word_types":$nTypes,"rows":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
