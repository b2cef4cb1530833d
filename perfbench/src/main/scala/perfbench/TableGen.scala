package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** The query workload's input tables: the registry's TPC-H-like star
  * schema plus `documents`, at the 0.1 scale (600,000 lineitems, 5,000
  * documents), with the column names, types, vocabularies and value
  * ranges the registry queries filter on. Every value is an `xxhash64`
  * draw on the row's own key, so the tables are the same on every
  * build and fingerprints of query results can be pinned.
  *
  * Written once per checkout into a directory named after
  * [[Version]]; change the version whenever the generator changes.
  */
object TableGen {
  val Version = "tables-v1"
  private val DataSeed = 20240601L

  /** `dir/<Version>`, generated on first use. */
  def ensure(spark: SparkSession, cacheRoot: Path): Path = {
    val dir = cacheRoot.resolve(Version)
    if (Files.exists(dir.resolve("_COMPLETE"))) return dir
    val tmp = cacheRoot.resolve(s"$Version.tmp-${ProcessHandle.current.pid}")
    tables(spark).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve(s"$name.parquet").toString)
    }
    Files.writeString(tmp.resolve("_COMPLETE"), Version)
    if (Files.exists(dir)) deleteTree(dir)
    Files.move(tmp, dir)
    dir
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Uniform integer in [0, n) drawn from the row key and a column tag. */
  private def draw(key: Column, tag: Int, n: Long): Column =
    pmod(xxhash64(key, lit(DataSeed), lit(tag)), lit(n))

  private def pick(key: Column, tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (draw(key, tag, values.size.toLong) + 1).cast("int"))

  private def day(base: String, offset: Column): Column =
    date_add(to_date(lit(base)), offset.cast("int")).cast("timestamp_ntz")

  private val Words = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val id = col("id")
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = spark.range(15000).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      draw(id, 1, 25).cast("int").as("c_nationkey"),
      ((draw(id, 2, 1099985L) - 99985L) / 100.0).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = spark.range(1000).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      draw(id, 1, 25).cast("int").as("s_nationkey"),
      ((draw(id, 2, 1099985L) - 99985L) / 100.0).as("s_acctbal"))
    val part = spark.range(20000).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(id, 1, Seq("red", "small", "hot", "cold", "old", "new", "large", "blue")),
        pick(id, 2, Seq("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")))
        .as("p_name"),
      concat(lit("Brand#"), (draw(id, 3, 25) + 1).cast("string")).as("p_brand"),
      pick(id, 4, Seq("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (draw(id, 5, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice"))
    val orders = spark.range(150000).select(
      id.as("o_orderkey"),
      draw(id, 1, 15000).as("o_custkey"),
      pick(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      ((draw(id, 3, 49899128L) + 100191L) / 100.0).as("o_totalprice"),
      day("1995-01-01", draw(id, 4, 2404)).as("o_orderdate"),
      pick(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = spark.range(600000).select(
      draw(id, 1, 150000).as("l_orderkey"),
      draw(id, 2, 20000).as("l_partkey"),
      draw(id, 3, 1000).as("l_suppkey"),
      (draw(id, 4, 7) + 1).cast("int").as("l_linenumber"),
      (draw(id, 5, 50) + 1).cast("double").as("l_quantity"),
      ((draw(id, 6, 10409924L) + 90068L) / 100.0).as("l_extendedprice"),
      (draw(id, 7, 11) / 100.0).as("l_discount"),
      (draw(id, 8, 9) / 100.0).as("l_tax"),
      pick(id, 9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 10, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", draw(id, 11, 2498)).as("l_shipdate"))
    val vocab = array(Words.map(lit): _*)
    val text = array_join(transform(sequence(lit(0L), draw(id, 1, 91) + 9L),
      j => element_at(vocab, (pmod(xxhash64(id, j, lit(DataSeed)), lit(Words.size.toLong)) + 1)
        .cast("int"))), " ")
    val documents = spark.range(5000)
      .select(id.as("doc_id"),
        when(draw(id, 2, 20) === 0L, concat(text, lit(" dup"))).otherwise(text).as("text"),
        pick(id, 3, Seq("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de"))
          .as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "documents" -> documents)
  }
}
