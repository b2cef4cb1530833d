package perfbench

import graft.{QueryRegistry, Tables}
import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** The query workload: one caller runs the registry queries back to
  * back (a closed loop), each sample under its own job group. A pass is
  * every query once, in an order drawn from the seed; set-up is the
  * table loads plus the first (cold) pass.
  */
final class QueryWorkload(spark: SparkSession, a: Main.Args, spans: Spans,
    heap: HeapProbe, tableDir: Path) {

  private val dir = tableDir.toString

  def run(): Json.Obj = {
    val rng = new scala.util.Random(a.seed)
    val impls = QueryWorkload.Names.map(n => n -> QueryRegistry.queryMap(n))
    val loadMs = (1 to 3).map { _ =>
      val t = System.nanoTime()
      spans("tables.load", "tables") {
        QueryWorkload.TablesUsed.foreach(t => Tables(spark, dir, t).schema)
      }
      (System.nanoTime() - t) / 1e6
    }
    var sampleNo = 0
    val groupSpans = scala.collection.mutable.Map[String, Long]()

    def pass(label: String): Json.Obj = spans(s"pass.$label", "bench") {
      val order = rng.shuffle(impls)
      val t0 = System.nanoTime()
      val samples = order.map { case (name, impl) =>
        sampleNo += 1
        val group = s"s$sampleNo"
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
        val st = spans.nowMs
        val t = System.nanoTime()
        val rows = try impl(spark, dir).collect()
          finally spark.sparkContext.clearJobGroup()
        val ms = (System.nanoTime() - t) / 1e6
        groupSpans(group) = spans.record(name, "query", st, st + ms)
        Json.obj("name" -> name, "group" -> group, "ms" -> ms,
          "rows" -> rows.length, "fp" -> QueryWorkload.fingerprint(rows))
      }
      Json.obj("label" -> label, "wall_ms" -> (System.nanoTime() - t0) / 1e6,
        "samples" -> samples)
    }

    // warm passes for the measured window, at least one
    def passes(label: String): Seq[Json.Obj] = {
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      val out = Seq.newBuilder[Json.Obj]
      var n = 0
      while (n == 0 || System.nanoTime() < deadline) { n += 1; out += pass(label) }
      out.result()
    }

    val cold = pass("cold")
    val (gc0, gcMs0) = heap.gcTotals()
    val warm = passes("warm")
    val (gc1, gcMs1) = heap.gcTotals()
    // traced: as many passes again, with each sample's Spark work
    // counted by job group and its jobs recorded as child spans
    val traced: Option[Json.Obj] = if (!a.trace) None else Some {
      val work = new WorkListener
      spark.sparkContext.addSparkListener(work)
      val t0 = System.nanoTime()
      val tracedPasses = passes("traced")
      val wallMs = (System.nanoTime() - t0) / 1e6
      val (gc2, gcMs2) = heap.gcTotals()
      Thread.sleep(300) // let the listener bus deliver the last events
      spark.sparkContext.removeSparkListener(work)
      work.jobs.asScala.foreach { case (group, js, je) =>
        spans.record("job", "spark.job", js.toDouble, je.toDouble,
          parent = groupSpans.getOrElse(group, 0L))
      }
      Json.obj("passes" -> tracedPasses, "wall_ms" -> wallMs,
        "gc_count" -> (gc2 - gc1), "gc_ms" -> (gcMs2 - gcMs1),
        "task_run_ms" -> work.allTaskRunMs.get,
        "work" -> work.byKey.asScala.map { case (k, v) => k -> v.toJson }.toMap)
    }
    Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "tables_load_ms" -> loadMs,
      "cold" -> cold, "warm" -> warm,
      "gc_count" -> (gc1 - gc0), "gc_ms" -> (gcMs1 - gcMs0),
      "traced" -> traced)
  }
}

object QueryWorkload {
  /** Loop-heavy operators first, then scan/join/aggregate queries that
    * bypass the loops. */
  val Names: Seq[String] = Seq(
    "t34_bpe_train", "q68_domain_pagerank", "q69_hits_authority", "q76_kcore_peel",
    "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
    "q18_large_orders", "q62_market_share", "q67_basket_lift")

  val TablesUsed: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents")

  /** Order-independent fingerprint of a result: the sum (mod 2^64) of a
    * 64-bit hash of each row's canonical text. */
  def fingerprint(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach(r => acc += rowHash(r))
    f"$acc%016x"
  }

  def rowHash(r: Row): Long = {
    val s = r.toSeq.map(canonical).mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  private def canonical(v: Any): String = v match {
    case null => "\\N"
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }
}
