package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scoped-conf planning for bounded iterative loops.
  *
  * Some loop bodies are provably bounded (a graph loop's rank frame is
  * node-sized) and want loop-specific SQL confs — non-adaptive
  * execution, a derived shuffle-partition count — WITHOUT mutating
  * the caller's session: r15 set and restored `spark.conf` around the
  * loop, which is correct for the engine's sequential mains but a
  * foot-gun for any concurrent caller
  * (a query planned in the same session mid-loop would silently plan
  * under the loop's confs). The fix is structural: plan the loop in a
  * CLONED session (`SparkSession.newSession` — same SparkContext,
  * shared cache and checkpoint blocks, isolated runtime conf,
  * builder-time options and extensions inherited), so the caller's
  * session is never touched and no restore can be missed.
  *
  * Frames cross sessions through a global temp view (the public-API
  * hand-off for a logical plan); Dataset analysis is eager, so the
  * view is dropped as soon as the re-bound frame is constructed.
  * Values are unchanged by construction — the plan is identical, only
  * the planning conf differs, and the loop confs used here (AQE off,
  * partition counts) never change arithmetic.
  */
private[graft] object LoopSession {

  /** A cloned session for a NON-ADAPTIVE bounded loop over ~`n` keyed
    * rows: AQE off (nothing to re-optimize in a bounded round, and its
    * stage materialization schedules one job per exchange per round)
    * plus a shuffle-partition count DERIVED from `n` — ~500k
    * fixed-width rows per reduce partition (tens of MB, the low end of
    * the guide's advisory band, leaving headroom for the wider join
    * stages that share the setting), floored at 1 and capped at the
    * caller's session value. Scale-adaptive by construction: the same
    * code picks 1 partition on a 300-node fixture and the cluster's
    * own parallelism on a 10⁹-row input. */
  def nonAdaptive(spark: SparkSession, n: Long): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", derivedPartitions(spark, n).toString)
    s
  }

  /** See [[nonAdaptive]]. */
  def derivedPartitions(spark: SparkSession, n: Long): Int = {
    val cap = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(1L, math.min(cap.toLong, n / 500000L + 1L)).toInt
  }

  /** Re-bind `df` to `target` (same SparkContext): the logical plan
    * crosses sessions through a uniquely-named global temp view,
    * dropped immediately after the (eager) analysis of the returned
    * frame resolves it. */
  def rebind(df: DataFrame, target: SparkSession): DataFrame = {
    if (df.sparkSession eq target) df
    else {
      val name = "graft_rebind_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      df.createOrReplaceGlobalTempView(name)
      try {
        val db = df.sparkSession.conf
          .get("spark.sql.globalTempDatabase", "global_temp")
        target.table(s"$db.$name")
      } finally {
        df.sparkSession.catalog.dropGlobalTempView(name)
      }
    }
  }
}
