package graft.operators

import org.apache.spark.sql.DataFrame

/** Dev-audit capture of ITERATION-BODY plans.
  *
  * Every iterative operator in the engine (`GraphOps` ranks/peels/
  * walks, `Dedup` connected components, `Similarity.mmrTopK`)
  * `localCheckpoint`s its loop-carried frame each round so plans stay
  * linear — which also SEVERS LINEAGE, so the registry plan audit
  * (`tools.ExplainAudit`) sees only the post-checkpoint tail: a
  * 10-iteration job reads as `exch=1`, and the per-round join/shuffle
  * shape — the thing that decides 100×-scale behavior — was asserted
  * only by comments. This hook closes that blind spot: each loop
  * routes its pre-checkpoint round body through [[record]], and the
  * audit (when tracing is enabled) lints ONE representative round per
  * operator through the same nested-loop/window/exchange checks as
  * every finalized query plan.
  *
  * First round wins ([[record]] is putIfAbsent): by round 1 the loop's
  * parents are already checkpointed, so the captured plan is exactly
  * the steady-state per-round shape. Disabled (the default) the hook
  * is a single atomic-boolean read — zero overhead in production
  * paths; no frame is ever retained outside an audit run.
  */
object IterTrace {
  private val on = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val frames =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def enable(): Unit = { frames.clear(); on.set(true) }
  def disable(): Unit = { on.set(false); frames.clear() }

  /** Route a loop's pre-checkpoint round body through the trace.
    * Returns `df` unchanged; captures the FIRST round seen per tag. */
  def record(tag: String, df: DataFrame): DataFrame = {
    if (on.get) frames.putIfAbsent(tag, df)
    df
  }

  /** Captured round bodies (audit runs only). */
  def captured: Map[String, DataFrame] =
    scala.jdk.CollectionConverters.MapHasAsScala(frames).asScala.toMap

  /** The coverage contract, enforced by AuditCoverageSpec: every
    * iterative operator's round body, tagged, with the registry query
    * that drives it in the audit (empty string = no registry query
    * reaches the op — the audit drives it on a synthetic frame). */
  val expected: Map[String, String] = Map(
    "pagerank" -> "q68_domain_pagerank",
    "hits" -> "q69_hits_authority",
    "bfs_layers" -> "q71_bfs_reach_layers",
    "seeded_pagerank" -> "q73_seeded_pagerank",
    "weighted_pagerank" -> "q75_weighted_pagerank",
    "kcore_peel" -> "q76_kcore_peel",
    "graph_walks" -> "q77_graph_walks",
    "cc_star_large" -> "d07_dup_components",
    "cc_star_small" -> "d07_dup_components",
    "cc_minlabel" -> "",
    "mmr_round" -> "v35_mmr_diversified_topk",
    "bpe_encode_chunk" -> "t40_bpe_wide_encode",
    "logit_gd" -> "t38_quality_classifier_train")
}
