package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.max

/** Lineage pin: materialize a DataFrame once so a plan that references
  * it on multiple branches (self-joins, agg + probe) cannot recompute
  * the upstream pipeline — AQE's broadcast conversion drops the very
  * exchanges that reuse would need (measured on q36), so exchange
  * reuse cannot be trusted for this.
  *
  * Storage tier is chosen by deployment, not hard-coded:
  *  - a configured `sparkContext.setCheckpointDir` (any cluster that
  *    cares about executor loss sets one) → RELIABLE checkpoint: the
  *    blocks land on the shared filesystem and survive executor loss
  *    and dynamic-allocation decommission;
  *  - no checkpoint dir (local mode, this build's bench) →
  *    `localCheckpoint`: executor-local blocks, no filesystem
  *    round-trip, with the documented no-recovery trade-off — which
  *    local[*] cannot hit.
  */
object Pin {
  def apply(df: DataFrame, eager: Boolean = false): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Eager pin plus a presence flag: pins `df` eagerly and returns
    * the pin and whether any row of `df` has `flag` true (false on an
    * empty `df`). The iterative drivers (ConnectedComponents' "did a
    * label change?", Diversity's "is a node still undecided?") read
    * their loop condition this way.
    *
    * The flag rides the pin's OWN materialization (round 19): a named
    * observe() over `max(flag)` is collected by CollectMetricsExec
    * DURING the eager pin's job — a separate isEmpty or count probe
    * costs one extra driver round-trip job per round. The metric is
    * read straight from the executed plan's accumulators
    * (queryExecution.observedMetrics), NOT via an Observation handle:
    * Observation registers a permanent entry + listener in the
    * session's ObservationManager with no unregister API, and that
    * manager is not java-serializable — a later query whose task
    * closure captures the session (e.g. spark.ml model lambdas holding
    * their training summary) then fails to serialize (caught by
    * RegressionHeadSpec in the shared test session). A presence flag,
    * max, not a count: a reliable checkpoint's write job re-executes
    * the plan and task retries re-run it, which can double a count but
    * not a max.
    *
    * `name` must be unique among the metrics of one plan. */
  def withFlag(df: DataFrame, name: String, flag: Column): (DataFrame, Boolean) = {
    val observed = df.observe(name, max(flag).as("flag"))
    val pinned = apply(observed, eager = true)
    (pinned, observed.queryExecution.observedMetrics.get(name)
      .exists(r => !r.isNullAt(0) && r.getBoolean(0)))
  }

  /** Executor-local pin even when a checkpoint dir is configured.
    * For EPHEMERAL intra-operator pins that are released before the
    * operator returns (GlobalRank / SequencePack.withBin pin the
    * input only so the range exchange's boundary-sampling pass and
    * the real shuffle share one upstream evaluation): a reliable
    * checkpoint there is a full write of the input to the shared
    * filesystem whose cost exceeds the recompute it saves, `release`
    * cannot reclaim it (it only unpersists RDD blocks), and the
    * files leak until context stop.
    *
    * The REAL trade (stated plainly — the earlier note here
    * understated it): localCheckpoint TRUNCATES lineage and keeps
    * blocks only on executors, so losing an executor while the pin is
    * still referenced — and the range exchange's boundary-sampling
    * pass plus the shuffle read are full stages, not microseconds —
    * fails the job unrecoverably; it cannot be recomputed. The bet is
    * that re-running one failed operator invocation is cheaper than a
    * shared-filesystem round-trip of its whole input on EVERY
    * invocation. */
  def local(df: DataFrame, eager: Boolean = false): DataFrame =
    df.localCheckpoint(eager)

  /** Release the block-manager storage behind a pinned DataFrame.
    * Iterative drivers (ConnectedComponents' label loop) pin every
    * round; without an explicit release each round's slim label set
    * stays resident for the job's lifetime — O(rounds) copies on a
    * high-diameter input. Only call once nothing still referenced
    * depends on the pin (a localCheckpoint's blocks ARE its data). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
