package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-dup pair lists → duplicate CLUSTERS: connected components by
  * iterative min-label propagation, the survivor-selection step every
  * dedup pipeline needs after q36/q37-style pair generation (keep
  * cluster_id == doc_id, drop the rest — the multi-doc generalization
  * of q34's min-id survivor rule).
  *
  * Algorithm: every node starts labeled with min(own id, smallest
  * neighbor id) — one aggregation over the edge table, equal to what
  * an identity-label start plus one propagate round would produce
  * (round 18 fused them); each round every node takes the MIN of its
  * label and its neighbors' labels, then SHORTCUTS through the label
  * graph (new label = the label OF its label — Shiloach–Vishkin
  * pointer halving, the work the large-star round does in the Kiveris
  * et al. formulation): fixpoint
  * = every node labeled with the smallest id in its component.
  * Deterministic (the fixpoint is unique). Propagation alone needs
  * O(component diameter) rounds; with the shortcut a label that has
  * already traveled k hops teleports the full k on the next round, so
  * convergence is O(log diameter) — a planted diameter-64 path
  * converges within 10 rounds (spec-pinned) where propagation alone
  * needs 64 (ConnectedComponentsSpec). Near-dup components are dense
  * (clique-ish) in practice, so 2-3 rounds either way; the `maxIter`
  * bound turns a pathological corpus into a loud failure instead of
  * an infinite loop.
  *
  * Per-round shape: two keyed joins + one min aggregation, labels
  * pinned per round so lineage stays flat, and — the round-10 audit
  * nit — the PREVIOUS round's pinned blocks are released as soon as
  * the new round is materialized, so block-manager storage is
  * O(labels), not O(rounds × labels) (GraphX's CC is this same loop
  * over RDDs).
  *
  * The round-over-round driver loop IS the intended shape (each round
  * is a distributed job; only the converged? count comes back), not a
  * driver-side computation over collected data.
  */
object ConnectedComponents {

  /** (a, b) pair rows → (node, cluster_id = min id in component),
    * one row per node that appears in any pair. */
  def clusters(pairs: DataFrame, a: String = "a", b: String = "b",
               maxIter: Int = 50): DataFrame =
    clustersWithRounds(pairs, a, b, maxIter)._1

  /** [[clusters]] plus the number of rounds run — the convergence
    * observable the path-graph spec pins. */
  private[graft] def clustersWithRounds(pairs: DataFrame, a: String = "a",
      b: String = "b", maxIter: Int = 50): (DataFrame, Int) = {
    val edges = pairs.select(col(a).as("x"), col(b).as("y"))
      .unionAll(pairs.select(col(b).as("x"), col(a).as("y")))
      .transform(Pin(_, eager = true)) // reused every round
    // The live round's pin, released once superseded, and on every
    // exit but success, where the result IS its blocks.
    var pinned: DataFrame = null
    try {
      // Initial labels FUSE the old identity round: with identity
      // labels, round 1's neighbor-min join could only produce
      // lbl = min(node, min neighbor id) — which one aggregation over
      // the edge table computes directly (every node appears as x in
      // the bidirectional table, so the coverage is the old distinct's).
      // One groupBy replaces the old init distinct PLUS the first
      // propagate round's join; on the dense (clique-ish) graphs
      // near-dup pairs produce this is a full round of the 2-4 the loop
      // runs (round-18 A/B at sf1: q70 CC phase 3.7 → 2.8 s).
      var labels = edges.groupBy(col("x"))
        .agg(min(col("y")).as("_nl"))
        .select(col("x").as("node"), least(col("x"), col("_nl")).as("lbl"))
        .transform(Pin(_, eager = true))
      pinned = labels
      var converged = false
      var it = 0
      while (!converged && it < maxIter) {
        it += 1
        val nbrMin = edges.join(labels, edges("y") === labels("node"))
          .groupBy(col("x")).agg(min(col("lbl")).as("nl"))
        val prop = labels.join(nbrMin, labels("node") === nbrMin("x"), "left")
          .select(col("node"), col("lbl"),
            least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("mid"))
        // pointer halving: follow the propagated label one more step
        // through the label map (every label IS some node of the same
        // component, so the lookup always hits); min keeps monotonicity.
        // Runs from the first loop round — labels are never the identity
        // map here (the fused init already collapsed one hop).
        // Convergence detection rides the round's own pin (Pin.withFlag).
        val look = labels.select(col("node").as("ln"), col("lbl").as("ll"))
        val (next, changed) = Pin.withFlag(
          prop.join(look, prop("mid") === look("ln"))
            .select(col("node"), col("lbl"), least(col("mid"), col("ll")).as("nxt")),
          s"cc_round_$it", col("nxt") < col("lbl"))
        // (A second shortcut hop per round was A/B'd here in round 18:
        // it did not reduce the round count on the near-dup graphs and
        // its extra lookup join cost ~40% per round — not applied.)
        converged = !changed
        Pin.release(pinned) // the superseded round's blocks
        pinned = next
        labels = next.select(col("node"), col("nxt").as("lbl"))
      }
      require(converged,
        s"connected components did not converge in $maxIter rounds " +
          "(pathological high-diameter component — raise maxIter)")
      pinned = null // the caller's now
      (labels.select(col("node"), col("lbl").as("cluster_id")), it)
    } finally {
      Pin.release(edges) // the result depends only on the final pin
      if (pinned != null) Pin.release(pinned)
    }
  }

  /** End-to-end dedup tail: drop every document that belongs to a
    * near-dup cluster but is not its min-id representative. Docs in no
    * pair pass through untouched (the anti-join side holds only
    * clustered non-survivors — far smaller than the corpus, and the
    * join is keyed on `idCol`). */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
                a: String = "a", b: String = "b"): DataFrame = {
    val losers = clusters(pairs, a, b)
      .filter(col("node") =!= col("cluster_id"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** QUALITY-aware survivor selection: within each near-dup cluster
    * keep the BEST-scoring member (ties broken toward the min id),
    * not the min id — the rule a production pipeline actually wants
    * (keep the longest / cleanest / highest-LM-scored copy, drop the
    * truncated mirror that happens to have the smaller id).
    *
    * Shape: the [[clusters]] fixpoint, one keyed join to attach the
    * score, one max_by aggregation per cluster (struct(score, −id)
    * ordering — map-side combinable), and the same slim losers
    * anti-join as [[survivors]]; docs in no pair pass through
    * untouched. `score` must be non-null on every clustered doc. */
  def survivorsBy(docs: DataFrame, pairs: DataFrame, score: Column,
                  idCol: String = "doc_id",
                  a: String = "a", b: String = "b"): DataFrame = {
    val members = docs
      .join(clusters(pairs, a, b), docs(idCol) === col("node"))
      .select(col(idCol), col("cluster_id"), score.as("s"))
    val winners = members.groupBy(col("cluster_id"))
      .agg(max_by(col(idCol), struct(col("s"), (-col(idCol)).as("negid")))
        .as(idCol))
      .select(col(idCol))
    val losers = members.select(col(idCol))
      .join(winners, Seq(idCol), "left_anti")
    docs.join(losers, Seq(idCol), "left_anti")
  }
}
