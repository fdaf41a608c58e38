package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Diversity-preserving survivor selection: a deterministic MAXIMAL
  * INDEPENDENT SET over the near-dup pair graph.
  *
  * Why not connected components: CC survivor selection (q70/q82)
  * keeps ONE doc per component, but a component is a transitive
  * closure — a chain a~b~c collapses to one survivor even though a
  * and c are NOT near-dups of each other. The MIS keeps every
  * mutually-dissimilar doc (no kept pair is an edge) while still
  * covering the graph (every dropped doc has a kept near-dup —
  * maximality), which is the semantics a diversity-aware dedup
  * actually wants: clique-ish dup families still collapse to one,
  * chains keep their genuinely distinct endpoints.
  *
  * Algorithm: Luby-style rounds with FIXED deterministic priorities
  * (salted-md5 of the node id — the TrainTestSplit discipline): each
  * round selects every undecided node whose (priority, id) is
  * smaller than all its undecided neighbors', removes the selected
  * nodes AND their neighbors, repeats. With fixed priorities this
  * computes exactly the SEQUENTIAL greedy MIS in (priority, id)
  * order — the lexicographically-first MIS — so the result is
  * independent of round structure and partitioning, and the q92
  * oracle can mirror it as a straightforward priority-ordered
  * recursion. Hash priorities, not raw ids: id-ordered priorities
  * make an id-sorted path take O(n) rounds; random-ish priorities
  * give O(log n) w.h.p. (Luby 1986).
  *
  * Per-round shape: one keyed join + min aggregation + two slim
  * anti-joins, vocab pinned per round with release of the
  * superseded pin (the ConnectedComponents storage discipline).
  */
object Diversity {

  /** The kept (independent) node set of the pair graph:
    * one `node` column. */
  def independentSet(pairs: DataFrame, a: String = "a", b: String = "b",
                     seed: Long = 42L, maxIter: Int = 60): DataFrame =
    independentSetWithRounds(pairs, a, b, seed, maxIter)._1

  /** [[independentSet]] plus the converged round count — the soak
    * surface (the ConnectedComponents.clustersWithRounds precedent). */
  def independentSetWithRounds(pairs: DataFrame, a: String = "a", b: String = "b",
                     seed: Long = 42L, maxIter: Int = 60): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col(a).as("x"), col(b).as("y"))
      .unionAll(pairs.select(col(b).as("x"), col(a).as("y")))
      .transform(Pin(_, eager = true))
    def pri(node: Column): Column =
      conv(substring(md5(concat(lit(seed.toString), lit(":"),
        node.cast("string"))), 1, 12), 16, 10).cast("long")
    // ONE accumulated output-sized pin for the kept set (round-12
    // fix): the old shape pinned every round's `sel` and kept ALL of
    // them resident until session end — O(rounds) live pins, the
    // exact leak the und-chain discipline exists to prevent. Each
    // round folds sel into the accumulator pin, then releases both
    // sel and the superseded accumulator, so live storage is the
    // und chain + one kept pin, total O(nodes).
    var keptAcc: DataFrame = null
    // mid-round pins, tracked so ANY failure exit — a task failure
    // surfaced by an eager Pin materialization, the nbrMin job, or
    // non-convergence — releases everything instead of stranding
    // O(nodes) of blocks in a long-lived session (the leak class the
    // success-path fix closed; a bare maxIter check alone would miss
    // every exception path)
    var und: DataFrame = null
    var selLive: DataFrame = null
    var newAccLive: DataFrame = null
    var it = 0
    try {
      // whether any node is still undecided rides each round's own
      // pin (Pin.withFlag)
      val (und0, any0) = Pin.withFlag(
        edges.select(col("x").as("node")).distinct().withColumn("p", pri(col("node"))),
        "mis_und_0", lit(true))
      und = und0
      var undecided = any0
      while (undecided && it < maxIter) {
        it += 1
        // min (priority, id) among UNDECIDED neighbors
        val nbrMin = edges
          .join(und.select(col("node").as("yn"), col("p").as("yp")),
            edges("y") === col("yn"))
          .groupBy(col("x"))
          .agg(min(struct(col("yp"), col("yn"))).as("nm"))
        val sel = und
          .join(nbrMin, und("node") === nbrMin("x"), "left")
          .filter(col("nm").isNull ||
            struct(col("p"), col("node")) < col("nm"))
          .select(col("node"), col("p"))
          .transform(Pin(_, eager = true))
        selLive = sel
        val newAcc = (if (keptAcc == null) sel.select(col("node"))
          else keptAcc.unionAll(sel.select(col("node"))))
          .transform(Pin(_, eager = true))
        newAccLive = newAcc
        // remove selected nodes and everything adjacent to them
        val dominated = edges
          .join(sel.select(col("node").as("sx")), edges("x") === col("sx"))
          .select(col("y").as("node"))
        val (next, any) = Pin.withFlag(und
          .join(sel.select(col("node")), Seq("node"), "left_anti")
          .join(dominated, Seq("node"), "left_anti"),
          s"mis_round_$it", lit(true))
        undecided = any
        Pin.release(und)
        Pin.release(sel)
        selLive = null
        if (keptAcc != null) Pin.release(keptAcc)
        keptAcc = newAcc
        newAccLive = null
        und = next
      }
      if (undecided)
        throw new IllegalStateException(
          s"independentSet did not converge in $maxIter rounds")
      // ownership of the single kept pin passes to the caller (the
      // result IS the pin's blocks — localCheckpoint severed lineage)
      val kept = keptAcc
      keptAcc = null
      (if (kept == null)
        spark.emptyDataFrame.select(lit(0L).as("node")).limit(0)
      else kept, it)
    } finally {
      Pin.release(edges)
      Seq(und, selLive, newAccLive, keptAcc).filter(_ != null).foreach(Pin.release)
    }
  }

  /** End-to-end diversity dedup: keep the MIS of the pair graph plus
    * every doc in no pair (the survivors discipline — the anti-join
    * side holds only clustered non-kept docs).
    *
    * Pin ownership: [[independentSet]]'s kept-set pin is RELEASED in
    * here — the dropped-id set (strictly a subset of the graph's
    * nodes, one long column) is eagerly pinned in its place, so the
    * large kept-side blocks never outlive this call. The returned
    * plan references only that slim dropped pin; callers that want a
    * fully unpinned session after their final action can pass the
    * RESULT to [[Pin.release]] (it finds the LogicalRDD leaf). Bench
    * and Verify's releaseQueryState already do. */
  def diversitySurvivors(docs: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id",
                         a: String = "a", b: String = "b",
                         seed: Long = 42L): DataFrame = {
    // Pin the PAIR SET once (round 19): `pairs` is consumed by TWO
    // plan branches — the MIS's edge table and the graph-node set the
    // dropped-id anti-join needs — and the q36-style band self-join
    // behind it is the query's dominant cost; unpinned, the whole
    // pair pipeline executed twice (measured: the second execution
    // was ~6 s of q92's 18.7 s wall at sf1). The pin is the slim
    // (a, b, ...) pair list, released before return.
    val p = Pin(pairs, eager = true)
    // release the O(nodes) kept pin on EVERY exit — a task failure
    // during the eager dropped-set materialization must not strand it
    // (the exception-path leak class independentSetWithRounds closes
    // internally, applied one level up)
    val dropped =
      try {
        val keptNodes = independentSet(p, a, b, seed)
        try {
          val graphNodes = p.select(col(a).as("node"))
            .unionAll(p.select(col(b).as("node"))).distinct()
          Pin(graphNodes.join(keptNodes, Seq("node"), "left_anti")
            .select(col("node").as(idCol)), eager = true)
        } finally Pin.release(keptNodes)
      } finally Pin.release(p)
    docs.join(dropped, Seq(idCol), "left_anti")
  }
}
