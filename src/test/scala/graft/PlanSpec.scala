package graft

/** Plan-shape regression gate: the properties that make the query
  * surface scale are asserted on the COMPILED plans of every
  * registered query, so a refactor that silently degrades a join to a
  * nested loop or un-pushes a scan filter fails CI, not the cluster.
  */
class PlanSpec extends SparkTestBase {

  /** Documented quadratic/broadcast-bounded baselines, exempt from the
    * no-nested-loop rule:
    *  - q38/q39: brute-force all-pairs / top-k cosine CORRECTNESS
    *    baselines (the scale paths are q36 LSH and q40/q41 ANN);
    *  - q41: vectors × broadcast seed-centroid assignment — a cross
    *    product against a small bounded set, the IVF assignment step;
    *  - q58: the design matrix broadcasts a ONE-ROW class-count
    *    aggregate back onto the rows (RegressionHead.designMatrix) —
    *    a BroadcastNestedLoopJoin whose build side is a single row by
    *    construction, i.e. a scalar broadcast, not a data join.
    */
  private val quadraticBaselines =
    Set("q38_dedup_embedding", "q39_knn_brute", "q41_ivf_centroids",
      "q58_regression_head",
      // q64/q65: the ratings panel fans a bounded ≤10-row broadcast
      // rater set across the scenario ids (the human-eval panel
      // contract, AgreementOps scaladoc) — a bounded broadcast cross
      // like q41's centroid assignment, not a data-scale cartesian.
      "q64_annotator_agreement", "q65_agreement_summary",
      // q69 shares q64/q65's bounded rater-broadcast panel
      "q69_krippendorff_alpha",
      // q87 (round 12): the ONLY nested-loop is the 1-row global-N
      // scalar cross join (bounded by construction — one row, ever);
      // the dedicated q87 shape gate below pins the rest of its plan.
      "q87_tfidf_keywords",
      // q97 (round 12): same pattern — the 1-row doc-level
      // class-count scalar (the balanced-weight n/np) cross-joins as
      // a bounded broadcast (the q58 designMatrix discipline).
      "q97_quality_classifier")

  test("no nested-loop or cartesian join in any non-baseline query plan") {
    val offenders = SparkEntry.queries.toSeq
      .filterNot { case (name, _) => quadraticBaselines(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
          Some(name)
        else None
      }
    assert(offenders.isEmpty,
      s"nested-loop/cartesian joins planned in: ${offenders.mkString(", ")}")
  }

  /** Queries whose FINAL result is a single row (global aggregate) —
    * a SinglePartition exchange over one row is the correct plan —
    * plus q58, whose plan contains an INTERNAL 1-row aggregate (the
    * class-count stats the design matrix broadcasts): its
    * SinglePartition exchange carries exactly one partially-aggregated
    * row per upstream partition, never data rows. */
  private val onePartByDesign =
    Set("q05_filter_agg", "q55_dataset_checksum", "q58_regression_head",
      // q61 is a single GLOBAL corpus aggregate exploded against an
      // 8-row literal model table: the SinglePartition exchange
      // carries one partially-aggregated row per upstream partition.
      "q61_corpus_cost",
      // q65 is the global average over the ≤C(10,2) pair rows; q64's
      // panel pipeline aggregates the bounded rater set (its LIMIT
      // and ≤45-row pair joins plan single-partition by design).
      "q64_annotator_agreement", "q65_agreement_summary",
      // q69 is the single global alpha row over the same bounded panel
      "q69_krippendorff_alpha",
      // q87 (round 12): the SinglePartition exchange is the 1-row
      // global-N count branch — one partially-aggregated row per
      // upstream partition, never data rows (the q61 pattern).
      "q87_tfidf_keywords",
      // q97 (round 12): likewise — the 1-row class-count stats
      // branch of the balanced-weight design matrix.
      "q97_quality_classifier")

  test("no SinglePartition exchange in any multi-row query's executed plan") {
    // The scale-killer this guards: a global (no-partition) window or
    // un-keyed repartition(1) pulls the whole table through ONE task.
    // Global sorts plan rangepartitioning and global limits plan
    // TakeOrdered — neither trips this.
    val offenders = SparkEntry.queries.toSeq
      .filterNot { case (name, _) => onePartByDesign(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("SinglePartition")) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"SinglePartition exchange planned in: ${offenders.mkString(", ")}")
  }

  test("banded range joins plan as shuffled hash joins, never broadcast") {
    // Both sides of a banded time-proximity join are corpus-sized; the
    // static planner's compressed-file-size estimate of the exploded
    // band side can dip under the broadcast threshold and collect 3x
    // the fact table to the driver (caught live in round 9: +1 s at
    // sf1, OOM at scale). RangeJoin pins SHUFFLE_HASH; this locks the
    // executed plan.
    val q54 = SparkEntry.queries("q54_range_pairs")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q54.contains("ShuffledHashJoin"),
      s"q54's band join is not a shuffled hash join:\n$q54")
    assert(!q54.contains("BroadcastHashJoin"),
      s"q54 plans a broadcast join over a corpus-sized side:\n$q54")
  }

  test("corpus-shaped joins in the round-11 corpus ops never broadcast") {
    // q87: the first draft broadcast the VOCABULARY-sized document-
    // frequency side (estimated small off compressed parquet stats —
    // the round-9 trap); q89/q90's join sides are likewise
    // corpus-shaped (distinct (source, h) / base fingerprints). All
    // pin SHUFFLE_HASH; this locks the executed plans. (q90 keeps
    // tiny broadcasts nowhere; q89's self-join is its only join.
    // q87 left this list in round 12: its df join is GONE — df is a
    // window count over the h-clustered term table, see below.)
    for (name <- Seq("q89_source_overlap", "q90_incremental_dedup")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") &&
        !plan.contains("BroadcastExchange"),
        s"$name broadcasts a corpus-shaped side:\n$plan")
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
        s"$name lost its keyed join:\n$plan")
    }
  }

  test("q87 round-12 shape: one text scan, window df, BNLJ only for the 1-row N") {
    // Round 12 restructured q87 twice over: (a) df is a window
    // count over h on the already-h-clustered term table — the
    // round-11 join shape's df branch never actually reused the
    // word-stream exchange (column pruning de-canonicalized it), so
    // the corpus was scanned + exploded TWICE; (b) the separate
    // docs.count() driver action became a 1-row broadcast branch
    // whose scan is pruned to ZERO columns and materializes
    // concurrently inside the same action. This gate locks both:
    // exactly one scan reads text, exactly one zero-column scan,
    // no keyed join of any kind, BNLJ only for the 1-row N.
    val plan = SparkEntry.queries("q87_tfidf_keywords")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val textScans = "ReadSchema: [^\n]*text".r.findAllIn(plan).length
    val emptyScans = "ReadSchema: struct<>".r.findAllIn(plan).length
    assert(textScans == 1, s"q87 reads the text column $textScans times:\n$plan")
    assert(emptyScans == 1, s"q87 N-branch scan is not zero-column:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q87 lost the 1-row N cross join:\n$plan")
    assert(!plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin")
      && !plan.contains("BroadcastHashJoin"),
      s"q87 reintroduced a keyed join:\n$plan")
  }

  test("q96 capstone stage A: two parquet scans, bench filter pushed, no window") {
    // The capstone's corpus-reading front (clean ∪ raw-bench) reads
    // parquet exactly twice — the full corpus for the clean stage
    // and the doc_id-pushed benchmark sliver — and keeps q78's
    // min_by aggregate shape (no fingerprint window). Everything
    // downstream flows from pins of this stage, so this gate IS the
    // no-redundant-scans claim for the whole composition.
    val raw = graft.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val plan = graft.queries.PipelineOps.cleanPlusBench(raw)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"capstone stage A reads parquet $scans times:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,20)]"),
      s"bench sliver filter not pushed to its scan:\n$plan")
    assert(!plan.contains("Window"),
      s"capstone stage A reintroduced a window:\n$plan")
  }

  test("q99 pruned shape: one text pass via the pin, bounded broadcasts, keyed window") {
    // Round 13: tokenBudget's pre-prune consumers (min/max stats,
    // token-weighted histogram, final filter) all read the PINNED
    // slim staged projection — the FINAL plan must contain zero
    // parquet scans (the one text scan happened at pin
    // materialization) and only broadcast joins (the per-source
    // stats and cut-bin sides are bounded by construction); the
    // running-sum window stays keyed on source (the generic
    // no-SinglePartition gate covers the rest).
    val plan = SparkEntry.queries("q99_token_budget")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 0, s"q99's prune re-scans parquet $scans times " +
      s"instead of reading the staged pin:\n$plan")
    assert(!plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin"),
      s"q99's bounded prune sides must broadcast, not shuffle-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q99 lost its broadcast prune joins:\n$plan")
  }

  test("stand-in-derived tables collapse onto the probe side: q57/q63 plan zero joins") {
    // Round-9 structure locks. q57's label CSV stand-in is a derived
    // column on the profile (its key universe IS the profile's
    // group-by keys); q63's four prediction-variant stand-ins are
    // deterministic functions of cmd_id, so the four-way merge is one
    // scan + projection. A reintroduced join (or a second events
    // scan) silently multiplies corpus passes.
    for (name <- Seq("q57_label_join", "q63_merge_predictions")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name plans a join:\n$plan")
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans == 1, s"$name reads the corpus $scans times:\n$plan")
    }
  }

  test("per-user flag aggregations plan as two-level aggregates, not windows") {
    // q15/q52 need only per-(instance,user) maxima: a Window form
    // computes the same answer but drags a full sort through the plan
    for (name <- Seq("q15_author_filter", "q52_actor_mix")) {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name plans a Window operator:\n$plan")
    }
  }

  test("selective filters are pushed down to the parquet scans") {
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for (name <- Seq("q02_top_revenue", "q04_semi_join", "q05_filter_agg")) {
      val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(mode)
      assert("PushedFilters: \\[[^\\]]".r.findFirstIn(txt).isDefined,
        s"$name: no non-empty PushedFilters in any scan\n$txt")
    }
  }

  test("every WholeStageCodegen subtree of every query actually compiles (no Janino fallback)") {
    // A Janino syntax error in generated code does NOT fail the query —
    // Spark logs an ERROR and silently falls back to the interpreted
    // path, so only this gate (and a slow bench) would ever notice.
    // Caught live: BpeTokenCount's first codegen emitted a `||` at a
    // line start, which Spark's `code` interpolator trimming ate.
    import org.apache.spark.sql.execution.debug._
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      codegenStringSeq(fn(spark, sfDir).queryExecution.executedPlan)
        .filter { case (_, _, stats) => stats.maxMethodCodeSize < 0 }
        .map { case (subtree, _, _) => s"$name: ${subtree.linesIterator.next()}" }
    }
    assert(offenders.isEmpty,
      s"codegen compile failures (interpreted fallback) in:\n${offenders.mkString("\n")}")
  }

  test("native expressions inside pinned subplans compile (the per-query gate can't see them)") {
    // The codegen gate above walks each registered query's
    // executedPlan — but a Pin (checkpoint) replaces its upstream with
    // an ExistingRDD scan, so expressions that live ONLY in the pinned
    // base (SimHash60 in q37's signature stage) are invisible to it
    // and a Janino failure there would silently run interpreted.
    // Compile-check the pre-pin shapes directly.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.debug._
    val subplans = Seq(
      "q37 simhash base" -> spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), graft.operators.Dedup.simhash60(col("text")).as("simhash")),
      "q36 shingle base" -> graft.operators.Dedup.withSignatureFromHashes(
        graft.operators.Dedup.shingleHashRows(
          spark.read.parquet(s"$sfDir/documents.parquet"), maxDocFreq = Some(100L))),
      "q40 lsh index" -> graft.operators.Similarity.lshEntries(
        spark.read.parquet(s"$sfDir/embeddings.parquet")))
    val offenders = subplans.flatMap { case (name, df) =>
      codegenStringSeq(df.queryExecution.executedPlan)
        .filter { case (_, _, stats) => stats.maxMethodCodeSize < 0 }
        .map { case (subtree, _, _) => s"$name: ${subtree.linesIterator.next()}" }
    }
    assert(offenders.isEmpty,
      s"codegen compile failures (interpreted fallback) in:\n${offenders.mkString("\n")}")
  }

  test("q37 pins the simhash base: both self-join branches read ONE checkpointed RDD") {
    // Regression pin for the Pin at Dedup.simhashPairs: the signature
    // base feeds BOTH branches of the band self-join, and AQE's
    // broadcast conversion can drop the exchanges that reuse needs —
    // without the pin the base runs twice. Locked as a plan shape on
    // the pair pipeline (the registered query wraps it in a further
    // pair-set Pin for the protocol sort, which hides this structure
    // from its static plan): exactly two ExistingRDD scans of the SAME
    // checkpointed RDD, and no direct documents scan.
    import org.apache.spark.sql.functions.col
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), graft.operators.Dedup.simhash60(col("text")).as("simhash"))
    val txt = graft.operators.Dedup.simhashPairs(base)
      .queryExecution.explainString(mode)
    val rddIds = "MapPartitionsRDD\\[(\\d+)\\] at localCheckpoint".r
      .findAllMatchIn(txt).map(_.group(1)).toSeq
    assert(rddIds.size == 2,
      s"expected 2 pinned-RDD scans (one per self-join branch), got ${rddIds.size}:\n$txt")
    assert(rddIds.distinct.size == 1,
      s"self-join branches read DIFFERENT RDDs — the base is computed twice:\n$txt")
    assert(!txt.contains("documents.parquet"),
      s"q37 plan scans documents directly — the checkpoint pin is gone:\n$txt")

    // and the registered query itself: a hash repartition must sit
    // BETWEEN the candidate join and the protocol sort — a range
    // exchange samples its child with a separate job, so sorting the
    // join output directly would execute the candidate join TWICE.
    // Anchored structurally (not a whole-plan substring): the Sort's
    // child subtree must contain a RepartitionByExpression whose OWN
    // subtree contains the join — a refactor moving the repartition
    // upstream of the join would still leave the substring in the
    // plan while reintroducing the double-execution.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, RepartitionByExpression, Sort}
    // q36 shares the discipline: its assembly is also a join-heavy
    // sort child that the range sampler would re-execute
    for (name <- Seq("q37_dedup_simhash", "q36_dedup_minhash")) {
      val q = SparkEntry.queries(name)(spark, sfDir)
      val sorts = q.queryExecution.optimizedPlan.collect { case s: Sort => s }
      assert(sorts.nonEmpty, s"$name lost its protocol sort:\n${q.queryExecution.optimizedPlan}")
      val boundaryHoldsJoin = sorts.head.child
        .collect { case r: RepartitionByExpression => r }
        .exists(_.collectFirst { case j: Join => j }.isDefined)
      assert(boundaryHoldsJoin,
        s"$name's sort child has no repartition boundary over its joins — " +
          s"the range sampling re-executes them:\n${q.queryExecution.optimizedPlan}")
    }
    // q59/q62 (round-10 fused shape): the expensive subtree is the
    // single window+listagg AGGREGATE pipeline, not a join — the
    // boundary must shield IT from the range sampler; only the cheap
    // broadcast roster probe + concat may sit above the repartition.
    for (name <- Seq("q59_prompt_assembly", "q62_sta_nar_assembly")) {
      val q = SparkEntry.queries(name)(spark, sfDir)
      val sorts = q.queryExecution.optimizedPlan.collect { case s: Sort => s }
      assert(sorts.nonEmpty, s"$name lost its protocol sort:\n${q.queryExecution.optimizedPlan}")
      val boundaryHoldsAgg = sorts.head.child
        .collect { case r: RepartitionByExpression => r }
        .exists(_.collectFirst { case a: Aggregate => a }.isDefined)
      assert(boundaryHoldsAgg,
        s"$name's sort child has no repartition boundary over its window+agg " +
          s"pipeline — the range sampling re-executes it:\n${q.queryExecution.optimizedPlan}")
      val joinBelowBoundary = sorts.head.child
        .collect { case r: RepartitionByExpression => r }
        .exists(_.collectFirst { case j: Join => j }.isDefined)
      assert(!joinBelowBoundary,
        s"$name grew a join below the repartition boundary — the fused " +
          s"zero-join pipeline regressed:\n${q.queryExecution.optimizedPlan}")
    }
    val q37 = SparkEntry.queries("q37_dedup_simhash")(spark, sfDir)
    assert(!q37.queryExecution.explainString(mode).contains("documents.parquet"),
      "q37 plan scans documents directly")

    // q66 (round-10 fusion): the player numbering is derived INSIDE
    // the single window pipeline — exactly two events scans total (the
    // main msg∪cmd projection + the props-only instance-cap
    // aggregate); the pre-fusion join-back shape doubled both.
    val q66scans = SparkEntry.queries("q66_human_eval_prep")(spark, sfDir)
      .queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("FileScan parquet"))
    assert(q66scans <= 2,
      s"q66 regrew a duplicated scan branch ($q66scans FileScans, expected 2)")

    // q59/q62's roster join must stay a BROADCAST hash join above the
    // hash boundary: the slim-shuffle discipline (only ids + short
    // strings cross the two exchanges; the per-instance actors_block
    // fans out post-shuffle) silently degrades to shuffling the heavy
    // block if the hint is lost.
    for (name <- Seq("q59_prompt_assembly", "q62_sta_nar_assembly")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name's roster join is not a broadcast hash join:\n$plan")
    }
  }

  test("q36's shingle stream is a map-stage projection: no Window, guard joins broadcast") {
    // The native ShingleHashes base replaced the posexplode → lead
    // window → concat → md5 pipeline. The window shuffled the ENTIRE
    // word stream of the corpus by doc_id — at 100 TB the single
    // largest exchange in the dedup path. Lock the new shape: the
    // signature base's only exchanges are fixed-width hash aggregates
    // (h row-count prefilter, sliver countDistinct, per-doc minhash),
    // never a Window sort, and the stop-shingle guard's joins stay
    // BROADCAST (both the prefilter probe and the anti-join — their
    // build sides are bounded by construction at ≤ totalRows/t keys).
    val base = graft.operators.Dedup.withSignatureFromHashes(
      graft.operators.Dedup.shingleHashRows(
        spark.read.parquet(s"$sfDir/documents.parquet"), maxDocFreq = Some(100L)))
    val plan = base.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"q36 base plans a Window operator:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"q36 base's guard joins degraded to a shuffle join:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2,
      s"q36 base: expected the 2 guard joins (prefilter probe + anti-join) as broadcasts:\n$plan")
  }

  test("distill-chain aggregations reuse the window's partitioning: one data shuffle end-to-end") {
    // q12/q14/q50 aggregate on ids (msg_id/cmd_id) functionally
    // contained in the upstream window's partition key; the grouping
    // carries that key so the window's HashPartitioning satisfies the
    // aggregation and no second hash exchange may appear. The only
    // other exchange is the final ORDER BY's rangepartitioning.
    for (name <- Seq("q12_message_groups", "q14_triples", "q50_finetune_pairs")) {
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashEx == 1, s"$name: expected exactly 1 hash exchange, got $hashEx:\n$plan")
    }
  }

  test("q97 design matrix is a pure projection: no DATA shuffle, zero range exchanges") {
    // Round-14 structure lock, round-18 amendment: the per-doc bucket
    // histogram is grouped IN-ROW (BucketCounts) because every
    // (doc_id, bucket) group lives inside one input row — a
    // reintroduced groupBy(doc_id, bucket) shows up as an
    // ENSURE_REQUIREMENTS hash exchange, and a reintroduced global
    // orderBy as a range exchange (whose sampler re-executes the
    // child). Allowed: the 1-row class-count aggregate's
    // SinglePartition, and the round-18 Spread dial's explicit
    // REPARTITION_BY_NUM of the RAW input rows (scan-parallelism fix
    // for under-split file layouts — operators/Spread; it is an input
    // spread, not a data-dependent shuffle, and fires only below the
    // core count).
    val plan = SparkEntry.queries("q97_quality_classifier")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // Round-19 tightening (advice): exempt ONLY the Spread dial's
    // exact shape — an explicit REPARTITION_BY_NUM keyed on doc_id
    // (the raw-input spread) — so an accidental repartition(n, other)
    // anywhere in the pipeline still trips the lock.
    val hashEx = "Exchange hashpartitioning[^\n]*".r.findAllIn(plan).toSeq
      .filterNot(l => l.contains("REPARTITION_BY_NUM") &&
        l.contains("hashpartitioning(doc_id"))
    assert(hashEx.isEmpty,
      s"q97 plans a non-Spread hash exchange:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"q97 plans a range exchange:\n$plan")
  }

  test("prev/next columns collapse to ONE Window operator (single sort)") {
    // NearestEvent emits all four prev/next columns in one select over
    // one ascending order spec — the next-side marks are
    // lead(ignoreNulls) rather than a desc-sorted growing frame
    // (round 19), so the whole prev/next stack is ONE Window operator
    // over ONE sort. A second Window operator reappearing means either
    // a chained withColumn broke CollapseWindow or the desc sort came
    // back.
    val plan = SparkEntry.queries("q13_nearest_assoc")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val windows = "Window \\[".r.findAllIn(plan).size
    assert(windows == 1, s"q13: expected 1 Window operator, got $windows:\n$plan")
  }

  test("q73 is a pure map stage: zero joins, zero aggregates, one scan, only the protocol sort's exchange") {
    // Round-10 structure lock: Gopher repetition is a within-document
    // property computed by the native RepetitionStats byte scan — a
    // reintroduced gram explode shows up as an Aggregate or Join
    // before the final deterministic orderBy.
    val plan = SparkEntry.queries("q73_gopher_repetition")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"q73 plans a join:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"q73 plans an aggregate:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"q73 reads the corpus $scans times:\n$plan")
  }

  test("q80's fp window exchange ships per-row signals, not documents") {
    // Round-11 structure lock: every per-row signal (fingerprint,
    // token count, en flag) is computed in the MAP stage and the text
    // column dropped before the dedup window — an aggregate that
    // references text after the window would silently pull the whole
    // document through the fp exchange.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // the fp exchange EnsureRequirements inserts below the window
    // inherits the window child's output verbatim, so asserting on
    // the child covers the exchange (inputPlan is pre-exchange; the
    // AQE-executed form only renumbers attributes)
    val plan = SparkEntry.queries("q80_source_mix")(spark, sfDir)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan // AQE wraps as a leaf
        case p => p
      }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"q80 lost its fp window:\n${plan.treeString}")
    windows.foreach { w =>
      val cols = w.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"q80's window input carries the document text: $cols")
    }
  }

  test("q76's model fit aggregates on the bucket key: no join, bounded key space") {
    // The DSIR bucket model is explode -> ONE bucket-keyed hash
    // aggregation (partial + final); its exchange carries at most
    // partitions x 1024 rows at any corpus size. A join or window
    // here means the model fit started shuffling data rows.
    val plan = SparkEntry.queries("q76_dsir_model")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"q76 plans a join:\n$plan")
    assert(!plan.contains("Window"), s"q76 plans a window:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"q76 lost its two-phase aggregate:\n$plan")
  }

  test("scans prune columns: no query reads all event/document columns for a narrow projection") {
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    // q17 counts events per instance: must not read `value`&co beyond
    // what it uses; the events ReadSchema should stay narrow
    val txt = SparkEntry.queries("q17_event_count")(spark, sfDir)
      .queryExecution.explainString(mode)
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
    assert(!read.contains("value"), s"q17 reads unused column `value`: $read")
    assert(!read.contains("user_id"), s"q17 reads unused column `user_id`: $read")
  }
}
