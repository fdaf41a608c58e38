package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication building blocks (exact, shingle-Jaccard,
  * MinHash+LSH, SimHash) — the LLM-pipeline operators the reference
  * repo's corpus prep implies but never needed at its scale.
  *
  * Scale design (SURVEY.md §5): nothing here ever does all-pairs.
  *  - exact: ONE hash aggregation on the normalized fingerprint.
  *  - Jaccard: explode joins are bounded per shingle bucket.
  *  - MinHash/LSH: candidate pairs exist only inside (band, band-key)
  *    buckets — the join key is the banded signature hash, so the
  *    shuffle is keyed and bounded, never quadratic.
  *  - SimHash: pairs only inside 15-16-bit block-pair buckets.
  * The per-shingle md5 hash is computed ONCE per shingle, then k=32
  * affine permutations fold over the cached hash array — all inside
  * whole-stage codegen (transform/aggregate, no UDFs).
  */
object Dedup {

  /** Mersenne prime 2^31-1: modulus of the affine MinHash permutations. */
  val P: Long = 2147483647L
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand = 4

  /** Distinct word n-gram shingles from single-space text (docs with
    * fewer than n words are dropped — they have no shingle set).
    * Array-per-doc form; fine for small inputs and tests. */
  def shingled(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .withColumn("ws", split(trim(col("text")), " "))
      .filter(size(col("ws")) >= n)
      .withColumn("sh", array_distinct(expr(
        s"transform(sequence(0, size(ws) - $n), i -> " +
          (1 to n).map(j => s"element_at(ws, i + $j)").mkString("concat_ws(' ', ", ", ", "))"))))
      .drop("ws")

  /** Same shingle SET as [[shingled]], but as distinct (doc_id, g)
    * ROWS built from posexplode + window leads — everything stays in
    * whole-stage codegen (the per-row transform lambda above runs
    * interpreted and dominates MinHash wall-clock at scale). One
    * shuffle on doc_id (sort for the leads) + one distinct.
    *
    * `dedup = false` skips the distinct (and its shuffle): correct for
    * any consumer invariant under duplicate shingles — MIN aggregation
    * (MinHash) sees the same minimum over a multiset as over its set.
    * Jaccard's intersection COUNTS are not invariant: q35 keeps the
    * set form.
    *
    * `maxDocFreq`: stop-shingle guard. A shingle present in more than
    * this many DISTINCT documents is dropped entirely — at corpus
    * scale one boilerplate phrase shared by 10⁶ docs otherwise turns
    * its LSH/Jaccard bucket into a 10¹²-pair quadratic hot spot. The
    * hot set is tiny by construction (only shingles above the bound),
    * so the anti-join broadcasts; hot shingles carry no dedup signal
    * (they don't discriminate between documents), which is why
    * dropping them is the standard guard rather than a recall loss. */
  def shingleRows(docs: DataFrame, n: Int = 3, dedup: Boolean = true,
                  maxDocFreq: Option[Long] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val leadCols = (1 until n).map(j => lead(col("w"), j).over(w).as(s"w$j"))
    val exploded = docs
      .select(col("doc_id"), posexplode(split(trim(col("text")), " ")).as(Seq("i", "w")))
      .select(col("doc_id") +: col("w") +: leadCols: _*)
    val complete = if (n > 1) exploded.filter(col(s"w${n - 1}").isNotNull) else exploded
    val rows = complete
      .select(col("doc_id"),
        concat_ws(" ", col("w") +: (1 until n).map(j => col(s"w$j")): _*).as("g"))
    val out = if (dedup) rows.distinct() else rows
    maxDocFreq.fold(out) { t =>
      // the shingle stream feeds BOTH the document-frequency aggregate
      // and the anti-join probe side; materialize it once or the
      // posexplode + window-lead pipeline runs twice (measured ~2x on
      // the q36 wall-clock). Lazy: materializes at the first action.
      val mat = Pin(out)
      val hot = mat.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("df_"))
        .filter(col("df_") > t)
        .select(col("g"))
      mat.join(hot, Seq("g"), "left_anti")
    }
  }

  /** k-wide MinHash signature: sig[i] = min over shingles of
    * ((2i+3)·h + (5i+7)) mod P, with h the portable 48-bit md5 hash
    * mod P (== DuckDB ('0x'||substr(md5(s),1,12))::BIGINT % P).
    *
    * Shape: shingle rows → one md5 per (doc, shingle) row → 32
    * codegen'd MIN aggregates with map-side partial aggregation.
    * (A per-row transform/array_min lambda nest computes the same
    * thing but runs interpreted per element — 15x slower at sf0.1.)
    */
  def withSignature(shingleRows: DataFrame): DataFrame =
    withSignatureFromHashes(shingleRows.withColumn("h",
      expr(s"CAST(conv(substr(md5(g), 1, 12), 16, 10) AS BIGINT) % $P")))

  /** [[withSignature]] over rows that already carry the 48-bit shingle
    * hash `h` (the [[shingleHashRows]] native path). */
  def withSignatureFromHashes(hashRows: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map(i =>
      min((lit(2 * i + 3) * col("h") + lit(5 * i + 7)) % P).as(s"m$i"))
    hashRows
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .withColumn("sg", array((0 until NumHashes).map(i => col(s"m$i")): _*))
      .select(col("doc_id"), col("sg"))
  }

  /** The MinHash shingle stream as (doc_id, h) HASH rows from the
    * native one-pass [[graft.plans.ShingleHashes]] expression — no
    * posexplode, no window-lead shuffle of the word stream, no
    * n-gram strings ever materialized. Duplicates are kept (see the
    * expression scaladoc: every consumer is duplicate-insensitive).
    *
    * `maxDocFreq`: the same stop-shingle guard as [[shingleRows]],
    * keyed on the 48-bit hash instead of the shingle string, and
    * two-phased so the corpus-wide countDistinct never runs: a plain
    * per-hash ROW count (map-side partial sums, one fixed-width
    * exchange) prefilters to hashes with more than `t` occurrences —
    * a superset of DF > t since DF ≤ row count, and bounded by
    * construction at ≤ totalRows/t ≈ 10× the mean shingles-per-doc
    * for the nDocs/10 cap, INDEPENDENT of corpus size, so it always
    * broadcasts. The exact countDistinct(doc_id) then runs only on
    * that sliver, and the anti-join probes a broadcast of its (still
    * smaller) hot subset. The stream itself is recomputed per
    * consumer rather than pinned: it is a map-only scan now (no
    * window), and materializing it would write ~3x the source bytes.
    * The oracle keys on the same h, so an md5-48 collision (two
    * strings, one h) merges the SAME document-frequency count on
    * both engines. */
  def shingleHashRows(docs: DataFrame, n: Int = 3,
                      maxDocFreq: Option[Long] = None): DataFrame = {
    val rows = docs.select(col("doc_id"),
      explode(graft.plans.ShingleHashes(trim(col("text")), n, P)).as("h"))
    maxDocFreq.fold(rows) { t =>
      guarded(rows, lit(t))
    }
  }

  /** [[shingleHashRows]] with the nDocs/`denom` stop-shingle threshold
    * arriving as a 1-ROW BROADCAST BRANCH instead of a pre-computed
    * literal (the q87 global-N discipline): the old shape paid a
    * separate sequential `docs.count()` driver action — a full extra
    * job scheduled BEFORE the pipeline starts — just to embed the
    * threshold. The count branch's scan is pruned to zero columns (row
    * counts straight off parquet footers) and materializes
    * CONCURRENTLY with the shingle stream inside the same action.
    * Threshold value is bit-identical to the old
    * `(nDocs / denom).max(1)` (integer `div`, greatest(·, 1)) — the
    * oracle's `greatest(1, count(*) // denom)`. */
  def shingleHashRowsCorpusGuard(docs: DataFrame, n: Int = 3,
                                 denom: Int = 10): DataFrame = {
    val rows = docs.select(col("doc_id"),
      explode(graft.plans.ShingleHashes(trim(col("text")), n, P)).as("h"))
    val thr = docs.groupBy().agg(
      greatest(expr(s"count(1) div $denom"), lit(1L)).as("t_"))
    guarded(rows, col("t_"), Some(thr))
  }

  /** The two-phase hot-hash guard over a shingle-hash stream, with the
    * threshold as an expression (optionally fed by a broadcast 1-row
    * `thr` branch). See [[shingleHashRows]]'s scaladoc for the shape
    * argument (row-count prefilter → exact DF on the sliver →
    * broadcast anti-join). */
  private def guarded(rows: DataFrame, t: org.apache.spark.sql.Column,
                      thr: Option[DataFrame] = None): DataFrame = {
    def withThr(df: DataFrame): DataFrame =
      thr.fold(df)(b => df.crossJoin(broadcast(b)))
    val candidates = withThr(rows.groupBy(col("h"))
      .agg(count(lit(1)).as("rc")))
      .filter(col("rc") > t)
      .select(col("h"))
    val hot = withThr(rows.join(broadcast(candidates), Seq("h"))
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df_")))
      .filter(col("df_") > t)
      .select(col("h"))
    rows.join(broadcast(hot), Seq("h"), "left_anti")
  }

  /** Benchmark decontamination core (q71): per training doc, the
    * count of distinct word n-gram hashes it shares with the
    * benchmark docs (`benchPred` side). The benchmark hash set is
    * tiny by definition → broadcast; the corpus side is the same
    * one-pass [[graft.plans.ShingleHashes]] map stage as MinHash. */
  /** INCREMENTAL exact dedup — the daily-ingest shape: dedup a DELTA
    * batch against an already-ingested BASE corpus without touching
    * the base. A delta row survives iff its normalized fingerprint
    * (q34's identity) (a) is the min-doc_id first occurrence WITHIN
    * the delta (map-side-combinable min_by — the q78 survivor
    * discipline, skew-proof for a pathologically duplicated delta)
    * and (b) does not occur in the base — one fp-keyed LEFT ANTI
    * join against the base's DISTINCT fingerprints. Both steps key
    * on fp with SHUFFLE_HASH (both sides corpus-shaped at real
    * ingest scale — never broadcast); in a deployment the base side
    * is the stored fingerprint index written once at ingest, so the
    * recurring cost is one scan of the delta plus a slim keyed
    * join — not a re-dedup of the accumulated corpus. */
  /** `keep` (round 15): the columns the survivor rows carry — default
    * ALL of delta's. A caller that doesn't need the text back (q90
    * emits (doc_id, source)) should say so: the fp-keyed min_by
    * shuffle then moves ~40-byte rows instead of whole documents (the
    * q62 slim-boundary discipline; measured 1.53 → ~1.2 s at sf10).
    * doc_id is always carried (it is the min_by order key). */
  def incrementalSurvivors(base: DataFrame, delta: DataFrame,
                           keep: Seq[String] = Seq.empty): DataFrame = {
    val outCols = if (keep.isEmpty) delta.columns.toSeq
      else "doc_id" +: keep.filterNot(_ == "doc_id")
    val fp = graft.functions.TextFunctions.fingerprint(col("text"))
    val baseFp = base.select(fp.as("fp")).distinct()
    delta.select(fp.as("fp") +: outCols.map(col): _*)
      .groupBy(col("fp"))
      .agg(min_by(struct(outCols.map(col): _*), col("doc_id")).as("r"))
      // hint the BUILD side: the planner's compressed-size estimate
      // of the base's distinct fingerprints dips under the broadcast
      // threshold at test SF (PlanSpec-gated — a real ingest's base
      // index is corpus-sized)
      .join(baseFp.hint("shuffle_hash"), Seq("fp"), "left_anti")
      .select(col("r.*"))
  }

  def contaminated(docs: DataFrame, benchPred: Column, n: Int = 5): DataFrame = {
    val hashes = docs.select(col("doc_id"), benchPred.as("is_bench"),
      explode(graft.plans.ShingleHashes(trim(col("text")), n, P)).as("h"))
    val benchH = hashes.filter(col("is_bench")).select(col("h")).distinct()
    hashes.filter(!col("is_bench"))
      .join(broadcast(benchH), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
  }

  /** Explode signatures into (band, bkey) LSH buckets. */
  def lshBuckets(signed: DataFrame): DataFrame =
    signed
      // all band keys in ONE native pass (plans/BandKeys, round 13),
      // then explode + element_at — the per-exploded-row interpreted
      // slice/join/md5 chain is gone
      .withColumn("_bks", graft.plans.BandKeys(col("sg"), Bands, RowsPerBand))
      .withColumn("b", explode(sequence(lit(0), lit(Bands - 1))))
      .withColumn("bkey", element_at(col("_bks"), col("b") + 1))
      .drop("_bks")

  /** Candidate pairs + similarity from a (doc_id, sg) signature table
    * in ONE band self-join — first-match-band ownership instead of
    * pair-distinct (the q37 FirstCleanPair discipline applied to
    * MinHash banding).
    *
    * The slim alternative (band join on (b, md5-key) → distinct →
    * join the signature table back twice for sim_est) moves less per
    * band row but pays THREE more keyed exchanges: the pair-set
    * distinct and two signature join-backs. Here each band row
    * carries its signature and the per-band key array; a pair is
    * emitted only by the FIRST band whose keys match
    * (`element_at(filter(bands, key_a==key_b), 1) == b`), so
    * duplicates never exist and sim_est computes inline from the
    * carried signatures — the band self-join's exchange is the ONLY
    * data shuffle. Ownership compares the same md5 band keys the
    * join buckets on, so its semantics are exactly the distinct's
    * (each matching pair emitted once).
    *
    * PRECONDITION (same as [[simhashPairs]]): `signed` must be
    * doc_id-unique — one signature row per document. With duplicate
    * rows each pair emits once per row combination, where the
    * distinct pipeline collapsed them. Holds by construction for
    * [[withSignature]]/[[withSignatureFromHashes]] output (a
    * groupBy(doc_id) aggregate); PropertySpec asserts equality with
    * the distinct pipeline on generated corpora. */
  def minhashPairsOwned(signed: DataFrame): DataFrame = {
    // all 20 band keys per signature in ONE native pass (round 13:
    // plans/BandKeys — the transform/slice/array_join/md5 chain ran
    // interpreted per row, the q87 WordHashPairs lesson)
    val bandKeys = graft.plans.BandKeys(col("sg"), Bands, RowsPerBand)
    val bands = signed
      .withColumn("bks", bandKeys)
      .withColumn("b", explode(sequence(lit(0), lit(Bands - 1))))
      .withColumn("bkey", element_at(col("bks"), col("b") + 1))
    val a = bands.select(col("doc_id").as("a"), col("sg").as("sa"),
      col("bks").as("bksa"), col("b"), col("bkey"))
    val bb = bands.select(col("doc_id").as("b_id"), col("sg").as("sb"),
      col("bks").as("bksb"), col("b"), col("bkey"))
    a.join(bb, Seq("b", "bkey"))
      .filter(col("a") < col("b_id"))
      .filter(element_at(
        filter(sequence(lit(0), lit(Bands - 1)),
          j => element_at(col("bksa"), j + 1) === element_at(col("bksb"), j + 1)),
        1) === col("b"))
      .withColumn("sim_est", signatureSimilarity(col("sa"), col("sb")))
      .filter(col("sim_est") >= 0.5)
      .select(col("a"), col("b_id").as("b"), col("sim_est"))
  }

  /** Estimated Jaccard from two signatures: matching fraction (k a
    * power of two → the division is exact in float64). One native
    * codegen'd loop (round 13: plans/SigMatches — the zip_with +
    * filter + size chain ran interpreted per candidate pair). */
  def signatureSimilarity(sa: Column, sb: Column): Column =
    graft.plans.SigMatches(sa, sb).cast("double") / NumHashes

  /** 60-bit SimHash of a document's text — plans/SimHash60 native
    * expression (one codegen'd pass: split on single spaces, md5 per
    * word, 60-bit vote fold); a shuffle-free map-stage projection,
    * byte-identical to the explode + 60-conditional-sum pipeline the
    * DuckDB oracle runs (PropertySpec pins the equality). NULL text →
    * NULL signature (the explode pipeline emitted no row instead;
    * both yield zero pairs downstream — a null bucket key joins
    * nothing). */
  def simhash60(text: Column): Column = graft.plans.SimHash60(trim(text))

  /** SimHash block layout: 8 blocks of the 60-bit hash (widths
    * 8,8,8,8,7,7,7,7), keyed in C(8,2)=28 block-PAIR tables. */
  val SimBlockWidths: Seq[Int] = Seq(8, 8, 8, 8, 7, 7, 7, 7)
  val SimBlockShifts: Seq[Int] = SimBlockWidths.scanLeft(0)(_ + _).init
  val SimPairCombos: Seq[(Int, Int)] =
    for { i <- SimBlockWidths.indices; j <- i + 1 until SimBlockWidths.size }
      yield (i, j)
  /** Pigeonhole recall guarantee: blocks − 2 flipped bits. */
  val SimGuarantee: Int = SimBlockWidths.size - 2

  /** Near-dup pairs from a (doc_id, simhash) table via block-PAIR
    * bucketing (the block-combination scheme of Manku et al. §3):
    * the 60-bit hash splits into 8 blocks, and each of the 28
    * unordered block pairs forms a table keyed by the 15-16 bits of
    * its two blocks. Candidates share ANY pair table's key; the full
    * hamming distance is computed only for deduped candidates.
    *
    * Pigeonhole guarantee: hamming ≤ [[SimGuarantee]] (= 6) dirties
    * at most 6 of the 8 blocks, so at least one CLEAN PAIR of blocks
    * survives and that table catches the pair — 100% recall to
    * hamming 6, probabilistic beyond (e.g. 7 flips in 7 distinct
    * blocks leave only one clean block: missed by design).
    *
    * Why pairs instead of single-block bands: bucket-key cardinality
    * is the scale dial. Single 10-bit bands have 2^10 key values —
    * bucket population grows LINEARLY with corpus size, so junk
    * candidate pairs grow quadratically (measured: 10x docs → 100x
    * candidates on the synthetic corpus). Pair keys carry 15-16 bits
    * (32-64x the cardinality) at the same guarantee-per-table-count
    * budget, cutting the random-collision rate per pair ~10x
    * (28/2^15.5 vs 6/2^10). The residual ceiling is inherent to
    * simhash banding — key bits scale as hashBits/blocks while the
    * guarantee needs blocks−2 ≥ maxHamming — so a 10⁹⁺-doc corpus
    * tightens `maxHamming` (web-scale dedup uses 3) and re-derives
    * the layout rather than widening this one.
    *
    * Scale shape: band rows are (doc_id, table, bkey, simhash) — the
    * hash is ONE long, so carrying it through the band join is
    * cheaper than the q36-style slim-row + join-back shape (which
    * pays two extra shuffle joins to recover wide signature ARRAYS;
    * with an 8-byte payload the join-backs cost more than they
    * save). The self-join is hash-keyed on (table, bkey), never
    * all-pairs, and the hamming filter runs BEFORE the pair-dedup so
    * the distinct only shuffles true near-pairs. Output is
    * inherently quadratic INSIDE a near-dup clique (every pair is
    * reported) — that is the operator's contract, same as any
    * pair-listing dedup.
    *
    * PRECONDITION: `base` must be doc_id-unique (one signature row
    * per document). First-clean-pair table ownership emits each
    * qualifying (a, b) pair once PER ROW COMBINATION — duplicate
    * (doc_id, simhash) rows would multiply pairs where the old
    * .distinct() collapsed them. Every caller derives base from a
    * per-document projection, and DedupSpec asserts pair uniqueness
    * on data with a planted near-dup clique.
    */
  /** `maxBucketPop` (the sf10-soak lesson): on a SELF-SIMILAR corpus
    * the block-pair keys lose their entropy — the 100x-replicated
    * soak corpus put 25k documents in one (table, key) bucket, whose
    * P²/2 candidate blow-up (9.9e9 candidates from 5e5 docs, ~8% of
    * all-pairs) no key widening can fix because the colliding block
    * BITS are genuinely equal. The guard drops buckets with more than
    * `maxBucketPop` rows before the self-join — the same shape as the
    * MinHash stop-shingle guard (per-key counts → tiny hot set,
    * bounded at ≤ bandRows/cap keys, broadcast anti-join). Recall
    * contract: a pair survives if ANY of its clean pair-tables keeps a
    * cold bucket, so pair emission switches from first-clean-table
    * ownership to a post-hamming distinct (the distinct shuffles true
    * near-pairs only); pairs ALL of whose clean tables are hot are
    * dropped — by construction those are members of a ≥cap-sized
    * near-identical clique, which a production pipeline collapses via
    * exact/minhash dedup FIRST rather than pair-listing (a k-clique
    * lists k²/2 pairs — the output itself is the quadratic). */
  def simhashPairs(base: DataFrame, maxHamming: Int = 12,
                   maxBucketPop: Option[Long] = None): DataFrame = {
    val combos = SimPairCombos.zipWithIndex.map { case ((i, j), c) =>
      val (s1, w1) = (SimBlockShifts(i), SimBlockWidths(i))
      val (s2, w2) = (SimBlockShifts(j), SimBlockWidths(j))
      struct(lit(c).as("b"), expr(
        s"(shiftright(simhash, $s1) % ${1L << w1}) * ${1L << w2}" +
          s" + (shiftright(simhash, $s2) % ${1L << w2})").as("bkey"))
    }
    // The bands table is SELF-joined below, so `base`'s upstream (in
    // q37: the exploded-words 60-aggregate) appears on both plan
    // branches; exchange reuse usually dedups it, but AQE's broadcast
    // conversion can drop the very exchanges reuse needs (measured on
    // q36). base is 16 bytes/doc — localCheckpoint pins one
    // computation for negligible cost instead of trusting reuse.
    // CLUSTER CAVEAT: localCheckpoint truncates lineage into executor
    // block storage — an executor loss (or dynamic-allocation decommission)
    // makes the job unrecoverable. On a real cluster configure a
    // checkpoint dir and use reliable checkpoint / persist(DISK_ONLY_2)
    // here; local[...] has no executor loss, so the cheap form is right
    // for this build's bench target.
    val pinned = Pin(base)
    val allBands = pinned
      .select(col("doc_id"), col("simhash"), explode(array(combos: _*)).as("pc"))
      .select(col("doc_id"), col("simhash"), col("pc.b").as("b"), col("pc.bkey").as("bkey"))
    val bands = maxBucketPop.fold(allBands) { cap =>
      val hot = allBands.groupBy(col("b"), col("bkey"))
        .agg(count(lit(1)).as("pop"))
        .filter(col("pop") > cap)
        .select(col("b"), col("bkey"))
      allBands.join(broadcast(hot), Seq("b", "bkey"), "left_anti")
    }
    // First-match ownership instead of a pair-dedup shuffle: a
    // candidate pair collides in EVERY table whose two blocks are
    // clean (identical on both sides) — up to all 28 for near-identical
    // docs — so emitting from each table and .distinct()-ing shuffles
    // the pair set with up to 28x duplication (measured: the distinct,
    // not the join, dominated q37). Instead each table keeps a pair
    // only if it IS the first clean-pair table for the two hashes —
    // plans/FirstCleanPair, a native expression (the same rule as a
    // SQL chain gets inlined 12x into the join condition and falls out
    // of codegen). Every qualifying pair survives in exactly one
    // table: same set as the distinct, zero extra exchange.
    // The band self-join's strategy is AQE's call (round 19, guide
    // §3.1): at bench scale AQE broadcasts the tiny band side, and the
    // probe stage — the pair EMISSION, the dominant cost — runs on the
    // BASE's partitioning, which is why q37 Spreads the base before
    // the signature projection (see DedupOps.q37). Two join-machinery
    // alternatives were A/B'd (interleaved, same JVM) and NOT
    // applied: AQE maxShuffledHashJoinLocalMapThreshold=64MB read flat
    // under same-JVM interleaving, and a static SHUFFLE_HASH hint
    // matched the Spread win only by accidentally re-parallelizing
    // the probe while overriding every size-based broadcast — both
    // rejected in favor of fixing the input partitioning itself.
    val nearPairs = bands
      .select(col("doc_id").as("a"), col("simhash").as("ha"), col("b"), col("bkey"))
      .join(bands.select(col("doc_id").as("b_id"), col("simhash").as("hb"),
        col("b"), col("bkey")), Seq("b", "bkey"))
      .filter(col("a") < col("b_id"))
      // hamming BEFORE the ownership test: bit_count is ~2 ops and
      // kills the junk-collision bulk; first_clean_pair (~40 ops)
      // then runs only on true near-pairs
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxHamming)
    if (maxBucketPop.isEmpty)
      nearPairs
        .filter(col("b") === graft.plans.FirstCleanPair(
          col("ha"), col("hb"), SimBlockShifts, SimBlockWidths))
        .select(col("a"), col("b_id").as("b"), col("hamming"))
    else
      // with hot buckets dropped, a pair's FIRST clean table may be
      // gone while a later one kept it — ownership would lose the
      // pair, so the capped path dedups instead (shuffles only true
      // near-pairs, which the cap has just bounded)
      nearPairs.select(col("a"), col("b_id").as("b"), col("hamming")).distinct()
  }

  /** CONTENT-DEFINED CHUNK duplication (CDC — the identity layer
    * between q34's whole-document fingerprint and q77's fixed 40-char
    * windows, the rsync/storage-dedup technique applied to passages):
    * chunk boundaries fall where a word's 48-bit unigram hash ≡ 0
    * mod `every` (expected chunk ~`every` words; word 1 always opens
    * a chunk). Because boundaries move WITH the content, a shared
    * passage chunks identically in every document that carries it —
    * whatever its offset — and an edit perturbs only the chunk it
    * lands in; and the corpus ships ~1 hash per `every` words where
    * q77 ships one per character position (the cheap screen before
    * the exact-substring pass). Per doc: chunk count and the number
    * of its chunk occurrences whose content appears in ≥ 2 docs.
    *
    * Shape: boundary selection, chunk assembly, and chunk hashing
    * are higher-order array ops INSIDE the row (one native hash
    * stream + one md5 per ~`every` words); the slim (doc_id, ch)
    * int64 stream then follows [[dupSubstringStats]]'s join-free
    * form exactly — (ch, doc) map-side-combined counts, one
    * ch-keyed exchange feeding the distinct-doc count as a window
    * over the same partitioning. Chunk-content collisions at 48 bits
    * are the shared ShingleHashes discipline: both engines key on
    * the hash. */
  def cdcChunkStats(docs: DataFrame, every: Int = 16,
                    combineFirst: Option[Boolean] = None): DataFrame = {
    require(every >= 1, "chunk target must be >= 1")
    val t = trim(col("text"))
    val wsE = split(t, " ")
    val h1 = graft.plans.ShingleHashes(t, 1, 1L << 48)
    val bndsE = filter(
      transform(h1, (h, i) => when(i === 0 || h % every === 0, i + 1)),
      p => p.isNotNull)
    // STAGE ws/bnds as real columns before the chunk lambda captures
    // them: higher-order functions evaluate interpreted with no CSE
    // across invocations, so a lambda capturing the bnds SUBTREE
    // re-derives the whole boundary array per chunk — O(words ×
    // chunks) per doc (measured 2.1 s vs 0.4 s at sf1). Captured
    // attribute references cost one lookup instead.
    val staged = docs.select(col("doc_id"), wsE.as("ws"), bndsE.as("bnds"))
    val ws = col("ws")
    val bnds = col("bnds")
    val nb = size(bnds)
    val chunkHashes = transform(sequence(lit(1), nb), k => {
      val start = element_at(bnds, k)
      // CaseWhen evaluates only the selected branch, so the k+1
      // lookup never runs out of range on the last chunk
      val end = when(k === nb, size(ws) + 1)
        .otherwise(element_at(bnds, k + 1))
      conv(substring(md5(concat_ws(" ", slice(ws, start, end - start))),
        1, 12), 16, 10).cast("long")
    })
    val occ = staged.select(col("doc_id"), explode(chunkHashes).as("ch"))
    val dups = dupCounts(occ, "ch", docs, combineFirst, "dup_chunks")
    staged.select(col("doc_id"), nb.cast("long").as("n_chunks"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"))
  }

  // (A scan-parallelism dial — repartition the raw docs when the file
  // layout yields fewer splits than cores, so the per-char hash pass
  // parallelizes — was A/B'd here in round 18 and came out FLAT:
  // q77 1.32 → 1.37 s, q93 1.13 → 1.28 s probe-gated at sf0.1. The
  // text exchange costs what the parallel hash pass saves; the h
  // exchange right after already re-opens parallelism for the heavy
  // aggregation stages. Not applied.)

  /** SIZE-ADAPTIVE exchange shape for the h-keyed duplication stats
    * (round 19, VERDICT task 1 — the q77 cold-protocol A/B): below
    * this many estimated input bytes the raw window stream takes ONE
    * h-keyed exchange (HashPartitioning(h) serves both the (h, doc)
    * aggregation and the per-h window — round 18's shape); at or above
    * it the (h, doc) aggregation runs FIRST with map-side partial
    * aggregation and re-keys on h afterwards — the guide-§2.5
    * two-phase shape, which is also the skew-safe one (a hot h's raw
    * occurrences pre-collapse per doc instead of all landing on one
    * post-exchange task). Cold fresh-JVM driver-protocol A/B on the
    * current drop (3 interleaved rounds each, min):
    *   sf0.1 (0.6 MB input): one-exchange 1.84 s, combine-first 2.72 s
    *   sf1   (9.8 MB input): one-exchange 5.38 s, combine-first 3.57 s
    * — the trade flips with scale, so the shape derives from the
    * input's logical stats (parquet: sum of file bytes) instead of
    * being a constant tuned for either end. Production corpora are
    * always far above the threshold → always the skew-safe two-phase
    * shape; stats overestimates (joins upstream) also fall through to
    * two-phase, the safe direction. A [[Pin]]ned input (a `LogicalRDD`
    * leaf) is NOT such an overestimate: the leaf keeps the stats of
    * the plan it was pinned from (measured on Spark 4.1.2: 65,049
    * bytes for a filtered documents scan, before and after an eager
    * or lazy localCheckpoint), so it picks the same shape as unpinned.
    * Only a DataFrame built from a raw RDD (`createDataFrame(rdd, _)`)
    * reports `sizeInBytes = Long.MaxValue` and always takes the
    * two-phase shape. */
  private val combineMinBytes: BigInt = BigInt(4L << 20)

  private def inputBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Per doc, the summed count of its (`key`, doc_id) `occ` rows whose
    * key occurs in ≥ 2 docs, as (doc_id, `out`); docs with none are
    * absent. Exchange shape (see [[combineMinBytes]], sized on
    * `docs`): one key-partitioned exchange of the raw stream at bench
    * scale (the second exchange's fixed cost dominates a few-MB
    * shuffle), map-side-combined (key, doc) aggregation + key re-key
    * at scale (skew-safe two-phase — a hot key's occurrences collapse
    * per doc before the wire). The per-key doc count is a window over
    * that partitioning, not a groupBy + join-back pair (the round-11
    * lesson). */
  private def dupCounts(occ: DataFrame, key: String, docs: DataFrame,
                        combineFirst: Option[Boolean], out: String): DataFrame = {
    val k = col(key)
    val perDoc =
      if (combineFirst.getOrElse(inputBytes(docs) >= combineMinBytes))
        occ.groupBy(k, col("doc_id")).agg(count(lit(1)).as("c")).repartition(k)
      else
        occ.repartition(k).groupBy(k, col("doc_id")).agg(count(lit(1)).as("c"))
    perDoc
      .withColumn("nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(k)))
      .filter(col("nd") >= 2)
      .groupBy(col("doc_id")).agg(sum(col("c")).as(out))
  }

  /** Exact-substring duplication signal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * long verbatim substrings shared ACROSS documents are the
    * duplication mode word-level shingles miss): per document, how
    * many of its L-character windows also occur in at least one other
    * document.
    *
    * Shape: one native [[graft.plans.RollingHashes]] pass per row
    * (O(chars) rolling recurrence — the suffix-array fingerprint
    * stream without the suffix array), explode to slim (doc_id, h)
    * int64 rows, ONE (h, doc_id)-keyed count (map-side combine
    * absorbs within-doc window repetition), per-hash doc counts from
    * its own partitioning, and a hash-keyed join back — every
    * exchange keyed and linear in the window count. Windows are keyed
    * on the 40-bit-range polynomial hash, never the substring: the
    * shuffle carries 8-byte longs instead of L-char strings (same
    * trade as ShingleHashes), at a ~n²/2M false-positive rate both
    * engines share bit-for-bit.
    *
    * `anchorMod` is the SCALE DIAL (sf10 soak, BENCH_SF10.md): at
    * s > 1 only windows with h % s == 0 enter the aggregation —
    * CONTENT-DEFINED anchoring, so both copies of a duplicated span
    * select the SAME ~1/s of its windows (a doc_id- or
    * position-based stride would misalign across copies and miss
    * everything). Detection of spans ≥ L + s·E chars survives w.h.p.
    * (an anchor lands every ~s windows); `dup_windows` then counts
    * anchored windows only — scale the fraction by s for the
    * corpus-level signal. s = 1 (default, the oracle setting) keeps
    * every window.
    *
    * `combineFirst`: None (default) derives the exchange shape from
    * the input's size (see [[combineMinBytes]]); Some(_) pins it —
    * the spec hook that lets both shapes be equality-checked on the
    * same data regardless of its size. */
  def dupSubstringStats(docs: DataFrame, l: Int = 40,
                        anchorMod: Int = 1,
                        combineFirst: Option[Boolean] = None): DataFrame = {
    require(anchorMod >= 1, "anchorMod must be >= 1")
    val allOcc = docs.select(col("doc_id"),
      explode(graft.plans.RollingHashes(col("text"), l)).as("h"))
    val occ =
      if (anchorMod == 1) allOcc
      else allOcc.filter(col("h") % anchorMod === 0)
    val dups = dupCounts(occ, "h", docs, combineFirst, "dup_windows")
    val nw = greatest(length(col("text")) - (l - 1), lit(0)).cast("long")
    docs.select(col("doc_id"), nw.as("n_windows"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        // UNITS at anchorMod > 1, deliberately mixed: `dup_windows`
        // stays the raw ANCHORED count (the observable), `n_windows`
        // is un-anchored, and `dup_frac` rescales by the sampling
        // rate into an un-anchored w.h.p. ESTIMATE — so dup_frac !=
        // dup_windows / n_windows there, and sampling variance can
        // push the estimate ABOVE 1.0 on a fully-duplicated doc
        // (treat >= 1 as saturated, don't range-validate). All three
        // agree exactly at the default anchorMod = 1 (the oracle
        // setting), where dup_frac <= 1 by construction.
        (coalesce(col("dup_windows"), lit(0L)).cast("double") * anchorMod /
          when(col("n_windows") === 0, lit(null)).otherwise(col("n_windows")))
          .as("dup_frac"))
  }

  /** The SURGERY half of exact-substring dedup (Lee et al. 2022 §3:
    * "remove all but one occurrence of each duplicated span"):
    * KEEP-FIRST ownership — for every L-char substring that occurs in
    * ≥2 documents, the globally first occurrence (min (doc_id, pos))
    * keeps its span and every other occurrence is cut from its
    * document. Overlapping cut windows merge (a code point is dropped
    * once, however many windows cover it —
    * [[graft.plans.RemoveSpans]]).
    *
    * EXACT on substrings, unlike [[dupSubstringStats]]'s hash-keyed
    * SIGNAL: a stats false positive misprices one window, but a
    * surgery false positive would silently delete L chars of
    * unrelated text (expected collisions at the 2^40-range hash are
    * ~n²/2M — already ~hundreds at sf1's 20M windows), so cuts must
    * never trust the hash alone. Two-level shape:
    *
    *   1. slim (doc_id, pos, h) int64 stream → hashes with ≥2
    *      distinct docs. A PRE-FILTER with no false negatives (equal
    *      content ⇒ equal hash); collisions only admit extra
    *      candidates.
    *   2. candidates only re-derive their actual L-char slice
    *      (one keyed join back to the text) and re-group by the
    *      SLICE: ownership and the ≥2-docs test are decided on
    *      content, so a collision's mixed group splits apart and
    *      can never cut a non-duplicate (Lee et al.'s suffix-array
    *      surgery semantics, reached without the suffix array).
    *
    * The corpus-wide exchanges stay 8-byte longs; L-char slices ship
    * only for the candidate sliver (true dups + ~n²/2M collisions).
    * Removal positions flow back as a per-doc sorted array (bounded
    * by the doc's own window count) into one native span-cut pass per
    * row. Returns (doc_id, clean_text) for every input doc. */
  def stripDupSpans(docs: DataFrame, l: Int = 40): DataFrame = {
    val occ = docs.select(col("doc_id"),
      posexplode(graft.plans.RollingHashes(col("text"), l)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
    // Candidate selection on ONE h-keyed exchange (round 19, the q77
    // lesson): the old shape aggregated occ into dupH (exchange 1) and
    // joined occ back against it (exchange 2 of the full per-character
    // stream) — computing the RollingHashes explode TWICE, once per
    // branch. HashPartitioning(h) satisfies both window specs below
    // via subset-key clustering, so the stream is hashed, shipped and
    // sorted ONCE: nd = per-h count of first-in-doc rows == the old
    // countDistinct(doc_id), and qualifying rows keep their
    // (doc_id, pos) — no join-back. Measured 23.4 → 6.8 s at sf1
    // (full q79, driver protocol).
    val wHD = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h"), col("doc_id")).orderBy(col("pos"))
    val wH = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val cand = occ.repartition(col("h"))
      .withColumn("_fst",
        when(row_number().over(wHD) === 1, 1L).otherwise(0L))
      .withColumn("_nd", sum(col("_fst")).over(wH))
      .filter(col("_nd") >= 2)
      .select(col("doc_id"), col("pos"), col("h"))
    // The candidate sliver (true dups + ~n²/2M collisions) re-derives
    // its slice from the text, then feeds TWO consumers (groups and
    // the removals join) — pin it so the explode → window pipeline
    // and the docs join run once, not per branch.
    val candS = Pin(cand
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("h"),
        expr(s"substring(text, pos + 1, $l)").as("slice")))
    val groups = candS.groupBy(col("h"), col("slice")).agg(
      countDistinct(col("doc_id")).as("nd2"),
      min(struct(col("doc_id"), col("pos"))).as("owner"))
      .filter(col("nd2") >= 2)
      .select(col("h"), col("slice"),
        col("owner.doc_id").as("odoc"), col("owner.pos").as("opos"))
    cutSpans(docs, candS.join(groups, Seq("h", "slice"))
      .filter(!(col("doc_id") === col("odoc") && col("pos") === col("opos"))), l)
  }

  /** SURGICAL benchmark decontamination: instead of q71's flag (drop
    * the whole training document on any n-gram collision — the
    * GPT-3/PaLM check), CUT only the L-char spans that appear
    * verbatim in the held-out benchmark set and keep the rest of the
    * document — the higher-recall-of-data variant a pipeline runs
    * when contaminated docs are too valuable to drop wholesale.
    *
    * Same exactness contract as [[stripDupSpans]]: the benchmark's
    * window-hash set is only a no-false-negative PRE-FILTER (it
    * broadcasts — a benchmark is tiny by definition, q71's
    * discipline); every candidate window then verifies its actual
    * L-char slice against the benchmark slice for that hash before
    * anything is cut, so a rolling-hash collision can never delete
    * clean training text. Overlapping cut windows merge
    * ([[graft.plans.RemoveSpans]]). Returns (doc_id, clean_text) for
    * every NON-benchmark doc. */
  def decontaminateStrip(docs: DataFrame, benchPred: Column,
                         l: Int = 40): DataFrame = {
    val bench = docs.filter(benchPred)
    val train = docs.filter(!benchPred)
    val benchW = bench
      .select(col("doc_id"), col("text"),
        posexplode(graft.plans.RollingHashes(col("text"), l)))
      .select(col("col").as("h"),
        expr(s"substring(text, pos + 1, $l)").as("bslice"))
      .distinct()
    val cuts = train
      .select(col("doc_id"), col("text"),
        posexplode(graft.plans.RollingHashes(col("text"), l)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("h"), col("text"))
      .join(broadcast(benchW), Seq("h"))
      .filter(expr(s"substring(text, pos + 1, $l)") === col("bslice"))
    cutSpans(train, cuts, l)
  }

  /** The span-cut tail of [[stripDupSpans]] and [[decontaminateStrip]]:
    * each doc's cut window starts (the `pos` of its `cuts` rows) go
    * into one sorted array and leave its text in one native pass
    * ([[graft.plans.RemoveSpans]]); a doc with no cut keeps its text.
    * Returns (doc_id, clean_text) for every row of `docs`. */
  private def cutSpans(docs: DataFrame, cuts: DataFrame, l: Int): DataFrame = {
    val removals = cuts.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("ps"))
    docs.join(removals, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ps").isNull, col("text"))
          .otherwise(graft.plans.RemoveSpans(col("text"), col("ps"), l))
          .as("clean_text"))
  }
}
