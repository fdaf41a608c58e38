package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity search over `array<float>` embeddings: brute-force
  * cosine top-k (correctness baseline), random-hyperplane LSH ANN,
  * and IVF-style probing — the scale paths bound every candidate set
  * by a bucket/cell key so the join is hash-keyed, never all-pairs.
  *
  * Query sets and centroid sets are broadcast (small by construction);
  * the corpus side streams through codegen'd projections — at 100 TB
  * the scan is the only full pass and everything shuffles at most the
  * per-query candidate rows.
  */
object Similarity {

  /** Corpus projection with quantized-exact norms. */
  def withNorm(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding"), normQ(col("embedding")).as("nrm"))

  private def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Brute-force top-k: broadcast the query set, one corpus scan,
    * per-query rank. */
  def knnBrute(corpus: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val n = withNorm(corpus)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    broadcast(q).join(n, col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosineWithNorms(col("qe"), col("qn"), col("embedding"), col("nrm")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .transform(rankTopK(_, k))
  }

  /** Deterministic pseudo-random hyperplane component (plane j, dim i)
    * as an exact INTEGER in ±1000003: 2·(hash mod 1000003) − 1000003 is
    * always odd, hence never zero. Projections are then exact int64
    * sums of (quantized component × integer coefficient): the hash
    * aggregate's partial-sum order can't flip a near-zero projection's
    * sign, so bucket keys are bit-deterministic run to run. */
  private def planeQ(j: Int, i: Int): Long =
    2L * ((j.toLong * 73856093L + i.toLong * 19349663L) % 1000003L) - 1000003L

  val NumTables = 8
  val PlanesPerTable = 4

  /** Default key width for the [[nearDupPairs]] REP-level index:
    * wider than the ANN default because pair listing pays for every
    * bucket collision on BOTH sides (candidates ~ Σ popᵢ²/2 per
    * table), where a query-side index only pays per query. 2^8 = 256
    * keys/table suits the 10³-10⁴-rep corpora here; size up with the
    * [[lshEntries]] rule (planes ≈ log2(reps / targetBucket)) as the
    * distinct-content count grows. */
  val DupPlanes = 8

  /** The integer hyperplane matrix, row-major: planes(j)(i) = coef of
    * dim i in plane j. */
  private lazy val planeMatrix: Seq[Seq[Long]] =
    (0 until NumTables * PlanesPerTable).map(j => (0 until Dim).map(i => planeQ(j, i)))

  /** Multi-table sign-bit LSH index: one slim (vec_id, tbl, bkey) row
    * per table per vector. A single sign-bucket table has poor recall
    * on low-cosine neighbors; L tables of r planes give recall
    * 1-(1-p^r)^L — the standard amplification.
    *
    * All plane projections are one native-expression pass per row
    * ([[graft.plans.LshBucketKeys]]: constant-size codegen loop over
    * the inlined integer plane matrix) followed by a posexplode of the
    * L bucket keys — a pure map stage, NO shuffle. The previous shape
    * (explode(components) ⋈ broadcast(plane matrix) → two hash
    * aggregations) paid Dim·planes intermediate rows per vector and
    * two shuffles just to build the index; it survives as
    * [[lshEntriesJoin]], the property-test reference.
    *
    * SCALE DIAL (the sf10-soak lesson, BENCH_SF10.md): `planes` sets
    * the per-table key space to 2^planes, and bucket population is
    * ~N/2^planes — with the oracle default r=4 the key space is 16,
    * so candidates grow LINEARLY with the corpus (measured: 32% of a
    * 200k-vector corpus per query). Size r ≈ log2(N / targetBucket):
    * a 10⁹-vector corpus at ~10³-vector buckets wants r ≈ 20 (with
    * more tables to recover recall, since per-table collision
    * probability is p^r). The default stays 8×4 because the oracle
    * SQL mirrors that layout bit-for-bit on the small planted corpus.
    */
  def lshEntries(corpus: DataFrame, tables: Int = NumTables,
                 planes: Int = PlanesPerTable): DataFrame =
    lshEntriesWith(corpus, tables, planes, Nil)

  /** CENTERED index (the second sf10-soak lesson): sign planes through
    * the ORIGIN lose key entropy when the corpus is biased off-center
    * (measured: component-biased synthetic vectors put 8.2k of 200k
    * vectors in one r=8 bucket — 10x the uniform expectation, because
    * most projections share the mean's sign). Centering the planes on
    * the corpus centroid restores per-plane ~50/50 splits. In
    * quantized-integer space that is FREE at query time: bit_j =
    * (dot(x, plane_j) > dot(μ_q, plane_j)) — the mean folds into one
    * per-plane int64 THRESHOLD baked into the native expression, no
    * per-row subtraction, no float drift (μ_q is the floor-div exact
    * integer mean, so thresholds are exact int64 and the index stays
    * bit-deterministic). Costs one extra aggregate pass over the
    * corpus to compute μ_q — at 100 TB, fold it into whatever stats
    * pass already scans the embeddings. Rerank is exact either way;
    * centering only changes WHICH candidates surface. */
  def lshEntriesCentered(corpus: DataFrame, tables: Int = NumTables,
                         planes: Int = PlanesPerTable): DataFrame = {
    val mean = quantizedMean(corpus)
    val pm = planeMatrixOf(tables, planes)
    val thresholds = pm.map(row => row.iterator.zip(mean.iterator).map {
      case (c, m) => c * m
    }.sum)
    lshEntriesWith(corpus, tables, planes, thresholds)
  }

  /** Exact integer per-dimension corpus mean: floorDiv of the int64
    * sums of quantized components — deterministic (no float
    * summation), one aggregate pass, 64 longs to the driver. */
  def quantizedMean(corpus: DataFrame): Seq[Long] = {
    val sums = (0 until Dim).map(i =>
      sum(floor(element_at(col("embedding"), i + 1).cast("double") * QScale)
        .cast("long")).as(s"s$i"))
    val row = corpus.agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
      .collect()(0)
    val n = row.getLong(Dim)
    require(n > 0, "quantizedMean: empty corpus")
    (0 until Dim).map(i => Math.floorDiv(row.getLong(i), n))
  }

  private def planeMatrixOf(tables: Int, planes: Int): Seq[Seq[Long]] =
    if (tables == NumTables && planes == PlanesPerTable) planeMatrix
    else (0 until tables * planes).map(j => (0 until Dim).map(i => planeQ(j, i)))

  private def lshEntriesWith(corpus: DataFrame, tables: Int, planes: Int,
                             thresholds: Seq[Long]): DataFrame = {
    val pm = planeMatrixOf(tables, planes)
    corpus.select(col("vec_id"),
      posexplode(graft.plans.LshBucketKeys(col("embedding"), pm, planes, thresholds)))
      .select(col("vec_id"), col("pos").cast("int").as("tbl"), col("col").as("bkey"))
  }

  /** Built-ins-only reference implementation of [[lshEntries]] (the
    * original distributed matrix-product shape) — kept for the
    * equality property test; also the shape to fall back on if the
    * plane matrix ever outgrows a broadcastable literal. */
  def lshEntriesJoin(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planes = (for {
      j <- 0 until NumTables * PlanesPerTable
      i <- 0 until Dim
    } yield (i, j, planeQ(j, i))).toDF("i", "j", "coef")
    // |floor(x·1e7)| ≤ 1e7 and |coef| ≤ 1000003 → 64 products sum to
    // < 2^50: exact int64, no overflow
    corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .join(broadcast(planes), Seq("i"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(floor(col("x").cast("double") * QScale).cast("long") * col("coef")).as("dot"))
      .select(
        col("vec_id"),
        (col("j") / PlanesPerTable).cast("int").as("tbl"),
        when(col("dot") > 0,
          expr(s"shiftleft(1L, CAST(j % $PlanesPerTable AS INT))")).otherwise(0L).as("bit"))
      .groupBy(col("vec_id"), col("tbl"))
      .agg(sum(col("bit")).as("bkey"))
  }

  /** LSH ANN: candidates share any (table, bucket) with the query;
    * exact rerank over the unioned candidates only. The index side is
    * slim ids — embeddings join back only for the bounded candidate
    * set. */
  def annLsh(corpus: DataFrame, queryPred: Column, k: Int,
             tables: Int = NumTables, planes: Int = PlanesPerTable,
             centered: Boolean = false): DataFrame = {
    val n = withNorm(corpus)
    val entries =
      if (centered) lshEntriesCentered(corpus, tables, planes)
      else lshEntries(corpus, tables, planes)
    val qEnt = entries.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bkey"))
    val candIds = broadcast(qEnt).join(entries, Seq("tbl", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val qVec = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    candIds
      .join(n, Seq("vec_id"))
      .join(broadcast(qVec), Seq("query_id"))
      .withColumn("sim", cosineWithNorms(col("qe"), col("qn"), col("embedding"), col("nrm")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .transform(rankTopK(_, k))
  }

  /** kNN GRAPH: every vector's top-k neighbors — the all-queries
    * generalization of [[annLsh]], and the building block semantic
    * dedup / diversity sampling / graph-based clustering consume (a
    * query set is a sliver you can broadcast; a graph makes EVERY row
    * a query, so nothing broadcasts and every join is keyed).
    *
    * Shape, combining the established disciplines:
    *
    *  1. DEDUP-BEFORE-INDEXING ([[nearDupPairs]]'s structural lesson):
    *     exact-dup families collapse on the quantized vector first
    *     and the graph is built over REPRESENTATIVES — identical
    *     vectors share every bucket in any layout, so a raw-row graph
    *     multiplies candidates by the duplication factor squared for
    *     neighbor lists that are all equal. Family members inherit
    *     their rep's neighbor list by a keyed join on `fam` (left to
    *     the consumer, as q72 leaves pair expansion).
    *  2. Candidates from the [[lshEntries]] self-join on
    *     (table, bucket-key) — default `planes` = [[DupPlanes]] (8:
    *     256 buckets/table), NOT annLsh's 4: a full self-join's
    *     candidate volume is Σ pop² per bucket, so the key-width rule
    *     r ≈ log2(N/targetBucket) binds much harder than for a
    *     broadcast query sliver. Size `planes` up with the rep count.
    *  3. Exact quantized-cosine rerank on candidates only, per-query
    *     top-k window (rank = row_number on sim desc, id asc — fully
    *     deterministic, so the approximate RESULT is cross-engine
    *     byte-reproducible and q83 is oracle-checked at the default
    *     layout; recall vs [[knnBrute]] is spec-pinned separately).
    *
    * Output: (query_id, neighbor_id, rank, sim) over family reps. */
  def knnGraph(corpus: DataFrame, k: Int,
               tables: Int = NumTables, planes: Int = DupPlanes): DataFrame = {
    val fam = corpus
      .withColumn("qv", quantizeQ(col("embedding")))
      .withColumn("rep", min(col("vec_id")).over(Window.partitionBy(col("qv"))))
    // NOT pinned (round-18 A/B): pinning reps + entries here read
    // q83 1.44 → 1.56 s and q94 1.61 → 2.16 s at sf1 — this plan's
    // duplicated branches are all shuffle-keyed (no AQE broadcast
    // conversion fires below), so vanilla exchange reuse already
    // dedups the fam window, and the extra materialization jobs are
    // pure overhead. Contrast nearDupPairs, where the pins WIN.
    val reps = fam.filter(col("vec_id") === col("rep"))
      .select(col("vec_id"), col("embedding"))
    val entries = lshEntries(reps, tables, planes)
    val cand = entries
      .select(col("vec_id").as("query_id"), col("tbl"), col("bkey"))
      .join(entries, Seq("tbl", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val n = withNorm(reps)
    cand
      .join(n, Seq("vec_id"))
      .join(n.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn")), Seq("query_id"))
      .withColumn("sim", cosineWithNorms(col("qe"), col("qn"), col("embedding"), col("nrm")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .transform(rankTopK(_, k))
  }

  /** CONTRASTIVE TRIPLE mining over the kNN graph — the training-data
    * product an embedding-model finetune consumes (anchor, positive,
    * hard negative): per anchor, the top-ranked neighbor with
    * sim ≥ posMin is the positive and the top-ranked neighbor with
    * sim ≤ negMax the HARD negative (the most-similar example that is
    * still dissimilar — the informative kind; a random negative is
    * trivially separable). Anchors lacking either are dropped.
    * Composes [[knnGraph]] (byte-reproducible, family-collapsed) with
    * two rank-argmin aggregations and one query-keyed join — both
    * aggregations and the join reuse the graph's partitioning, and
    * every sim is the exact quantized cosine, so the emitted triples
    * are cross-engine reproducible (q94). */
  def contrastiveTriples(corpus: DataFrame, posMin: Double, negMax: Double,
                         k: Int = 5): DataFrame = {
    // NOT pinned (round-18 A/B, with the knnGraph note): the two
    // argmin branches reuse the graph's exchanges as-is; a pin read
    // q94 1.61 → 2.16 s at sf1.
    val g = knnGraph(corpus, k)
    val pos = g.filter(col("sim") >= posMin)
      .groupBy(col("query_id"))
      .agg(min_by(struct(col("neighbor_id"), col("sim")), col("rank")).as("p"))
    val neg = g.filter(col("sim") <= negMax)
      .groupBy(col("query_id"))
      .agg(min_by(struct(col("neighbor_id"), col("sim")), col("rank")).as("n"))
    pos.join(neg, Seq("query_id"))
      .select(col("query_id").as("anchor_id"),
        col("p.neighbor_id").as("positive_id"), col("p.sim").as("pos_sim"),
        col("n.neighbor_id").as("negative_id"), col("n.sim").as("neg_sim"))
  }

  /** Bucketed embedding near-dup PAIR LISTING — the scale path for
    * q38's all-pairs baseline, and the vector analog of the MinHash
    * band join (q36) — with DEDUP-BEFORE-INDEXING, the sf10-soak
    * remedy (BENCH_SF10.md) made structural:
    *
    *  1. Exact-dup FAMILIES first: group on the quantized int64
    *     vector ([[graft.functions.VectorFunctions.quantizeQ]] — the
    *     exact identity every similarity here is a function of), one
    *     window pass assigning each row its family representative
    *     (min vec_id). Replicated corpora collapse by the duplication
    *     factor BEFORE any index exists.
    *  2. The sign-plane LSH pair index runs over REPRESENTATIVES
    *     only. Identical vectors collide in every table of every
    *     layout — no key width can split them (the soak's measured
    *     negative) — so indexing them once per family is the only
    *     shape whose candidate count tracks DISTINCT content, not raw
    *     rows. Candidates exist only inside (table, bucket-key)
    *     collisions; the exact quantized cosine filters them;
    *     first-match-TABLE ownership emits each rep pair exactly once
    *     with no pair-distinct shuffle (the
    *     [[graft.operators.Dedup.minhashPairsOwned]] discipline).
    *  3. EXPAND families back: every member×member pair across a
    *     caught rep pair (keyed equi-joins on the rep), plus every
    *     within-family pair (sim = self-cosine = 1 by construction) —
    *     so exact duplicates are listed with recall 1, not left to
    *     hash luck.
    *
    * Cross-family recall is the L-table amplification 1−(1−p^r)^L
    * with p = 1 − θ/π at REP level (cos ≥ 0.9 → p ≈ 0.86, caught
    * ≥ 98% at the default 8×8); size (tables, planes) per the
    * [[lshEntries]] key-width rule in the REP count. The measured
    * motivation: at sf1 (20k rows = 10 exact copies of 2k vectors)
    * the rep-level index is 2k rows — the old whole-corpus 8×4 join
    * generated 122M candidate pairs and 122 s of rerank for the same
    * output. The within-family expansion is quadratic in family size
    * because the OUTPUT is (the pair listing is the quadratic
    * object); for survivor-style dedup at 100 TB, consume `fam`
    * (rep != vec_id → drop) and skip pair listing entirely.
    * PRECONDITION: vec_id-unique corpus rows. */
  def nearDupPairs(corpus: DataFrame, minSim: Double,
                   tables: Int = NumTables, planes: Int = DupPlanes): DataFrame = {
    val fam = corpus
      .withColumn("qv", quantizeQ(col("embedding")))
      .withColumn("rep", min(col("vec_id")).over(Window.partitionBy(col("qv"))))
    // Pin the family map once (qv dropped — only the assignment and
    // the rep embeddings survive): `members` is referenced FOUR times
    // (both sides of the within-family join, both cross expansions)
    // and `reps` three more (both band-join branches via `keyed`,
    // selfSim) — without the pin each branch re-runs the quantize +
    // family window over the whole corpus (AQE broadcast conversion
    // defeats exchange reuse here; the q36/q37 discipline). One row
    // per input vector, embedding kept only to derive reps.
    val famP = Pin(fam.select(col("vec_id"), col("rep"), col("embedding")))
    val members = famP.select(col("vec_id"), col("rep"))
    val reps = famP.filter(col("vec_id") === col("rep"))
      .select(col("vec_id"), col("embedding"))

    val pm = planeMatrixOf(tables, planes)
    // Pin the per-rep signature row (embedding, norm, bucket keys)
    // BEFORE the table explode: the band self-join references it on
    // both sides, and the bucket-key projection is the operator's
    // per-row hot loop — one evaluation, one stored row per rep (the
    // q36 signature-pin storage class).
    val pre = Pin(withNorm(reps)
      .withColumn("bks", graft.plans.LshBucketKeys(col("embedding"), pm, planes)))
    val keyed = pre
      .withColumn("tbl", explode(sequence(lit(0), lit(tables - 1))))
      .withColumn("bkey", element_at(col("bks"), col("tbl") + 1))
    val a = keyed.select(col("vec_id").as("ra"), col("embedding").as("ea"),
      col("nrm").as("na"), col("bks").as("bksa"), col("tbl"), col("bkey"))
    val b = keyed.select(col("vec_id").as("rb"), col("embedding").as("eb"),
      col("nrm").as("nb"), col("bks").as("bksb"), col("tbl"), col("bkey"))
    val repPairs = a.join(b, Seq("tbl", "bkey"))
      .filter(col("ra") < col("rb"))
      .filter(element_at(
        filter(sequence(lit(0), lit(tables - 1)),
          t => element_at(col("bksa"), t + 1) === element_at(col("bksb"), t + 1)),
        1) === col("tbl"))
      .withColumn("sim", cosineWithNorms(col("ea"), col("na"), col("eb"), col("nb")))
      .filter(col("sim") >= minSim)
      .select(col("ra"), col("rb"), col("sim"))

    // Within-family pairs: sim is EXACTLY 1.0 by definition (members
    // are quantization-identical), not the computed dot/(nrm·nrm) —
    // sqrt-then-square is 1 ± ulp and would silently drop exact
    // duplicates at minSim == 1.0. Zero vectors pin 0.0 (the cosine
    // convention), which the >= minSim filter then drops; the oracle
    // mirrors the same CASE.
    val selfSim = withNorm(reps)
      .select(col("vec_id").as("rep"),
        when(col("nrm") === 0.0, lit(0.0)).otherwise(lit(1.0)).as("sim"))
      .filter(col("sim") >= minSim)
    val same = members.as("m1")
      .join(members.as("m2"),
        col("m1.rep") === col("m2.rep") && col("m1.vec_id") < col("m2.vec_id"))
      .join(selfSim.withColumnRenamed("rep", "srep"), col("m1.rep") === col("srep"))
      .select(col("m1.vec_id").as("a"), col("m2.vec_id").as("b"), col("sim"))

    // Cross-family expansion: members of the two families, re-ordered
    // (families are disjoint, so least/greatest never ties).
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("vec_id").as("ma")), Seq("ra"))
      .join(members.select(col("rep").as("rb"), col("vec_id").as("mb")), Seq("rb"))
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"), col("sim"))

    same.union(cross)
  }

  /** IVF-style ANN. The centroid set is small and bounded by
    * construction (IVF probes a handful of cells), so it is collected
    * ONCE and inlined as plan literals: every vector then ranks the
    * cells in a single codegen'd projection (array_sort over |cents|
    * (negsim, cent_id) structs) — NO shuffle, no corpus×centroids
    * row blowup, no sort window. The earlier broadcast-join +
    * row_number shape paid a corpus×|cents| intermediate AND a
    * corpus-sized sort-window shuffle for the same assignment; with
    * a large learned codebook (10⁴⁺ cells) that general shape — or a
    * two-level coarse quantizer — becomes the right tool again.
    * Queries probe their `probes` nearest cells; candidates live in
    * their home cell only. */
  def ivf(corpus: DataFrame, centroidPred: Column, queryPred: Column,
          k: Int, probes: Int = 2): DataFrame = {
    val n = withNorm(corpus)
    val cents = n.filter(centroidPred)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    ivfSearch(n, cents, queryPred, k, probes)
  }

  /** IVF with a LEARNED codebook: k-means (spark.ml KMeans — each
    * iteration is one treeAggregate pass over the executors, the same
    * scale shape as every aggregate here) trains `cells` centroids on
    * the corpus, then the [[ivfSearch]] core assigns + probes exactly
    * as the fixed-seed variant. Deterministic for a fixed seed, data,
    * and file layout (k-means|| init samples with the seed).
    *
    * The centers array is bounded by `cells` — small by construction,
    * so collecting it to the driver is the IVF contract, not a data
    * collect. A 10⁴⁺-cell codebook outgrows the inlined-literal
    * assignment and wants the broadcast-join shape (see [[ivf]]'s
    * scaladoc); `cells` here is deliberately the handful a single
    * probe level serves. */
  def ivfLearned(corpus: DataFrame, queryPred: Column, k: Int,
                 cells: Int = 16, probes: Int = 2,
                 seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val n = withNorm(corpus)
    val train = n.select(array_to_vector(col("embedding")).as("features"))
    val model = new KMeans()
      .setK(cells).setSeed(seed).setMaxIter(20).setFeaturesCol("features")
      .fit(train)
    val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.toSeq.map(_.toFloat))
    }
    if (cells >= LargeCodebookCells) {
      val spark = corpus.sparkSession
      import spark.implicits._
      ivfSearchJoin(n, cents.toSeq.toDF("cent_id", "cembedding"), queryPred, k, probes)
    } else ivfSearch(n, cents, queryPred, k, probes)
  }

  /** Cell count at which the inlined-literal assignment ([[ivfSearch]])
    * gives way to the broadcast-join shape: beyond ~10³ centroids the
    * generated array_sort literal outgrows a single codegen method and
    * the plan serialization itself gets heavy. */
  val LargeCodebookCells = 1000

  /** Exact rerank tail shared by both IVF assignment shapes:
    * `q` = (cell, query_id, qe, qn) probe rows (small — broadcast),
    * `members` = (cell, vec_id, embedding, nrm) home-cell corpus. */
  private[operators] def probeRerank(members: DataFrame, q: DataFrame, k: Int): DataFrame =
    broadcast(q).join(members, Seq("cell")).filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosineWithNorms(col("qe"), col("qn"), col("embedding"), col("nrm")))
      // no dedup needed: every member has exactly one home cell, so a
      // (query, member) pair can arise from at most one probed cell
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("sim"))
      .transform(rankTopK(_, k))

  /** negsim of a corpus row (`embedding`/`nrm`) against a centroid
    * (`cembedding`/`cnrm` columns) — the IDENTICAL arithmetic and
    * zero-norm sentinels as [[ivfSearch]]'s literal path, so the two
    * assignment shapes are value-equal (property-tested). */
  private[operators] def negsimCol: Column =
    when(col("cnrm") === 0.0, lit(Double.MaxValue))
      .otherwise(when(col("nrm") === 0.0, lit(0.0))
        .otherwise(-(dotQ(col("embedding"), col("cembedding")) / (col("nrm") * col("cnrm")))))

  /** Broadcast-join IVF assignment for LARGE codebooks (≥
    * [[LargeCodebookCells]] cells), where inlining every centroid as a
    * plan literal would blow past codegen method limits. Centroids
    * arrive as a DataFrame (cent_id, cembedding); the corpus side pays
    * one broadcast-product scoring pass whose output is immediately
    * projected to slim (vec_id, cent_id, negsim) rows, then ONE
    * min-struct hash aggregation (map-side partial combine — the only
    * corpus shuffle moves slim best-cell rows, never a sort window) and
    * a keyed join back for member embeddings. Query probe ranking runs
    * on the bounded query×cells side only. At true IVF scale the
    * two-level coarse quantizer ([[ivfTwoLevelSearch]], round 13)
    * cuts the corpus×cells product
    * itself; this shape is the single-level contract. */
  private[graft] def ivfSearchJoin(n: DataFrame, cents: DataFrame,
                                   queryPred: Column, k: Int, probes: Int): DataFrame = {
    val c = broadcast(
      cents.select(col("cent_id"), col("cembedding"),
        normQ(col("cembedding")).as("cnrm")))
    // corpus × cells product exists only map-side: the very next
    // projection drops the 64-float embedding, so nothing wide moves.
    val scored = n.join(c)
      .select(col("vec_id"), negsimCol.as("negsim"), col("cent_id"))
    val home = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("negsim"), col("cent_id"))).getField("cent_id").as("cell"))
    val members = n.join(home, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
    // query side is small by contract — score it separately so the
    // corpus-wide product is NOT recomputed for probe ranking
    val qn = n.filter(queryPred)
    val qw = Window.partitionBy(col("vec_id")).orderBy(col("negsim"), col("cent_id"))
    val q = qn.join(c)
      .select(col("vec_id"), negsimCol.as("negsim"), col("cent_id"))
      .withColumn("rk", row_number().over(qw))
      .filter(col("rk") <= probes)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
      .join(qn.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("nrm").as("qn")), Seq("query_id"))
      .select(col("cell"), col("query_id"), col("qe"), col("qn"))
    probeRerank(members, q, k)
  }

  /** Shared IVF core: inline `cents` as plan literals, rank cells per
    * vector in one codegen'd projection, probe + exact-rerank. */
  private[graft] def ivfSearch(n: DataFrame, cents: Array[(Long, Seq[Float])],
                               queryPred: Column, k: Int, probes: Int): DataFrame = {
    require(cents.nonEmpty, "ivf: empty centroid set")
    // ascending struct sort on (negsim, cent_id) == (csim DESC,
    // cent_id); arithmetic + zero-norm sentinels live in ONE place
    // ([[centRankArray]] — also the two-level coarse level)
    val assigned = n.withColumn("cells",
      centRankArray(cents.toIndexedSeq, col("embedding"), col("nrm")))
    // cells(0) is the vector's home cell; a query probes its `probes`
    // nearest cells, candidates live in their home cell only.
    val members = assigned.select(
      col("cells").getItem(0).getField("cent_id").as("cell"),
      col("vec_id"), col("embedding"), col("nrm"))
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"), explode(slice(col("cells"), 1, probes)).as("pc"))
      .select(col("pc.cent_id").as("cell"), col("query_id"), col("qe"), col("qn"))
    probeRerank(members, q, k)
  }

  /** Ranked (negsim, cent_id) struct array of a vector against an
    * inlined codebook — THE literal assignment core ([[ivfSearch]]
    * calls it directly; the two-level path calls it for its coarse
    * level): one copy of the value-equality-critical arithmetic.
    * Centroid norms are computed driver-side with the IDENTICAL
    * quantized arithmetic (every term and the Dim-term sum stay
    * < 2^53: the double math is exact, bit-equal to the engine's).
    * Zero-norm degenerate inputs: 0/0 would be NaN (and ANSI makes
    * the division THROW), and NaN's sort position differs between
    * array_sort (last) and a row_number-over-DESC shape (first). A
    * zero-norm VECTOR gets a pinned 0.0 against every centroid
    * (deterministic min-cent_id home); a zero-norm CENTROID gets a
    * +MaxValue sentinel so it sorts LAST and can never capture
    * vectors whose true similarities are all negative. Bounded:
    * inlined codebooks are ≤ [[LargeCodebookCells]] by contract. */
  private[operators] def centRankArray(cents: Seq[(Long, Seq[Float])],
                            emb: Column, nrm: Column): Column =
    array_sort(array(cents.map { case (cid, ce) =>
      val cn = math.sqrt(
        ce.map { x => val q = math.floor(x.toDouble * QScale); q * q }.sum)
      val negsim =
        if (cn == 0.0) lit(Double.MaxValue)
        else when(nrm === 0.0, lit(0.0))
          .otherwise(-(dotQ(emb, typedLit(ce)) / (nrm * lit(cn))))
      struct(negsim.as("negsim"), lit(cid).as("cent_id"))
    }.toIndexedSeq: _*))

  /** TWO-LEVEL coarse-quantized IVF — the 10⁴⁺-cell shape
    * [[ivfSearchJoin]]'s scaladoc names. The single-level join scores
    * every vector against EVERY fine centroid (a corpus × cells
    * map-side product — the assignment itself becomes the bottleneck
    * once cells reaches 10⁴⁺). The standard fix (FAISS's IVF coarse
    * level): quantize the CODEBOOK — k-means a small coarse codebook
    * over the fine-centroid table (cells rows, bounded), assign each
    * fine centroid to its nearest coarse cell, and let every vector
    * rank only the coarse codebook inline (the [[ivfSearch]] literal
    * core: coarseCells ≤ [[LargeCodebookCells]] structs, shuffle-free)
    * then score just the fine centroids living in its `coarseProbes`
    * nearest coarse cells — corpus × (coarseProbes · cells/coarseCells
    * on balanced cells) instead of corpus × cells, a
    * coarseCells/coarseProbes-fold cut of the dominant product.
    *
    * Exactness pin (spec): with coarseProbes = coarseCells every fine
    * centroid is scored exactly once, so assignment — and the whole
    * output — equals [[ivfSearchJoin]] on the same codebook
    * bit-for-bit. Partial coarse probing is approximate at the
    * ASSIGNMENT level (a vector's true nearest fine centroid can live
    * in an unprobed coarse cell); recall vs brute force is
    * spec-measured on planted clustered data and soaked in `graft.Soak Ann`. */
  private[graft] def ivfTwoLevelSearch(n: DataFrame, fineCents: DataFrame,
      queryPred: Column, k: Int, probes: Int,
      coarseCells: Int, coarseProbes: Int, seed: Long = 42L): DataFrame = {
    require(coarseCells <= LargeCodebookCells,
      s"coarse codebook must stay literal-inlinable: $coarseCells")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // coarse codebook: k-means over the fine-centroid TABLE (bounded
    // input — quantizing the codebook, not the corpus)
    val cm = new KMeans()
      .setK(coarseCells).setSeed(seed).setMaxIter(20).setFeaturesCol("features")
      .fit(fineCents.select(array_to_vector(col("cembedding")).as("features")))
    val coarse = cm.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.toSeq.map(_.toFloat))
    }.toIndexedSeq
    // fine → home coarse cell (bounded table, broadcast with norms)
    val fineAssigned = fineCents
      .select(col("cent_id"), col("cembedding"), normQ(col("cembedding")).as("cnrm"))
      .withColumn("coarse",
        centRankArray(coarse, col("cembedding"), col("cnrm"))
          .getItem(0).getField("cent_id"))
    val fineByCoarse = broadcast(fineAssigned)
    // probe only NON-EMPTY coarse cells: k-means trains Euclidean but
    // assignment here is cosine, so coarse cells CAN end up owning no
    // fine centroid — a vector whose every probed cell were empty
    // would silently vanish from the index (no home, no candidates).
    // Restricting the inlined probe codebook to occupied cells makes
    // every probe productive and an orphan impossible. The distinct
    // is a bounded action over the ≤cells-row fine table (the IVF
    // centroid-collect contract, not a data collect).
    val occupied = fineAssigned.select(col("coarse")).distinct()
      .collect().map(_.getLong(0)).toSet
    val probeBook = coarse.filter { case (cid, _) => occupied(cid) }
    def probeCoarse(df: DataFrame): DataFrame = df
      .withColumn("coarse", explode(transform(
        slice(centRankArray(probeBook, col("embedding"), col("nrm")),
          1, coarseProbes),
        s => s.getField("cent_id"))))
    // corpus × probed-fine product exists map-side only (broadcast
    // join + immediate slim projection — the ivfSearchJoin discipline)
    val scored = probeCoarse(n).join(fineByCoarse, Seq("coarse"))
      .select(col("vec_id"), negsimCol.as("negsim"), col("cent_id"))
    val home = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("negsim"), col("cent_id"))).getField("cent_id").as("cell"))
    val members = n.join(home, Seq("vec_id"))
      .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
    val qn = n.filter(queryPred)
    val qw = Window.partitionBy(col("vec_id")).orderBy(col("negsim"), col("cent_id"))
    val q = probeCoarse(qn).join(fineByCoarse, Seq("coarse"))
      .select(col("vec_id"), negsimCol.as("negsim"), col("cent_id"))
      .withColumn("rk", row_number().over(qw))
      .filter(col("rk") <= probes)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
      .join(qn.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("nrm").as("qn")), Seq("query_id"))
      .select(col("cell"), col("query_id"), col("qe"), col("qn"))
    probeRerank(members, q, k)
  }

  /** [[ivfTwoLevelSearch]] with the fine codebook LEARNED on the
    * corpus ([[ivfLearned]]'s k-means conventions). */
  def ivfTwoLevel(corpus: DataFrame, queryPred: Column, k: Int,
                  cells: Int = 4096, coarseCells: Int = 64,
                  probes: Int = 2, coarseProbes: Int = 4,
                  seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val n = withNorm(corpus)
    val model = new KMeans()
      .setK(cells).setSeed(seed).setMaxIter(20).setFeaturesCol("features")
      .fit(n.select(array_to_vector(col("embedding")).as("features")))
    val spark = corpus.sparkSession
    import spark.implicits._
    val fine = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.toArray.toSeq.map(_.toFloat))
    }.toSeq.toDF("cent_id", "cembedding")
    ivfTwoLevelSearch(n, fine, queryPred, k, probes, coarseCells, coarseProbes, seed)
  }
}
