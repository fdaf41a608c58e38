package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.functions.VectorFunctions._
import graft.operators.Dedup

/** §2.D — deduplication suite over `documents` (+ embedding near-dup
  * over `embeddings`). Exact → Jaccard → MinHash/LSH → SimHash →
  * embedding-cosine, in increasing robustness; only the Jaccard
  * baseline (q35) and pair-listing (q38) touch candidate sets wider
  * than a hash bucket, and both exist as correctness baselines for
  * the bucketed scale paths (q36/q37, and q72's dedup-first pair
  * listing for vectors).
  */
object DedupOps extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)

  // ---------------------------------------------------------------
  // q34: exact dedup — one hash window on the normalized fingerprint,
  // min-doc_id survivor. Linear, single shuffle on the hash.
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    docs(s, dir)
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("canon_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("canon_id")).cast("int"))
      .select(col("doc_id"), col("canon_id"), col("is_dup"))
      .orderBy(col("doc_id"))
  }

  // q89: the SOURCE OVERLAP matrix — per unordered source pair, the
  // number of distinct word-5-gram hashes BOTH sources carry: q71's
  // decontamination identity applied pairwise across subsets instead
  // of against one benchmark — the cross-subset leakage audit run
  // before treating sources as independent (exact-fingerprint
  // overlap is the degenerate all-grams-shared case and is already
  // countable from q34/q80). Shape: distinct (source, h) — one
  // int64-keyed aggregation over the one-pass ShingleHashes stream —
  // then a self-join ON h whose fan-out is bounded by the SOURCE
  // COUNT squared per hash (sources are a dataset-design constant,
  // ~dozens), never by corpus size; SHUFFLE_HASH pinned (both sides
  // corpus-shaped) and both steps reuse the same h partitioning.
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val g = docs(s, dir)
      .select(col("source"), explode(
        graft.plans.ShingleHashes(trim(col("text")), ContamN, Dedup.P)).as("h"))
      .distinct()
      .repartition(col("h"))
    g.as("a").hint("shuffle_hash")
      .join(g.as("b"), col("a.h") === col("b.h") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // q90: INCREMENTAL exact dedup — the daily-ingest pattern: the odd
  // half of the corpus arrives as a DELTA against the even half
  // already ingested as BASE; survivors are delta rows that are
  // first-in-delta for their fingerprint AND unseen in the base
  // (Dedup.incrementalSurvivors — fp-keyed min_by + left-anti, no
  // window, no broadcast).
  private def q90(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir).select(col("doc_id"), col("text"), col("source"))
    graft.operators.Dedup.incrementalSurvivors(
      all.filter(col("doc_id") % 2 === 0),
      all.filter(col("doc_id") % 2 === 1),
      keep = Seq("source")) // slim min_by shuffle: no document text
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  private val q90Sql =
    s"""WITH fpd AS (SELECT doc_id, source,
       |    md5(lower(trim(regexp_replace(text, '${TextFunctions.WsPlusRe}', ' ', 'g')))) AS fp
       |  FROM documents),
       |base AS (SELECT DISTINCT fp FROM fpd WHERE doc_id % 2 = 0),
       |delta AS (SELECT * FROM fpd WHERE doc_id % 2 = 1),
       |firsts AS (SELECT fp, min(doc_id) AS doc_id FROM delta GROUP BY fp)
       |SELECT d.doc_id, d.source FROM delta d
       |JOIN firsts f ON f.fp = d.fp AND f.doc_id = d.doc_id
       |WHERE d.fp NOT IN (SELECT fp FROM base)
       |ORDER BY d.doc_id""".stripMargin

  // q92: DIVERSITY survivors — the maximal-independent-set
  // alternative to q70/q82's component collapse: over the q36
  // near-dup graph keep every MUTUALLY-dissimilar doc (no kept pair
  // is an edge) while covering the graph (every dropped doc has a
  // kept near-dup). A chain a~b~c keeps {a, c}; a clique still
  // collapses to one. Luby rounds with fixed salted-md5 priorities
  // == the sequential greedy MIS in (priority, id) order, so the
  // oracle mirrors it as a priority-ordered recursion and the result
  // is byte-reproducible.
  private def q92(s: SparkSession, dir: String): DataFrame =
    graft.operators.Diversity.diversitySurvivors(
      docs(s, dir), minhashPairs(s, dir))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  private lazy val q92Sql =
    s"""WITH RECURSIVE prs AS (SELECT a, b FROM (
       |$q36Sql
       |)),
       |edges AS (SELECT a AS x, b AS y FROM prs
       |          UNION ALL SELECT b AS x, a AS y FROM prs),
       |nodes AS (SELECT node,
       |    CAST(('0x' || substr(md5('42:' || CAST(node AS VARCHAR)), 1, 12)) AS BIGINT) AS p
       |  FROM (SELECT DISTINCT x AS node FROM edges)),
       |ord AS (SELECT node, p, row_number() OVER (ORDER BY p, node) AS rn FROM nodes),
       |g(i, sel) AS (
       |  SELECT 0, CAST([] AS BIGINT[])
       |  UNION ALL
       |  SELECT g.i + 1,
       |    CASE WHEN EXISTS (SELECT 1 FROM edges e
       |                      WHERE e.x = o.node AND list_contains(g.sel, e.y))
       |         THEN g.sel ELSE list_append(g.sel, o.node) END
       |  FROM g JOIN ord o ON o.rn = g.i + 1),
       |mis AS (SELECT unnest(sel) AS node FROM
       |         (SELECT sel FROM g ORDER BY i DESC LIMIT 1)),
       |gn AS (SELECT DISTINCT x AS node FROM edges),
       |dropped AS (SELECT node FROM gn
       |            WHERE node NOT IN (SELECT node FROM mis))
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT node FROM dropped)
       |ORDER BY doc_id""".stripMargin

  // q95: LEAKAGE-FREE train/test split — q33's salted-hash split
  // keyed on the q36 near-dup CLUSTER id, so duplicate families never
  // straddle the train/test boundary (a per-doc split silently turns
  // the eval into a memorization test). Oracle = q70's recursive
  // closure + q33's bucket arithmetic on the group key.
  private def q95(s: SparkSession, dir: String): DataFrame =
    graft.operators.TrainTestSplit.leakageFree(
      docs(s, dir).select(col("doc_id")), minhashPairs(s, dir))
      .select(col("doc_id"), col("group_key"),
        col("bucket").cast("long").as("bucket"), col("split"))
      .orderBy(col("doc_id"))

  private lazy val q95Sql =
    s"""WITH RECURSIVE prs AS (SELECT a, b FROM (
       |$q36Sql
       |)),
       |edges AS (SELECT a AS x, b AS y FROM prs
       |          UNION ALL SELECT b AS x, a AS y FROM prs),
       |r(node, m) AS (
       |  SELECT DISTINCT x, x FROM edges
       |  UNION
       |  SELECT e.x, r.m FROM edges e JOIN r ON r.node = e.y),
       |cl AS (SELECT node, min(m) AS cluster_id FROM r GROUP BY node),
       |gk AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS group_key
       |       FROM documents d LEFT JOIN cl ON d.doc_id = cl.node),
       |h AS (SELECT doc_id, group_key,
       |    CAST(('0x' || substr(md5('split' || CAST(group_key AS VARCHAR)), 1, 4)) AS BIGINT) % 10 AS bucket
       |  FROM gk)
       |SELECT doc_id, group_key, CAST(bucket AS BIGINT) AS bucket,
       |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM h ORDER BY doc_id""".stripMargin

  // q93: content-defined chunk duplication (CDC) — variable-length
  // passage dedup whose boundaries move with the content: shared
  // passages chunk identically at any offset, ~1 hash per 16 words
  // (the cheap screen between q34's whole-doc identity and q77's
  // per-character windows).
  private def q93(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.cdcChunkStats(docs(s, dir))
      .orderBy(col("doc_id"))

  private val q93Sql =
    s"""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
       |hb AS (SELECT doc_id, ws, list_filter(range(1, len(ws) + 1),
       |         i -> i = 1 OR CAST(('0x' || substr(md5(ws[i]), 1, 12)) AS BIGINT) % 16 = 0) AS bnds
       |       FROM d),
       |ch AS (SELECT doc_id,
       |    unnest(list_transform(range(1, len(bnds) + 1),
       |      k -> CAST(('0x' || substr(md5(array_to_string(
       |             ws[bnds[k] : CASE WHEN k = len(bnds) THEN len(ws) ELSE bnds[k+1] - 1 END],
       |             ' ')), 1, 12)) AS BIGINT))) AS c
       |  FROM hb),
       |perdoc AS (SELECT c, doc_id, count(*) AS cc FROM ch GROUP BY 1, 2),
       |nd AS (SELECT c FROM perdoc GROUP BY c HAVING count(*) >= 2),
       |dups AS (SELECT doc_id, CAST(sum(cc) AS BIGINT) AS dup_chunks
       |         FROM perdoc JOIN nd USING (c) GROUP BY doc_id)
       |SELECT hb.doc_id, CAST(len(hb.bnds) AS BIGINT) AS n_chunks,
       |  coalesce(d.dup_chunks, 0) AS dup_chunks
       |FROM hb LEFT JOIN dups d USING (doc_id) ORDER BY hb.doc_id""".stripMargin

  // lazy: ContamN/Dedup.P are declared further down the object; a
  // strict val here would interpolate their uninitialized 0s
  private lazy val q89Sql =
    s"""WITH d AS (SELECT source, string_split(trim(text), ' ') AS ws FROM documents),
       |s AS (SELECT source, list_transform(range(1, len(ws) - ${ContamN - 2}),
       |        i -> CAST(('0x' || substr(md5(${(0 until ContamN).map(j => s"ws[i+$j]").mkString(" || ' ' || ")}), 1, 12)) AS BIGINT) % ${Dedup.P}) AS sh
       |      FROM d WHERE len(ws) >= $ContamN),
       |g AS (SELECT DISTINCT source, unnest(sh) AS h FROM s)
       |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
       |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin

  private val q34Sql =
    s"""WITH f AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '${TextFunctions.WsPlusRe}', ' ', 'g')))) AS fp FROM documents),
       |c AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS canon_id FROM f)
       |SELECT doc_id, canon_id, CAST(doc_id <> canon_id AS INT) AS is_dup
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q35: word-3-gram Jaccard pairs (correctness baseline for q36).
  // The join is keyed per shingle — bounded buckets, not all-pairs.
  // Deliberately UNcapped: this is the exact-Jaccard baseline; the
  // scale path (q36) applies the stop-shingle maxDocFreq guard.
  private def q35(s: SparkSession, dir: String): DataFrame = {
    // cache: referenced three times (sizes + both join sides); the
    // shingle pipeline dominates wall-clock if recomputed per use.
    // Lifecycle: queries are lazy DataFrames, so the runner releases
    // this after materializing (Verify/specs call catalog.clearCache
    // per query) — it never outlives one query in a shared session.
    val e = Dedup.shingleRows(docs(s, dir)).cache()
    val sz = e.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val ea = e.select(col("doc_id").as("a"), col("g"))
    val eb = e.select(col("doc_id").as("b"), col("g"))
    ea.join(eb, Seq("g")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("jacc", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jacc") >= 0.5)
      .select(col("a"), col("b"), col("jacc"))
      .orderBy(col("a"), col("b"))
  }

  private val q35Sql =
    """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS sh
      |      FROM d WHERE len(ws) >= 3),
      |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s),
      |e AS (SELECT doc_id, unnest(sh) AS g FROM s),
      |p AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
      |      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT p.a, p.b, inter / (sa.n + sb.n - inter) AS jacc
      |FROM p JOIN sz sa ON p.a = sa.doc_id JOIN sz sb ON p.b = sb.doc_id
      |WHERE inter / (sa.n + sb.n - inter) >= 0.5
      |ORDER BY p.a, p.b""".stripMargin

  // ---------------------------------------------------------------
  // q36: MinHash + LSH banding — the scale path. Candidates only from
  // (band, band-key) bucket collisions; similarity estimated from the
  // signatures themselves (no second pass over text).
  // hash boundary before the protocol sort (the q37 lesson): the
  // range exchange samples its child with a separate job, and q36's
  // sort child is the whole band self-join — the repartition is the
  // materialized re-read point so sampling re-reads shuffle files
  // instead of re-executing the join.
  private def q36(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir).repartition(col("a")).orderBy(col("a"), col("b"))

  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    // The signature table (one slim row per doc, 250x smaller than the
    // shingle stream feeding it) feeds both band-join branches; AQE's
    // broadcast conversion drops the exchanges reuse would need, so
    // materialize it ONCE per query instead of computing it twice.
    // localCheckpoint (not cache) keeps the materialization scoped to
    // this query's plan object; at cluster scale this is the classic
    // "persist the signatures, they're tiny" step of every LSH corpus.
    // eager=false: materializes at the query's first ACTION — eager
    // would run the whole signature job at DataFrame-construction
    // time, which e.g. the plan-shape spec does just to look at plan
    // strings.
    // Stop-shingle guard: a shingle in >10% of documents carries no
    // dedup signal but turns its bucket quadratic at corpus scale.
    // Nothing in the synthetic corpus reaches the bound (max DF is
    // ~0.5%), so the guard exists purely for the 100-TB shape
    // (skew-planted spec proves it bounds candidates).
    // signature base: the native one-pass shingle-hash stream (no
    // word-window shuffle, no n-gram strings; see ShingleHashes).
    // Pair emission: one band self-join with first-match-band
    // ownership — no pair-distinct exchange, no signature join-backs
    // (Dedup.minhashPairsOwned scaladoc; 12% at sf1, 3 fewer keyed
    // exchanges at cluster scale). A/B'd equal-output vs the slim
    // join+distinct+join-back shape on the sf1 corpus.
    // Round 18: the nDocs/10 guard threshold arrives as a 1-row
    // broadcast branch (shingleHashRowsCorpusGuard) instead of a
    // sequential docs.count() action before the pipeline — the q87
    // global-N discipline; value bit-identical.
    val sig = Dedup.withSignatureFromHashes(
      Dedup.shingleHashRowsCorpusGuard(docs(s, dir)))
      .transform(graft.operators.Pin(_))
    Dedup.minhashPairsOwned(sig)
  }

  // NB the shingle stream is keyed on the 48-bit md5 hash end-to-end
  // (including the document-frequency guard), mirroring the Spark
  // side's native ShingleHashes path — both engines hash first, so a
  // hash collision merges the same DF count on both.
  private val q36Sql =
    s"""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
       |s AS (SELECT doc_id, list_transform(range(1, len(ws)-1), i -> CAST(('0x'||substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]),1,12)) AS BIGINT) % ${Dedup.P}) AS sh
       |      FROM d WHERE len(ws) >= 3),
       |e0 AS (SELECT doc_id, unnest(sh) AS h FROM s),
       |keep AS (SELECT h FROM e0 GROUP BY h
       |         HAVING count(DISTINCT doc_id) <= greatest(1, (SELECT count(*) // 10 FROM documents))),
       |hs AS (SELECT doc_id, list(h) AS hv
       |       FROM e0 JOIN keep USING (h) GROUP BY doc_id),
       |sig AS (SELECT doc_id, list_transform(range(0, ${Dedup.NumHashes}), i -> list_min(list_transform(hv, h -> ((2*i+3)*h + (5*i+7)) % ${Dedup.P}))) AS sg FROM hs),
       |bands AS (SELECT doc_id, sg, b, md5(array_to_string(sg[b*${Dedup.RowsPerBand}+1 : b*${Dedup.RowsPerBand}+${Dedup.RowsPerBand}], ',')) AS bkey
       |          FROM sig, range(0, ${Dedup.Bands}) t(b)),
       |cand AS (SELECT a.doc_id AS a, b.doc_id AS b, first(a.sg) AS sa, first(b.sg) AS sb
       |         FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |         GROUP BY a.doc_id, b.doc_id)
       |SELECT a, b,
       |  CAST(list_sum(list_transform(range(1, ${Dedup.NumHashes + 1}), i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / ${Dedup.NumHashes} AS sim_est
       |FROM cand
       |WHERE CAST(list_sum(list_transform(range(1, ${Dedup.NumHashes + 1}), i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS DOUBLE) / ${Dedup.NumHashes} >= 0.5
       |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------
  // q37: 60-bit SimHash over the word multiset + block-PAIR hamming
  // buckets (8 blocks, C(8,2)=28 pair tables — pigeonhole: hamming
  // ≤ 6 pairs ALWAYS share a clean block pair; see Dedup.simhashPairs
  // for why pair keys beat single-block bands at corpus scale).
  // Distributed shape: explode words → 60 codegen'd conditional SUMs
  // with map-side partial aggregation (NOT per-row lambda aggregates,
  // which run interpreted and are ~100x slower), then one bit-fold
  // projection; pairing in Dedup.simhashPairs.
  private def q37(s: SparkSession, dir: String): DataFrame = {
    // Signature = plans/SimHash60, a native one-pass expression: the
    // base is a pure map-stage projection with NO explode, aggregation
    // or exchange (the earlier explode → 60-conditional-sum shape
    // shuffled docs×60 partial counters; a (doc, word) count pre-agg
    // measured ~30% slower still). Hash inside: 60-bit md5 prefix —
    // PORTABLE (DuckDB computes the same value), which is what lets
    // q37 carry a full value-hash oracle; the oracle SQL still runs
    // the explode pipeline and PropertySpec pins the equality. NB a
    // signed hash would silently break the bit tests: shiftright(h,b)
    // % 2 on a negative long is -1/0, never 1 — md5-prefix is
    // non-negative by construction.
    // NULL-text docs get a NULL signature (the oracle's explode
    // pipeline emits no row for them instead) — filter them here so
    // the pinned base has the oracle's exact cardinality and no
    // future consumer of it (counts, joins on simhash) sees phantom
    // NULL rows. Pair output was already identical either way: a
    // NULL bucket key joins nothing.
    // Spread BEFORE the signature projection (round 19): the pinned
    // base inherits its upstream partitioning, and at bench scale the
    // single-row-group documents file leaves it at 1-2 partitions —
    // AQE then broadcasts the tiny band side, so the candidate join's
    // probe stage (the 1.8M-pair EMISSION, the query's dominant cost)
    // streams over those same 1-2 partitions: near-serial. The dial
    // re-opens scan parallelism only when planned splits < cores (a
    // production layout is a no-op); interleaved A/B (4
    // rounds): 2.52 → 1.07 s at sf0.1. A SHUFFLE_HASH hint on the
    // join measured the same fix (1.13) from the other end — by
    // forcing an exchange that happened to re-parallelize the probe —
    // but overrides the size-based broadcast everywhere; rejected.
    val base = graft.operators.Spread(docs(s, dir))
      .select(col("doc_id"), Dedup.simhash60(col("text")).as("simhash"))
      .filter(col("simhash").isNotNull)
    // simhashPairs pins the (doc_id, simhash) table: its band
    // self-join would otherwise put the signature stage on BOTH join
    // branches whenever exchange reuse fails to fire.
    //
    // The repartition below exists for the protocol ORDER BY: a range
    // exchange computes its partition bounds by SAMPLING its child
    // with a separate job, so sorting the join output directly
    // executes the 100M-candidate join twice (the retired distinct's
    // hash exchange used to sit in between as the cheap re-read
    // point; measured 2x q37 wall at sf1 without one). A hash
    // exchange is the right boundary — a Pin works too but parks the
    // 23M-row pair set in executor block memory for the rest of the
    // session (measured 2-3x on the queries benched after q37);
    // shuffle files cost nothing after the stage completes.
    Dedup.simhashPairs(base, maxHamming = 12)
      .repartition(col("a"))
      .orderBy(col("a"), col("b"))
  }

  // Oracle mirror of the whole simhash pipeline: per-word 60-bit md5
  // hash → 60 signed bit-votes per doc → bit-fold → 28 block-pair
  // buckets → any-table candidate pairs → hamming filter. Every step
  // is integer-exact in both engines; the combos VALUES list is
  // generated from the same Dedup constants the Spark side uses.
  private val simCombosSql = Dedup.SimPairCombos.zipWithIndex.map {
    case ((i, j), c) =>
      s"($c,${Dedup.SimBlockShifts(i)},${Dedup.SimBlockWidths(i)}," +
        s"${Dedup.SimBlockShifts(j)},${Dedup.SimBlockWidths(j)})"
  }.mkString(",")

  private val q37Sql =
    s"""WITH w AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents),
       |h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM w),
       |bits AS (SELECT doc_id, t.b,
       |    sum(CASE WHEN (h >> CAST(t.b AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM h, range(0, 60) t(b) GROUP BY doc_id, t.b),
       |sh AS (SELECT doc_id,
       |    sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END) AS simhash
       |  FROM bits GROUP BY doc_id),
       |combos(c, s1, w1, s2, w2) AS (VALUES $simCombosSql),
       |bands AS (SELECT doc_id, c AS b,
       |    ((simhash >> s1) % (CAST(1 AS BIGINT) << w1)) * (CAST(1 AS BIGINT) << w2)
       |      + ((simhash >> s2) % (CAST(1 AS BIGINT) << w2)) AS bkey
       |  FROM sh, combos),
       |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |p AS (SELECT c.a, c.b,
       |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
       |  FROM cand c JOIN sh sa ON c.a = sa.doc_id JOIN sh sb ON c.b = sb.doc_id)
       |SELECT a, b, hamming FROM p WHERE hamming <= 12 ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------
  // q106: the SCALE-SAFE SimHash row (round-14 verdict #2). q37 is
  // the correctness baseline — the UNCAPPED pair listing, whose sf10
  // cost (276.7 s) is bounded by its genuinely quadratic output on a
  // duplicate-heavy corpus (2.1B hamming≤12 pairs). A production run
  // on such a corpus uses THIS row instead: maxBucketPop drops
  // buckets whose population exceeds the cap (those are ≥cap-sized
  // near-identical cliques — collapse them with exact/minhash dedup
  // FIRST, never pair-list them), and maxHamming=3 is the web-scale
  // operating point (Manku et al. used k=3 at 8B docs). The candidate
  // set is integer-exact — the hot-bucket guard is a counted GROUP BY
  // + anti-join — so the capped path carries a full value-hash oracle
  // like q36's. Cap=16 is exercised by the oracle data itself (~20
  // buckets over it at sf0.01, max pop 36); at production scale the
  // cap is an absolute clique-size bound, corpus-size-independent.
  private val SimCap = 16L

  private def q106(s: SparkSession, dir: String): DataFrame = {
    // (q37's Spread dial was A/B'd here too and measured FLAT —
    // old {1.703, 1.386} vs new {1.536, 1.669} s interleaved at
    // sf0.1: with maxHamming=3 the hamming filter kills candidates
    // before the expensive ownership/distinct work, so the capped
    // path is not emission-bound the way q37 is. Not applied.)
    val base = docs(s, dir)
      .select(col("doc_id"), Dedup.simhash60(col("text")).as("simhash"))
      .filter(col("simhash").isNotNull)
    // capped path ends in a true-near-pair distinct (hash exchange),
    // so the presentation sort re-reads from that boundary — no extra
    // repartition needed (q37's exists because ITS pair stream has no
    // exchange between the join and the sort).
    Dedup.simhashPairs(base, maxHamming = 3, maxBucketPop = Some(SimCap))
      .orderBy(col("a"), col("b"))
  }

  private val q106Sql =
    s"""WITH w AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents),
       |h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h FROM w),
       |bits AS (SELECT doc_id, t.b,
       |    sum(CASE WHEN (h >> CAST(t.b AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM h, range(0, 60) t(b) GROUP BY doc_id, t.b),
       |sh AS (SELECT doc_id,
       |    sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END) AS simhash
       |  FROM bits GROUP BY doc_id),
       |combos(c, s1, w1, s2, w2) AS (VALUES $simCombosSql),
       |allbands AS (SELECT doc_id, simhash, c AS b,
       |    ((simhash >> s1) % (CAST(1 AS BIGINT) << w1)) * (CAST(1 AS BIGINT) << w2)
       |      + ((simhash >> s2) % (CAST(1 AS BIGINT) << w2)) AS bkey
       |  FROM sh, combos),
       |hot AS (SELECT b, bkey FROM allbands GROUP BY b, bkey HAVING count(*) > $SimCap),
       |bands AS (SELECT a.* FROM allbands a ANTI JOIN hot h ON a.b = h.b AND a.bkey = h.bkey),
       |p AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT a, b, hamming FROM p WHERE hamming <= 3 ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------
  // q38: embedding-cosine near-dup pairs — top-100 all-pairs baseline
  // (the bucketed scale path for vectors is q72's dedup-first
  // nearDupPairs listing; q40's hyperplane LSH is the query-side path).
  // Integer-quantized dot/norm → bit-identical float64 vs the oracle.
  private def q38(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), normQ(col("embedding")).as("nrm"))
    // Spread the STREAMED side of the all-pairs nested-loop join
    // (round 19): the broadcast side is one full copy everywhere, but
    // the N²/2 pair emission + cosine runs on the streamed side's scan
    // splits — a single-row-group embeddings file serialized the whole
    // quadratic baseline onto 1 task at any local core count (54.9 s
    // at sf1). Spread fires only when planned splits < cores, so a
    // production layout is a no-op. Measured 54.9 → 5.1 s at sf1 (driver protocol, BENCH_ONLY).
    val a = graft.operators.Spread(n, "vec_id")
      .select(col("vec_id").as("a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("a") < col("b"))
      .withColumn("sim", cosineWithNorms(col("ea"), col("na"), col("eb"), col("nb")))
      .select(col("a"), col("b"), col("sim"))
      .orderBy(col("sim").desc, col("a"), col("b"))
      .limit(100)
  }

  private val q38Sql =
    """WITH q AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, qv,
      |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
      |  FROM q),
      |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
      |    CAST(list_sum(list_transform(range(1,65), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (a.nrm * b.nrm) AS sim
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT a, b, sim FROM p ORDER BY sim DESC, a, b LIMIT 100""".stripMargin

  // ---------------------------------------------------------------
  // q70: pair list → duplicate CLUSTERS (connected components by
  // min-label propagation over the q36 MinHash pairs) — the survivor-
  // selection step after any near-dup pair generation: keep
  // cluster_id == doc_id, drop the rest. The DuckDB oracle computes
  // the same fixpoint as a recursive min-reachability closure (exact
  // on the planted corpus's small components; the Spark loop is the
  // shape that scales — see ConnectedComponents scaladoc).
  private def q70(s: SparkSession, dir: String): DataFrame =
    graft.operators.ConnectedComponents.clusters(minhashPairs(s, dir))
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))

  private val q70Sql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a, b FROM (
       |$q36Sql
       |  )),
       |edges AS (
       |  SELECT a AS x, b AS y FROM pairs
       |  UNION ALL
       |  SELECT b AS x, a AS y FROM pairs),
       |r(node, m) AS (
       |  SELECT DISTINCT x, x FROM edges
       |  UNION
       |  SELECT e.x, r.m FROM edges e JOIN r ON r.node = e.y)
       |SELECT node AS doc_id, min(m) AS cluster_id
       |FROM r GROUP BY node ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q71: benchmark DECONTAMINATION — flag training docs that share
  // any word 5-gram with the held-out benchmark set (the standard
  // train/eval overlap check run before every pretraining job; 5-gram
  // hash membership is the GPT-3/PaLM-style n-gram collision test).
  // Stand-in benchmark = the first 20 doc_ids. Shapes for scale: the
  // benchmark side is tiny by definition — its distinct 5-gram hash
  // set BROADCASTS — and the corpus side is the same one-pass native
  // ShingleHashes stream as q36 (map-only) feeding one per-doc
  // aggregation; nothing shuffles but the flagged sliver.
  private val BenchDocs = 20L
  private val ContamN = 5

  private def q71(s: SparkSession, dir: String): DataFrame =
    Dedup.contaminated(docs(s, dir), col("doc_id") < BenchDocs, ContamN)
      .orderBy(col("doc_id"))

  private val q71Sql =
    s"""WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
       |s AS (SELECT doc_id, list_transform(range(1, len(ws) - ${ContamN - 2}),
       |        i -> CAST(('0x' || substr(md5(${(0 until ContamN).map(j => s"ws[i+$j]").mkString(" || ' ' || ")}), 1, 12)) AS BIGINT) % ${Dedup.P}) AS sh
       |      FROM d WHERE len(ws) >= $ContamN),
       |e AS (SELECT doc_id, unnest(sh) AS h FROM s),
       |bench AS (SELECT DISTINCT h FROM e WHERE doc_id < $BenchDocs)
       |SELECT doc_id, count(DISTINCT h) AS n_shared
       |FROM e JOIN bench USING (h)
       |WHERE doc_id >= $BenchDocs
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q77: exact-substring duplication signal (Lee et al. 2022) — per
  // doc, how many of its 40-char windows occur in at least one other
  // document. The duplication mode word shingles miss: long verbatim
  // spans. Spark keys windows on the one-pass ROLLING polynomial
  // hash (`plans/RollingHashes`, O(chars)); the oracle computes the
  // identical hash as a direct per-window sum over unicode code
  // points with the power table inlined as literals (O(chars·L) —
  // SQL cannot express the rolling reuse without recursion). Both
  // engines key everything on h, so the ~n²/2M hash collisions are
  // shared bit-for-bit.
  private val SubL = 40

  private def q77(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSubstringStats(docs(s, dir), SubL).orderBy(col("doc_id"))

  private val q77Sql = {
    val m = graft.plans.RollingHashes.M
    val pows = graft.plans.RollingHashes.powersSqlList(SubL)
    s"""WITH cps AS (SELECT doc_id, length(text) AS n,
       |    list_transform(range(1, length(text) + 1), i -> CAST(unicode(text[i]) AS BIGINT)) AS c
       |  FROM documents),
       |w AS (SELECT doc_id, unnest(list_transform(range(1, n - ${SubL - 1} + 1), i ->
       |    list_sum(list_transform(range(0, $SubL), j -> (c[i+j] * ($pows)[j+1]) % $m)) % $m)) AS h
       |  FROM cps WHERE n >= $SubL),
       |perdoc AS (SELECT h, doc_id, count(*) AS cw FROM w GROUP BY 1, 2),
       |multi AS (SELECT h FROM perdoc GROUP BY h HAVING count(*) >= 2),
       |dups AS (SELECT doc_id, CAST(sum(cw) AS BIGINT) AS dup_windows
       |  FROM perdoc JOIN multi USING (h) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(greatest(length(d.text) - ${SubL - 1}, 0) AS BIGINT) AS n_windows,
       |  coalesce(dup_windows, 0) AS dup_windows,
       |  CAST(coalesce(dup_windows, 0) AS DOUBLE)
       |    / nullif(greatest(length(d.text) - ${SubL - 1}, 0), 0) AS dup_frac
       |FROM documents d LEFT JOIN dups USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q79: the SURGERY half of exact-substring dedup — stripDupSpans'
  // OUTPUT text (not just q77's stats) pinned cross-engine. The
  // operator decides ownership on actual slice content (hash is only
  // Spark's pre-filter), so the oracle needs no hash at all: group
  // windows by their literal 40-char substring, keep-first, merge
  // overlapping cut intervals (gaps-and-islands), stitch the kept
  // segments. ORDER BY inside string_agg keeps segment order exact.
  private def q79(s: SparkSession, dir: String): DataFrame =
    // Spread (round 19): the per-character RollingHashes pass +
    // posexplode (one row per char position) otherwise runs on the
    // raw file's 1-2 scan splits; no-op on production layouts.
    Dedup.stripDupSpans(graft.operators.Spread(docs(s, dir)), SubL)
      .orderBy(col("doc_id"))

  private val q79Sql =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |occ AS (SELECT doc_id, text, unnest(range(0, greatest(n - ${SubL - 1}, 0))) AS pos FROM d),
       |o2 AS (SELECT doc_id, pos, substr(text, CAST(pos + 1 AS INT), $SubL) AS slice FROM occ),
       |g AS (SELECT slice, min(struct_pack(doc_id := doc_id, pos := pos)) AS owner
       |      FROM o2 GROUP BY slice HAVING count(DISTINCT doc_id) >= 2),
       |rem AS (SELECT o2.doc_id, o2.pos FROM o2 JOIN g USING (slice)
       |        WHERE NOT (o2.doc_id = g.owner.doc_id AND o2.pos = g.owner.pos)),
       |rem2 AS (SELECT doc_id, pos,
       |    CASE WHEN pos <= coalesce(max(pos + $SubL) OVER (PARTITION BY doc_id ORDER BY pos
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 0 ELSE 1 END AS brk
       |  FROM rem),
       |rem3 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM rem2),
       |iv AS (SELECT doc_id, min(pos) AS s, max(pos) + $SubL AS e FROM rem3 GROUP BY doc_id, grp),
       |tails AS (SELECT doc_id, max(e) AS ks FROM iv GROUP BY doc_id),
       |segs AS (
       |  SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ks, s AS ke FROM iv
       |  UNION ALL
       |  SELECT t.doc_id, t.ks, d.n AS ke FROM tails t JOIN d USING (doc_id)
       |),
       |cleaned AS (SELECT s.doc_id,
       |    string_agg(substr(d.text, CAST(s.ks + 1 AS INT), CAST(greatest(s.ke - s.ks, 0) AS INT)), '' ORDER BY s.ks) AS clean_text
       |  FROM segs s JOIN d USING (doc_id) GROUP BY s.doc_id)
       |SELECT d.doc_id, CASE WHEN c.clean_text IS NULL THEN d.text ELSE c.clean_text END AS clean_text
       |FROM d LEFT JOIN cleaned c USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q82: QUALITY-aware survivor selection — within each q36 near-dup
  // cluster keep the LONGEST member (ties -> min doc_id) instead of
  // q70's min-id rule: the policy a production dedup actually wants
  // (drop the truncated mirror, keep the full copy). Oracle reuses
  // q70's recursive closure; the (length desc, id asc) argmax is the
  // exact int64 key length*10^10 - doc_id on BOTH engines' bounds
  // (text length < 10^6, doc_id < 10^10 -> key < 2^63, and the key
  // order equals the struct(score, -id) order the operator uses).
  private def q82(s: SparkSession, dir: String): DataFrame =
    graft.operators.ConnectedComponents.survivorsBy(
      docs(s, dir), minhashPairs(s, dir), length(col("text")).cast("long"))
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .orderBy(col("doc_id"))

  private val q82Sql =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT a, b FROM (
       |$q36Sql
       |  )),
       |edges AS (
       |  SELECT a AS x, b AS y FROM pairs
       |  UNION ALL
       |  SELECT b AS x, a AS y FROM pairs),
       |r(node, m) AS (
       |  SELECT DISTINCT x, x FROM edges
       |  UNION
       |  SELECT e.x, r.m FROM edges e JOIN r ON r.node = e.y),
       |cl AS (SELECT node, min(m) AS cluster_id FROM r GROUP BY node),
       |members AS (SELECT d.doc_id, cl.cluster_id, CAST(length(d.text) AS BIGINT) AS s
       |            FROM documents d JOIN cl ON d.doc_id = cl.node),
       |winners AS (SELECT max_by(doc_id, s * 10000000000 - doc_id) AS doc_id
       |            FROM members GROUP BY cluster_id),
       |losers AS (SELECT doc_id FROM members
       |           WHERE doc_id NOT IN (SELECT doc_id FROM winners))
       |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS len
       |FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q81: SURGICAL decontamination — q71's collision check turned into
  // span surgery: cut the 40-char windows a training doc shares
  // verbatim with the benchmark set (doc_id < 20, q71's stand-in) and
  // keep the rest of the document. Spark pre-filters on the broadcast
  // benchmark window-hash set and verifies actual slices before
  // cutting (the q79 exactness contract); the oracle needs no hash —
  // it joins training windows to benchmark slices by content and
  // stitches kept segments with the same gaps-and-islands merge.
  private def q81(s: SparkSession, dir: String): DataFrame =
    Dedup.decontaminateStrip(docs(s, dir), col("doc_id") < BenchDocs, SubL)
      .orderBy(col("doc_id"))

  private val q81Sql =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
       |bw AS (SELECT DISTINCT substr(text, CAST(i AS INT), $SubL) AS slice
       |       FROM (SELECT text, unnest(range(1, greatest(n - ${SubL - 1}, 0) + 1)) AS i
       |             FROM d WHERE doc_id < $BenchDocs)),
       |tr AS (SELECT doc_id, text, n FROM d WHERE doc_id >= $BenchDocs),
       |occ AS (SELECT doc_id, text, unnest(range(0, greatest(n - ${SubL - 1}, 0))) AS pos FROM tr),
       |rem AS (SELECT o.doc_id, o.pos FROM occ o
       |        JOIN bw ON substr(o.text, CAST(o.pos + 1 AS INT), $SubL) = bw.slice),
       |rem2 AS (SELECT doc_id, pos,
       |    CASE WHEN pos <= coalesce(max(pos + $SubL) OVER (PARTITION BY doc_id ORDER BY pos
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 0 ELSE 1 END AS brk
       |  FROM rem),
       |rem3 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM rem2),
       |iv AS (SELECT doc_id, min(pos) AS s, max(pos) + $SubL AS e FROM rem3 GROUP BY doc_id, grp),
       |tails AS (SELECT doc_id, max(e) AS ks FROM iv GROUP BY doc_id),
       |segs AS (
       |  SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ks, s AS ke FROM iv
       |  UNION ALL
       |  SELECT t.doc_id, t.ks, tr.n AS ke FROM tails t JOIN tr USING (doc_id)
       |),
       |cleaned AS (SELECT s.doc_id,
       |    string_agg(substr(tr.text, CAST(s.ks + 1 AS INT), CAST(greatest(s.ke - s.ks, 0) AS INT)), '' ORDER BY s.ks) AS clean_text
       |  FROM segs s JOIN tr USING (doc_id) GROUP BY s.doc_id)
       |SELECT tr.doc_id, CASE WHEN c.clean_text IS NULL THEN tr.text ELSE c.clean_text END AS clean_text
       |FROM tr LEFT JOIN cleaned c USING (doc_id) ORDER BY tr.doc_id""".stripMargin

  override val all: Seq[QueryDef] = Seq(
    QueryDef("q34_dedup_exact", q34, Some(q34Sql)),
    QueryDef("q35_dedup_jaccard", q35, Some(q35Sql)),
    QueryDef("q36_dedup_minhash", q36, Some(q36Sql)),
    QueryDef("q37_dedup_simhash", q37, Some(q37Sql)),
    QueryDef("q38_dedup_embedding", q38, Some(q38Sql)),
    QueryDef("q70_dedup_clusters", q70, Some(q70Sql)),
    QueryDef("q71_decontaminate", q71, Some(q71Sql)),
    QueryDef("q77_dup_substrings", q77, Some(q77Sql)),
    QueryDef("q79_strip_dup_spans", q79, Some(q79Sql)),
    QueryDef("q81_decontaminate_strip", q81, Some(q81Sql)),
    QueryDef("q82_survivors_quality", q82, Some(q82Sql)),
    QueryDef("q89_source_overlap", q89, Some(q89Sql)),
    QueryDef("q90_incremental_dedup", q90, Some(q90Sql)),
    QueryDef("q92_diversity_mis", q92, Some(q92Sql)),
    QueryDef("q93_cdc_chunks", q93, Some(q93Sql)),
    QueryDef("q95_leakage_free_split", q95, Some(q95Sql)),
    QueryDef("q106_simhash_capped", q106, Some(q106Sql)))

  /** q35/q38 are the quadratic correctness baselines and q79's oracle
    * mirror materializes every window's 40-char slice (fine at the
    * sf0.01 correctness gate, pathological as a DuckDB TIMING side) —
    * the headline bench runs the bucketed/hashed scale paths
    * instead. */
  override def headline: Seq[String] =
    Seq("q34_dedup_exact", "q36_dedup_minhash", "q37_dedup_simhash",
      "q70_dedup_clusters", "q71_decontaminate", "q77_dup_substrings",
      "q89_source_overlap", "q90_incremental_dedup", "q93_cdc_chunks",
      "q106_simhash_capped")
}
