package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.Dim
import graft.operators.{Pq, Similarity}

/** §2.E — similarity search over `embeddings`. q39 is the exact
  * baseline; q40/q41 are the bucketed ANN scale paths. ALL THREE are
  * DuckDB-oracle-checked: every similarity/projection is exact int64
  * arithmetic surfaced as a double both engines compute bit-
  * identically, so even the ANN candidate sets are reproducible SQL.
  * The spec additionally pins q40/q41 recall against the q39
  * baseline.
  */
object SimilarityOps extends QueryModule {

  private val K = 5
  private val NumQueries = 10   // query set: vec_id < 10
  private val NumCents = 8      // IVF seed centroids: vec_id < 8

  // q39: brute-force cosine top-k.
  private def q39(s: SparkSession, dir: String): DataFrame =
    Similarity.knnBrute(Tables.embeddings(s, dir), col("vec_id") < NumQueries, K)

  private val q39Sql =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (SELECT vec_id, qv,
       |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
       |  FROM q),
       |p AS (SELECT qr.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1,65), i -> qr.qv[i] * n.qv[i])) AS DOUBLE)
       |      / (qr.nrm * n.nrm) AS sim
       |  FROM n qr JOIN n ON n.vec_id <> qr.vec_id
       |  WHERE qr.vec_id < $NumQueries),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // q40: random-hyperplane LSH bucketed ANN + exact rerank. Oracle-
  // checkable since the projections became exact int64 (quantized
  // components × integer plane coefficients — the whole index is
  // deterministic arithmetic both engines reproduce bit-for-bit).
  private def q40(s: SparkSession, dir: String): DataFrame =
    Similarity.annLsh(Tables.embeddings(s, dir), col("vec_id") < NumQueries, K)

  private val q40Sql =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (SELECT vec_id, qv,
       |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
       |  FROM q),
       |proj AS (SELECT v.vec_id, t.j,
       |    list_sum(list_transform(range(1, 65), i ->
       |      v.qv[i] * (2*((CAST(t.j AS BIGINT)*73856093 + CAST(i-1 AS BIGINT)*19349663) % 1000003) - 1000003))) AS dot
       |  FROM q v, range(0, ${Similarity.NumTables * Similarity.PlanesPerTable}) t(j)),
       |ent AS (SELECT vec_id, j // ${Similarity.PlanesPerTable} AS tbl,
       |    sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << CAST(j % ${Similarity.PlanesPerTable} AS INT) ELSE 0 END) AS bkey
       |  FROM proj GROUP BY vec_id, j // ${Similarity.PlanesPerTable}),
       |cand AS (SELECT DISTINCT qe.vec_id AS query_id, e.vec_id AS neighbor_id
       |  FROM ent qe JOIN ent e ON qe.tbl = e.tbl AND qe.bkey = e.bkey AND e.vec_id <> qe.vec_id
       |  WHERE qe.vec_id < $NumQueries),
       |p AS (SELECT c.query_id, c.neighbor_id,
       |    CAST(list_sum(list_transform(range(1,65), i -> nq.qv[i] * nn.qv[i])) AS DOUBLE)
       |      / (nq.nrm * nn.nrm) AS sim
       |  FROM cand c JOIN n nq ON nq.vec_id = c.query_id JOIN n nn ON nn.vec_id = c.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // q72: bucketed near-dup PAIR LISTING — q38's scale path (the
  // vector analog of q36's band join), DEDUP-BEFORE-INDEXING shape:
  // exact-dup families collapse on the quantized vector first, the
  // LSH index joins only family representatives, and caught rep
  // pairs + within-family pairs expand back to member pairs. The
  // output is "pairs the index catches at sim >= MinDupSim": bucket
  // keys are exact int64 arithmetic and the family key is the exact
  // quantized vector, so the caught-pair SET is deterministic and
  // byte-reproducible in DuckDB (ownership emission == the oracle's
  // DISTINCT by the minhashPairsOwned argument; the spec pins
  // subset-of-brute and planted-dup capture).
  private val MinDupSim = 0.45
  private val DupT = Similarity.NumTables
  private val DupP = Similarity.DupPlanes

  // the q36/q37/q78 sort discipline: the protocol sort's range
  // sampler re-executes its child (the union of expansion joins) —
  // the hash repartition is the materialized re-read point
  // (measured 1.45 s → 0.95 s at sf1; q77 tested the same pin and
  // LOST 0.5 s — its sort child resamples from existing shuffle
  // files cheaply, so the extra exchange only costs there)
  private def q72(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Tables.embeddings(s, dir), MinDupSim)
      .repartition(col("a"))
      .orderBy(col("a"), col("b"))

  private val q72Sql =
    s"""WITH qall AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |fam AS (SELECT vec_id, qv, min(vec_id) OVER (PARTITION BY qv) AS rep FROM qall),
       |q AS (SELECT vec_id, qv FROM fam WHERE vec_id = rep),
       |n AS (SELECT vec_id, qv,
       |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
       |  FROM q),
       |proj AS (SELECT v.vec_id, t.j,
       |    list_sum(list_transform(range(1, 65), i ->
       |      v.qv[i] * (2*((CAST(t.j AS BIGINT)*73856093 + CAST(i-1 AS BIGINT)*19349663) % 1000003) - 1000003))) AS dot
       |  FROM q v, range(0, ${DupT * DupP}) t(j)),
       |ent AS (SELECT vec_id, j // $DupP AS tbl,
       |    sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << CAST(j % $DupP AS INT) ELSE 0 END) AS bkey
       |  FROM proj GROUP BY vec_id, j // $DupP),
       |cand AS (SELECT DISTINCT a.vec_id AS ra, b.vec_id AS rb
       |  FROM ent a JOIN ent b ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       |rp AS (SELECT c.ra, c.rb,
       |    CAST(list_sum(list_transform(range(1,65), i -> na.qv[i] * nb.qv[i])) AS DOUBLE)
       |      / (na.nrm * nb.nrm) AS sim
       |  FROM cand c JOIN n na ON na.vec_id = c.ra JOIN n nb ON nb.vec_id = c.rb
       |  WHERE CAST(list_sum(list_transform(range(1,65), i -> na.qv[i] * nb.qv[i])) AS DOUBLE)
       |      / (na.nrm * nb.nrm) >= $MinDupSim),
       |selfsim AS (SELECT vec_id AS rep,
       |    CASE WHEN nrm = 0 THEN 0.0 ELSE 1.0 END AS sim
       |  FROM n),
       |same AS (SELECT m1.vec_id AS a, m2.vec_id AS b, s.sim
       |  FROM fam m1 JOIN fam m2 ON m1.rep = m2.rep AND m1.vec_id < m2.vec_id
       |  JOIN selfsim s ON s.rep = m1.rep WHERE s.sim >= $MinDupSim),
       |crossx AS (SELECT least(ma.vec_id, mb.vec_id) AS a,
       |    greatest(ma.vec_id, mb.vec_id) AS b, rp.sim
       |  FROM rp JOIN fam ma ON ma.rep = rp.ra JOIN fam mb ON mb.rep = rp.rb)
       |SELECT a, b, sim FROM (SELECT * FROM same UNION ALL SELECT * FROM crossx)
       |ORDER BY a, b""".stripMargin

  // q41: IVF-style seeded centroids, home-cell assignment, 2-probe.
  // Same determinism argument as q40: every similarity is a double
  // computed from exact int64 quantized sums, so cell assignment and
  // ranking reproduce identically in DuckDB.
  private def q41(s: SparkSession, dir: String): DataFrame =
    Similarity.ivf(Tables.embeddings(s, dir),
      col("vec_id") < NumCents, col("vec_id") < NumQueries, K)

  private val q41Sql =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (SELECT vec_id, qv,
       |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
       |  FROM q),
       |cents AS (SELECT vec_id AS cent_id, qv AS cv, nrm AS cn FROM n WHERE vec_id < $NumCents),
       |asg AS (SELECT n.vec_id, c.cent_id,
       |    CAST(list_sum(list_transform(range(1,65), i -> n.qv[i] * c.cv[i])) AS DOUBLE)
       |      / (n.nrm * c.cn) AS csim
       |  FROM n, cents c),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crank FROM asg),
       |members AS (SELECT cent_id AS cell, vec_id FROM ranked WHERE crank = 1),
       |qs AS (SELECT vec_id AS query_id, cent_id AS cell FROM ranked
       |  WHERE vec_id < $NumQueries AND crank <= 2),
       |p AS (SELECT qs.query_id, m.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1,65), i -> nq.qv[i] * nn.qv[i])) AS DOUBLE)
       |      / (nq.nrm * nn.nrm) AS sim
       |  FROM qs JOIN members m ON m.cell = qs.cell AND m.vec_id <> qs.query_id
       |  JOIN n nq ON nq.vec_id = qs.query_id JOIN n nn ON nn.vec_id = m.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // q83: the kNN GRAPH — every vector's top-K neighbors (semantic
  // dedup / diversity sampling / clustering building block): q40's
  // index with ALL rows as queries, which forbids the query-sliver
  // broadcast, so the shape is the q72 discipline — exact-dup
  // families collapse first, the graph is built over REPRESENTATIVES
  // with the wider DupPlanes bucket keys (a full self-join's
  // candidate volume is Σ pop² per bucket), exact rerank, per-query
  // top-K window. Every step is exact int64 arithmetic + a
  // deterministic (sim desc, id asc) rank, so the approximate RESULT
  // is byte-reproducible and fully oracle-checked.
  private def q83(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(Tables.embeddings(s, dir), K)

  private val q83Sql =
    s"""WITH qall AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |fam AS (SELECT vec_id, qv, min(vec_id) OVER (PARTITION BY qv) AS rep FROM qall),
       |q AS (SELECT vec_id, qv FROM fam WHERE vec_id = rep),
       |n AS (SELECT vec_id, qv,
       |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
       |  FROM q),
       |proj AS (SELECT v.vec_id, t.j,
       |    list_sum(list_transform(range(1, 65), i ->
       |      v.qv[i] * (2*((CAST(t.j AS BIGINT)*73856093 + CAST(i-1 AS BIGINT)*19349663) % 1000003) - 1000003))) AS dot
       |  FROM q v, range(0, ${DupT * DupP}) t(j)),
       |ent AS (SELECT vec_id, j // $DupP AS tbl,
       |    sum(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << CAST(j % $DupP AS INT) ELSE 0 END) AS bkey
       |  FROM proj GROUP BY vec_id, j // $DupP),
       |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM ent a JOIN ent b ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.vec_id <> b.vec_id),
       |p AS (SELECT c.query_id, c.neighbor_id,
       |    CAST(list_sum(list_transform(range(1,65), i -> na.qv[i] * nb.qv[i])) AS DOUBLE)
       |      / (na.nrm * nb.nrm) AS sim
       |  FROM cand c JOIN n na ON na.vec_id = c.query_id JOIN n nb ON nb.vec_id = c.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM p)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  // q84: SEMANTIC dedup — the consumer the kNN-graph/near-dup
  // machinery was built FOR (SemDeDup, Abbas et al. 2023: drop all
  // but one member of each semantically-near-identical cluster).
  // Composition of audited pieces, nothing new to get wrong at
  // scale: q72's exact embedding near-dup pair listing (dedup-
  // before-indexing, MinDupSim) → ConnectedComponents clusters →
  // within each cluster keep the member whose DOCUMENT carries the
  // most BPE-ish tokens (ties → min id; the "keep the content-
  // richest copy" rule — q82's survivorsBy with a semantic pair
  // source and a token-count score). Every step is exact int64
  // arithmetic, so the surviving id SET is cross-engine
  // byte-reproducible; docs in no semantic pair pass through.
  private def q84(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir).select(
      col("doc_id").as("vec_id"),
      graft.functions.TextFunctions.bpeTokenCount(col("text")).as("n_tokens"))
    val pairs = Similarity.nearDupPairs(Tables.embeddings(s, dir), MinDupSim)
    graft.operators.ConnectedComponents
      .survivorsBy(scored, pairs, col("n_tokens"), idCol = "vec_id")
      .select(col("vec_id").as("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  private val q84Sql =
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (
       |$q72Sql
       |)),
       |edges AS (
       |  SELECT a AS x, b AS y FROM pairs
       |  UNION ALL
       |  SELECT b AS x, a AS y FROM pairs),
       |r(node, m) AS (
       |  SELECT DISTINCT x, x FROM edges
       |  UNION
       |  SELECT e.x, r.m FROM edges e JOIN r ON r.node = e.y),
       |cl AS (SELECT node, min(m) AS cluster_id FROM r GROUP BY node),
       |scored AS (SELECT d.doc_id AS vec_id,
       |    CAST(len(regexp_extract_all(d.text, '${graft.functions.TextFunctions.BpeTokenRe}')) AS BIGINT) AS tok
       |  FROM documents d),
       |members AS (SELECT s.vec_id, cl.cluster_id, s.tok
       |            FROM scored s JOIN cl ON s.vec_id = cl.node),
       |winners AS (SELECT max_by(vec_id, tok * 10000000000 - vec_id) AS vec_id
       |            FROM members GROUP BY cluster_id),
       |losers AS (SELECT vec_id FROM members
       |           WHERE vec_id NOT IN (SELECT vec_id FROM winners))
       |SELECT s.vec_id AS doc_id, s.tok AS n_tokens
       |FROM scored s WHERE s.vec_id NOT IN (SELECT vec_id FROM losers)
       |ORDER BY doc_id""".stripMargin

  // q94: contrastive (anchor, positive, hard-negative) triple mining
  // over the q83 graph — the embedding-finetune training-data
  // product; thresholds sit inside the synthetic corpus's observed
  // sim range (rank-1 median 0.30) so both argmins are non-trivially
  // populated at the correctness gate.
  private val PosMin = 0.30
  private val NegMax = 0.15

  private def q94(s: SparkSession, dir: String): DataFrame =
    Similarity.contrastiveTriples(Tables.embeddings(s, dir), PosMin, NegMax, K)
      .orderBy(col("anchor_id"))

  private val q94Sql =
    s"""WITH g AS (SELECT * FROM (
       |$q83Sql
       |)),
       |pos AS (SELECT query_id, min_by(neighbor_id, rank) AS pid,
       |               min_by(sim, rank) AS psim
       |        FROM g WHERE sim >= $PosMin GROUP BY query_id),
       |neg AS (SELECT query_id, min_by(neighbor_id, rank) AS nid,
       |               min_by(sim, rank) AS nsim
       |        FROM g WHERE sim <= $NegMax GROUP BY query_id)
       |SELECT pos.query_id AS anchor_id, pid AS positive_id, psim AS pos_sim,
       |  nid AS negative_id, nsim AS neg_sim
       |FROM pos JOIN neg USING (query_id) ORDER BY anchor_id""".stripMargin

  // q103: IVF-PQ ENCODE (operators/Pq) — the compressed-index build:
  // home coarse cell (q41's assignment arithmetic verbatim) + the m
  // per-subspace residual codeword argmins, every distance an exact
  // int64 sum of squared quantized diffs. The oracle fixes the
  // codebook deterministically (codewords = the vec_id < NumCodewords
  // corpus rows, coarse = the q41 centroid rows) so the whole encode
  // is cross-engine reproducible SQL; the k-means-trained model and
  // the ADC search path are spec-gated (PqSpec), their recall soaked
  // (the IvfPq soak). Long output (vec_id, cell, j, code): one row per
  // subspace — no pivot, exact BIGINTs end to end.
  private val PqM = 4           // 4 subspaces × 16 dims
  private val NumCodewords = 16 // PQ codebook rows: vec_id < 16

  private def q103(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val model = Pq.modelFromRows(emb,
      col("vec_id") < NumCents, col("vec_id") < NumCodewords, PqM)
    Pq.encode(emb, model)
      .select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .select(col("vec_id"), col("cell"),
        col("j").cast("bigint").as("j"), col("code"))
      .sortWithinPartitions(col("vec_id"), col("j"))
  }

  private val q103Sql =
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (SELECT vec_id, qv,
       |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
       |  FROM q),
       |cents AS (SELECT vec_id AS cent_id, qv AS cv, nrm AS cn FROM n WHERE vec_id < $NumCents),
       |asg AS (SELECT n.vec_id, c.cent_id,
       |    CAST(list_sum(list_transform(range(1,65), i -> n.qv[i] * c.cv[i])) AS DOUBLE)
       |      / (n.nrm * c.cn) AS csim
       |  FROM n, cents c),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS crank FROM asg),
       |home AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crank = 1),
       |rv AS (SELECT n.vec_id, h.cell,
       |    list_transform(range(1,65), i -> n.qv[i] - c.cv[i]) AS r
       |  FROM n JOIN home h USING (vec_id) JOIN cents c ON c.cent_id = h.cell),
       |cw AS (SELECT vec_id AS cw_id, qv AS cwv FROM q WHERE vec_id < $NumCodewords),
       |d AS (SELECT rv.vec_id, rv.cell, js.j, cw.cw_id,
       |    list_sum(list_transform(range(1, ${Dim / PqM + 1}), t ->
       |      (rv.r[js.j*${Dim / PqM} + t] - cw.cwv[js.j*${Dim / PqM} + t])
       |      * (rv.r[js.j*${Dim / PqM} + t] - cw.cwv[js.j*${Dim / PqM} + t]))) AS dist
       |  FROM rv, range(0, $PqM) js(j), cw),
       |best AS (SELECT vec_id, cell, j, cw_id AS code,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cw_id) AS rk FROM d)
       |SELECT vec_id, cell, CAST(j AS BIGINT) AS j, code
       |FROM best WHERE rk = 1 ORDER BY vec_id, j""".stripMargin

  override val all: Seq[QueryDef] = Seq(
    QueryDef("q39_knn_brute", q39, Some(q39Sql)),
    QueryDef("q40_ann_lsh", q40, Some(q40Sql)),
    QueryDef("q41_ivf_centroids", q41, Some(q41Sql)),
    QueryDef("q72_embedding_neardup", q72, Some(q72Sql)),
    QueryDef("q83_knn_graph", q83, Some(q83Sql)),
    QueryDef("q84_semdedup", q84, Some(q84Sql)),
    QueryDef("q94_contrastive_triples", q94, Some(q94Sql)),
    QueryDef("q103_pq_codes", q103, Some(q103Sql)))

  /** q84's oracle mirror re-runs q72's pair listing plus a recursive
    * closure (DuckDB's weakest surface — the q82 precedent), so it is
    * correctness-gated but kept out of the TIMING headline. */
  override def headline: Seq[String] = all.map(_.name).filterNot(_ == "q84_semdedup")
}
